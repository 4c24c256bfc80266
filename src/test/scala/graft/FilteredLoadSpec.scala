package graft

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.Load
import graft.obs.Counters
import graft.query.SurrealQL

/** The one-pass filtered load over an authored dump, no reference
  * fixture needed: for every script, the filtered `Load.run` writes
  * exactly the rows `SurrealQL.run` keeps over the opened Bulk sink,
  * whether the script folds to keep-predicates or takes the join path.
  * Also pins the rejected-line count, the per-load job totals and what
  * the fold does with a repeated id. */
class FilteredLoadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def label(v: String) = s""""labels":{"en":{"language":"en","value":"$v"}}"""
  private def quantity(pid: String, amount: String) =
    s"""{"snaktype":"value","property":"$pid","datavalue":{"value":{"amount":"$amount","unit":"1"},"type":"quantity"},"datatype":"quantity"}"""
  private def itemSnak(pid: String, q: Int) =
    s"""{"snaktype":"value","property":"$pid","datavalue":{"value":{"entity-type":"item","numeric-id":$q,"id":"Q$q"},"type":"wikibase-entityid"},"datatype":"wikibase-item"}"""
  private def statement(main: String, qualifiers: String = "") =
    s"""{"mainsnak":$main,"type":"statement"$qualifiers,"rank":"normal"}"""
  private def item(q: Int, name: String, claims: String) =
    s"""{"type":"item","id":"Q$q",${label(name)},"claims":{$claims}}"""
  private def eps(amount: String) = s""""P1113":[${statement(quantity("P1113", amount))}]"""

  /** Dump lines, the real dump's shape: `[`, one entity per line with a
    * trailing comma, `]`. Also holds a blank line, a line with spaces
    * around the object and its comma, a malformed line and a form id:
    * the last two are the rejected lines. */
  private val entityLines = Seq(
    item(1, "has eps 3", eps("+3")),
    item(2, "has eps 12", eps("+12") + "," + s""""P31":[${statement(itemSnak("P31", 5))}]"""),
    item(3, "no claims", ""),
    // P1113 only as a qualifier: tagged Claims:1113, not Property:1113
    item(4, "qualifier only", s""""P31":[${statement(itemSnak("P31", 5),
      s""","qualifiers":{"P1113":[${quantity("P1113", "+40")}]}""")}]"""),
    // P1113 with an unknown value: a claim, but no Quantity branch
    item(5, "unknown eps",
      """"P1113":[{"mainsnak":{"snaktype":"somevalue","property":"P1113","datatype":"quantity"},"type":"statement","rank":"normal"}]"""),
    " " + item(7, "number of episodes", "") + " ",
    s"""{"type":"property","id":"P1113","datatype":"quantity",${label("number of episodes")},"claims":{}}""",
    s"""{"type":"property","id":"P31","datatype":"wikibase-item",${label("instance of")},"claims":{${eps("+1")}}}""",
    """{"type":"lexeme","id":"L7","lemmas":{"en":{"language":"en","value":"word"}},"claims":{}}""",
    """{"type":"item","id":"Q6","labels":{"en":{"language":"en"""",
    """{"type":"form","id":"L7-F1","labels":{},"claims":{}}""")

  private def writeDump(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("filtered-load")
    val body = lines.zipWithIndex.map { case (l, i) =>
      if (i < lines.length - 1) s"$l," else l }
    val text = ("[" +: body.take(4)) ++ ("" +: body.drop(4)) :+ "]"
    Files.writeString(dir.resolve("dump.json"), text.mkString("\n") + "\n")
    dir.resolve("dump.json").toString
  }

  lazy val dump: String = writeDump(entityLines)

  private def sink(): String = Files.createTempDirectory("filtered-sink").toString

  private val lacksEps = "claims.claims[where id = Property:1113].value.Thing == []"
  private val epsAmount =
    "claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount"

  val testFilter: String =
    s"""# Delete every Entity lacking P1113 (number of episodes), and its claims
       |let $$entity = select id from Entity where $lacksEps;
       |let $$claims = select claims from Entity where $lacksEps;
       |delete $$claims;
       |delete $$entity;
       |""".stripMargin
  val claimsOnly: String =
    s"""let $$c = select claims from Entity where claims.claims[where id = Property:1113] == [];
       |delete $$c;""".stripMargin
  val propertyScoped: String =
    """let $p = select id from Property where label = "number of episodes";
      |let $pc = select claims from Property where label = "number of episodes";
      |delete $p;
      |delete $pc;""".stripMargin
  /** NULL on every row without a P1113 amount: those rows stay. */
  val nullWhere: String =
    s"""let $$big = select id from Entity where $epsAmount > 5;
       |let $$bigc = select claims from Entity where $epsAmount > 5;
       |delete $$bigc;
       |delete $$big;""".stripMargin
  val inSubselect: String =
    """let $x = select id from Entity where id IN (select id from Entity where label = "has eps 3");
      |delete $x;""".stripMargin

  private def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: extra ${extra.mkString(", ")}; missing ${missing.mkString(", ")}")
  }

  private def entityIds(df: DataFrame): Set[(String, Long)] =
    df.select(col("id.tb"), col("id.id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("row-selection scripts fold; subselect, UPDATE and LET-after-DELETE scripts do not") {
    Seq(testFilter, claimsOnly, propertyScoped, nullWhere).foreach(s =>
      assert(SurrealQL.rowKeep(s).isDefined, s))
    Seq(inSubselect,
      s"let $$x = select id from Entity where $lacksEps GROUP ALL; delete $$x;",
      s"let $$x = (select id from Entity where $lacksEps)[0]; delete $$x;",
      s"let $$x = select id, label from Entity where $lacksEps; delete $$x;",
      s"let $$x = select id from Entity where $lacksEps; delete $$y;",
      s"let $$x = select id from Entity where $lacksEps; delete $$x; " +
        s"let $$z = select id from Entity where $lacksEps; delete $$z;",
      """UPDATE Entity SET label = "x" WHERE label = "no claims";""",
      s"let $$x = select id from Entity where $lacksEps; delete $$x; return $$x;")
      .foreach(s => assert(SurrealQL.rowKeep(s).isEmpty, s))
  }

  test("filtered Load.run writes exactly what SurrealQL.run keeps over the Bulk sink") {
    val bulkDir = sink()
    val bulk = Load.run(spark, dump, bulkDir)
    assert(bulk.entities.count() === 9)
    val opened = Load.open(spark, bulkDir)
    Seq("testFilter" -> testFilter, "claimsOnly" -> claimsOnly,
        "propertyScoped" -> propertyScoped, "nullWhere" -> nullWhere,
        "inSubselect" -> inSubselect).foreach { case (name, script) =>
      val want = SurrealQL.run(opened, script).tables
      val got = Load.run(spark, dump, sink(), mode = Load.BulkFilterScript(script))
      sameRows(got.entities, want.entities, s"$name entities")
      sameRows(got.claims, want.claims, s"$name claims")
    }
  }

  test("what each script keeps (the expectations behind the equivalence)") {
    def kept(script: String) = {
      val t = Load.run(spark, dump, sink(), mode = Load.BulkFilterScript(script))
      (entityIds(t.entities),
        t.claims.select(col("src_tb"), col("id.id")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet)
    }
    val all = Set(("Entity", 1L), ("Entity", 2L), ("Entity", 3L), ("Entity", 4L),
      ("Entity", 5L), ("Entity", 7L), ("Property", 1113L), ("Property", 31L),
      ("Lexeme", 7L))
    val lacking = Set(("Entity", 3L), ("Entity", 4L), ("Entity", 7L))
    assert(kept(testFilter) === ((all -- lacking, all -- lacking)))
    assert(kept(claimsOnly) === ((all, all -- lacking)))
    // the item labelled like the property stays: the LETs read Property
    assert(kept(propertyScoped) === ((all - (("Property", 1113L)), all - (("Property", 1113L)))))
    // only Q2 (12 > 5) goes; NULL amounts (Q3, Q4, Q5, Q7) stay
    assert(kept(nullWhere) === ((all - (("Entity", 2L)), all - (("Entity", 2L)))))
    assert(kept(inSubselect) === ((all - (("Entity", 1L)), all)))
  }

  test("Load.run counts rejected lines and reads back the schema it wrote") {
    val dir = sink()
    Seq[Load.LoadMode](Load.Bulk, Load.BulkFilterScript(testFilter),
        Load.BulkFilterScript(inSubselect)).foreach { mode =>
      // the malformed line and the form id; not `[`, `]` or the blank
      assert(Load.run(spark, dump, dir, mode = mode).rejectedLines === Some(2L), mode)
    }
    val bulk = Load.run(spark, dump, dir)
    val opened = Load.open(spark, dir)
    assert(bulk.entities.schema.simpleString === opened.entities.schema.simpleString)
    assert(bulk.claims.schema.simpleString === opened.claims.schema.simpleString)
  }

  test("a BulkFilter that drops everything writes empty tables and reports no count") {
    Seq[(String, DataFrame => DataFrame)]("limit(0)" -> (_.limit(0)),
        "constant-false filter" -> (_.filter(lit(false)))).foreach { case (name, drop) =>
      val t0 = System.nanoTime()
      val loaded = Load.run(spark, dump, sink(),
        mode = Load.BulkFilter((e, c) => (drop(e), drop(c))))
      val sec = (System.nanoTime() - t0) / 1e9
      assert(loaded.entities.count() === 0L && loaded.claims.count() === 0L, name)
      assert(loaded.rejectedLines === None, name)
      // the count's absence is known when the first write ends: no
      // wait for the observed-metric bound
      assert(sec < Snapshot.ObserveWait.toSeconds / 2, s"$name took $sec s")
    }
  }

  test("a warm filtered load runs at most 5 jobs, a Bulk load at most 2") {
    def jobs(c: Counters, group: String)(load: => Any): Long = {
      spark.sparkContext.setJobGroup(group, group)
      try load finally spark.sparkContext.clearJobGroup()
      c.settle().group(group).jobs
    }
    val c = new Counters()
    val (filtered, bulk) = c.during(spark) {
      Load.run(spark, dump, sink(), mode = Load.BulkFilterScript(testFilter))
      Load.run(spark, dump, sink())
      (jobs(c, "spec-filtered")(Load.run(spark, dump, sink(),
        mode = Load.BulkFilterScript(testFilter))),
        jobs(c, "spec-bulk")(Load.run(spark, dump, sink())))
    }
    assert(filtered <= 5L, s"filtered load ran $filtered jobs")
    assert(bulk <= 2L, s"Bulk load ran $bulk jobs")
  }

  test("a repeated id: the fold judges each row, the join path judges the key") {
    // Q1 twice: once with P1113, once without
    val repeated = writeDump(entityLines :+ item(1, "has eps 3 again", ""))
    val folded = Load.run(spark, repeated, sink(), mode = Load.BulkFilterScript(testFilter))
    assert(folded.entities.filter(col("id.id") === 1L).count() === 1L)
    assert(folded.claims.filter(col("id.id") === 1L).count() === 1L)
    val joined = SurrealQL.run(Load.run(spark, repeated, sink()).tables, testFilter).tables
    assert(joined.entities.filter(col("id.id") === 1L).count() === 0L)
    assert(joined.claims.filter(col("id.id") === 1L).count() === 0L)
  }
}
