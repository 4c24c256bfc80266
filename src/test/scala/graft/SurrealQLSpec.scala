package graft

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Load, Transform, WikidataSource}
import graft.query.SurrealQL

/** The reference's LITERAL SurrealQL scripts — `test_filter.surql`
  * read from disk and every query block of `Useful queries.md` — run
  * verbatim through the interpreter against the Spark tables. This is
  * the "a reference user could switch" proof. */
class SurrealQLSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val tables: Load.WikiTables = {
    val n = Transform.normalize(
      WikidataSource.read(spark, ReferenceFixtures("Entity.json")), "en")
    Load.WikiTables(Transform.entityMini(n), Transform.claimsRows(n))
  }

  /** Inline entities for the tests whose checks never read fixture
    * content: they need only well-formed Entity/Claims tables. Labels
    * are out of sorted order on disk. */
  lazy val authored: Load.WikiTables = {
    val lines =
      """{"entities":{"Q900000013":{"type":"item","id":"Q900000013","labels":{"en":{"language":"en","value":"authored c"}},"claims":{}}}}
        |{"entities":{"Q900000011":{"type":"item","id":"Q900000011","labels":{"en":{"language":"en","value":"authored a"}},"claims":{}}}}
        |{"entities":{"Q900000012":{"type":"item","id":"Q900000012","labels":{"en":{"language":"en","value":"authored b"}},"claims":{}}}}""".stripMargin
    val dir = Files.createTempDirectory("surql-authored").toString
    Files.writeString(JPaths.get(s"$dir/authored.json"), lines)
    val n = Transform.normalize(WikidataSource.read(spark, dir), "en")
    Load.WikiTables(Transform.entityMini(n), Transform.claimsRows(n))
  }

  test("test_filter.surql VERBATIM from the reference repo (3 survivors)") {
    // mixed fixture: 3 real entities (all have P1113) + 2 without
    val extra =
      """{"entities":{"Q900000001":{"type":"item","id":"Q900000001","labels":{"en":{"language":"en","value":"no eps a"}},"claims":{}}}}
        |{"entities":{"Q900000002":{"type":"item","id":"Q900000002","labels":{"en":{"language":"en","value":"no eps b"}},"claims":{}}}}""".stripMargin
    val mixDir = Files.createTempDirectory("surql").toString
    Files.writeString(JPaths.get(s"$mixDir/extra.json"), extra)
    Files.copy(JPaths.get(ReferenceFixtures("Entity.json")),
      JPaths.get(s"$mixDir/Entity.json"))
    val n = Transform.normalize(WikidataSource.read(spark, mixDir), "en")
    val mixed = Load.WikiTables(Transform.entityMini(n), Transform.claimsRows(n))
    assert(mixed.entities.count() === 5)

    val script = Files.readString(
      JPaths.get(ReferenceFixtures("test_filter.surql")))
    val out = SurrealQL.run(mixed, script)
    assert(out.tables.entities.count() === 3) // ≡ integration.rs:73
    assert(out.tables.claims.count() === 3)
  }

  test("Useful queries.md 'Get number of episodes' block verbatim (51.0 + update)") {
    val script =
      """let $number_of_episodes = (select claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount as number_of_episodes from Entity where label = "Black Clover, season 1")[0].number_of_episodes;
        |
        |return $number_of_episodes;
        |
        |update Entity SET number_of_episodes=$number_of_episodes where label = "Black Clover, season 1";""".stripMargin
    val out = SurrealQL.run(tables, script)
    assert(out.returned.get.collect()(0).getDouble(0) === 51.0)
    val updated = out.tables.entities
      .filter(col("number_of_episodes").isNotNull)
    assert(updated.count() === 1)
    assert(updated.select("label").collect()(0).getString(0) ===
      "Black Clover, season 1")
  }

  test("extension: ORDER BY / LIMIT in SELECT") {
    val out = SurrealQL.run(tables,
      """return select label from Entity ORDER BY label DESC LIMIT 2;""")
    val got = out.returned.get.collect().map(_.getString(0)).toSeq
    assert(got === Seq("Black Clover, season 1", "Black Clover"))
    val asc = SurrealQL.run(tables,
      """return select label from Entity order by label limit 1;""")
    assert(asc.returned.get.collect().map(_.getString(0)).toSeq ===
      Seq("Banana Fish"))
  }

  test("extension: GROUP ALL and GROUP BY with count()/math:: aggregates") {
    // whole-table aggregation: 3 fixture entities, episode counts
    // 170 + 24 + 51 = 245
    val all = SurrealQL.run(tables,
      """SELECT count() AS n, math::sum(claims.claims[WHERE id = Property:1113][0].value.ClaimValueData.Quantity.amount) AS total, math::max(claims.claims[WHERE id = Property:1113][0].value.ClaimValueData.Quantity.amount) AS hi FROM Entity GROUP ALL;"""
    ).returned.get.collect().head
    assert(all.getLong(0) === 3L)
    assert(all.getDouble(1) === 245.0 && all.getDouble(2) === 170.0)
    // grouped: one row per label, ordered
    val byLabel = SurrealQL.run(tables,
      """SELECT label, count() AS n FROM Entity GROUP BY label ORDER BY label;"""
    ).returned.get.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(byLabel.toSeq === Seq("Banana Fish" -> 1L,
      "Black Clover" -> 1L, "Black Clover, season 1" -> 1L))
    // a non-aggregate projection that is not a group key errors
    // instead of silently vanishing from the output
    val err = intercept[IllegalArgumentException](SurrealQL.run(tables,
      "SELECT label, count() AS n FROM Entity GROUP ALL;"))
    assert(err.getMessage.contains("label"))
    // aliased group keys project under the alias, projection order kept
    val aliased = SurrealQL.run(tables,
      "SELECT count() AS n, label AS l FROM Entity GROUP BY label ORDER BY l LIMIT 1;"
    ).returned.get
    assert(aliased.columns.toSeq === Seq("n", "l"))
    assert(aliased.collect().head.getString(1) === "Banana Fish")
  }

  test("extension: OR / parens / numeric comparisons in WHERE") {
    def labels(script: String): Seq[String] =
      SurrealQL.run(tables, script).returned.get
        .collect().map(_.getString(0)).sorted.toSeq
    assert(labels(
      """SELECT label FROM Entity WHERE label = "Black Clover" OR label = "Banana Fish";"""
    ) === Seq("Banana Fish", "Black Clover"))
    // parens group; AND binds tighter than OR
    assert(labels(
      """SELECT label FROM Entity WHERE (label = "Black Clover" OR label = "Banana Fish") AND claims.claims[WHERE id = Property:1113] != [];"""
    ) === Seq("Banana Fish", "Black Clover"))
    // numeric comparison on a claims path: episodes > 50 → 170 and 51
    assert(labels(
      """SELECT label FROM Entity WHERE claims.claims[WHERE id = Property:1113][0].value.ClaimValueData.Quantity.amount > 50;"""
    ) === Seq("Black Clover", "Black Clover, season 1"))
    // != on a string field
    assert(labels(
      """SELECT label FROM Entity WHERE label != "Black Clover";"""
    ) === Seq("Banana Fish", "Black Clover, season 1"))
  }

  test("extension: IN / INSIDE / NOT IN subselects in WHERE") {
    val one = SurrealQL.run(tables,
      """select label from Entity where label INSIDE (select label from Entity where label = "Black Clover, season 1");""")
    assert(one.returned.get.collect().map(_.getString(0)).toSeq ===
      Seq("Black Clover, season 1"))
    // IN is accepted as a synonym, and a $var works as the subquery
    val viaVar = SurrealQL.run(tables,
      """let $picked = select label from Entity where label = "Black Clover, season 1";
        |select label from Entity where label IN (select label from $picked);""".stripMargin)
    assert(viaVar.returned.get.count() === 1)
    // NOT IN anti-joins; composes with an ordinary conjunct
    val rest = SurrealQL.run(tables,
      """select label from Entity where label NOT IN (select label from Entity where label = "Black Clover, season 1") AND claims.claims[where id = Property:1113] != [];""")
    val labels = rest.returned.get.collect().map(_.getString(0)).toSet
    assert(rest.returned.get.count() === 2)
    assert(!labels.contains("Black Clover, season 1"))
    // a fully-parenthesized WHERE is the same WHERE
    val wrapped = SurrealQL.run(tables,
      """select label from Entity where (label INSIDE (select label from Entity where label = "Black Clover, season 1"));""")
    assert(wrapped.returned.get.count() === 1)
    // a subselect under OR has no join form — the error says so
    // instead of a generic parse failure
    val e = intercept[IllegalArgumentException] {
      SurrealQL.run(tables,
        """select label from Entity where label = "Banana Fish" OR label IN (select label from Entity where label = "Black Clover");""")
    }
    assert(e.getMessage.contains("not under OR"))
  }

  test("extension: scalar math:: over an array path in projections") {
    val out = SurrealQL.run(tables,
      """select label, math::sum(claims.claims[where id = Property:1113].value.ClaimValueData.Quantity.amount) AS eps, math::max(claims.claims[where id = Property:1113].value.ClaimValueData.Quantity.amount) AS mx from Entity ORDER BY label;""")
    val rows = out.returned.get.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows === Array(
      ("Banana Fish", 24.0, 24.0),
      ("Black Clover", 170.0, 170.0),
      ("Black Clover, season 1", 51.0, 51.0)))
    // empty path → sum 0 (SurrealQL math::sum([]) = 0)
    val zero = SurrealQL.run(tables,
      """select math::sum(claims.claims[where id = Property:9999].value.ClaimValueData.Quantity.amount) AS z from Entity;""")
    assert(zero.returned.get.collect().forall(_.getDouble(0) === 0.0))
  }

  test("extension: scalar arithmetic in LET/RETURN") {
    val script =
      """let $eps = (select claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount as eps from Entity where label = "Black Clover, season 1")[0].eps;
        |return $eps * 2;""".stripMargin
    val out = SurrealQL.run(tables, script)
    assert(out.returned.get.collect()(0).getDouble(0) === 102.0)
    // long algebra stays long; division promotes
    val l = SurrealQL.run(tables, "return count(select label from Entity) + 7;")
    assert(l.returned.get.collect()(0).getLong(0) === 10L)
    val d = SurrealQL.run(tables, "return count(select label from Entity) / 2;")
    assert(d.returned.get.collect()(0).getDouble(0) === 1.5)
  }

  test("Useful queries.md 'Get Parts' block verbatim") {
    val script =
      """let $parts = (select claims.claims[where id = Property:527].value.Thing as parts from Entity where label = "Black Clover")[0].parts;
        |
        |return $parts;""".stripMargin
    val out = SurrealQL.run(tables, script)
    val parts = out.returned.get.collect()(0).getSeq[org.apache.spark.sql.Row](0)
    // Q70331950 "Black Clover" has P527 (has part) item links
    assert(parts.nonEmpty)
    assert(parts.forall(r => r == null || r.getString(0) == "Entity"))
  }

  test("Useful queries.md Media view DDL verbatim (episodes/parent/children)") {
    val script =
      """DEFINE TABLE Media TYPE NORMAL AS
        |SELECT
        |*,
        |# Number of episodes
        |(claims.claims[WHERE id = Property:1113].value.ClaimValueData.Quantity.amount)[0] AS episodes,
        |# Part of the series (parent)
        |(claims.claims[WHERE id = Property:179].value.Thing)[0] AS parent,
        |# Has part(s) (children)
        |claims.claims[WHERE id = Property:527].value.Thing AS children
        |FROM Entity;
        |
        |# Full-Text Search
        |DEFINE ANALYZER OVERWRITE blank_english TOKENIZERS blank FILTERS lowercase, ascii, snowball(english);""".stripMargin
    val out = SurrealQL.run(tables, script)
    val media = out.views("Media")
    val eps = media.select(col("id.id"), col("episodes")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(eps === Map(70331950L -> 170.0, 106589421L -> 24.0, 60746544L -> 51.0))
    val parent = media.filter(col("id.id") === 60746544L)
      .select("parent").collect()(0).getStruct(0)
    assert(parent.getString(0) === "Entity" && parent.getLong(1) === 70331950L)

    // B17: the DDL statement REGISTERS the analyzer (not merely
    // swallowed) — name, tokenizer, and filter chain parsed verbatim
    val an = out.analyzers("blank_english")
    assert(an.tokenizers === Seq("blank"))
    assert(an.filters === Seq("lowercase", "ascii", "snowball(english)"))
  }

  test("registered DEFINE ANALYZER pipeline == t_normalize's analyzeBlankEnglish") {
    graft.functions.TextFunctions.register(spark)
    val out = SurrealQL.run(authored,
      "DEFINE ANALYZER OVERWRITE blank_english TOKENIZERS blank FILTERS lowercase, ascii, snowball(english);")
    val an = out.analyzers("blank_english")
    import spark.implicits._
    val docs = Seq("Édouard RUNNING tHe Cafés", "forêts Connected  studies")
      .toDF("text")
    val got = docs.select(an(col("text")).as("toks")).collect()
      .map(_.getSeq[String](0))
    val want = docs.select(
        graft.functions.TextFunctions.analyzeBlankEnglish(col("text")).as("toks"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq === want.toSeq)
    // unknown filters must fail loudly, not silently drop
    intercept[IllegalArgumentException] {
      SurrealQL.run(authored,
        "DEFINE ANALYZER bad TOKENIZERS blank FILTERS uppercase;")
    }
  }

  test("A13 end-to-end: Load.run with the user's literal filter.surql file") {
    val extra =
      """{"entities":{"Q900000003":{"type":"item","id":"Q900000003","labels":{"en":{"language":"en","value":"no eps c"}},"claims":{}}}}"""
    val mixDir = Files.createTempDirectory("surql-load").toString
    Files.writeString(JPaths.get(s"$mixDir/extra.json"), extra)
    Files.copy(JPaths.get(ReferenceFixtures("Entity.json")),
      JPaths.get(s"$mixDir/Entity.json"))
    val out = Load.run(spark, mixDir,
      Files.createTempDirectory("surql-sink").toString,
      mode = Load.BulkFilterScript(
        Files.readString(JPaths.get(ReferenceFixtures("test_filter.surql")))))
    assert(out.entities.count() === 3)
    assert(out.claims.count() === 3)
  }

  test("UPDATE preserves non-matching rows' values and only touches Entity") {
    val s1 = SurrealQL.run(tables,
      """update Entity SET note="first" where label = "Black Clover";
        |update Entity SET note="second" where label = "Banana Fish";""".stripMargin)
    val notes = s1.tables.entities.select(col("label"), col("note"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the second UPDATE must NOT null out the first one's value
    assert(notes("Black Clover") === "first")
    assert(notes("Banana Fish") === "second")
    assert(notes("Black Clover, season 1") === null)
  }

  test("labels containing AND / # parse correctly (quote-aware splitting)") {
    // a condition value containing ' and ' must not split the WHERE
    val out = SurrealQL.run(authored,
      """return select id from Entity where label = "War and Peace # 5"""")
    assert(out.returned.get.count() === 0) // parses; matches nothing
  }

  test("count(select * from Entity) form (integration.rs count checks)") {
    val out = SurrealQL.run(tables, "return count(select * from Entity)")
    assert(out.returned.get.collect()(0).getLong(0) === 3L)
  }

  test("newline/tab-delimited AND splits like single-space AND") {
    // verbatim multi-line scripts put conjunctions at line starts;
    // the splitter must accept ANY whitespace around AND/OR
    val out = SurrealQL.run(tables,
      "return select id from Entity\nwhere label != \"nope\"\nAND\tlabel != \"also no\"")
    assert(out.returned.get.count() === 3L)
  }

  test("arithmetic between two count() terms") {
    val out = SurrealQL.run(tables,
      "return count(select * from Entity) + count(select * from Entity)")
    assert(out.returned.get.collect()(0).getLong(0) === 6L)
  }

  test("[0] is deterministic: smallest row, not an arbitrary partition's") {
    val out = SurrealQL.run(authored,
      "return (select label from Entity)[0]")
    val got = out.returned.get.collect()(0).getString(0)
    val all = SurrealQL.run(authored, "return select label from Entity")
      .returned.get.collect().map(_.getString(0)).sorted
    assert(got === all.head)
  }

  test("extension: projection-position subselects, correlated via $parent") {
    // correlated count: entities sharing this row's label (self incl.)
    // — compiled to one grouped aggregate + left join, no collect
    val out = SurrealQL.run(tables,
      """select label, (select count() from Entity where label = $parent.label) AS same_label from Entity ORDER BY label;""")
    val rows = out.returned.get
    assert(rows.columns.toSeq === Seq("label", "same_label"))
    assert(rows.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ===
      Seq("Banana Fish" -> 1L, "Black Clover" -> 1L,
        "Black Clover, season 1" -> 1L))
    // the plan is a join, not a collected loop
    assert(rows.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("join"))
    // correlated aggregate over a claims path + an uncorrelated
    // broadcast total in the same projection list
    val agg = SurrealQL.run(tables,
      """select label, (select math::sum(claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount) from Entity where label = $parent.label) AS eps, (select count() from Entity) AS total from Entity ORDER BY label;""")
    val got = agg.returned.get.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got === Array(("Banana Fish", 24.0, 3L),
      ("Black Clover", 170.0, 3L), ("Black Clover, season 1", 51.0, 3L)))
    // unmatched outer rows: count coalesces to 0 (SurrealQL's count
    // of an empty result), via a filter no inner row satisfies
    val zero = SurrealQL.run(tables,
      """select label, (select count() from Entity where label = $parent.label AND label = "no such") AS n from Entity;""")
    assert(zero.returned.get.collect().forall(_.getLong(1) === 0L))
    // ordinary parenthesized-path projections still parse (the Media
    // view shape must not be shadowed by the subselect form)
    val media = SurrealQL.run(tables,
      """select label, (claims.claims[WHERE id = Property:1113].value.ClaimValueData.Quantity.amount)[0] AS episodes from Entity where label = "Banana Fish";""")
    assert(media.returned.get.collect()(0).getDouble(1) === 24.0)
  }

  test("FROM Property verbatim: integration.rs:78-84's literal query (2 fixture properties)") {
    // ETL the reference's Property.json fixture alongside Entity.json,
    // then run the reference's own assertion query as a string
    val n = Transform.normalize(
      WikidataSource.read(spark, ReferenceFixtures("Property.json")), "en")
    val both = Load.WikiTables(
      tables.entities.unionByName(Transform.entityMini(n), allowMissingColumns = true),
      tables.claims.unionByName(Transform.claimsRows(n), allowMissingColumns = true))
    val out = SurrealQL.run(both, "return count(select * from Property);")
    assert(out.returned.get.collect()(0).getLong(0) === 2L) // ≡ integration.rs:98
    // Entity stays scoped: the property rows must not leak into it
    val ent = SurrealQL.run(both, "return count(select * from Entity);")
    assert(ent.returned.get.collect()(0).getLong(0) === 3L)
    // Lexeme routes too (README.md:91-100) — none in the fixture
    val lex = SurrealQL.run(both, "return count(select * from Lexeme);")
    assert(lex.returned.get.collect()(0).getLong(0) === 0L)
  }
}
