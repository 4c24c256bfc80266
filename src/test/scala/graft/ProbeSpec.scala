package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.tools.Probe

/** Smoke tests of the `Probe` modes, called as functions on the shared
  * session: `stats` and `plan` on one cheap registry query, `stream`
  * over the four streaming operators. */
class ProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("Probe stats: counts the warm run's jobs and its result rows") {
    val Seq(st) = Probe.stats(spark, sf, Seq("q1_agg"))
    assert(st.name === "q1_agg")
    assert(st.jobs >= 1, st.toString)
    assert(st.stages >= 1 && st.tasks >= 1, st.toString)
    assert(st.inputMB > 0, st.toString) // q1_agg scans lineitem
    assert(st.rows === SparkEntry.queries("q1_agg")(spark, sf).count())
  }

  test("Probe stream: one summary row per non-empty batch for each stream") {
    val got = Probe.stream(spark, sf, 2).toMap
    val docs = Tables.load(spark, sf, "documents").count()
    val emb = Tables.load(spark, sf, "embeddings")
    // rows each stream was fed: every customer and document once, and
    // the embeddings above the index's prebuilt half
    val fed = Map(
      "upsert" -> Tables.load(spark, sf, "customer").count(),
      "online_dedup" -> docs,
      "ann_ingest" -> emb.filter(col("vec_id") >= emb.count() / 2).count(),
      "drift" -> docs)
    assert(got.keySet === fed.keySet)
    got.foreach { case (tag, bs) =>
      // both staged chunks of every stream are non-empty at this scale
      assert(bs.all.map(_.id).distinct.size === 2, s"$tag: $bs")
      assert(bs.all.forall(_.rows > 0), s"$tag: $bs")
      // rows are the staged chunks' rows, not the engine's
      // numInputRows (which counts every read of a batch in the sink)
      assert(bs.all.map(_.rows).sum === fed(tag), s"$tag: $bs")
    }
  }

  test("Probe plan: formatted plan of a named query") {
    val Seq((name, plan)) = Probe.plan(spark, sf, Seq("q1_agg"))
    assert(name === "q1_agg")
    assert(plan.contains("HashAggregate"), plan)
  }
}
