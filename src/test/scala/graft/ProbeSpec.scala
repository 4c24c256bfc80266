package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** Smoke test of the two `Probe` modes on one cheap registry query,
  * called as functions on the shared session. */
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

  test("Probe plan: formatted plan of a named query") {
    val Seq((name, plan)) = Probe.plan(spark, sf, Seq("q1_agg"))
    assert(name === "q1_agg")
    assert(plan.contains("HashAggregate"), plan)
  }
}
