package graft

import java.util.Properties

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Counters

/** The counters spine's contracts: per-group attribution (including the
  * jobs a query starts on Spark's broadcast threads), the attach/detach
  * bracket, and the bounded settle. */
class CountersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def inGroup[A](g: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(g, g)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("two job groups on one session get disjoint counts") {
    val c = new Counters()
    c.during(spark) {
      inGroup("spec-scan")(spark.range(0, 1000, 1, 3).collect())
      inGroup("spec-agg")(spark.range(0, 1000, 1, 5)
        .groupBy((col("id") % 7).as("k")).count().collect())
      c.settle()
    }
    val scan = c.group("spec-scan")
    val agg = c.group("spec-agg")
    assert((scan.jobs, scan.stages, scan.tasks) === ((1L, 1L, 3L)))
    assert(scan.shuffleWriteBytes === 0L)
    assert(agg.jobs >= 1L && agg.tasks >= 5L)
    assert(agg.shuffleWriteBytes > 0L && agg.shuffleReadBytes > 0L)
    // nothing ran outside the two groups: their sums are the total
    assert(c.total.jobs === scan.jobs + agg.jobs)
    assert(c.total.tasks === scan.tasks + agg.tasks)
    assert(c.total.shuffleWriteBytes === agg.shuffleWriteBytes)
    assert(c.group("spec-never").jobs === 0L)
  }

  test("a broadcast join's broadcast job counts toward the group that started it") {
    val facts = spark.range(0, 10000, 1, 4).withColumn("k", col("id") % 10)
    val dim = spark.range(0, 10).withColumnRenamed("id", "k")
    val c = new Counters()
    val rows = c.during(spark) {
      val n = inGroup("spec-bcast")(facts.join(broadcast(dim), "k").count())
      c.settle()
      n
    }
    assert(rows === 10000L)
    val g = c.group("spec-bcast")
    // the dimension side is collected in a job of its own, on a
    // broadcast-exchange thread
    assert(g.jobs >= 2L, s"jobs=${g.jobs}")
    assert(c.total.jobs === g.jobs, "a job of the query escaped its group")
    assert(c.total.tasks === g.tasks)
  }

  test("counts stop moving once the bracket detaches the listener") {
    val c = new Counters()
    c.during(spark)(inGroup("spec-detach")(spark.range(100).collect()))
    val jobs = c.settle().group("spec-detach").jobs
    val tasks = c.total.tasks
    assert(jobs === 1L && tasks > 0L)
    inGroup("spec-detach")(spark.range(100).collect())
    assert(c.settle().group("spec-detach").jobs === jobs)
    assert(c.total.tasks === tasks)
  }

  test("settle returns within its cap even when a started job never ends") {
    val c = new Counters()
    val t0 = System.nanoTime()
    c.settle()
    assert((System.nanoTime() - t0) / 1e9 < 1.0, "idle settle must not wait")
    c.onJobStart(SparkListenerJobStart(0, 0L, Seq.empty, new Properties()))
    val t1 = System.nanoTime()
    c.settle()
    val waited = (System.nanoTime() - t1) / 1e9
    assert(waited >= 4.9 && waited < 6.0, s"waited $waited s")
  }
}
