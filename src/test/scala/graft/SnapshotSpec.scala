package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The [[Snapshot]] devices' own contracts: the observed-metric wait
  * is bounded, and the cache loan pins what still plans over it. */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("an observed metric whose frame never runs fails naming its site within the bound") {
    val (_, n) = Snapshot.observe[Long](spark.range(10).toDF(), "never_run",
      count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](n())
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("never_run"), e.getMessage)
    assert(waited >= Snapshot.ObserveWait.toSeconds - 1 &&
      waited < Snapshot.ObserveWait.toSeconds + 10, s"waited $waited s")
  }

  test("the cache loan pins a lazy result before release and passes local results through") {
    val s = spark; import s.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val lazyOut = Snapshot.cached(spark.range(100).toDF("x")) { c =>
      c.filter(col("x") % 2 === 0)
    }
    assert(lazyOut.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(lazyOut.count() === 50L)
    val local = Seq((1L, 2L)).toDF("a", "b")
    val passed = Snapshot.cached(spark.range(10).toDF("x"))(_ => local)
    assert(passed eq local)
    // only the pin's checkpoint blocks remain: the loaned caches are gone
    val left = spark.sparkContext.getPersistentRDDs.toMap -- before
    assert(left.size === 1, left.values.map(_.toDebugString).mkString("\n"))
    left.values.foreach(_.unpersist(blocking = true))
  }
}
