package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.EtlProgress
import graft.tools.EtlBench

/** A17 progress reporting: the listener must observe REAL task metrics
  * (records/bytes in, records out) while the ETL runs — the Spark
  * replacement for the reference's hardcoded-total ProgressBar
  * (`init_progress_bar.rs:3-22`, inc at `utils.rs:162-164`).
  */
class ProgressSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  test("ETL under EtlProgress reports real input/output task metrics") {
    val dump = java.nio.file.Files
      .createTempDirectory("progress_spec").toString + "/dump.json"
    EtlBench.writeDump(dump, 500)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    val p = EtlProgress.withProgress(
        spark, totalRecords = Some(500L),
        reportEveryMs = 0L, // report on every task end
        out = m => lines.add(m)) { p =>
      graft.ingest.Load.run(spark, dump, s"${dump}_out")
        .entities.count()
      p
    }
    val c = p.counters.settle().total

    // 475 items + 25 property pages, each read at least once (the
    // normalize scan) and written once (the partitioned sink)
    assert(c.inputRecords >= 500L, s"read=${c.inputRecords}")
    assert(c.inputBytes > 0L)
    assert(c.outputRecords >= 500L, s"written=${c.outputRecords}")
    assert(c.tasks > 0L)
    assert(!lines.isEmpty, "at least the final summary line must emit")
    val last = p.render()
    assert(last.contains("rec/s") && last.contains("/500"),
      s"render shape: $last")
  }

  test("withProgress detaches its listener afterwards") {
    val p = EtlProgress.withProgress(spark, out = _ => ()) { p =>
      spark.range(100).count()
      p
    }
    val after = p.counters.settle().total.tasks
    assert(after > 0L)
    // listener is off the bus now: further jobs must not tick counters
    spark.range(100).count()
    assert(p.counters.settle().total.tasks === after,
      "listener still attached after withProgress returned")
  }
}
