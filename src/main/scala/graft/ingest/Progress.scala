package graft.ingest

import org.apache.spark.sql.SparkSession

import graft.obs.Counters

/** A17 progress reporting: the reference renders an indicatif
  * `ProgressBar` with a HARDCODED total of 112,500,000 entities and a
  * hand-rolled ETA (`src/utils/init_progress_bar.rs:3-22`, incremented
  * per chunk at `src/utils.rs:162-164`). The Spark-native equivalent
  * renders the running total of [[Counters]]: executors already report
  * per-task input/output metrics, so the counts here are REAL
  * records/bytes — no hardcoded total needed (an optional one only
  * feeds the ETA line).
  *
  * Reports are rendered on the listener-bus thread while tasks keep
  * completing; nothing blocks, and a slow `out` sink can at worst
  * delay reports (never the job: Spark drops a listener that stalls
  * the bus, it does not stall tasks).
  */
final class EtlProgress(totalRecords: Option[Long] = None,
                        reportEveryMs: Long = 5000L,
                        out: String => Unit = m => System.err.println(m)) {

  private val startNs = System.nanoTime()
  private var lastReportNs = startNs // read and written on the bus thread only

  val counters = new Counters(() => {
    val now = System.nanoTime()
    if (now - lastReportNs >= reportEveryMs * 1000000L) {
      lastReportNs = now
      out(render())
    }
  })

  def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9

  /** One status line, reference-bar shaped: count [/total], rate, ETA. */
  def render(): String = {
    val t = counters.total
    val read = t.inputRecords
    val secs = math.max(elapsedSec, 1e-9)
    val rate = read / secs
    val eta = totalRecords match {
      case Some(n) if rate > 0 && n > read =>
        f", eta ${(n - read) / rate}%.0fs"
      case _ => ""
    }
    val ofTotal = totalRecords.fold("")(n => s"/$n")
    f"[graft etl] $read%,d$ofTotal records in (${t.inputBytes / (1 << 20)}%,d MiB), " +
      f"${t.outputRecords}%,d out, ${t.tasks}%,d tasks, " +
      f"$rate%,.0f rec/s$eta"
  }
}

object EtlProgress {

  /** Count tasks during `body`, detach after, and emit one final
    * summary line over the settled counters. */
  def withProgress[A](spark: SparkSession,
                      totalRecords: Option[Long] = None,
                      reportEveryMs: Long = 5000L,
                      out: String => Unit = m => System.err.println(m))
                     (body: EtlProgress => A): A = {
    val p = new EtlProgress(totalRecords, reportEveryMs, out)
    p.counters.during(spark) {
      val r = body(p)
      p.counters.settle()
      out(p.render())
      r
    }
  }
}
