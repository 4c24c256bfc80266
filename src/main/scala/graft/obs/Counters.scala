package graft.obs

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark task counters, summed per job group and in one running total:
  * the one [[SparkListener]] of the project. Whoever wants a query's
  * jobs, tasks or bytes runs it under its own job group and reads that
  * group back by name; counts do not move with the host the way
  * seconds do. The ETL progress line ([[graft.ingest.EtlProgress]])
  * renders the total, and `Probe stats` and `Bench` read groups.
  *
  * A job's group is its `spark.jobGroup.id` local property, which
  * Spark carries onto the broadcast and subquery threads a query
  * starts, so their jobs count toward the group that started them.
  * Tasks are attributed through their stage's job; a job without a
  * group counts only in [[total]]. Bytes come from each task's own
  * metrics: the stage-level aggregate left input bytes at 0 for
  * parquet scans.
  *
  * Callbacks run on the one listener-bus thread, so each counter has a
  * single writer; readers on other threads see `@volatile` values.
  * Events arrive asynchronously: call [[settle]] before reading exact
  * totals. `onTask` runs on the bus thread after every task end.
  */
final class Counters(onTask: () => Unit = () => ()) extends SparkListener {
  import Counters.Acc

  val total = new Acc
  @volatile private var jobsEnded = 0L
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  /** The counters of job group `g`; all zero for a group never seen. */
  def group(g: String): Acc = groups.getOrDefault(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages += 1
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    (total +: Option(stageGroup.get(e.stageId)).map(acc).toSeq).foreach { a =>
      a.tasks += 1
      m.foreach(a.add)
    }
    onTask()
  }

  /** Attach to `spark`'s listener bus for the duration of `body`. */
  def during[A](spark: SparkSession)(body: => A): A = {
    spark.sparkContext.addSparkListener(this)
    try body finally spark.sparkContext.removeSparkListener(this)
  }

  /** Wait until every started job has ended and the task count holds
    * still for one poll, at most 5 s. Returns `this`. */
  def settle(): Counters = {
    val deadline = System.nanoTime() + 5000000000L
    var seen = -1L
    while (System.nanoTime() < deadline &&
           (total.tasks != seen || jobsEnded < total.jobs)) {
      seen = total.tasks
      Thread.sleep(100L)
    }
    this
  }
}

object Counters {

  final class Acc {
    @volatile var jobs, stages, tasks = 0L
    @volatile var inputBytes, inputRecords = 0L
    @volatile var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    @volatile var outputBytes, outputRecords = 0L
    @volatile var runMs, cpuNs, gcMs = 0L

    private[Counters] def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      outputRecords += m.outputMetrics.recordsWritten
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
  }
}
