package wdbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Spark task counters, summed per job group. The harness runs every
  * operation, and in a traced run every span, under its own job group,
  * so each one's jobs, tasks, bytes and executor time can be read back
  * by name. These counts do not move with the host the way seconds do. */
final class Counters extends SparkListener {

  final class Acc {
    var jobs, stages, tasks = 0L
    var inputBytes, inputRecords, shuffleReadBytes, shuffleWriteBytes = 0L
    var spillBytes, outputBytes, runMs, cpuNs, gcMs = 0L

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
      "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
      "jvm_gc_s" -> gcMs / 1e3)
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(acc(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(g)
      a.tasks += 1
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
    }

  /** Counters per job group; call after the listener bus is drained. */
  def snapshot: Map[String, Map[String, Any]] =
    groups.asScala.map { case (g, a) => g -> a.toMap }.toMap
}
