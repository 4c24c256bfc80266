package graft.tools

import java.nio.file.Files

import graft.LocalSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Streaming-state growth probe (VERDICT r10 #8): does
  * [[graft.streaming.CorpusStream.onlineDedup]]'s per-batch latency
  * stay flat as the accumulated band index grows 10x/100x past what
  * the 5-batch StreamProbe run ever reached?
  *
  * Fixed-size micro-batches (one full suffix-perturbed copy of the
  * source corpus each — token-disjoint replicas, the ScaleUp
  * convention, so cross-batch duplicate pairs stay ~zero and the
  * measurement isolates INDEX PROBE cost, not pair-explosion cost),
  * streamed until the index holds `nBatches` x corpus documents.
  * Per-batch `triggerExecution` against cumulative indexed docs IS
  * the latency-vs-state curve.
  *
  * Usage: runMain graft.tools.StateGrowthProbe <sfDir> [nBatches]
  */
object StateGrowthProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 100
    // keep every batch's progress record (default window is 100)
    val spark = LocalSession(
      "spark.sql.streaming.numRecentProgressUpdates" -> (nBatches + 16).toString)
    val base = Files.createTempDirectory("state_probe").toString

    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val perBatch = d.count()

    // batch k = replica k: doc_id offset k*1e9, every token suffixed
    // "x<k>" — shingle-disjoint from every other batch
    System.err.println(s"[state_probe] staging $nBatches x $perBatch docs")
    StreamProbe.stageChunks(s"$base/in", (0 until nBatches).map { k =>
      if (k == 0) d
      else d
        .withColumn("doc_id", col("doc_id") + lit(k * 1000000000L))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit(s"x$k"))), " "))
    })

    val q = graft.streaming.CorpusStream.onlineDedup(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").json(s"$base/in"),
      "state_probe_docs", s"$base/index", s"$base/out", s"$base/ckpt")
    q.processAllAvailable(); q.stop()

    val ps = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    var cum = 0L
    val pts = ps.map { p =>
      val ms = p.durationMs.get("triggerExecution").longValue()
      cum += p.numInputRows
      System.err.println(
        s"[state_probe] batch=${p.batchId} state_docs=$cum trigger_ms=$ms")
      s"""{"batch":${p.batchId},"state_docs":$cum,"trigger_ms":$ms}"""
    }
    // slope summary: mean of first/last deciles — a flat curve has
    // ratio ~1, superlinear probe cost shows up directly
    val times = ps.map(_.durationMs.get("triggerExecution").longValue())
    val dec = math.max(1, times.length / 10)
    val head = times.take(dec).sum.toDouble / dec
    val tail = times.takeRight(dec).sum.toDouble / dec
    println(s"""{"metric":"dedup_state_growth","batches":${ps.length},"docs_per_batch":$perBatch,"final_state_docs":$cum,"first_decile_ms":${head.round},"last_decile_ms":${tail.round},"tail_over_head":${(tail / head * 100).round / 100.0},"points":[${pts.mkString(",")}]}""")
    spark.stop()
  }
}
