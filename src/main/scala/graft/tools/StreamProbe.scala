package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.LocalSession
import org.apache.spark.sql.functions._

import graft.operators.Merge
import graft.sources.Tables
import graft.streaming.{CorpusStream, MergeStream}

/** Throughput / batch-latency probe for the streaming operators —
  * turns the "streaming works" claim (spec-pinned correctness) into a
  * measured one (VERDICT r9 #10).
  *
  * Drives [[MergeStream.upsertStream]] and [[CorpusStream.onlineDedup]]
  * with a file-source stream over the sf tables, one input file per
  * micro-batch (`maxFilesPerTrigger=1`), then reads the engine's own
  * `StreamingQueryProgress` for per-batch `triggerExecution` wall time
  * and input row counts. Reported rows/s is input rows over summed
  * trigger time — the end-to-end number (source discovery + the
  * foreachBatch merge/dedup + sink writes), not just the transform.
  *
  * Usage: runMain graft.tools.StreamProbe <sfDir> [nBatches]
  */
object StreamProbe {

  /** Write `df` as exactly one JSON file per chunk into `inDir` —
    * the file-stream source's batch unit. */
  /** `offset` numbers the staged files from chunk<offset> — callers
    * staging in waves into a LIVE stream dir (AnnStateGrowthProbe)
    * must not reuse names the source already processed. */
  private[tools] def stageChunks(inDir: String,
                                 chunks: Seq[org.apache.spark.sql.DataFrame],
                                 offset: Int = 0): Unit = {
    Files.createDirectories(Paths.get(inDir))
    chunks.zipWithIndex.map { case (df, i0) => (df, i0 + offset) }.foreach { case (df, i) =>
      val stage = s"$inDir/_stage$i"
      df.coalesce(1).write.mode("overwrite").json(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .getOrElse(sys.error(s"no part file in $stage"))
      Files.move(part.toPath, Paths.get(s"$inDir/chunk$i.json"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    }
  }

  private def report(tag: String,
                     q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    var rows = 0L; var ms = 0L
    ps.foreach { p =>
      val t = p.durationMs.get("triggerExecution").longValue()
      rows += p.numInputRows; ms += t
      println(f"$tag batch=${p.batchId} rows=${p.numInputRows} trigger_ms=$t")
    }
    if (ms > 0)
      println(f"$tag TOTAL rows=$rows batches=${ps.length} " +
        f"sum_trigger_s=${ms / 1e3}%.2f rows_per_sec=${rows * 1e3 / ms}%.0f " +
        f"mean_batch_ms=${ms.toDouble / math.max(1, ps.length)}%.0f")
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val spark = LocalSession()
    val base = Files.createTempDirectory("stream_probe").toString

    // ---- upsertStream: versioned target, one delta file per batch
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    Merge.writeVersioned(c, s"$base/target", "c_custkey", nBuckets = 8)
    stageChunks(s"$base/up_in", (0 until nBatches).map(i =>
      c.filter(col("c_custkey") % nBatches === i)
        .withColumn("c_acctbal", col("c_acctbal") + 1.0)))
    val up = MergeStream.upsertStream(
      spark.readStream.schema(c.schema)
        .option("maxFilesPerTrigger", "1").json(s"$base/up_in"),
      s"$base/target", "c_custkey", s"$base/up_ckpt")
    up.processAllAvailable(); up.stop()
    report("upsert", up)

    // ---- onlineDedup: document chunks, LSH index accumulates state
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    stageChunks(s"$base/dd_in", (0 until nBatches).map(i =>
      d.filter(col("doc_id") % nBatches === i)))
    val dd = CorpusStream.onlineDedup(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1").json(s"$base/dd_in"),
      "stream_probe_docs", s"$base/dd_index", s"$base/dd_out",
      s"$base/dd_ckpt")
    dd.processAllAvailable(); dd.stop()
    report("online_dedup", dd)

    // ---- annIngestStream: IVF index grown one vector-batch per trigger
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val half = e.count() / 2
    val idx = s"$base/ann_idx"
    graft.operators.Similarity.ensureIvfIndex(
      e.filter(col("vec_id") < half), idx)
    stageChunks(s"$base/ann_in", (0 until nBatches).map(i =>
      e.filter(col("vec_id") >= half &&
        col("vec_id") % nBatches === i)))
    val ai = graft.streaming.AnnStream.ingestStream(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").json(s"$base/ann_in"),
      idx, s"$base/ann_ckpt")
    ai.processAllAvailable(); ai.stop()
    report("ann_ingest", ai)

    // ---- driftStream: PSI monitor over document-length batches,
    // frozen reference = the english slice
    val docs = Tables.load(spark, dir, "documents")
    val model = graft.streaming.DriftStream.fitReference(
      docs.filter(col("lang") === "en"), col("n_chars"))
    stageChunks(s"$base/dr_in", (0 until nBatches).map(i =>
      docs.filter(col("doc_id") % nBatches === i)
        .select(col("doc_id"), col("n_chars"))))
    val dr = graft.streaming.DriftStream.driftStream(
      spark.readStream.schema("doc_id LONG, n_chars LONG")
        .option("maxFilesPerTrigger", "1").json(s"$base/dr_in"),
      model, col("n_chars"), s"$base/dr_state", s"$base/dr_out",
      s"$base/dr_ckpt")
    dr.processAllAvailable(); dr.stop()
    report("drift", dr)

    spark.stop()
  }
}
