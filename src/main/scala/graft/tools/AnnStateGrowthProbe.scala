package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.sources.Tables

/** IVF-index state-growth probe (VERDICT r11 #6): the LSH dedup index
  * got the 100-batch treatment in round 11 and it exposed a real
  * small-file defect — give [[graft.streaming.AnnStream.ingestStream]]
  * the same protocol. Three curves, all vs cumulative index size:
  *
  *   1. per-append trigger latency (recentProgress, the streaming
  *      measure — super-linear growth means the append path rescans
  *      the index);
  *   2. index FILE count after each wave (appendIvfIndex partitions by
  *      cell with no coalesce, so each micro-batch adds up to nCells
  *      files — the accumulation rate IS the compaction requirement);
  *   3. search latency after each wave (probed top-k over the grown
  *      layout — file-count growth taxes the scan's listing/footers
  *      long before data volume does).
  *
  * Batches are fresh deterministic vectors (the ScaleUp replica
  * convention: vec_id offset k·10⁹, xxhash-derived components), so
  * every batch has the same near-random geometry as the base corpus
  * and cell occupancy stays balanced — the measurement isolates
  * maintenance cost, not skew.
  *
  * Usage: runMain graft.tools.AnnStateGrowthProbe <sfDir> [nBatches] [nWaves]
  */
object AnnStateGrowthProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 100
    val nWaves = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession(
      "spark.sql.streaming.numRecentProgressUpdates" -> (nBatches + 16).toString)
    val base = Files.createTempDirectory("ann_state_probe").toString
    val idx = s"$base/idx"

    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val perBatch = e.count()
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    graft.operators.Similarity.ensureIvfIndex(e, idx)

    def replica(k: Int) = e
      .withColumn("vec_id", col("vec_id") + lit(k * 1000000000L))
      .withColumn("embedding", ScaleUp.replicaEmbedding(col("vec_id"), lit(k), dim))

    def fileSizes(): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          b += f.getPath -> f.length()
      walk(new java.io.File(s"$idx/cells"))
      b.result()
    }
    def fileCount(): Int = fileSizes().size

    def searchMs(): Long = {
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val t0 = System.nanoTime()
      graft.operators.Similarity.searchIvfIndex(spark, idx, q, 5).count()
      (System.nanoTime() - t0) / 1000000L
    }

    // batches arrive in waves so file count + search latency can be
    // sampled BETWEEN appends: stage wave w, processAllAvailable,
    // measure, stage the next — the stream and its checkpoint live
    // across waves, exactly as a long-running ingest would
    System.err.println(s"[ann_probe] $nBatches batches x $perBatch vecs, $nWaves waves")
    Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    val q = graft.streaming.AnnStream.ingestStream(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").json(s"$base/in"),
      idx, s"$base/ckpt")
    val perWave = nBatches / nWaves
    var prevSizes = fileSizes()
    val waveStats = (0 until nWaves).map { w =>
      StreamProbe.stageChunks(s"$base/in",
        (1 + w * perWave until 1 + (w + 1) * perWave).map(replica),
        offset = w * perWave)
      q.processAllAvailable()
      val sizes = fileSizes()
      val files = sizes.size
      // write-amplification accounting (VERDICT r13 #4): bytes of
      // files that existed at the previous wave boundary and are gone
      // now were REWRITTEN by compaction (appends only add files) —
      // under the old leveling scheme this grows with index size
      // (every pass re-merges each crowded cell's base file); under
      // size-tiered it stays bounded per wave, stepping up only when
      // a higher tier fills
      val rewritten = prevSizes.collect {
        case (p, sz) if !sizes.contains(p) => sz
      }.sum
      prevSizes = sizes
      val sms = searchMs()
      val stateVecs = perBatch * (1 + (w + 1).toLong * perWave)
      System.err.println(
        s"[ann_probe] wave=$w state_vecs=$stateVecs files=$files " +
          s"rewritten_mb=${rewritten / 1048576.0} search_ms=$sms")
      (stateVecs, files, sms, rewritten)
    }
    q.stop()

    // r13: compaction is AUTOMATIC inside the ingest loop (every 10
    // micro-batches, ingestStream default), so the per-wave file
    // counts above already show the maintained-flat curve. This
    // trailing offline pass is the residual check: it should find
    // little or nothing left to compact.
    val compacted = graft.operators.Similarity
      .compactIvfSizeTiered(spark, idx).size
    val filesAfter = fileCount()
    val searchAfter = searchMs()
    System.err.println(
      s"[ann_probe] compacted=$compacted cells files=$filesAfter search_ms=$searchAfter")

    val ps = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val times = ps.map(_.durationMs.get("triggerExecution").longValue())
    val dec = math.max(1, times.length / 10)
    val head = times.take(dec).sum.toDouble / dec
    val tail = times.takeRight(dec).sum.toDouble / dec
    val waves = waveStats.map { case (v, f, s, rw) =>
      s"""{"state_vecs":$v,"files":$f,"search_ms":$s,"rewritten_bytes":$rw}"""
    }
    println(s"""{"metric":"ann_ingest_state_growth","batches":${ps.length},"vecs_per_batch":$perBatch,"first_decile_trigger_ms":${head.round},"last_decile_trigger_ms":${tail.round},"tail_over_head":${(tail / head * 100).round / 100.0},"compacted_cells":$compacted,"files_after_compact":$filesAfter,"search_ms_after_compact":$searchAfter,"waves":[${waves.mkString(",")}]}""")
    spark.stop()
  }
}
