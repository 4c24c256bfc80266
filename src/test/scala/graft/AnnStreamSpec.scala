package graft

import java.nio.file.{Files => JF, Paths => JP}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Artifact
import graft.streaming.{AnnStream, MergeStream}

/** Streaming IVF-index maintenance: arrivals append under the frozen
  * centroid model; at-least-once redelivery skips at the high-water
  * mark (appendIvfIndex is NOT idempotent — the hwm gate is what
  * makes replay safe); the grown index stays ensure-reusable and
  * searchable end to end. */
class AnnStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.HashExpressions.register(s)
    s
  }

  /** A size floor above every file size here: all of a cell's files
    * fall in one tier, so `compactIvfSizeTiered` with `minTierFiles =
    * m + 1` rewrites exactly the cells holding more than m files,
    * wholesale (the leveling policy). */
  private val LevelingFloor = 1L << 40

  private def vecs(lo: Int, hi: Int) = {
    import spark.implicits._
    // deterministic unit-free float vectors, same splitmix family as
    // the gate fixtures
    Similarity.clusteredCorpus(spark, nClusters = 8, perCluster = 64,
        dim = 16)
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), col("embedding"))
  }

  test("ingestBatch: appends grow the index; replayed batch skips at the hwm") {
    val path = JF.createTempDirectory("ann_stream").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 256), path,
      nCells = 8, refineIters = 1))
    def n() = spark.read.parquet(s"$path/cells").count()
    assert(n() === 256)
    val id = "spec_lineage"
    val b0 = vecs(256, 384)
    AnnStream.ingestBatch(b0, 0L, path, id)
    assert(n() === 384)
    // at-least-once replay of the SAME batch: must skip, not double
    AnnStream.ingestBatch(b0, 0L, path, id)
    assert(n() === 384)
    assert(MergeStream.lastApplied(path, id) === 0L)
    AnnStream.ingestBatch(vecs(384, 512), 1L, path, id)
    assert(n() === 512)
    // the grown index is what a fresh session reuses for the FULL
    // corpus — the disk-truth fingerprint advanced with each batch
    assert(Similarity.ensureIvfIndex(vecs(0, 512), path,
      nCells = 8, refineIters = 1))
  }

  test("ingestBatch crash window: append landed, record missed, redelivery skips") {
    val path = JF.createTempDirectory("ann_crash").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 256), path,
      nCells = 8, refineIters = 1))
    def n() = spark.read.parquet(s"$path/cells").count()
    val id = "crash_lineage"
    val b0 = vecs(256, 384)
    // simulate the crash BETWEEN append and recordApplied: run the
    // append exactly as ingestBatch would (intent first), then "die"
    // before the hwm write
    val fs = graft.sources.Dfs.default
    val exp = Artifact.Fingerprint.from(Artifact.index(path).meta,
      "vecIdSum") + Similarity.vectorFp(b0)
    fs.writeStringAtomic(s"$path/_append_intent_$id.tsv",
      s"0\t${exp.count}\t${exp.keySum}\t${exp.contentSig}\n")
    Similarity.appendIvfIndex(b0, path)
    assert(n() === 384)
    assert(MergeStream.lastApplied(path, id) === -1L) // record "crashed"
    // at-least-once redelivery of batch 0: the write-ahead intent
    // matches the post-append meta, so the append is SKIPPED and only
    // the record replays — no duplicate vectors
    AnnStream.ingestBatch(b0, 0L, path, id)
    assert(n() === 384, "redelivered batch must not re-append")
    assert(MergeStream.lastApplied(path, id) === 0L)
    // the next genuinely-new batch takes the normal append path even
    // though the stale intent file is still present
    AnnStream.ingestBatch(vecs(384, 512), 1L, path, id)
    assert(n() === 512)
    // and the grown layout still fingerprint-matches the full corpus
    assert(Similarity.ensureIvfIndex(vecs(0, 512), path,
      nCells = 8, refineIters = 1))
  }

  test("automatic compaction cadence: long ingest ends with bounded file count, content intact") {
    // VERDICT r12 #1: production streams don't get a human scheduler.
    // Two indexes fed the SAME 24 batches: one with the in-loop
    // cadence (every 8 batches, crowded = >2 files), one without.
    // Same frozen centroids (same base corpus + params), so any
    // divergence in search answers would be compaction's fault.
    val auto = JF.createTempDirectory("ann_auto").toString + "/idx"
    val manual = JF.createTempDirectory("ann_manual").toString + "/idx"
    val nCells = 8
    assert(!Similarity.ensureIvfIndex(vecs(0, 64), auto,
      nCells = nCells, refineIters = 1))
    assert(!Similarity.ensureIvfIndex(vecs(0, 64), manual,
      nCells = nCells, refineIters = 1))
    (0 until 24).foreach { b =>
      val batch = vecs(64 + b * 16, 64 + (b + 1) * 16)
      AnnStream.ingestBatch(batch, b.toLong, auto, "auto_lineage",
        compactEvery = 8, maxFilesPerCell = 2)
      AnnStream.ingestBatch(batch, b.toLong, manual, "manual_lineage")
    }
    def nFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$p/cells"))
    }
    // no manual call anywhere: the cadence alone (last pass fired at
    // batch 23) must leave the read path within 2x nCells files,
    // while the uncompacted twin accumulated ~nCells per batch
    assert(nFiles(auto) <= 2 * nCells,
      s"auto-compacted index has ${nFiles(auto)} files")
    assert(nFiles(manual) > 4 * nCells,
      s"control index unexpectedly compact: ${nFiles(manual)} files")
    // content byte-identical: same (vec_id, embedding) multiset
    def rows(p: String) = spark.read.parquet(s"$p/cells")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(rows(auto).toSeq === rows(manual).toSeq)
    // and the same search answers, row for row
    val queries = vecs(0, 4).select(col("vec_id").as("qid"),
      col("embedding").as("qe"))
    def hits(p: String) = Similarity
      .searchIvfIndex(spark, p, queries, 5, nProbe = nCells)
      .collect().map(_.toString).sorted.toSeq
    assert(hits(auto) === hits(manual))
    // the republished meta still fingerprints the full corpus: a
    // fresh ensure over base + all 24 batches REUSES the layout
    assert(Similarity.ensureIvfIndex(vecs(0, 64 + 24 * 16), auto,
      nCells = nCells, refineIters = 1))
  }

  test("deleteBatch: streamed tombstones hide ids, replay skips, compaction preserves results") {
    val path = JF.createTempDirectory("ann_del").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 512), path,
      nCells = 8, refineIters = 1))
    val id = "del_lineage"
    val queries = vecs(0, 4).select(col("vec_id").as("qid"),
      col("embedding").as("qe"))
    def hits() = Similarity.searchIvfIndex(spark, path, queries, 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = hits()
    // stream two delete batches: ids 128..256, then 256..320
    AnnStream.deleteBatch(vecs(128, 256).select(col("vec_id")), 0L, path, id)
    AnnStream.deleteBatch(vecs(256, 320).select(col("vec_id")), 1L, path, id)
    val after = hits()
    assert(after.forall { case (_, nid) => nid < 128 || nid >= 320 })
    def tombFiles() = new java.io.File(s"$path/_tombstones").listFiles()
      .count(_.getName.startsWith("part-"))
    val files = tombFiles()
    // at-least-once replay of batch 1 skips at the -del watermark
    AnnStream.deleteBatch(vecs(256, 320).select(col("vec_id")), 1L, path, id)
    assert(tombFiles() === files, "replayed delete batch must not re-append")
    assert(MergeStream.lastApplied(path, s"$id-del") === 1L)
    // the ingest watermark is independent of the delete watermark
    assert(MergeStream.lastApplied(path, id) === -1L)
    // physical reclamation after the stream: reader results unchanged
    assert(Similarity.compactIvfCells(spark, path, minDeadFrac = 0.05).nonEmpty)
    assert(hits() === after)
    assert(before !== after, "a 37% delete must have changed some top-5")
  }

  test("end-to-end ingest stream: file batches append; index searchable after") {
    val base = JF.createTempDirectory("ann_e2e").toString
    val path = s"$base/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 256), path,
      nCells = 8, refineIters = 1))
    JF.createDirectories(JP.get(s"$base/in"))
    // one json file per micro-batch of arrivals
    vecs(256, 384).coalesce(1).write.json(s"$base/stage0")
    vecs(384, 512).coalesce(1).write.json(s"$base/stage1")
    Seq(0, 1).foreach { i =>
      val part = new java.io.File(s"$base/stage$i").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".json")).get
      JF.move(part.toPath, JP.get(s"$base/in/chunk$i.json"))
    }
    val q = AnnStream.ingestStream(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").json(s"$base/in"),
      path, s"$base/cp")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$path/cells").count() === 512)
      // each micro-batch is read twice — one fingerprint, then the cell
      // write — so the engine counts 2x the 256 staged rows
      assert(q.recentProgress.map(_.numInputRows).sum === 2 * 256)
      // the full corpus searches the grown index (clusteredCorpus is
      // well-separated — nProbe 2/8 finds same-cluster neighbors)
      val e = vecs(0, 512)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val got = Similarity.searchIvfIndex(spark, path, queries, 5, nProbe = 8)
      assert(got.count() === 15)
      // appended ids (>= 256) appear as neighbors where they truly
      // are: exact top-5 over the full corpus vs the index's answer
      val exact = Similarity.cosineTopK(e, 3, 5)
      val rec = Similarity.annRecall(got, exact, 5).collect()
      assert(rec.forall(_.getDouble(1) === 1.0), rec.mkString(","))

      // small-file compaction: the streamed appends above left > 1
      // file in the touched cells; compacting must shrink the file
      // count and leave every search answer byte-identical
      def nFiles: Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(s"$path/cells"))
      }
      val before = nFiles
      val pre = got.collect().map(_.toString).sorted
      val compacted = Similarity.compactIvfSizeTiered(spark, path,
        minTierFiles = 2, minSizeBytes = LevelingFloor)
      assert(compacted.nonEmpty, "appends must leave compactable cells")
      assert(nFiles < before, s"file count $before did not shrink")
      assert(spark.read.parquet(s"$path/cells").count() === 512)
      val post = Similarity.searchIvfIndex(spark, path, queries, 5, nProbe = 8)
        .collect().map(_.toString).sorted
      assert(post.toSeq === pre.toSeq)
    } finally q.stop()
  }

  test("size-tiered planner: small files bucket together, the big base file stays untouched") {
    def plan(sized: Seq[(String, Long)], minFiles: Int = 3,
             factor: Long = 4, floor: Long = 1) =
      Similarity.sizeTierBuckets(sized, minFiles, factor, floor)
    // fresh stream droppings (~10K) merge; the 10M base file is alone
    // in its tier and NEVER appears in any bucket
    val base = Seq("base" -> 10000000L)
    val smalls = Seq("s1" -> 9000L, "s2" -> 10000L, "s3" -> 11000L)
    assert(plan(base ++ smalls) === Seq(Seq("s1", "s2", "s3")))
    // below the trigger: two smalls do not merge
    assert(plan(base ++ smalls.take(2)) === Seq.empty)
    // two full tiers merge independently, neither touches the base:
    // mediums (~40K, > 4x small floor) form their own bucket
    val meds = Seq("m1" -> 40000L, "m2" -> 42000L, "m3" -> 44000L)
    assert(plan(base ++ meds ++ smalls) ===
      Seq(Seq("s1", "s2", "s3"), Seq("m1", "m2", "m3")))
    // the floor coalesces KB droppings whose sizes differ > factor x
    assert(plan(Seq("a" -> 100L, "b" -> 900L, "c" -> 3000L),
      floor = 64 * 1024) === Seq(Seq("a", "b", "c")))
    // input order is irrelevant (the planner sorts)
    assert(plan((smalls.reverse ++ base)) === Seq(Seq("s1", "s2", "s3")))
  }

  test("compactIvfSizeTiered: merges append droppings, preserves results, leaves the base file alone") {
    val path = JF.createTempDirectory("ann_tiered").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 256), path,
      nCells = 4, refineIters = 1))
    val id = "tier_spec"
    // three micro-batch appends → ≤ 3 small files per touched cell
    AnnStream.ingestBatch(vecs(256, 320), 1L, path, id)
    AnnStream.ingestBatch(vecs(320, 384), 2L, path, id)
    AnnStream.ingestBatch(vecs(384, 448), 3L, path, id)
    def files(): Map[String, Seq[String]] =
      new java.io.File(s"$path/cells").listFiles()
        .filter(_.getName.startsWith("cell=")).map { d =>
          d.getName -> d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).sorted.toSeq
        }.toMap
    val queries = vecs(0, 448).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def results() = Similarity
      .searchIvfIndex(spark, path, queries, 5, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    val preFiles = files()
    val pre = results()
    assert(preFiles.values.exists(_.length >= 4),
      "appends must leave a mergeable bucket")
    // at this scale parquet footers dominate tiny-file sizes, so the
    // real-size tier SEPARATION is pinned by the planner unit test
    // above; here the end-to-end contract is on the line: merge
    // happens, answers are byte-identical, a second pass is a no-op
    val touched = Similarity.compactIvfSizeTiered(spark, path,
      minTierFiles = 3, tierFactor = 3, minSizeBytes = 1)
    assert(touched.nonEmpty, "stream droppings must trigger a merge")
    val mid = files()
    assert(mid.values.map(_.length).sum < preFiles.values.map(_.length).sum,
      "file count did not shrink")
    assert(results() === pre, "merge must not change any search answer")
    assert(spark.read.parquet(s"$path/cells").count() === 448)
    // idempotent: nothing left at this tier, second pass touches nothing
    val again = Similarity.compactIvfSizeTiered(spark, path,
      minTierFiles = 3, tierFactor = 3, minSizeBytes = 1)
    assert(again.isEmpty, s"second pass re-compacted: $again")
    assert(files() === mid)
    assert(results() === pre)
  }

  test("compaction swap protocol: merged part moves IN before old files" +
      " delete, meta unpublished across the loop, no whole-dir delete") {
    val path = JF.createTempDirectory("ann_swap").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 128), path,
      nCells = 4, refineIters = 1))
    // two appends leave >1 file in every touched cell
    Similarity.appendIvfIndex(vecs(128, 192), path)
    Similarity.appendIvfIndex(vecs(192, 256), path)
    val fs = new LoggingDfs(graft.sources.Dfs.default)
    val compacted = Similarity.compactIvfSizeTiered(spark, path,
      minTierFiles = 2, minSizeBytes = LevelingFloor, fs = fs)
    assert(compacted.nonEmpty)
    val log = fs.log.toSeq
    val meta = s"$path/_index_meta.tsv"
    val metaDel = log.indexOf(s"delete $meta")
    val metaPub = log.indexOf(s"publish $meta")
    assert(metaDel >= 0 && metaPub > metaDel, log.mkString("; "))
    compacted.foreach { c =>
      val dir = s"$path/cells/cell=$c"
      // the concurrent-search guarantee: every merged part lands
      // BEFORE the first old file of that cell disappears (a mid-swap
      // listing sees old ∪ new, never a short cell) ...
      val lastIn = log.lastIndexWhere(e =>
        e.startsWith("rename ") && e.contains(s" -> $dir/"))
      val firstOut = log.indexWhere(e =>
        e.startsWith(s"delete $dir/") && e.endsWith(".parquet"))
      assert(lastIn >= 0 && firstOut > lastIn,
        s"cell $c: ${log.mkString("; ")}")
      // ... the meta stays unpublished across the whole window ...
      assert(metaDel < lastIn && metaPub > firstOut)
      // ... and the cell DIRECTORY is never deleted (the old swap's
      // whole-cell blackout)
      assert(!log.contains(s"delete $dir"))
    }
  }

  test("tombstone shrink protocol: the visible delete-set stays a" +
      " superset throughout — never an absent dir while dead rows remain") {
    val path = JF.createTempDirectory("ann_tshrink").toString + "/idx"
    assert(!Similarity.ensureIvfIndex(vecs(0, 512), path,
      nCells = 8, refineIters = 1))
    // kill one whole cluster — membership is vec_id % nClusters in
    // [[Similarity.clusteredCorpus]], so residue class 2 — (its cell
    // crosses minDeadFrac and gets rewritten) plus a single id
    // elsewhere (its cell stays below the threshold, so its dead row
    // survives physically -> nRemain > 0 and the shrink swap runs)
    Similarity.deleteFromIvfIndex(
      vecs(0, 512).filter(col("vec_id") % 8 === 2)
        .select(col("vec_id")), path)
    Similarity.deleteFromIvfIndex(
      vecs(201, 202).select(col("vec_id")), path)
    val fs = new LoggingDfs(graft.sources.Dfs.default)
    val compacted = Similarity.compactIvfCells(spark, path,
      minDeadFrac = 0.3, fs = fs)
    assert(compacted.nonEmpty)
    val log = fs.log.toSeq
    val tombs = s"$path/_tombstones"
    // the old delete-dir→rename shrink had a no-tombstones window (a
    // crash there resurrected every below-threshold dead row
    // permanently); the superset swap never deletes the dir ...
    assert(!log.contains(s"delete $tombs"), log.mkString("; "))
    // ... and moves the shrunken set IN before the old files go
    val lastIn = log.lastIndexWhere(e =>
      e.startsWith("rename ") && e.contains(s" -> $tombs/"))
    val firstOut = log.indexWhere(e =>
      e.startsWith(s"delete $tombs/") && e.endsWith(".parquet"))
    assert(lastIn >= 0 && firstOut > lastIn, log.mkString("; "))
    // the surviving set is exactly the physically-unreclaimed id
    val left = Similarity.tombstoneIds(spark, path, graft.sources.Dfs.default)
      .get.collect().map(_.getLong(0))
    assert(left.toSeq === Seq(201L))
    // and the searcher still masks it
    val q = vecs(201, 202)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val got = Similarity.searchIvfIndex(spark, path, q, 5, nProbe = 8)
      .collect().map(_.getLong(1))
    assert(!got.contains(201L))
  }
}
