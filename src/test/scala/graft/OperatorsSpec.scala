package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Tables
import graft.streaming.EventsStream

/** Pins the operators that have no SQL oracle (minhash, simhash,
  * LSH-ANN, multimodal decode, streaming) against brute-force truth
  * or golden invariants on sf0.001, plus targeted edge cases. */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.HashExpressions.register(s)
    s
  }

  val sf = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sf, "documents")
  lazy val emb = Tables.load(spark, sf, "embeddings")

  test("minhash est tracks true jaccard on every discovered pair (±0.15)") {
    val est = Dedup.minhashPairs(docs, minEst = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty, "generator plants near-dups; none found")
    val truth = Dedup.ngramJaccardPairs(docs, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    est.foreach { case (pair, e) =>
      val t = truth.getOrElse(pair, 0.0)
      assert(math.abs(e - t) < 0.15, s"pair $pair est=$e true=$t")
    }
  }

  test("minhash recall: every true near-dup (J >= 0.8) is discovered") {
    val found = Dedup.minhashPairs(docs, minEst = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = Dedup.ngramJaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty)
    assert(strong.subsetOf(found),
      s"missed: ${strong -- found}")
  }

  test("simhash: hamming distance computed by banding equals brute force") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    val banded = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(banded === brute) // pigeonhole: banding is complete for <=3
  }

  test("multi-block simhash banding: complete within nBlocks - blocksPerBand") {
    // Manku 6-choose-3 subsets: any pair within Hamming <= 3 has >= 3
    // clean blocks, so one full band key matches — same brute-force
    // equality contract as the single-chunk spec above, but with
    // ~32-bit band keys (the configuration that stays selective at
    // scale; VERDICT r12 #4)
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    val blocked = Dedup.simhashPairsBlocked(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(blocked === brute)
    // at a wider filter radius the blocked candidates are a SUPERSET
    // of the guaranteed set: lucky far pairs may surface, never a
    // guaranteed pair lost
    val wide = Dedup.simhashPairsBlocked(docs, maxHamming = 15).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.keySet.subsetOf(wide))
  }

  test("hybrid simhash+minhash discovery (d_simhash): equals exact-Jaccard truth at J >= 0.8") {
    // r11 100x rehearsal: simhash-only banding missed 3/25,600 pairs
    // whose shingle Hamming crossed 15, so simhashVerifiedPairs now
    // unions in the minhash band candidates before the exact rerank.
    // Pin both halves of the contract: output == truth set, and the
    // minhash recall-1 path is a lower bound on discovery.
    val found = Dedup.simhashVerifiedPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.ngramJaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(found === truth, s"missed: ${truth -- found}; spurious: ${found -- truth}")
    val mh = Dedup.minhashVerifiedPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(found), s"union lost minhash pairs: ${mh -- found}")
  }

  test("production simhash banding (d_simhash_prod): complete AND sound vs brute force") {
    // pins the rows-only registry entry: 4×16-bit banding at
    // Hamming <= 3 over SHINGLE-feature signatures returns EXACTLY
    // the brute-force pair set (no oracle can check this in SQL —
    // the truth set is signature-defined)
    val sigs = docs.select(col("doc_id"),
        Dedup.simhashShingled(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h).toMap
    assert(brute.nonEmpty, "vacuous corpus: no hamming<=3 pairs")
    val prod = graft.SparkEntry.queries("d_simhash_prod")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(prod === brute)
  }

  test("simhash near-dup pairs have high token-frequency cosine (the metric simhash approximates)") {
    val pairs = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val tf = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").groupBy(identity).view
          .mapValues(_.length.toDouble).toMap).toMap
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val d = a.keysIterator.map(k => a(k) * b.getOrElse(k, 0.0)).sum
      d / math.sqrt(a.values.map(x => x * x).sum * b.values.map(x => x * x).sum)
    }
    pairs.foreach { case (x, y) =>
      val c = cos(tf(x), tf(y))
      // 0.7 floor: the 31-word synthetic vocab keeps ALL tf vectors
      // correlated, so hamming<=3 pairs sit lower than on real text
      assert(c > 0.7, s"simhash pair ($x,$y) tf-cosine=$c")
    }
  }

  test("LSH-ANN: multi-table recall beats the single-table baseline and clears 50%") {
    val exact = Similarity.cosineTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshCosineTopK(emb, 10, 5, bits = 4, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.lshCosineTopK(emb, 10, 5, bits = 4, tables = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.nonEmpty)
    val recall = (ann & exact).size.toDouble / exact.size
    val recallSingle = (single & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
    assert(recall >= recallSingle, s"multi=$recall single=$recallSingle")
  }

  test("IVF-ANN: no false candidates, recall well above random probing") {
    val exact = Similarity.cosineTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfCosineTopK(emb, 10, 5, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = (ivf & exact).size.toDouble / exact.size
    // probing 4/16 cells of near-random vectors scans ~25% of the
    // corpus; requiring 35% recall shows cell-locality beats random
    assert(recall >= 0.35, s"recall=$recall")
  }

  test("incremental LSH index: probe equals batch LSH on cross-shard pairs, append folds in") {
    val shard = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.initLshIndex(corpus, "graft_test_idx")
    val inc = Dedup.dedupAgainstIndex(spark, shard, "graft_test_idx",
        maxBucket = 100000)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
    // batch twin: full-corpus LSH restricted to cross-shard pairs
    val batch = Dedup.minhashPairs(docs, maxBucket = 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      .filter { case ((a, b), _) => (a % 5 == 0) != (b % 5 == 0) }
    assert(inc === batch)
    assert(inc.nonEmpty, "generator plants near-dups crossing any 1-in-5 split")
    // append: fold the shard in; a shard doc must now be discoverable
    // as dup_of by a clone of itself probed against the grown index
    Dedup.appendToLshIndex(shard, "graft_test_idx")
    val probeDoc = shard.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(999999L))
    val hits = Dedup.dedupAgainstIndex(spark, probeDoc, "graft_test_idx",
        maxBucket = 100000)
      .collect().map(_.getLong(1)).toSet
    assert(hits.contains(0L), s"appended doc 0 not found by its clone: $hits")
    spark.sql("DROP TABLE IF EXISTS graft_test_idx_bands")
    spark.sql("DROP TABLE IF EXISTS graft_test_idx_sigs")
  }

  test("LSH index compaction: file count collapses, probe results identical") {
    val loc = java.nio.file.Files.createTempDirectory("lsh_compact").toString
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    Dedup.initLshIndex(corpus, "graft_cmp_idx", location = Some(loc))
    // several appends, each a distinct shard slice — accumulates files
    (0 until 4).foreach { i =>
      Dedup.appendToLshIndex(
        docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 4 === i),
        "graft_cmp_idx")
    }
    val probe = docs.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + 500000L)
    def results() = Dedup.dedupAgainstIndex(spark, probe, "graft_cmp_idx",
        maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val before = results()
    val filesBefore = new java.io.File(s"$loc/bands")
      .listFiles().count(_.getName.endsWith(".parquet"))
    Dedup.compactLshIndex(spark, "graft_cmp_idx", loc)
    val filesAfter = new java.io.File(s"$loc/bands")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore,
      s"compaction grew files: $filesBefore -> $filesAfter")
    assert(filesAfter <= 8, s"bands not collapsed to nBuckets: $filesAfter")
    assert(results() === before)
    assert(before.nonEmpty, "probe fixture finds near-dups")
    spark.sql("DROP TABLE IF EXISTS graft_cmp_idx_bands")
    spark.sql("DROP TABLE IF EXISTS graft_cmp_idx_sigs")
  }

  test("IVF index on disk: search matches in-memory IVF, scan prunes partitions") {
    val path = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.writeIvfIndex(emb, path, nCells = 16, refineIters = 2)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val fromIndex = Similarity.searchIvfIndex(spark, path, queries, 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMemory = Similarity.ivfCosineTopK(emb, 10, 5,
        nCells = 16, nProbe = 4, refineIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex === inMemory)
    // the probed read is pruned: the search's own executed scan reads
    // files under the query's nProbe nearest cell= directories only
    // (directories outside the probe set are never listed, let alone
    // read); the probe set is the centroid ranking cosine DESC, cell ASC
    val one = queries.filter(col("qid") === 0L)
    val probed = spark.read.parquet(s"$path/centroids").crossJoin(one)
      .select(col("cell"), Similarity.cosine(col("qe"), col("ce")).as("sim"))
      .orderBy(col("sim").desc, col("cell")).limit(4)
      .collect().map(_.getInt(0)).toSet
    val cellFiles = Similarity.searchIvfIndex(spark, path, one, 5, nProbe = 4)
      .inputFiles.filter(_.contains(s"$path/cells/")).toSeq
    assert(cellFiles.nonEmpty)
    cellFiles.foreach(f =>
      assert(probed.exists(c => f.contains(s"$path/cells/cell=$c/")), f))
  }

  test("ensureIvfIndex restart protocol: reuse on matching meta, rebuild on drift") {
    val path = java.nio.file.Files.createTempDirectory("ivf_ensure").toString
    // first ensure builds (no meta yet)
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1))
    val metaFile = new java.io.File(s"$path/_index_meta.tsv")
    assert(metaFile.exists())
    val builtAt = metaFile.lastModified()
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val first = Similarity.searchIvfIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // second ensure with identical params + corpus reuses: returns
    // true, leaves the layout untouched, search is byte-identical —
    // the fresh-JVM restart path (nothing here relies on session state)
    assert(Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1))
    assert(metaFile.lastModified() === builtAt, "reuse must not rewrite")
    val again = Similarity.searchIvfIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === first)
    // parameter drift forces a rebuild (meta mismatch)
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 16, refineIters = 1))
    // corpus drift forces a rebuild too (fingerprint mismatch)
    assert(!Similarity.ensureIvfIndex(emb.filter(col("vec_id") < 100),
      path, nCells = 16, refineIters = 1))
    // a torn build (data present, meta missing) reads as absent
    new java.io.File(s"$path/_index_meta.tsv").delete()
    assert(!Similarity.ensureIvfIndex(emb.filter(col("vec_id") < 100),
      path, nCells = 16, refineIters = 1))
  }

  test("IVF-PQ ensure restart protocol: reuse on matching meta, rebuild on drift") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_ensure").toString
    val pq8 = Some(Similarity.Pq(nSub = 8, codesPerSub = 16, pqIters = 1))
    val pq4 = Some(Similarity.Pq(nSub = 4, codesPerSub = 16, pqIters = 1))
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = pq8))
    val metaFile = new java.io.File(s"$path/_index_meta.tsv")
    assert(metaFile.exists())
    val builtAt = metaFile.lastModified()
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val first = Similarity.searchIvfPqIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical params + corpus → reuse, layout untouched, search
    // byte-identical (the fresh-JVM restart path)
    assert(Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = pq8))
    assert(metaFile.lastModified() === builtAt, "reuse must not rewrite")
    val again = Similarity.searchIvfPqIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === first)
    // PQ-shape drift forces a rebuild (nSub is in the meta)
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = pq4))
    // torn build (meta missing) reads as absent
    metaFile.delete()
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = pq4))
  }

  test("IVF-PQ append + delete: PQ search at full probe has recall 1 on the live corpus") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_grow").toString
    val pq = Some(Similarity.Pq(nSub = 8, codesPerSub = 16, pqIters = 1))
    assert(!Similarity.ensureIvfIndex(emb.filter(col("vec_id") % 10 =!= 7),
      path, nCells = 8, refineIters = 1, pq = pq))
    Similarity.appendIvfIndex(emb.filter(col("vec_id") % 10 === 7), path)
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 3), path)
    // the grown meta keeps the PQ shape: a full-corpus ensure reuses
    assert(Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = pq))
    val live = emb.filter(col("vec_id") % 7 =!= 3)
    val q = live.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.cosineTopK(live, 10, 5)
    // appended vectors are among the true neighbors, so a PQ search
    // that cannot score them misses some
    assert(exact.collect().exists(_.getLong(1) % 10 == 7))
    // every probed cell and every candidate: exact over the live rows
    val got = Similarity.searchIvfPqIndex(spark, path, q, 5, nProbe = 8,
      shortlistFrac = 1.0)
    assert(got.collect().forall(_.getLong(1) % 7 != 3), "a deleted id surfaced")
    val rec = Similarity.annRecall(got, exact, 5).collect()
    assert(rec.length === q.count())
    assert(rec.forall(_.getDouble(1) == 1.0),
      rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
  }

  test("one IVF layout: flat search is the same on a PQ layout; PQ search needs the codebook") {
    val flat = java.nio.file.Files.createTempDirectory("ivf_flat").toString
    val withPq = java.nio.file.Files.createTempDirectory("ivf_pq").toString
    Similarity.writeIvfIndex(emb, flat, nCells = 8, refineIters = 1)
    Similarity.writeIvfIndex(emb, withPq, nCells = 8, refineIters = 1,
      pq = Some(Similarity.Pq(nSub = 8, codesPerSub = 16, pqIters = 1)))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def hits(path: String) = Similarity.searchIvfIndex(spark, path, queries, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(hits(withPq) === hits(flat))
    val e = intercept[IllegalArgumentException](
      Similarity.searchIvfPqIndex(spark, flat, queries, 5))
    assert(e.getMessage.contains(s"$flat/books"), e.getMessage)
  }

  test("appendIvfIndex: in-place growth, no file rewrites, meta advances to disk truth") {
    val path = java.nio.file.Files.createTempDirectory("ivf_grow").toString
    val old = emb.filter(col("vec_id") % 10 =!= 7)
    val nw = emb.filter(col("vec_id") % 10 === 7)
    assert(!Similarity.ensureIvfIndex(old, path, nCells = 8, refineIters = 1))
    def parts(d: java.io.File): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val cellsDir = new java.io.File(s"$path/cells")
    val before = parts(cellsDir)
    Similarity.appendIvfIndex(nw, path)
    val after = parts(cellsDir)
    // append = new files only: every pre-existing file survives with
    // its mtime; the layout grew
    before.foreach { case (p, m) => assert(after.get(p).contains(m), p) }
    assert(after.size > before.size)
    assert(spark.read.parquet(s"$path/cells").count() === emb.count())
    // meta describes the grown corpus: full-corpus ensure REUSES...
    assert(Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1))
    // ...and the pre-append corpus no longer matches (rebuild path)
    assert(!Similarity.ensureIvfIndex(old, path, nCells = 8, refineIters = 1))
  }

  test("leakage-safe split: no verified near-dup pair straddles the boundary") {
    val d = Tables.load(spark, sf, "documents")
    val split = Dedup.leakageSafeSplit(d, testPermille = 100)
      .select(col("doc_id"), col("split")).persist()
    try {
      // every near-dup pair lands on one side — zero leakage routes
      val pairs = Dedup.minhashVerifiedPairs(d, 0.8)
      val crossing = pairs
        .join(split.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("split", "sa"), "doc_a")
        .join(split.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("split", "sb"), "doc_b")
        .filter(col("sa") =!= col("sb")).count()
      assert(crossing === 0L)
      // both splits populated, test fraction in a loose band around 10%
      val n = split.count().toDouble
      val t = split.filter(col("split") === "test").count().toDouble
      assert(t > 0 && t < n)
      assert(t / n > 0.03 && t / n < 0.25, s"test frac ${t / n}")
    } finally { split.unpersist(); () }
  }

  test("reuse protocols are CONTENT-sensitive: same keys, new values → rebuild") {
    // a regenerated corpus with identical ids/count but different
    // content must never reuse a stale layout into a hash gate —
    // count+keySum alone cannot see this (ADVICE-style latent trap)
    val path = java.nio.file.Files.createTempDirectory("ivf_content").toString
    assert(!Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1))
    assert(Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1))
    // same vec_ids, same count — every vector scaled by 2
    val mutated = emb.select(col("vec_id"),
      transform(col("embedding"), x => (x * 2f).cast("float")).as("embedding"))
    assert(!Similarity.ensureIvfIndex(mutated, path, nCells = 8, refineIters = 1))

    val s = spark; import s.implicits._
    val fx = java.nio.file.Files.createTempDirectory("fix_content")
      .toString + "/t"
    val c1 = Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    var builds = 0
    def build(df: org.apache.spark.sql.DataFrame)(p: String): Unit = {
      builds += 1
      df.write.mode("overwrite").parquet(p + "/d")
    }
    Merge.ensureFixture(c1, "c_custkey", fx, "v1")(build(c1))
    Merge.ensureFixture(c1, "c_custkey", fx, "v1")(build(c1))
    assert(builds === 1) // identical content reuses
    // same keys and count, one balance changed → rebuild
    val c2 = Seq((1L, "a", 10.0), (2L, "b", 99.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    Merge.ensureFixture(c2, "c_custkey", fx, "v1")(build(c2))
    assert(builds === 2)
    // keys near 4e18: a raw key sum overflows long, which throws under
    // ANSI; the residue-sum fingerprint builds once, then reuses
    val big = Seq((4000000000000000000L, "a", 1.0),
      (4000000000000000001L, "b", 2.0), (4000000000000000002L, "c", 3.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    Merge.ensureFixture(big, "c_custkey", fx + "_big", "v1")(build(big))
    Merge.ensureFixture(big, "c_custkey", fx + "_big", "v1")(build(big))
    assert(builds === 3)
  }

  test("clusteredCorpus: deterministic, distributed, matches the driver-side generator") {
    val df = Similarity.clusteredCorpus(spark, nClusters = 8,
      perCluster = 4, dim = 16)
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows.length === 32)
    // replays identically (closed form per (id, dim) — no RNG state)
    val rows2 = Similarity.clusteredCorpus(spark, nClusters = 8,
      perCluster = 4, dim = 16).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getSeq[Float](1)).toSeq ===
      rows2.map(_.getSeq[Float](1)).toSeq)
    // against the reference splitmix generator, element for element
    def mix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def unif(seed: Long): Double =
      (mix(seed) >>> 11).toDouble / (1L << 53) * 2 - 1
    rows.foreach { r =>
      val id = r.getLong(0); val v = r.getSeq[Float](1)
      (0 until 16).foreach { d =>
        val want = (unif((id % 8) * 1031 + d) +
          0.05 * unif(1000003L + id * 131 + d)).toFloat
        assert(v(d) === want, s"id=$id d=$d")
      }
      assert(r.getInt(2) === (id % 8).toInt)
    }
  }

  test("IVF delete + compaction: tombstones hide ids, compaction reclaims rows, search unchanged") {
    val path = java.nio.file.Files.createTempDirectory("ivf_del").toString
    Similarity.ensureIvfIndex(emb, path, nCells = 8, refineIters = 1)
    val queries = emb.filter(col("vec_id") < 5 && col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val full = Similarity.searchIvfIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // soft delete a third of the corpus: no deleted id may surface
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 3 === 0), path)
    val afterDel = Similarity.searchIvfIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterDel.forall(_._2 % 3 != 0), afterDel.toString)
    assert(afterDel !== full, "a 1/3 delete must change some top-3 list")
    val physBefore = spark.read.parquet(s"$path/cells").count()
    // every cell is ≥ threshold dead (uniform % 3 delete) → all
    // compact; rows physically gone, tombstone dir emptied away
    val compacted = Similarity.compactIvfCells(spark, path, minDeadFrac = 0.1)
    assert(compacted.nonEmpty)
    val physAfter = spark.read.parquet(s"$path/cells").count()
    assert(physAfter < physBefore)
    assert(spark.read.parquet(s"$path/cells")
      .filter(col("vec_id") % 3 === 0).count() === 0L)
    assert(!new java.io.File(s"$path/_tombstones").exists(),
      "fully-reclaimed tombstone set must be dropped")
    // the reader-visible result is IDENTICAL before and after the
    // physical rewrite — compaction is pure reclamation
    val afterCompact = Similarity.searchIvfIndex(spark, path, queries, 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact === afterDel)
  }

  test("IVF-ANN: k-means refinement preserves cell count and seed-level recall") {
    val exact = Similarity.cosineTopK(emb, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val seedSet = Similarity.ivfCosineTopK(emb, 10, 5,
        nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.ivfCosineTopK(emb, 10, 5,
        nCells = 16, nProbe = 4, refineIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined.nonEmpty)
    val seedRecall = (seedSet & exact).size.toDouble / exact.size
    val recall = (refined & exact).size.toDouble / exact.size
    // refinement must not lose more than a little vs seed centroids
    assert(recall >= seedRecall - 0.1, s"refined=$recall seed=$seedRecall")
    // dead cells keep their centroid — the count must not shrink
    val seed = emb.filter(col("vec_id") < 16)
      .selectExpr("CAST(vec_id AS INT) AS cell", "embedding AS ce")
    assert(Similarity.kmeansRefine(emb, seed, 2).count() === 16L)
  }

  test("cosineTopK is exact: matches driver-side brute force") {
    val got = Similarity.cosineTopK(emb, 3, 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- 0L until 3L) {
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      val gotQ = (1 to 3).map(rk => got((q, rk)))
      assert(gotQ === expected, s"query $q")
    }
  }

  test("cdc chunking: reference model, chunk reassembly, edit locality") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.Kernels
    val P = 1000000007L
    def ref(text: String, w: Int, div: Int): Seq[String] = {
      val toks = text.split(" ", -1).toSeq
      val th = toks.map(_.codePoints().toArray
        .foldLeft(7L)((a, c) => (a * 31 + c) % P))
      val ends = (w to toks.length).filter { i =>
        th.slice(i - w, i).foldLeft(11L)((a, x) => (a * 31 + x) % P) % div == 0
      }
      val allEnds =
        if (ends.isEmpty || ends.last != toks.length) ends :+ toks.length
        else ends
      allEnds.zip(0 +: allEnds.dropRight(1)).map { case (e, s) =>
        toks.slice(s, e).mkString(" ")
      }
    }
    def kernel(text: String, w: Int, div: Int): Seq[String] = {
      val a = Kernels.cdcChunks(UTF8String.fromString(text), w, div)
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
    val sample = "a quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight again"
    for (t <- Seq(sample, "one", "", "a b", "x " * 40 + "y")) {
      val got = kernel(t, 4, 8)
      assert(got === ref(t, 4, 8), s"text: '$t'")
      // chunks reassemble to the original text exactly
      assert(got.mkString(" ") === t)
    }
    // edit locality: inserting one token early in a long doc leaves
    // the chunk multiset mostly intact (the CDC property; a fixed
    // stride would shift every later span)
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val edited = ("tok1 INSERTED " + base.drop(5))
    val cb = kernel(base, 4, 8).groupBy(identity).view.mapValues(_.size)
    val ce = kernel(edited, 4, 8).groupBy(identity).view.mapValues(_.size)
    val shared = cb.keys.toSet.intersect(ce.keys.toSet)
      .toSeq.map(k => math.min(cb(k), ce(k))).sum
    assert(shared >= cb.values.sum - 3,
      s"edit perturbed more than the local window: $shared of ${cb.values.sum}")
  }

  test("kCenter matches driver-side farthest-point traversal") {
    val k = 8
    val got = Similarity.kCenter(emb, k).collect()
      .sortBy(_.getInt(0)).map(r => (r.getInt(0), r.getLong(1)))
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      for (i <- a.indices) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d
      }
      s
    }
    var sel = Vector(0L)
    while (sel.size < k) {
      val next = vecs.toSeq.filterNot(p => sel.contains(p._1))
        .map { case (id, v) => (id, sel.map(c => d2(vecs(c), v)).min) }
        .minBy { case (id, d) => (-d, id) }._1
      sel :+= next
    }
    assert(got.map(_._2).toVector === sel)
    // first pick really is the farthest point from the seed
    assert(got(1)._2 ===
      vecs.toSeq.filter(_._1 != 0L)
        .maxBy { case (id, v) => (d2(vecs(0L), v), -id) }._1)
  }

  test("kCenter: driver-local plan mode ≡ distributed loop (r14 gate)") {
    // localGate=0 forces the distributed argmax loop; default takes
    // the local path on this corpus — both must pick the identical
    // greedy trajectory with identical rounded distances
    val loc = Similarity.kCenter(emb, 8).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val dist = Similarity.kCenter(emb, 8, localGate = 0L).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(loc.toSeq === dist.toSeq)
  }

  test("mmrTopK: driver-local greedy ≡ distributed rounds (r14 gate)") {
    val loc = Similarity.mmrTopK(emb, 4, 3, nCand = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val dist = Similarity.mmrTopK(emb, 4, 3, nCand = 5, localPairGate = 0L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(loc.toSeq === dist.toSeq)
  }

  test("as-of join: hand-computed case incl. equal-ts inclusivity") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "ts", "name")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (2L, 6L, 102L))
      .toDF("k", "ts", "rid")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts",
        Seq("rid" -> "matched"))
      .select("name", "matched").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // p1@10 matches rid100@10 (inclusive >=); p2@20 matches rid101@15;
    // p3@5 has no signup at-or-before → null
    assert(out === Map("p1" -> 100L, "p2" -> 101L, "p3" -> -1L))

    // forward direction: smallest right ts >= left ts
    val fwd = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts",
        Seq("rid" -> "matched"), forward = true)
      .select("name", "matched").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // p1@10 → rid100@10 (inclusive); p2@20 → none after; p3@5 → rid102@6
    assert(fwd === Map("p1" -> 100L, "p2" -> -1L, "p3" -> 102L))

    // tolerance: backward match farther than 3s becomes null
    // (long ts are cast to epoch seconds)
    val tol = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts",
        Seq("rid" -> "matched"), toleranceMs = Some(3000L))
      .select("name", "matched").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // p2@20 matched rid101@15 — 5s away > 3s tolerance → null
    assert(tol === Map("p1" -> 100L, "p2" -> -1L, "p3" -> -1L))
  }

  test("span removal: planted shared spans cut exactly, survivors reassemble in order") {
    import spark.implicits._
    val span = "s1 s2 s3 s4" // L=4 planted span
    val df = Seq(
      1L -> s"alpha $span beta",        // span mid-doc: cut, rest kept
      2L -> s"$span gamma delta eps",   // span at head
      3L -> span,                       // doc IS the span: fully cut
      4L -> "unique words only here ok",// no shared window: untouched
      5L -> "tiny doc"                  // shorter than L: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(df, col("text"), 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def h(s: String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(out(1L) === ((6L, 4L, h("alpha beta"))))
    assert(out(2L) === ((7L, 4L, h("gamma delta eps"))))
    assert(out(3L) === ((4L, 4L, h(""))))
    assert(out(4L) === ((5L, 0L, h("unique words only here ok"))))
    assert(out(5L) === ((2L, 0L, h("tiny doc"))))
    // overlapping duplicated windows union (no double-cut): two docs
    // sharing a 5-token run produce two overlapping L=4 windows whose
    // covered positions merge to exactly 5 cut tokens
    val df2 = Seq(
      10L -> "x a b c d e y",
      11L -> "z a b c d e w").toDF("doc_id", "text")
    val out2 = Dedup.removeRepeatedSpans(df2, col("text"), 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out2(10L) === ((5L, h("x y"))))
    assert(out2(11L) === ((5L, h("z w"))))
  }

  test("bmp codec: hand-built container decodes to exact known pixels") {
    // 2×2 bottom-up BMP, stride 8 (2*3=6 → padded to 8). Image-space
    // pixels (origin top-left):  (0,0)=R=10,G=20,B=30  (1,0)=40,50,60
    //                            (0,1)=70,80,90        (1,1)=100,110,120
    // File rows are BOTTOM-UP and BGR: file row 0 = image row 1.
    val d = new Array[Byte](54 + 16)
    d(0) = 'B'; d(1) = 'M'
    def p32(o: Int, v: Int): Unit = { d(o) = v.toByte
      d(o+1) = (v>>8).toByte; d(o+2) = (v>>16).toByte; d(o+3) = (v>>24).toByte }
    def p16(o: Int, v: Int): Unit = { d(o) = v.toByte; d(o+1) = (v>>8).toByte }
    p32(2, 70); p32(10, 54); p32(14, 40); p32(18, 2); p32(22, 2)
    p16(26, 1); p16(28, 24); p32(30, 0); p32(34, 16)
    def put(rowOff: Int, x: Int, r: Int, g: Int, b: Int): Unit = {
      d(rowOff + x*3) = b.toByte; d(rowOff + x*3 + 1) = g.toByte
      d(rowOff + x*3 + 2) = r.toByte
    }
    put(54, 0, 70, 80, 90); put(54, 1, 100, 110, 120)   // image row 1
    put(62, 0, 10, 20, 30); put(62, 1, 40, 50, 60)      // image row 0
    val st = Multimodal.bmpStats(7L, d)
    assert((st.width, st.height) === ((2, 2)))
    assert((st.sum_r, st.sum_g, st.sum_b) === ((220L, 260L, 300L)))
    // top half = image row 0 only; left half = x=0 column
    assert(st.sum_top === (10+20+30 + 40+50+60))
    assert(st.sum_left === (10+20+30 + 70+80+90))
    // TOP-DOWN variant (negative height): same bytes reinterpreted —
    // file row 0 now IS image row 0, flipping sum_top
    p32(22, -2)
    val td = Multimodal.bmpStats(7L, d)
    assert(td.height === 2 && td.sum_r === 220L)
    assert(td.sum_top === (70+80+90 + 100+110+120))
    // reject paths: bad magic, unsupported bpp
    d(22) = 2; d(23) = 0; d(24) = 0; d(25) = 0
    d(0) = 'X'
    intercept[IllegalArgumentException] { Multimodal.bmpStats(7L, d) }
    d(0) = 'B'; p16(28, 8)
    intercept[IllegalArgumentException] { Multimodal.bmpStats(7L, d) }
    // round-trip: encode → BmpCodec features match driver arithmetic
    val enc = Multimodal.encodeBmp(3L) // w=8, h=3
    val s3 = Multimodal.bmpStats(3L, enc)
    assert((s3.width, s3.height) === ((8, 3)))
    val f = Multimodal.BmpCodec.decode(
      Multimodal.MediaRow(3L, enc, "image", enc.length))
    assert(f.features.length === 6)
    assert(f.features(0) === (s3.sum_r.toDouble / (24 * 255)).toFloat)
    assert(f.features(3) ===
      (s3.sum_top.toDouble / ((3/2) * 8 * 3 * 255)).toFloat)
  }

  test("phash: aHash bits, cross-codec roundtrip, banded recall") {
    import Multimodal._
    // known-bit surface: block (0,0) all gray 255, the rest gray 1 →
    // only bit 0's block sum clears the 64*S >= T threshold
    val px = Array.fill(PhashDim * PhashDim * 3)(1)
    for (y <- 0 until 2; x <- 0 until 2; c <- 0 until 3)
      px((y * PhashDim + x) * 3 + c) = 255
    val (hi0, lo0) = averageHash64(PhashDim, PhashDim, px)
    assert((hi0, lo0) === ((0L, 1L)))
    // uniform surface: every block ties the mean → all 64 bits set
    val (hiU, loU) =
      averageHash64(PhashDim, PhashDim, Array.fill(PhashDim * PhashDim * 3)(7))
    assert((hiU, loU) === ((0xFFFFFFFFL, 0xFFFFFFFFL)))
    // both real codecs reconstruct the exact phash surface
    for (img <- Seq(0L, 130L, 9997L)) {
      val base = phashPixels(img, perturbed = false)
      val pert = phashPixels(img, perturbed = true)
      val (_, _, viaBmp) =
        bmpPixels(img, bmpFromPixels(PhashDim, PhashDim, base))
      val (_, _, viaPng) = pngPixels(img,
        pngFromPixels(PhashDim, PhashDim, pert, img, s"t\u0000t $img"))
      assert(viaBmp.sameElements(base))
      assert(viaPng.sameElements(pert))
      // perturbed variant stays within the Hamming-3 radius
      val (bh, bl) = averageHash64(PhashDim, PhashDim, base)
      val (ph, pl) = averageHash64(PhashDim, PhashDim, pert)
      val ham = java.lang.Long.bitCount(bh ^ ph) +
        java.lang.Long.bitCount(bl ^ pl)
      assert(ham <= 3, s"img $img variant drifted to hamming $ham")
    }
    // end-to-end banded discovery ≡ brute-force all-pairs at sf0.001
    val out = phashNearDup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val brute = out.toSeq.map { case (id, (hi, lo, _)) =>
      id -> out.count { case (id2, (hi2, lo2, _)) =>
        id2 != id && java.lang.Long.bitCount(hi ^ hi2) +
          java.lang.Long.bitCount(lo ^ lo2) <= 3
      }.toLong
    }.toMap
    assert(out.nonEmpty)
    out.foreach { case (id, (_, _, n)) => assert(n === brute(id)) }
  }

  test("wav codec: hand-built container decodes to exact known samples") {
    // RIFF/WAVE, fmt → JUNK(odd size 3, padded) → data with 4 signed
    // samples: 100, -200, 300, -32768 (sign extension + LE on the line)
    val samples = Seq(100, -200, 300, -32768)
    val buf = collection.mutable.ArrayBuffer[Byte]()
    def s4(s: String): Unit = s.foreach(c => buf += c.toByte)
    def w16(v: Int): Unit = { buf += v.toByte; buf += (v >> 8).toByte }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    s4("RIFF"); w32(4 + 24 + 12 + 8 + 8); s4("WAVE")
    s4("fmt "); w32(16); w16(1); w16(1); w32(44100); w32(88200); w16(2); w16(16)
    s4("JUNK"); w32(3); buf += 1; buf += 2; buf += 3; buf += 0 // pad to even
    s4("data"); w32(8); samples.foreach(w16)
    val st = Multimodal.wavStats(9L, buf.toArray)
    assert((st.sample_rate, st.n_samples) === ((44100, 4)))
    assert(st.sum_s === (100L - 200 + 300 - 32768))
    assert(st.sum_abs === (100L + 200 + 300 + 32768))
    assert(st.sum_sq === (100L*100 + 200L*200 + 300L*300 + 32768L*32768))
    assert(st.sum_first_half === (100L - 200)) // first 2 of 4 — order pinned
    assert(st.max_s === 300)
    // reject paths: bad magic, stereo, 8-bit, data before fmt
    val d = buf.toArray
    d(0) = 'X'
    intercept[IllegalArgumentException] { Multimodal.wavStats(9L, d) }
    d(0) = 'R'; d(22) = 2 // channels = 2
    intercept[IllegalArgumentException] { Multimodal.wavStats(9L, d) }
    d(22) = 1; d(34) = 8 // bits = 8
    intercept[IllegalArgumentException] { Multimodal.wavStats(9L, d) }
    val noFmt = buf.toArray.take(12) ++ buf.toArray.drop(44) // drop fmt chunk
    intercept[IllegalArgumentException] { Multimodal.wavStats(9L, noFmt) }
    // round-trip: encode → decode matches the closed form, junk chunk
    // and its odd-size padding walked over correctly for both parities
    for (id <- Seq(2L, 3L)) {
      val rt = Multimodal.wavStats(id, Multimodal.encodeWav(id))
      val n = 50 + (id % 32).toInt
      val exp = (0 until n).map(i => ((id * 37 + i * 11) % 4096).toInt - 2048)
      assert(rt.n_samples === n)
      assert(rt.sample_rate === 8000 + (id % 4).toInt * 4000)
      assert(rt.sum_s === exp.map(_.toLong).sum)
      assert(rt.sum_first_half === exp.take(n / 2).map(_.toLong).sum)
      assert(rt.max_s === exp.max)
    }
  }

  test("dispatch codec: real BMP/WAV/AVI parsers per kind") {
    val rows = Multimodal
      .decodeAll(Multimodal.realMediaTable(spark, sf),
        Multimodal.DispatchCodec)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { f =>
      (f.doc_id % 3) match {
        case 0 => // image: dims out of the real BMP header formula
          assert(f.kind == "image")
          assert(f.width === 5 + (f.doc_id % 4).toInt, f.toString)
          assert(f.height === 3 + (f.doc_id % 3).toInt, f.toString)
          assert(f.features.length === 6)
          assert(f.frame_offsets.isEmpty)
        case 1 => // audio: (rate, samples) out of the real WAV chunks
          assert(f.kind == "audio")
          assert(f.width === 8000 + (f.doc_id % 4).toInt * 4000, f.toString)
          assert(f.height === 50 + (f.doc_id % 32).toInt, f.toString)
          assert(f.features.length === 5)
          assert(f.frame_offsets.isEmpty)
        case _ => // video: dims and frame count out of the real AVI demux
          assert(f.kind == "video")
          assert(f.width === 16 + (f.doc_id % 8).toInt * 4, f.toString)
          assert(f.height === 12 + (f.doc_id % 5).toInt * 4, f.toString)
          assert(f.features.length === 7)
          assert(f.frame_offsets.length === 4 + (f.doc_id % 6).toInt, f.toString)
      }
    }
  }

  test("avi demux: round-trip, idx1 cross-check, reject paths") {
    // round-trip: encode → demux matches the closed form for ids
    // covering all (n, junk, size) parities
    for (id <- 0L to 11L) {
      val st = Multimodal.aviStats(id, Multimodal.encodeAvi(id))
      val n = 4 + (id % 6).toInt
      val szs = (0 until n).map(k => 24 + ((id * 7 + k * 13) % 17).toInt)
      // offsets: 4 + cumsum of even-padded strides, per the layout
      val rels = szs.scanLeft(4)((acc, s) => acc + 8 + s + (s & 1)).init
      assert(st.width === 16 + (id % 8).toInt * 4)
      assert(st.height === 12 + (id % 5).toInt * 4)
      assert(st.n_frames === n)
      assert(st.rate === 24 + (id % 3).toInt * 6)
      assert(st.sum_sizes === szs.map(_.toLong).sum)
      assert(st.sum_rel_offsets === rels.map(_.toLong).sum)
      assert(st.first_off === 4)
      assert(st.last_off === rels.last)
      val expBytes = (for (k <- 0 until n; t <- 0 until szs(k))
        yield ((id * 11 + k * 17 + t * 5) % 251)).sum
      assert(st.sum_bytes === expBytes)
      // AviCodec features/offsets agree with the demux facts
      val b = Multimodal.encodeAvi(id)
      val f = Multimodal.AviCodec.decode(
        Multimodal.MediaRow(id, b, "video", b.length))
      assert(f.frame_offsets.length === n)
      // absolute payload offset = moviFcc + rel + 8; moviFcc =
      // 220 + padded junk + 8
      val j = 5 + (id % 4).toInt
      val moviFcc = 220 + j + (j & 1) + 8
      assert(f.frame_offsets.toSeq === rels.map(r => moviFcc + r + 8))
      assert(f.features.length === 7)
      assert(f.features(1) === n.toFloat)
    }
    val good = Multimodal.encodeAvi(5L)
    val nGood = 4 + (5 % 6) // 9 frames
    // bad magic
    val d1 = good.clone(); d1(8) = 'X'
    intercept[IllegalArgumentException] { Multimodal.aviStats(5L, d1) }
    // idx1 offset tampered: the movi walk and the index disagree
    val idxOff = good.length - 16 * nGood + 8 // first entry's dwChunkOffset
    val d2 = good.clone(); d2(idxOff) = (d2(idxOff) + 2).toByte
    intercept[IllegalArgumentException] { Multimodal.aviStats(5L, d2) }
    // frame-count lie in avih (dwTotalFrames at body 32 + 16 = 48)
    val d3 = good.clone(); d3(48) = (d3(48) + 1).toByte
    intercept[IllegalArgumentException] { Multimodal.aviStats(5L, d3) }
    // non-vids first stream: strh fccType at its body offset 108
    val d4 = good.clone(); d4(108) = 'a'.toByte
    intercept[IllegalArgumentException] { Multimodal.aviStats(5L, d4) }
    // truncated: declared movi size overruns the payload
    intercept[IllegalArgumentException] {
      Multimodal.aviStats(5L, good.take(good.length - 16 * nGood - 8 - 20))
    }
  }

  test("multimodal decode: deterministic, schema-true, payload-derived") {
    val a = Multimodal.decodeAll(Multimodal.realMediaTable(spark, sf)).collect()
    val b = Multimodal.decodeAll(Multimodal.realMediaTable(spark, sf)).collect()
    assert(a.map(_.doc_id).sorted === b.map(_.doc_id).sorted)
    val byId = a.map(f => f.doc_id -> f).toMap
    // frame sampling only for video kind (real AVI demux offsets)
    assert(a.forall(f => (f.kind == "video") == f.frame_offsets.nonEmpty))
    assert(byId === b.map(f => f.doc_id -> f).toMap.keys.map(k => k -> byId(k)).toMap)
    // resize stage: longer side capped, aspect preserved, small dims
    // untouched (audio rows carry width=sample_rate ≥ 8000, so
    // maxDim=96 exercises the cap; image/video dims are < 96 and
    // must pass through untouched)
    val resized = Multimodal.resizeAll(
      Multimodal.decodeAll(Multimodal.realMediaTable(spark, sf)), 96).collect()
    assert(resized.exists(f => math.max(f.width, f.height) == 96))
    resized.foreach { f =>
      val orig = byId(f.doc_id)
      assert(math.max(f.width, f.height) <= 96, f.toString)
      if (math.max(orig.width, orig.height) <= 96)
        assert(f.width == orig.width && f.height == orig.height)
      else
        assert((f.width <= orig.width) && (f.height <= orig.height) &&
          f.width >= 1 && f.height >= 1)
    }
  }

  test("streaming windowed rollup matches the batch twin on closed windows") {
    val streamed = EventsStream.runOnce(spark, sf, "ops_spec_stream")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // append mode only emits windows whose end passed the watermark
    // (maxTs - 10 min); the final open window(s) stay in state
    val maxTs = Tables.load(spark, sf, "events")
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val watermark = maxTs - 10 * 60 * 1000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val batchClosed = graft.queries.Temporal.hourlyRollup(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .filter { case ((h, _), _) => fmt.parse(h).getTime + 3600 * 1000L <= watermark }
      .toMap
    assert(batchClosed.nonEmpty)
    assert(streamed === batchClosed)
  }

  test("PQ: codebook shape, codes in range, shortlist+rerank recall 1") {
    val books = Similarity.pqTrain(emb, 8, 16, 1)
    assert(books.keySet === (0 until 8).toSet)
    books.values.foreach { cents =>
      assert(cents.map(_._1) === (0 until 16))
      assert(cents.forall(_._2.size == 8))
    }
    val coded = Similarity.pqEncode(emb, books).collect()
    assert(coded.length === emb.count())
    coded.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.size == 8 && codes.forall(c => c >= 0 && c < 16))
      assert(r.getDouble(2) > 0) // true norm stored alongside codes
    }
    val rec = Similarity.annRecall(
      Similarity.pqCosineTopK(emb, 5, 5),
      Similarity.cosineTopK(emb, 5, 5), 5).collect()
    assert(rec.length === 5)
    assert(rec.forall(_.getDouble(1) == 1.0),
      rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
  }

  test("PQ on a CLUSTERED corpus: recall 1 at a 5% shortlist") {
    // the sf corpus is near-random, which is why the registry gate
    // apologizes with a 25% shortlist; this fixture has the structure
    // PQ is designed for — 32 well-separated clusters — and certifies
    // the few-percent-shortlist regime the knob targets at scale:
    // 2048 vectors × shortlistFrac 0.05 = the exact minShortlist=100
    // floor, so the ADC pass really shortlists 1-in-20.
    // the shared gate fixture (registered as s_pq_clustered); its
    // generator equivalence to the driver-side splitmix reference is
    // pinned by the clusteredCorpus spec below
    val clustered = Similarity.clusteredCorpus(spark)
    val rec = Similarity.annRecall(
      Similarity.pqCosineTopK(clustered, 10, 5, shortlistFrac = 0.05),
      Similarity.cosineTopK(clustered, 10, 5), 5).collect()
    assert(rec.length === 10)
    assert(rec.forall(_.getDouble(1) == 1.0),
      rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
  }

  test("PQ margin shortlist: cluster-sized on structured corpora — does not grow with N") {
    // the scale-honesty contract of the margin-derived default
    // (VERDICT r12 #3): per-candidate reconstruction residuals bound
    // the ADC error, so on a clustered corpus the interval-overlap
    // cover keeps ~a cluster per query REGARDLESS of corpus size.
    // Double the corpus by adding CLUSTERS (cluster size fixed) and
    // the per-query shortlist must stay put — the flat-fraction
    // regime would double it.
    def shortSizes(nClusters: Int): Map[Long, Long] = {
      val e = Similarity.clusteredCorpus(spark, nClusters = nClusters,
        perCluster = 64, dim = 16)
      Similarity.pqAdcShortlist(e, 5, 5, nSub = 8, codesPerSub = 32,
          refineIters = 2, shortlistFrac = 0.0, minShortlist = 100)
        .groupBy("qid").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val at8 = shortSizes(8)   // 512 vectors
    val at16 = shortSizes(16) // 1024 vectors — 2x the corpus
    assert(at8.keySet === at16.keySet)
    at8.keys.foreach { qid =>
      assert(at16(qid) <= math.max((at8(qid) * 1.5).toLong, at8(qid) + 16),
        s"qid $qid shortlist grew ${at8(qid)} -> ${at16(qid)} at 2x corpus")
      assert(at16(qid) < 512,
        s"qid $qid shortlist ${at16(qid)} is not sublinear in N=1024")
    }
    // fewer candidates than k: the keep-all fallback must engage
    // (ANSI element_at past the array end throws — review r13), and
    // the rerank returns every candidate
    val tiny = Similarity.clusteredCorpus(spark, nClusters = 2,
      perCluster = 8, dim = 16)  // 16 vectors, k = 50 > candidates
    val tinyOut = Similarity.pqCosineTopK(tiny, 2, 50, nSub = 8,
      codesPerSub = 8)
    assert(tinyOut.count() === 2L * 15, "keep-all fallback must rerank all")
    // and recall stays exactly 1 at both scales — the margin cover
    // is sound by construction, not tuned
    Seq(8, 16).foreach { nc =>
      val e = Similarity.clusteredCorpus(spark, nClusters = nc,
        perCluster = 64, dim = 16)
      val rec = Similarity.annRecall(
        Similarity.pqCosineTopK(e, 5, 5, nSub = 8, codesPerSub = 32),
        Similarity.cosineTopK(e, 5, 5), 5).collect()
      assert(rec.length === 5)
      assert(rec.forall(_.getDouble(1) == 1.0),
        s"nClusters=$nc: " +
          rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
    }
  }

  test("hamming kernel: xor popcount per word, word-count mismatch is null") {
    import graft.functions.HashExpressions.hamming_dist
    val r = spark.range(1).select(
      hamming_dist(typedLit(Seq(0L, -1L)), typedLit(Seq(3L, -1L))).as("d"),
      hamming_dist(typedLit(Seq(5L)), typedLit(Seq(5L))).as("z"),
      hamming_dist(typedLit(Seq(0L)), typedLit(Seq(0L, 0L))).as("m"),
      hamming_dist(typedLit(Seq(0L)), typedLit(Seq(-1L))).as("full"))
      .head()
    assert(r.getInt(0) === 2)    // 0b11 differs in 2 bits
    assert(r.getInt(1) === 0)    // identical codes
    assert(r.isNullAt(2))        // 1 word vs 2 words → null, no crash
    assert(r.getInt(3) === 64)   // all 64 bits flip
  }

  test("Hamming BQ on a CLUSTERED corpus: recall 1 at a 5% shortlist") {
    // same division of labor as the PQ pair: the registry gate runs
    // the corpus-honest 25% shortlist on near-random vectors, this
    // fixture certifies the few-percent regime the operator targets
    // at scale — 2048 clustered vectors, 5% Hamming shortlist over
    // the 512-bit codes, exact rerank recovers every true top-5
    val clustered = Similarity.clusteredCorpus(spark)
    val rec = Similarity.annRecall(
      Similarity.hammingTopK(clustered, 10, 5,
        shortlist = (2048 * 0.05).toInt),
      Similarity.cosineTopK(clustered, 10, 5), 5).collect()
    assert(rec.length === 10)
    assert(rec.forall(_.getDouble(1) == 1.0),
      rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
  }

  test("MMR: picks the diverse candidate over the redundant near-duplicate") {
    val s = spark; import s.implicits._
    // query 0 between two orthogonal clusters; candidates: ids 10/11
    // a near-clone pair along e1 (11 marginally closer to the 45°
    // query), id 12 along e2 (slightly less relevant but orthogonal
    // to them). Plain top-2 = the clone pair; MMR's second pick must
    // be 12 — the skipped clone's redundancy penalty
    // (sim-to-selected ≈ 1) overwhelms its relevance edge while 12's
    // penalty is only ~0.03.
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat, 0f, 0f)
    val emb3 = Seq(
      (0L, v(0.7, 0.7), 0), (10L, v(1, 0.02), 0),
      (11L, v(1, 0.021), 0), (12L, v(0.01, 1), 0))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Similarity.mmrTopK(emb3, 1, 2, nCand = 3, lambda = 0.5,
        lambdaComp = 0.5).collect()
      .map(r => r.getInt(3) -> r.getLong(1)).toMap
    assert(got === Map(1 -> 11L, 2 -> 12L), got.toString)
    // and the plain top-2 really is the redundant pair — proving MMR
    // changed the outcome, not the fixture
    val plain = Similarity.cosineTopK(emb3, 1, 2).collect()
      .map(_.getLong(1)).toSet
    assert(plain === Set(10L, 11L))
  }

  test("hard negatives: every result crosses the label boundary, ranked by similarity") {
    val got = Similarity.hardNegatives(emb, 5, 5).collect()
    assert(got.length === 25)
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    got.foreach { r =>
      assert(labels(r.getLong(0)) != labels(r.getLong(1)),
        s"same-label pair leaked: $r")
    }
    // per query, ranks are 1..5 with non-increasing sims
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRk = rows.sortBy(_.getInt(3))
      assert(byRk.map(_.getInt(3)).toSeq === (1 to 5))
      assert(byRk.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
    }
  }

  test("weighted sample: heavy weights dominate the A-ES selection") {
    val s = spark; import s.implicits._
    // 200 heavy docs (w=5000) vs 200 light (w=5): u^(1/w) pushes
    // heavy priorities toward 1, so a 50-row sample should be almost
    // entirely heavy — and exactly reproducible run to run
    val docs2 = (0L until 400L)
      .map(i => (i, if (i < 200) 5000 else 5)).toDF("doc_id", "n_chars")
    val got = Corpus.weightedSample(docs2, col("doc_id"),
      col("n_chars"), 50).collect()
    assert(got.length === 50)
    val heavy = got.count(_.getLong(0) < 200L)
    assert(heavy >= 45, s"only $heavy/50 heavy docs selected")
    val again = Corpus.weightedSample(docs2, col("doc_id"),
      col("n_chars"), 50).collect().map(_.getLong(0)).toSet
    assert(again === got.map(_.getLong(0)).toSet)
    // ranks are the full 1..50 with non-increasing priorities
    assert(got.map(_.getInt(3)).sorted.toSeq === (1 to 50))
  }

  test("IVF-PQ on disk: recall 1 vs exact, ADC pass reads only probed cell directories") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString
    Similarity.writeIvfIndex(emb, path, nCells = 8, refineIters = 1,
      pq = Some(Similarity.Pq(nSub = 8, codesPerSub = 16, pqIters = 1)))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val got = Similarity.searchIvfPqIndex(spark, path, q, k = 3,
      nProbe = 6, shortlistFrac = 0.5)
    val rec = Similarity.annRecall(got, Similarity.cosineTopK(emb, 5, 3), 3)
      .collect()
    assert(rec.length === 5)
    assert(rec.forall(_.getDouble(1) == 1.0),
      rec.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
    // pruning: a single query probes 3 cells — the literal IN filter
    // must reach PartitionFilters on the codes scan (directories
    // outside the probe set are never listed, let alone read; same
    // contract as the IVF-Flat index test above)
    val one = Similarity.searchIvfPqIndex(spark, path,
      q.filter(col("qid") === 0L), k = 3,
      nProbe = 3, shortlistFrac = 0.5)
    val p = one.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), p)
  }

  test("int8 quantization: codes bounded, reconstruction within half a step, zero-safe") {
    val q = Similarity.quantizeInt8(emb).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val scale = r.getDouble(2)
      val vec = r.getSeq[Float](1)
      val codes = r.getSeq[Long](3)
      assert(codes.forall(c => c >= -127 && c <= 127), r.toString)
      // |dequant - x| <= scale/254 (half a quant step) + float slack
      codes.zip(vec).foreach { case (c, x) =>
        assert(math.abs(c * scale / 127.0 - x) <= scale / 254.0 + 1e-6)
      }
    }
    // a zero vector must quantize to zero codes, not NaN
    val s = spark; import s.implicits._
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val z = Seq((99999L, Seq.fill(dim)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val zq = Similarity.quantizeInt8(z).collect().head
    assert(zq.getSeq[Long](3).forall(_ == 0L))
  }

  test("bigram LM score: corpus-frequent phrasing outscores unique word salad") {
    val s = spark; import s.implicits._
    // docs 1-3 share all their bigrams; doc 4's bigrams are unique
    val df = Seq(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      3L -> "the cat sat on the mat",
      4L -> "zebra quantum mat paper violin").toDF("doc_id", "text")
    val scores = TextAnalysis.bigramLmScore(df, col("text")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores.keySet === Set(1L, 2L, 3L, 4L))
    assert(scores(1L) === scores(2L))
    assert(scores(1L) > scores(4L),
      s"shared phrasing ${scores(1L)} must outscore word salad ${scores(4L)}")
  }

  test("pagerank: mass conserved, symmetry respected, hubs outrank leaves") {
    val s = spark; import s.implicits._
    // star a-{b,c,d} plus an isolated edge e-f
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("e", "f"))
      .toDF("a", "b")
    val r = Graph.pageRank(edges, 10).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("a", "b", "c", "d", "e", "f"))
    // total rank mass = 1 (damped PR over a dangling-free graph)
    assert(math.abs(r.values.sum - 1.0) < 1e-4)
    // b, c, d are exchangeable; e and f are exchangeable
    assert(r("b") === r("c")); assert(r("c") === r("d"))
    assert(r("e") === r("f"))
    // the hub dominates its leaves; a 2-cycle node holds 1/6 mass
    assert(r("a") > r("b"))
    assert(math.abs(r("e") - 1.0 / 6) < 1e-4)
    // the tiny-graph gate picks PHYSICAL strategy only: the
    // distributed loop (forced via tinyGate = 0) must agree with the
    // driver-side loop exactly at the 1e-6 rounding contract
    val dist = Graph.pageRank(edges, 10, tinyGate = 0).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(dist === r)
    // the degenerate 0-iteration call (r⁰ = 1/n on every node) too
    val r0 = Graph.pageRank(edges, 0).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r0.size === 6)
    assert(Graph.pageRank(edges, 0, tinyGate = 0).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap === r0)
  }

  test("bfs: layered min-hops, isolated seed at 0, frontier exhaustion stops early") {
    val s = spark; import s.implicits._
    // path a-b-c-d-e plus a shortcut a-c (two routes to c: hop 2 via
    // b, hop 1 direct — min wins), plus unreachable x-y
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("a", "c"), ("x", "y")).toDF("a", "b")
    val seeds = Seq("a", "z").toDF("node") // z: isolated trusted seed
    val got = Graph.bfsHops(edges, seeds, maxHops = 10).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // exhaustion after hop 3 (e settles last); x/y never reached
    assert(got === Map("a" -> 0, "z" -> 0, "b" -> 1, "c" -> 1,
      "d" -> 2, "e" -> 3))
    // radius cap truncates distances, never relabels settled nodes
    val capped = Graph.bfsHops(edges, seeds, maxHops = 1).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(capped === Map("a" -> 0, "z" -> 0, "b" -> 1, "c" -> 1))
  }

  test("pagerank convergence: tol stop matches a deep fixed run; non-convergence throws") {
    val s = spark; import s.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("e", "f"))
      .toDF("a", "b")
    // epsilon-converged must agree with a fixed run deep enough to be
    // the fixpoint (both round to 1e-6, so agreement is exact)
    // 120 fixed iterations: 0.85^120 ≈ 3e-9 residual, far inside the
    // 1e-6 rounding (60 was NOT enough — 0.85^60 ≈ 6e-5 still moves
    // the 6th decimal, which is itself evidence the tol stop is the
    // better contract)
    val conv = Graph.pageRankConverged(edges, 200, 1e-9).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val deep = Graph.pageRank(edges, 120).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(conv === deep)
    // the distributed loop's tol stop (incl. its i = 1 delta against
    // the 1/n literal) agrees with the driver-side loop
    val distConv = Graph.pageRankConverged(edges, 200, 1e-9, tinyGate = 0)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(distConv === conv)
    // a budget too small to reach tol fails loudly, never returns a
    // half-converged ranking
    val ex = intercept[IllegalStateException] {
      Graph.pageRankConverged(edges, 2, 1e-12)
    }
    assert(ex.getMessage.contains("converge"), ex.getMessage)
  }

  test("repeated spans: hand-computed duplicated-window counts") {
    val s = spark; import s.implicits._
    // docs 1 and 2 share the 4-token span "a b c d" at different
    // offsets; doc 3 is all-unique; doc 4 is too short for a window;
    // doc 5 repeats a span WITHIN itself (self-repetition counts too)
    val df = Seq(
      1L -> "a b c d e f",
      2L -> "x y a b c d",
      3L -> "p q r s t u",
      4L -> "one two",
      5L -> "m n o p m n o p").toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(df, col("text"), 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: windows [abcd, bcde, cdef] — abcd repeats (also in doc 2)
    assert(got(1L) === ((3L, 1L)))
    // doc 2: [xyab, yabc, abcd] — abcd duplicated
    assert(got(2L) === ((3L, 1L)))
    // doc 3: 3 windows, none duplicated
    assert(got(3L) === ((3L, 0L)))
    // doc 4: shorter than the window — zero windows, zero dups
    assert(got(4L) === ((0L, 0L)))
    // doc 5: [mnop, nopm, opmn, pmno, mnop] — "mnop" occurs twice
    // globally (both in this doc), so BOTH its positions are dup spans
    assert(got(5L) === ((5L, 2L)))
  }

  test("bm25: matches a driver-side reference scorer, ranking and values") {
    val s = spark; import s.implicits._
    val corpus = Map(
      1L -> "apple banana apple cherry",
      2L -> "banana cherry cherry durian",
      3L -> "apple apple apple apple",
      4L -> "durian elderberry fig grape")
    val df = corpus.toSeq.toDF("doc_id", "text")
    val terms = Seq("apple", "durian")
    val got = TextAnalysis.bm25TopK(df, col("text"), terms, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))

    // independent reference: same formula, naive driver arithmetic
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val (k1, b) = (1.2, 0.75)
    def score(id: Long): Double = terms.map { t =>
      val tf = toks(id).count(_ == t).toDouble
      if (tf == 0) 0.0
      else {
        val dft = toks.values.count(_.contains(t)).toDouble
        val idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
        idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * toks(id).size / avgdl))
      }
    }.sum
    val want = corpus.keys.toSeq.map(id => id -> score(id))
      .filter(_._2 > 0)
      .sortBy { case (id, sc) => (-sc, id) }
    assert(got.map(_._1).toSeq === want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-4, s"got $g want $w")
    }
  }

  test("bm25 on the corpus: every hit contains a query term, scores non-increasing") {
    val terms = Seq("dup", "merge", "scan")
    val hits = TextAnalysis.bm25TopK(docs, col("text"), terms, 10).collect()
    assert(hits.nonEmpty)
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    hits.foreach { r =>
      val toks = texts(r.getLong(0)).toLowerCase.split(" ").toSet
      assert(terms.exists(toks), s"doc ${r.getLong(0)} has no query term")
    }
    val scores = hits.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted(Ordering[Double].reverse))
  }

  test("materialized snapshots honor spark.graft.snapshotDir (the shared-FS cluster seam)") {
    // on a real cluster a driver-local temp dir is invisible to
    // executors — the conf routes every discovery/label snapshot to a
    // shared location through the Dfs seam
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_conf").toString
    spark.conf.set("spark.graft.snapshotDir", dir)
    try {
      val got = Dedup.minhashVerifiedPairs(docs).collect()
      assert(got.nonEmpty)
      // snapshots land in a run-scoped run_<uuid> subdir of the root
      val runDirs = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("run_"))
      assert(runDirs.nonEmpty, s"no run-scoped dir under $dir")
      val names = runDirs.flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty)).map(_.getName)
      assert(names.exists(_.startsWith("minhash_pairs")),
        s"no snapshot under configured root: ${names.mkString(",")}")
      // a second snapshot from the same site and thread deletes the
      // first once it is written: one live directory per site
      Snapshot(docs, "conf_probe")
      Snapshot(docs, "conf_probe")
      val probes = runDirs.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .map(_.getName).filter(_.startsWith("conf_probe_t"))
      assert(probes.length === 1, probes.mkString(","))
    } finally spark.conf.unset("spark.graft.snapshotDir")
  }

  test("connected components: transitive chains collapse to min-label clusters") {
    val s = spark; import s.implicits._
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3 directly), pair 10-11, chain
    // 20-21-22-23, isolated-from-each-other edges
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // a long path exercises multi-round propagation (diameter 6)
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val pathGot = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pathGot === (0L to 6L).map(_ -> 0L).toMap)
    // pointer jumping: a 40-hop chain must converge in well under 40
    // rounds (plain one-hop propagation would blow this maxIter and
    // throw) — the O(log diameter) claim, machine-checked.
    // tinyThreshold = -1 forces the DISTRIBUTED loop (the default
    // would route a 40-edge graph through the driver union-find)
    val long = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val longGot = Dedup.connectedComponents(long, maxIter = 10,
        tinyThreshold = -1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(longGot === (0L to 40L).map(_ -> 0L).toMap)
    // the iteration cap fails LOUDLY instead of publishing wrong labels
    intercept[IllegalStateException](
      Dedup.connectedComponents(long, maxIter = 2,
        tinyThreshold = -1L).collect())
    // the driver union-find fast path agrees with the distributed
    // loop on the same chain
    assert(Dedup.connectedComponents(long).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === longGot)
    // nothing persisted afterwards (snapshot-based iteration)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bucketed range join is the exact twin of the naive formulation") {
    // q_range_join ships the bounded-fan-out bucketed plan; the naive
    // per-user cross product is kept only as this exactness witness
    val naive = graft.queries.Temporal.rangePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = graft.queries.Temporal.rangePairsBucketed(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    assert(bucketed === naive)
  }

  test("session_window agrees with the lag/cumsum sessionizer") {
    // two independent mechanisms — Catalyst's native session_window
    // merge and the windowed gap-break formulation — must produce the
    // same (user, n_events-per-session) multiset
    def multiset(rows: Array[(Long, Long)]) =
      rows.groupBy(identity).view.mapValues(_.length).toMap
    val native = multiset(
      graft.queries.Temporal.sessionWindows(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(3))))
    val lagged = multiset(
      graft.queries.Temporal.sessionizeBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))))
    assert(native.nonEmpty && native === lagged)
  }

  test("embedding near-dup: no false positives, recall >= 0.8 of brute force") {
    // max pairwise cosine in this corpus ≈ 0.5 — threshold 0.4 hits
    // the tail; at that angle (≈66°) 16-table/4-bit SRP recall is ~0.94
    val got = Similarity.embeddingNearDups(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // iterate Seqs: a for-comprehension over a Map yielding (a, b)
    // would collapse to one pair per left id
    val brute = (for {
      (a, va) <- vecs.toSeq; (b, vb) <- vecs.toSeq
      if a < b && cos(va, vb) >= 0.4
    } yield (a, b)).toSet
    assert(brute.nonEmpty)
    assert(got.subsetOf(brute), s"false positives: ${got -- brute}")
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall of ${brute.size} pairs")
  }

  test("stream-stream interval join matches its batch twin") {
    // the SAME clickAttribution definition driven as a real
    // stream-stream join (file source, two watermarked branches) must
    // emit exactly the batch result — all data in one micro-batch, so
    // no late-drop divergence
    val stream = Tables.streamEvents(spark, sf)
    val q = EventsStream.clickAttribution(stream).writeStream
      .outputMode("append").format("memory").queryName("ops_stream_join")
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ops_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventsStream.clickAttribution(
      Tables.load(spark, sf, "events")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch)
  }

  test("watermark drops events older than the horizon; in-horizon late data still counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc: org.apache.spark.sql.Encoder[EventsStream.Ev] =
      org.apache.spark.sql.Encoders.product[EventsStream.Ev]
    val mem = MemoryStream[EventsStream.Ev](enc, spark.sqlContext)
    val q = EventsStream.windowedRollup(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("ops_late_drop")
      .start()
    def ev(id: Long, iso: String) = EventsStream.Ev(id,
      java.sql.Timestamp.from(java.time.Instant.parse(iso)), 1L, "view", 1.0)
    // batch 1: 10:05 event + 12:30 event → watermark 12:20 closes the
    // 10:00 window (append emits it with n=1)
    mem.addData(ev(1, "2024-01-01T10:05:00Z"), ev(2, "2024-01-01T12:30:00Z"))
    q.processAllAvailable()
    // batch 2: 10:10 is BELOW the 12:20 watermark → must be dropped
    // (its window already closed); 12:15 is late but its window's
    // state is still open → must count; 14:30 advances the watermark
    // past 13:00, closing the 12:00 window
    mem.addData(ev(3, "2024-01-01T10:10:00Z"),
      ev(4, "2024-01-01T12:15:00Z"), ev(5, "2024-01-01T14:30:00Z"))
    q.processAllAvailable()
    q.stop()
    val byHour = spark.table("ops_late_drop").collect()
      .map(r => r.getTimestamp(0).toInstant.toString -> r.getLong(2)).toMap
    assert(byHour("2024-01-01T10:00:00Z") === 1L,
      s"late event below the watermark must not resurrect a closed window: $byHour")
    assert(byHour("2024-01-01T12:00:00Z") === 2L,
      s"in-horizon late event must count toward its open window: $byHour")
    assert(!byHour.contains("2024-01-01T14:00:00Z"),
      "a window the watermark has not passed must not be emitted in append mode")
  }

  test("stream-stream join: a click past the watermark must not match its view") {
    // the late-data contract of clickAttribution's 30-minute
    // watermarks, pinned with the same two-batch MemoryStream shape as
    // the windowed-rollup test: batch 1 advances the global watermark,
    // batch 2 offers one below-watermark click (must be dropped — its
    // view's buffered state is also already evicted) and one
    // in-horizon click (must match)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc: org.apache.spark.sql.Encoder[EventsStream.Ev] =
      org.apache.spark.sql.Encoders.product[EventsStream.Ev]
    val mem = MemoryStream[EventsStream.Ev](enc, spark.sqlContext)
    val q = EventsStream.clickAttribution(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("ops_ss_late")
      .start()
    def ev(id: Long, user: Long, kind: String, iso: String) =
      EventsStream.Ev(id,
        java.sql.Timestamp.from(java.time.Instant.parse(iso)), user, kind, 1.0)
    // batch 1: view v1 matched by click c1; view v2 + click c2 at the
    // same instant (strict > means no match) push BOTH branch
    // watermarks to 11:30
    mem.addData(
      ev(1, 1L, "view", "2024-01-01T10:00:00Z"),
      ev(2, 1L, "click", "2024-01-01T10:10:00Z"),
      ev(3, 2L, "view", "2024-01-01T12:00:00Z"),
      ev(4, 2L, "click", "2024-01-01T12:00:00Z"))
    q.processAllAvailable()
    // batch 2: click 5 at 10:20 is inside v1's 30-min attribution
    // window but BELOW the 11:30 watermark → dropped, never attributed;
    // click 6 at 12:10 is in-horizon → attributed to v2
    mem.addData(
      ev(5, 1L, "click", "2024-01-01T10:20:00Z"),
      ev(6, 2L, "click", "2024-01-01T12:10:00Z"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ops_ss_late").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 2L), (2L, 3L, 6L)),
      s"late click must not match, in-horizon click must: $got")
  }

  test("stream-static enrichment matches its batch twin; static side broadcasts") {
    // dimension enrichment as a real micro-batched stream against the
    // STATIC customer table must emit exactly the batch twin's rows
    val stream = Tables.streamEvents(spark, sf)
    val dim = Tables.load(spark, sf, "customer")
    val q = EventsStream.enrichWithCustomer(stream, dim).writeStream
      .outputMode("append").format("memory").queryName("ops_stream_enrich")
      .start()
    q.processAllAvailable()
    // zero stream state / static-side broadcast pinned on the
    // STREAMING query's own execution (not the batch twin): the
    // progress report lists every stateful operator the micro-batch
    // ran (must be none), and the micro-batch physical plan — dumped
    // by StreamingQuery.explain — must join by broadcast without
    // exchanging the event stream
    assert(q.lastProgress != null && q.lastProgress.stateOperators.isEmpty,
      s"stream-static enrich must keep zero state: ${q.lastProgress}")
    val sp = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain(extended = false) }
      buf.toString("UTF-8")
    }
    assert(sp.contains("BroadcastHashJoin"), sp)
    assert(!sp.contains("Exchange hashpartitioning(event_id") &&
      !sp.contains("Exchange hashpartitioning(user_id"), sp)
    q.stop()
    val streamed = spark.table("ops_stream_enrich").collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    val batchDf = EventsStream.enrichWithCustomer(
      Tables.load(spark, sf, "events"), dim)
    val batch = batchDf.collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(batch.nonEmpty && streamed === batch)
    // and the batch twin keeps the same shape
    val p = batchDf.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(event_id") &&
      !p.contains("Exchange hashpartitioning(user_id"), p)
  }

  test("embedding near-dup: hot-bucket guard bounds a degenerate bucket") {
    // 300 identical vectors co-bucket in EVERY table — without the
    // cap the self-pairing is quadratic (300 choose 2 = 44850 pairs);
    // with maxBucket=256 the degenerate bucket is dropped everywhere
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val constVec = Array.fill(dim)(0.5f).toSeq
    val clones = spark.createDataFrame(
      (100000L until 100300L).map(i => (i, constVec, 0)))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", col("label").cast("int"))
    val spiked = emb.unionByName(clones)
    val guarded = Similarity.embeddingNearDups(spiked, 0.99, maxBucket = 256)
      .filter(col("id_a") >= 100000L).count()
    assert(guarded === 0, "degenerate bucket must be dropped by the cap")
    // the same corpus WITHOUT the cap explodes — proving the guard,
    // not bucket luck, is what bounded the candidate set
    val unguarded = Similarity.embeddingNearDups(spiked, 0.99, maxBucket = 1000000)
      .filter(col("id_a") >= 100000L).count()
    assert(unguarded === 300L * 299 / 2)
    // and the ordinary corpus result is unaffected by the guard
    val normal = Similarity.embeddingNearDups(emb, 0.4, maxBucket = 1024).count()
    val capped = Similarity.embeddingNearDups(emb, 0.4, maxBucket = 256).count()
    assert(normal === capped)
  }

  test("srp sign-matrix replica matches the compiled kernel bucket-for-bucket") {
    // the s_embed_neardup oracle restates SrpBucket over the literal
    // sign matrix srpSign derives — this pins the two derivations to
    // each other on real vectors, every table of the query's config
    graft.functions.HashExpressions.registerSrp(spark, bits = 8, tables = 16)
    val sample = emb.limit(50)
      .select(col("vec_id"), col("embedding"),
        array((0 until 16).map(t =>
          Similarity.srpBucket(col("embedding"), 8, t)): _*).as("kb"))
      .collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val v = r.getSeq[Float](1)
      val kernel = r.getSeq[Long](2)
      (0 until 16).foreach { t =>
        assert(Similarity.srpBucketRef(v, 8, t) === kernel(t),
          s"vec ${r.getLong(0)} table $t")
      }
    }
  }

  test("merge: upsert is correct and untouched buckets are not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("merge_spec").toString
    val t = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    Merge.writeTarget(t, dir, "k", nBuckets = 8)
    def bucketFiles(b: Long): Map[String, Long] = {
      val d = new java.io.File(dir, s"_mb=$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val before = (0L until 8L).map(b => b -> bucketFiles(b)).toMap
    // delta: update k=1,2 and insert k=5000 — touches <= 3 buckets
    val delta = spark.createDataFrame(Seq(1L -> -1L, 2L -> -2L, 5000L -> -5L))
      .toDF("k", "v")
    Merge.into(spark, dir, delta, "k", nBuckets = 8)
    val out = Merge.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 1001)
    assert(out(1L) === -1L && out(2L) === -2L && out(5000L) === -5L)
    assert(out(0L) === 0L && out(999L) === 1998L)
    // partition pruning: buckets without delta keys keep their exact
    // files (same names, same mtimes) — they were never rewritten
    val touched = delta
      .select(Merge.bucketOf(col("k"), 8)).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(touched.size <= 3 && touched.size < 8)
    (0L until 8L).filterNot(touched).foreach { b =>
      assert(bucketFiles(b) === before(b), s"bucket $b was rewritten")
    }
  }

  test("auto-salting: decision rule routes skew to the salted path, result unchanged") {
    assert(Skew.chooseBuckets(0.01, 32) === 1) // balanced: plain GROUP BY
    assert(Skew.chooseBuckets(0.33, 32) === 22) // ceil(.33*64), spread wide
    assert(Skew.chooseBuckets(1.0, 32) === 32) // degenerate single key: cap
    val s = spark; import s.implicits._
    val df = ((1 to 900).map(_ => ("hot", 1L)) ++
      (1 to 100).map(i => (s"k$i", 1L))).toDF("k", "v")
    val share = Skew.sampledMaxShare(df, "k", fraction = 0.5)
    assert(share > 0.5, s"planted 90% hot key, sampled share=$share")
    val out = Skew.autoSaltedAgg(df, "k", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("hot") === ((900L, 900L)) && out("k1") === ((1L, 1L)))
    assert(out.size === 101)
  }

  test("rankSkewFree ranks NULL values and groups like the plain window") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", Some(3.0)), ("a", None), ("a", Some(1.0)),
      ("a", None), ("a", Some(1.0)), ("b", Some(2.0)), ("b", None))
      .toDF("g", "v")
    val got = Skew.rankSkewFree(df, "g", "v", nBuckets = 4)
      .select(col("g"), col("v"), col("rnk")).collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2)))
      .sortBy(t => (t._1, t._2.map(_.toString).getOrElse(""), t._3))
    val want = df.select(col("g"), col("v"),
        rank().over(Window.partitionBy("g").orderBy("v")).cast("long")
          .as("rnk")).collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2)))
      .sortBy(t => (t._1, t._2.map(_.toString).getOrElse(""), t._3))
    assert(got.toSeq === want.toSeq)
    // empty input: no rows, no NPE (min() is NULL — the old guard
    // crashed at getDouble; code-review r10)
    assert(Skew.rankSkewFree(df.limit(0), "g", "v").count() === 0L)
    // all-NULL column: everything ties at rank 1 per group
    val an = Seq(("a", Option.empty[Double]), ("a", None)).toDF("g", "v")
    assert(Skew.rankSkewFree(an, "g", "v").select("rnk")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 1L))
  }

  test("online dedup stream: near-dups dropped across batches AND across a restart") {
    import java.nio.file.{Files => JF, Paths => JP}
    val in = JF.createTempDirectory("ods_in").toString
    val out = JF.createTempDirectory("ods_out").toString + "/corpus"
    val idx = JF.createTempDirectory("ods_idx").toString
    val cp = JF.createTempDirectory("ods_cp").toString
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text"}"""
    val a = "alpha beta gamma delta epsilon"
    val b = "one two three four five"
    val c = "red green blue yellow purple"
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").json(in)
    def outIds() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    JF.writeString(JP.get(s"$in/f1.json"),
      doc(1, a) + "\n" + doc(2, a) + "\n" + doc(5, b))
    val q = graft.streaming.CorpusStream.onlineDedup(
      stream(), "graft_ods_idx", idx, out, cp)
    try {
      q.processAllAvailable()
      assert(outIds() === Set(1L, 5L)) // 2 intra-dups 1
      // batch 2: 7 dups batch-1's doc 1; 9 intra-dups 8; 8 is novel
      JF.writeString(JP.get(s"$in/f2.json"),
        doc(7, a) + "\n" + doc(8, c) + "\n" + doc(9, c))
      q.processAllAvailable()
      assert(outIds() === Set(1L, 5L, 8L))
    } finally q.stop()
    // ---- simulated process restart: the in-memory catalog forgets
    // the (external) index tables; the directories survive
    spark.sql("DROP TABLE IF EXISTS graft_ods_idx_bands")
    spark.sql("DROP TABLE IF EXISTS graft_ods_idx_sigs")
    JF.writeString(JP.get(s"$in/f3.json"),
      doc(11, a) + "\n" + doc(12, "six seven eight nine ten"))
    val q2 = graft.streaming.CorpusStream.onlineDedup(
      stream(), "graft_ods_idx", idx, out, cp)
    try {
      q2.processAllAvailable()
      // 11 dups pre-restart doc 1 — only findable if the index was
      // re-registered, not wiped; 12 is novel
      assert(outIds() === Set(1L, 5L, 8L, 12L))
    } finally {
      q2.stop()
      spark.sql("DROP TABLE IF EXISTS graft_ods_idx_bands")
      spark.sql("DROP TABLE IF EXISTS graft_ods_idx_sigs")
    }
  }

  test("change feed: classifies insert/update/delete, prunes untouched buckets by manifest") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_cdc_spec").toString
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (17L, "q", 70.0)).toDF("k", "name", "bal")
    Merge.writeVersioned(v0, path, "k", nBuckets = 8)
    // update key 2, insert key 9, re-merge key 3 UNCHANGED
    Merge.mergeVersioned(spark, path,
      Seq((2L, "b", 25.0), (9L, "i", 90.0), (3L, "c", 30.0))
        .toDF("k", "name", "bal"), "k")
    val fwd = Merge.changesBetween(spark, path, 0, 1, "k")
    val got = fwd.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 3 re-merged with identical values → NOT in the feed;
    // key 1/17 untouched → not in the feed
    assert(got === Map(2L -> "update", 9L -> "insert"))
    val images = fwd.filter(col("k") === 2L).select(
      col("pre.bal"), col("post.bal")).head()
    assert(images.getDouble(0) === 20.0 && images.getDouble(1) === 25.0)
    // manifest pruning: the diff must never open a carried-forward
    // bucket directory (key 17's bucket was untouched by the merge)
    val files = fwd.inputFiles
    assert(files.nonEmpty)
    val v0Dirs = files.filter(_.contains("/_data/v0/"))
    val v1Dirs = files.filter(_.contains("/_data/v1/"))
    assert(v1Dirs.nonEmpty)
    // every v0 file read must belong to a bucket the merge touched —
    // i.e. the same _mb= bucket ids that appear among the v1 files
    val bucketOfFile = (f: String) =>
      f.split("/").find(_.startsWith("_mb=")).getOrElse("")
    assert(v0Dirs.map(bucketOfFile).toSet.subsetOf(
      v1Dirs.map(bucketOfFile).toSet),
      s"diff read a carried-forward bucket: ${files.mkString("\n")}")
    // reverse diff renders the inverse feed
    val rev = Merge.changesBetween(spark, path, 1, 0, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev === Map(2L -> "update", 9L -> "delete"))
  }

  test("schema evolution: widening merge, per-version schemas, CDC across the boundary") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_evo_spec").toString
    // v0: (k, name); many keys so the merge touches SOME buckets and
    // carries others forward with the old column set
    val v0 = (0L until 64L).map(i => (i, s"n$i")).toDF("k", "name")
    Merge.writeVersioned(v0, path, "k", nBuckets = 8)
    // v1: delta adds a `score` column, touching keys 1 (update) and
    // 100 (insert) only
    Merge.mergeVersioned(spark, path,
      Seq((1L, "n1x", 0.5), (100L, "new", 0.9)).toDF("k", "name", "score"),
      "k")
    // latest reads under the UNION schema: evolved rows carry score,
    // rows from carried-forward old-schema buckets read null
    val v1 = Merge.readVersioned(spark, path, 1)
    assert(v1.columns.toSet === Set("k", "name", "score"))
    val byK = v1.collect()
      .map(r => r.getLong(r.fieldIndex("k")) ->
        Option(r.get(r.fieldIndex("score")))).toMap
    assert(byK(1L) === Some(0.5) && byK(100L) === Some(0.9))
    assert(byK(0L).isEmpty && byK(63L).isEmpty)
    assert(byK.size === 65)
    // time travel: v0 keeps its original narrow schema
    assert(!Merge.readVersioned(spark, path, 0).columns.contains("score"))
    // CDC across the evolution boundary: both images pack to one
    // struct type; the added column appears as null→value
    val feed = Merge.changesBetween(spark, path, 0, 1, "k")
    val types = feed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(types === Map(1L -> "update", 100L -> "insert"))
    val img = feed.filter(col("k") === 1L)
      .select(col("pre.score"), col("post.score")).head()
    assert(img.isNullAt(0) && img.getDouble(1) === 0.5)
    // a second widening merge + compaction normalizes the layout on
    // the union schema and the history still reconstructs
    Merge.mergeVersioned(spark, path,
      Seq((2L, "n2x", 0.1)).toDF("k", "name", "score"), "k")
    val v3 = Merge.compactVersioned(spark, path, "k")
    val compacted = Merge.readVersioned(spark, path, v3)
    assert(compacted.count() === 65 &&
      compacted.columns.contains("score"))
    assert(Merge.readVersioned(spark, path, 0).count() === 64)
  }

  test("CDC across a TYPE evolution: numeric widening diffs, non-numeric fails fast") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_tev_spec").toString
    // v0 stores `v` as INT; the widening delta carries DOUBLE — the
    // union merge writes touched buckets as double while carried-
    // forward buckets keep int, so the cross-version diff sees BOTH
    // types under one column name
    val v0 = (0L until 64L).map(i => (i, i.toInt)).toDF("k", "v")
    Merge.writeVersioned(v0, path, "k", nBuckets = 8)
    Merge.mergeVersioned(spark, path,
      Seq((1L, 1.5), (100L, 9.5)).toDF("k", "v"), "k")
    val feed = Merge.changesBetween(spark, path, 0, 1, "k")
    val got = feed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "update", 100L -> "insert"))
    // both images present the WIDENED type; the pre-image int 1
    // reads back as 1.0
    val img = feed.filter(col("k") === 1L)
      .select(col("pre.v"), col("post.v")).head()
    assert(img.getDouble(0) === 1.0 && img.getDouble(1) === 1.5)
    // a non-numeric type conflict must fail fast with the column named
    // (such versions can't even be produced through mergeVersioned —
    // its union coerces or rejects first — but hand-rolled or future
    // writers could; the guard is tested at its own seam)
    import org.apache.spark.sql.types._
    assert(Merge.widenOrFail("v", IntegerType, DoubleType) === DoubleType)
    assert(Merge.widenOrFail("v", LongType, ShortType) === LongType)
    val ex = intercept[IllegalArgumentException] {
      Merge.widenOrFail("v", StringType, DoubleType)
    }
    assert(ex.getMessage.contains("'v'"), ex.getMessage)
  }

  test("merge swap recovery: a staged complete copy heals a crash-deleted bucket") {
    val dir = java.nio.file.Files.createTempDirectory("rec_spec").toString
    val t = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    Merge.writeTarget(t, dir, "k", nBuckets = 8)
    // simulate a crash mid-swap: one bucket's newest copy sits in a
    // completion-marked staging dir and the live bucket dir is gone
    val b = t.select(Merge.bucketOf(col("k"), 8)).limit(1)
      .collect().head.getLong(0)
    val staging = new java.io.File(dir + "_m_staging"); staging.mkdirs()
    val live = new java.io.File(dir, s"_mb=$b")
    assert(live.renameTo(new java.io.File(staging, s"_mb=$b")))
    java.nio.file.Files.createFile(
      new java.io.File(staging, "_GRAFT_COMPLETE").toPath)
    assert(!live.exists())
    // read() itself heals — no merge needed between crash and read
    val back = Merge.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back.size === 1000 && back(999L) === 2997L,
      "no rows may be lost across the recovered swap")
    assert(!staging.exists(), "staging must be consumed")
  }

  test("versioned merge: every version reconstructs; vacuum drops only unreferenced dirs") {
    val dir = java.nio.file.Files.createTempDirectory("tt_spec").toString
    val t = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    Merge.writeVersioned(t, dir, "k", nBuckets = 8)
    Merge.mergeVersioned(spark, dir,
      spark.createDataFrame(Seq(1L -> -1L, 5000L -> -5L)).toDF("k", "v"), "k")
    Merge.mergeVersioned(spark, dir,
      spark.createDataFrame(Seq(2L -> -2L)).toDF("k", "v"), "k")
    assert(Merge.versions(dir) === Seq(0, 1, 2))
    def state(v: Int) = Merge.readVersioned(spark, dir, v).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v0 = state(0); val v1 = state(1); val v2 = state(2)
    assert(v0.size === 1000 && v0(1L) === 2L && !v0.contains(5000L))
    assert(v1.size === 1001 && v1(1L) === -1L && v1(5000L) === -5L && v1(2L) === 4L)
    assert(v2.size === 1001 && v2(2L) === -2L && v2(1L) === -1L)
    // untouched buckets carry the SAME directory forward across versions
    // (immutable data files — only manifests change)
    assert(Merge.readVersioned(spark, dir).collect().length === 1001) // latest = v2
    intercept[IllegalArgumentException](Merge.vacuum(dir, keepLast = 0))
    val removed = Merge.vacuum(dir, keepLast = 1)
    assert(removed.nonEmpty, "old bucket versions should be reclaimed")
    assert(Merge.versions(dir) === Seq(2))
    assert(state(2) === v2, "latest version must survive vacuum intact")
  }

  test("restore: head rolls back by manifest republish, idempotent, vacuum-safe") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("restore").toString
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    Merge.writeVersioned(base, dir, "k", nBuckets = 2)
    Merge.mergeVersioned(s, dir,
      Seq((2L, "b", 999.0)).toDF("k", "name", "bal"), "k")
    def state() = Merge.readVersioned(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(state().contains((2L, "b", 999.0)))
    // restore publishes v2 = v0's manifest; the bad merge is undone
    assert(Merge.restoreVersion(dir, 0) === 2)
    assert(state() === Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // idempotent: restoring the state the head already has is a no-op
    assert(Merge.restoreVersion(dir, 0) === 2)
    assert(Merge.versions(dir) === Seq(0, 1, 2))
    // history intact until vacuumed — the bad version still reads
    assert(Merge.readVersioned(s, dir, 1).collect().exists(_.getDouble(2) == 999.0))
    // vacuum keeps the restored head's (v0-era) dirs alive through
    // the ordinary reference scan
    Merge.vacuum(dir, keepLast = 1)
    assert(state() === Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("vacuum under a live reader: retained versions read on, carried-forward dirs survive") {
    val dir = java.nio.file.Files.createTempDirectory("vac_spec").toString
    val t = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    Merge.writeVersioned(t, dir, "k", nBuckets = 8)
    Merge.mergeVersioned(spark, dir,
      spark.createDataFrame(Seq(1L -> -1L)).toDF("k", "v"), "k")
    Merge.mergeVersioned(spark, dir,
      spark.createDataFrame(Seq(2L -> -2L)).toDF("k", "v"), "k")
    // live readers resolve their manifests BEFORE the vacuum runs
    val liveLatest = Merge.readVersioned(spark, dir)       // v2
    val liveRetained = Merge.readVersioned(spark, dir, 1)  // v1, kept
    val removed = Merge.vacuum(dir, keepLast = 2)
    // retention contract: v1/v2 manifests mostly reference v0's
    // immutable bucket dirs (untouched buckets carry forward) — only
    // v0's superseded copy of the delta-1 bucket is reclaimable
    val b1 = spark.range(1).select(Merge.bucketOf(lit(1L), 8))
      .collect().head.getLong(0)
    assert(removed === Seq(s"_data/v0/_mb=$b1"), removed.toString)
    assert(Merge.versions(dir) === Seq(1, 2))
    // both live plans still execute fully after the vacuum
    val m2 = liveLatest.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2.size === 1000 && m2(1L) === -1L && m2(2L) === -2L)
    val m1 = liveRetained.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1.size === 1000 && m1(1L) === -1L && m1(2L) === 4L)
    // the dropped version is gone for NEW readers — the retention
    // window, not reader luck, is the consistency contract
    intercept[Exception](Merge.readVersioned(spark, dir, 0).collect())
  }

  test("approx aggregates within tolerance of exact") {
    // the query now emits the tolerance verdicts itself (the oracled
    // form); every sketch must land inside 5% of the exact value
    val rows = graft.queries.Extended.qApprox(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"${r.getString(0)} distinct sketch out of tolerance")
      assert(r.getBoolean(4), s"${r.getString(0)} p50 sketch out of tolerance")
    }
  }

  test("streaming dedup: bounded-state dropDuplicatesWithinWatermark") {
    val events = Tables.load(spark, sf, "events")
    val stream = Tables.streamEvents(spark, sf)
    val q = EventsStream.dedupStream(stream).writeStream
      .outputMode("append").format("memory").queryName("dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream").count()
    val distinctKeys = events.select(col("user_id"), col("event_type"))
      .distinct().count()
    // single batch → one survivor per key
    assert(got === distinctKeys)
  }

  test("streaming dedup state expires with the watermark: horizon repeats drop, expired keys re-enter") {
    // the OTHER half of the bounded-state contract (the single-batch
    // test above only pins in-horizon dedup): a key whose state the
    // watermark has expired must be accepted AGAIN — that expiry is
    // exactly what makes streaming dedup viable on an unbounded
    // stream, and it bounds what "exactly once" means here
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc: org.apache.spark.sql.Encoder[EventsStream.Ev] =
      org.apache.spark.sql.Encoders.product[EventsStream.Ev]
    val mem = MemoryStream[EventsStream.Ev](enc, spark.sqlContext)
    val q = EventsStream.dedupStream(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("ops_dedup_exp")
      .start()
    def ev(id: Long, user: Long, kind: String, iso: String) =
      EventsStream.Ev(id,
        java.sql.Timestamp.from(java.time.Instant.parse(iso)), user, kind, 1.0)
    // batch 1: e2 duplicates e1 within the 10-min horizon → dropped;
    // e9 (another key) advances the watermark to 10:30
    mem.addData(
      ev(1, 1L, "view", "2024-01-01T10:00:00Z"),
      ev(2, 1L, "view", "2024-01-01T10:02:00Z"),
      ev(9, 2L, "click", "2024-01-01T10:40:00Z"))
    q.processAllAvailable()
    // batch 2: key (1,view)'s state expired at 10:10 < watermark →
    // e4 re-enters; key (2,click)'s state (expiry 10:50) is live →
    // e5 still drops
    mem.addData(
      ev(4, 1L, "view", "2024-01-01T10:35:00Z"),
      ev(5, 2L, "click", "2024-01-01T10:41:00Z"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ops_dedup_exp").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(1L, 9L, 4L),
      s"expired key must re-enter, live key must still dedup: $got")
  }

  test("streaming sessionization: sessions split on 30-min gaps") {
    import spark.implicits._
    val events = Tables.load(spark, sf, "events")
    val sessions = EventsStream.sessionize(events)
    // batch run: flatMapGroupsWithState processes each user once; only
    // gap-closed sessions emit (the final open session stays in state)
    val got = sessions.groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent truth: count gap-closed sessions per user
    val truth = events.select(col("user_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
      .groupBy(_._1).map { case (u, rows) =>
        val ts = rows.map(_._2).sorted
        val bounds = ts.zip(ts.tail).filter { case (a, b) => b - a > 30 * 60 * 1000L }
        // events in all closed sessions = total - events after last gap
        val lastGapEnd = bounds.lastOption.map(_._2)
        val closedCount = lastGapEnd match {
          case None => 0L
          case Some(g) => ts.count(_ < g).toLong
        }
        u -> closedCount
      }.filter(_._2 > 0)
    assert(got === truth)
  }

  test("fuzzy join tau=2: deletion-neighborhood equals brute-force levenshtein") {
    val sup = Tables.load(spark, sf, "supplier")
    val got = Fuzzy.editSelfJoin(sup, col("s_name"), 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val names = sup.select(col("s_name")).distinct().collect()
      .map(_.getString(0))
    val brute = (for {
      a <- names; b <- names if a < b
      d = levenshteinRef(a, b) if d <= 2
    } yield (a, b) -> d).toMap
    assert(brute.nonEmpty, "fixture should contain distance<=2 name pairs")
    assert(got === brute)
  }

  test("fuzzy join: deletion variants handle empty and 1-char strings") {
    import spark.implicits._
    val tiny = Seq("", "a", "b", "ab").toDF("nm")
    val got = Fuzzy.editSelfJoin(tiny, col("nm"), 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // every pair here is within one edit except ("", "ab") (distance 2)
    assert(got === Set("" -> "a", "" -> "b", "a" -> "b", "a" -> "ab", "ab" -> "b"))
  }

  test("kmeans semantic dedup: survivors equal driver-side brute force") {
    val assign = Similarity.kmeansAssign(emb, 8, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // the kernel's exact fold: per-index float→double, sequential
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = vecs.keySet.filter { id =>
      !vecs.keySet.exists(o => o < id && assign(o) == assign(id) &&
        cos(vecs(o), vecs(id)) >= 0.4)
    }
    val got = Similarity.kmeansSemanticDedup(emb, 8, 1, 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === expect)
    // reported cluster ids match the standalone assignment
    got.foreach { case (id, cl) => assert(cl === assign(id)) }
    assert(got.size < vecs.size, "corpus should contain semantic dups at 0.4")
  }

  test("bpe train: merge table equals an independent driver-side reference") {
    val got = Bpe.train(docs, col("text"), 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // reference: plain-Scala Sennrich dictionary BPE over the same
    // word counts — greedy leftmost merge, (count desc, pair asc)
    var vocab: Map[Vector[String], Long] = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|"))
      .collect().map(_.getString(0))
      .groupBy(identity).map { case (w, ws) =>
        w.toCharArray.map(_.toString).toVector -> ws.length.toLong
      }
    val expect = (1 to 8).map { r =>
      val counts = vocab.toSeq.flatMap { case (toks, cnt) =>
        toks.zip(toks.tail).map(p => p -> cnt)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      def mergeOne(toks: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length)
          if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
            out += a + b; i += 2
          } else { out += toks(i); i += 1 }
        out.result()
      }
      vocab = vocab.toSeq.map { case (t, n) => mergeOne(t) -> n }
        .groupBy(_._1).map { case (t, g) => t -> g.map(_._2).sum }
      (r, s"$a $b", a + b, c)
    }
    assert(got.toSeq === expect)
  }

  test("bpe: greedy leftmost merging on repeated symbols") {
    import spark.implicits._
    val tiny = Seq((1L, "aaa aaaa b")).toDF("doc_id", "text")
    val m = Bpe.train(tiny, col("text"), 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(3)))
    // "aaa" pairs: (a,a)x2; "aaaa": (a,a)x3 → merge 1 = "a a" cnt 5.
    // after: "aaa"→[aa,a], "aaaa"→[aa,aa] → pairs: (aa,a)x1, (aa,aa)x1
    // → tie broken lexicographically: "aa a" < "aa aa"
    assert(m(0) === ((1, "a a", 5L)))
    assert(m(1) === ((2, "aa a", 1L)))
  }

  test("bpe trainLocal: over-budget dictionary throws BEFORE materializing") {
    import spark.implicits._
    val tiny = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Bpe.trainLocal(tiny, col("text"), 2, maxDictRows = 3)
    }
    assert(ex.getMessage.contains("exceeds 3"), ex.getMessage)
    // structurally, the guard collects limit(maxDictRows+1) — never
    // the full dictionary — so the require fires before a driver OOM
    // could; the message is the documented contract
  }

  test("bpe trainLocal: tie-break is codepoint order, not UTF-16 order") {
    // 😀 is U+1F600 (surrogate pair D83D DE00); U+F000 is BMP private
    // use. Java String '<' sorts "😀" BEFORE "" (D83D < F000);
    // codepoint/UTF-8 order — what Spark orderBy and DuckDB use —
    // sorts it AFTER (0x1F600 > 0xF000). cpLess must take the
    // codepoint side, and trainLocal must agree with train() on a
    // corpus engineered to tie exactly on such a pair.
    assert(Bpe.cpLess("", "😀"))
    assert(!Bpe.cpLess("😀", ""))
    assert("😀" < "") // the Java order really does differ
    import spark.implicits._
    // words "a😀" and "a" each once → pairs (a,😀) and
    // (a,) tie at count 1; merge #1 must pick "a "
    val docs = Seq((1L, "a😀 a")).toDF("doc_id", "text")
    val seqM = Bpe.train(docs, col("text"), 1).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    val locM = Bpe.trainLocal(docs, col("text"), 1).collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(seqM === locM, s"seq=$seqM loc=$locM")
    assert(seqM.head._1 === "a ")
  }

  test("psi drift: NULL in the reference predicate classifies as candidate") {
    import spark.implicits._
    // 20 ref rows, 20 cand rows, 4 NULL-flag rows: totals must be
    // 20 ref / 24 cand — NULL rows land in the candidate histogram,
    // matching the CASE-WHEN oracle, not silently dropped from both
    val df = ((1 to 20).map(i => (Some(true), i.toDouble)) ++
        (1 to 20).map(i => (Some(false), i.toDouble)) ++
        (1 to 4).map(i => (None: Option[Boolean], i.toDouble)))
      .toDF("flag", "v")
    val out = Profile.psiDrift(df, col("flag"), col("v"), nBuckets = 4)
      .agg(sum(col("n_ref")), sum(col("n_cand"))).head()
    assert(out.getLong(0) === 20L && out.getLong(1) === 24L)
  }

  test("schema widening: integral×Float jumps to Double (lossless)") {
    import org.apache.spark.sql.types._
    // Float holds 24 bits of mantissa — Long/Int values past 2^24
    // don't round-trip, so the lattice must not stop at Float
    assert(Merge.widenOrFail("v", LongType, FloatType) === DoubleType)
    assert(Merge.widenOrFail("v", FloatType, IntegerType) === DoubleType)
    assert(Merge.widenOrFail("v", ByteType, FloatType) === DoubleType)
    assert(Merge.widenOrFail("v", FloatType, FloatType) === FloatType)
    assert(Merge.widenOrFail("v", FloatType, DoubleType) === DoubleType)
  }

  test("bpe encode: token counts reconstruct documents exactly") {
    val n = Bpe.tokenCount(docs, col("text"), 4)
    // every document's BPE token count is bounded by its char count
    // (merges only shrink) and at least its word count
    val joined = n.join(docs, "doc_id")
      .select(col("n_bpe_tokens"),
        size(split(col("text"), " ")).as("nw"), length(col("text")).as("nc"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(0) <= r.getInt(2) && r.getLong(0) >= r.getInt(1)) }
  }

  test("heavy hitters: two-pass equals full-shuffle truth under adversarial repartitioning") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    // 1/3 hot docs (every gram of the phrase ~100x), 2/3 long tail —
    // the gram vocabulary dwarfs the sketch capacity below
    val texts = (0 until 300).map { i =>
      if (i % 3 == 0) "the quick fox jumps high"
      else (0 until 8).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
    }
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val grams = df.select(explode(concat(toks,
      call_function("word_ngrams_2", toks),
      call_function("word_ngrams_3", toks))).as("gram"))
    val total = grams.count()
    val vocab = grams.distinct().count()
    assert(vocab > 96 * 5, s"fixture too small for eviction pressure: $vocab")
    val expect = grams.groupBy("gram").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 80 > lit(total)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(expect.nonEmpty, "fixture plants heavy hitters; none in truth")
    Seq(1, 13).foreach { p =>
      val got = TextAnalysis
        .heavyHitters(df.repartition(p), col("text"), maxN = 3,
          k = 80, capacity = 96)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expect, s"partitions=$p")
    }
  }

  test("heavy hitters: capacity below the threshold rank is rejected") {
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(docs, col("text"), maxN = 3,
        k = 40, capacity = 16)
    }
  }

  test("geo radius join: cell stencil is complete vs brute force, at boundaries too") {
    import graft.operators.Geo
    val s = spark; import s.implicits._
    // dense enough that cells hold many points and pairs straddle
    // cell borders; includes the negative-coordinate quadrants
    val a = (0L until 3000L).toDF("k").select(col("k").as("id"),
      Geo.latOf("a", col("k")).as("lat"), Geo.lonOf("a", col("k")).as("lon"))
    val b = (0L until 500L).toDF("k").select(col("k").as("id"),
      Geo.latOf("b", col("k")).as("lat"), Geo.lonOf("b", col("k")).as("lon"))
    val got = Geo.radiusJoin(a, b, 120.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = a.crossJoin(
        b.select(col("id").as("rid"), col("lat").as("blat"), col("lon").as("blon")))
      .select(col("id"), col("rid"),
        (round(Geo.haversineKm(col("lat"), col("lon"),
          col("blat"), col("blon")) * 1e6) / 1e6).as("d"))
      .filter(col("d") <= 120.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture yields within-radius pairs")
    assert(got === brute)
  }

  test("geo knn: expanding-ring search equals brute-force top-k, multi-ring path exercised") {
    import graft.operators.Geo
    val s = spark; import s.implicits._
    val q = (0L until 200L).toDF("k").select(col("k").as("id"),
      Geo.latOf("q", col("k")).as("lat"), Geo.lonOf("q", col("k")).as("lon"))
    val p = (0L until 800L).toDF("k").select(col("k").as("id"),
      Geo.latOf("p", col("k")).as("lat"), Geo.lonOf("p", col("k")).as("lon"))
    // r0 small enough that ring 1 cannot satisfy most queries at this
    // density — the loop must actually expand
    val got = Geo.knn(q, p, k = 4, r0Km = 150.0, maxRings = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("d"), col("rid"))
    val brute = q.crossJoin(p.select(col("id").as("rid"),
        col("lat").as("plat"), col("lon").as("plon")))
      .select(col("id"), col("rid"),
        (round(Geo.haversineKm(col("lat"), col("lon"),
          col("plat"), col("plon")) * 1e6) / 1e6).as("d"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === brute)
    assert(got.size === 800)
  }

  test("unigram tokenizer: model invariants and encode bounds, stable under repartitioning") {
    import graft.operators.Unigram
    val model = Unigram.train(docs, col("text")).collect()
    assert(model.nonEmpty)
    val pieces = model.map(_.getString(0))
    assert(pieces.distinct.length === pieces.length)
    // coverage: every single character of every (eligible) word is a
    // piece, so Viterbi always has a path
    val chars = Unigram.wordCounts(docs, col("text"))
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(chars.subsetOf(pieces.toSet))
    // costs: quantized -ln(p) of the add-one-smoothed distribution —
    // positive, and larger count => no larger cost
    val byCnt = model.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(byCnt.forall(_._2 > 0))
    byCnt.sliding(2).foreach { case Array((c1, l1), (c2, l2)) =>
      if (c1 < c2) assert(l1 >= l2)
    }
    // encode: every word's piece count within [ceil(len/4), len];
    // doc totals identical under adversarial repartitioning
    val enc = Unigram.tokenCount(docs, col("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val enc13 = Unigram.tokenCount(docs.repartition(13), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(enc === enc13)
    val bounds = Unigram.wordCounts(docs, col("text"))
      .select(col("w")).collect().map(_.getString(0))
      .map(w => (math.ceil(w.length / 4.0).toLong, w.length.toLong))
    assert(bounds.nonEmpty)
  }

  test("per-doc heavy hitters: content-disjoint replication scales the answer, not to empty") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val texts = (0 until 120).map { i =>
      if (i % 3 == 0) "the quick fox jumps high"
      else (0 until 8).map(_ => s"w${rnd.nextInt(400)}").mkString(" ")
    }
    def corpus(reps: Int) = (0 until reps).flatMap { k =>
      texts.zipWithIndex.map { case (t, i) =>
        val tt = if (k == 0) t
                 else t.split(" ").map(_ + ('a' + k - 1).toChar).mkString(" ")
        ((k * 1000000L + i), tt)
      }
    }.toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) = TextAnalysis
      .heavyHittersPerDoc(df, col("text"), maxN = 3,
        num = 3, den = 2, minCapacity = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = run(corpus(1))
    assert(base.nonEmpty, "fixture plants heavy hitters; none at 1x")
    val x4 = run(corpus(4))
    // ScaleUp-shaped growth: each replica's suffixed grams clear the
    // SAME per-document bar, so the answer is base x4 — the old
    // total/k cutoff returned EMPTY here (nothing scales with total)
    assert(x4.size === base.size * 4, s"got ${x4.size} vs ${base.size} x4")
    assert(base.forall { case (g, f) => x4.get(g).contains(f) })
    // and it still equals the full-shuffle truth at 4x
    val df4 = corpus(4)
    val toks4 = split(col("text"), " ")
    val grams4 = df4.select(explode(concat(toks4,
      call_function("word_ngrams_2", toks4),
      call_function("word_ngrams_3", toks4))).as("gram"))
    val total4 = grams4.count()
    val nDocs4 = df4.count()
    val truth = grams4.groupBy("gram").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 2 * nDocs4 > lit(total4) * 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(x4 === truth)
  }

  test("containment join: a quoted subset scores ~1 one way, low the other") {
    import spark.implicits._
    // doc 1 is a verbatim quote inside the much larger doc 2 —
    // Jaccard hides this (small intersection / big union); directed
    // containment must expose it as 1.0 in the 1→2 direction
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = ("pre one two three four five six seven eight nine " +
      inner + " post ten eleven twelve thirteen fourteen fifteen sixteen")
    val df = Seq((1L, inner), (2L, outer), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0, s"inner→outer should be 1.0: $got")
    assert(!got.contains((2L, 1L)), "outer→inner must fall below τ=0.5")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // cross-check every emitted ratio against set-math truth
    val sets = df.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
    got.foreach { case ((a, b), c) =>
      val truth = sets(a).intersect(sets(b)).size.toDouble / sets(a).size
      assert(math.abs(c - truth) < 1e-9, s"($a,$b): got $c true $truth")
    }
  }

  test("triangle counts: planted K4 + pendant edge") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, each node in exactly 3; node 5
    // hangs off node 4 and closes nothing
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.trianglesPerNode(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("url canonicalization: hand cases pin every rule") {
    import spark.implicits._
    val cases = Seq(
      // default port dropped, host+scheme lowercased, fragment gone
      "HTTP://Site.COM:80/a#frag" -> "http://site.com/a",
      "HTTPS://X.org:443/" -> "https://x.org/",
      // NON-default port survives (https on 80 is not default)
      "https://x.org:80/a" -> "https://x.org:80/a",
      "http://x.org:8080/a" -> "http://x.org:8080/a",
      // bare host → root path; trailing slash stripped off non-root
      "http://x.org" -> "http://x.org/",
      "http://x.org/a/b/" -> "http://x.org/a/b",
      // tracking params dropped, survivor ORDER preserved
      "http://x.org/a?utm_source=s&b=2&a=1&gclid=g" -> "http://x.org/a?b=2&a=1",
      // tracking-only query drops the '?' entirely
      "http://x.org/a?utm_only=1&fbclid=f" -> "http://x.org/a",
      // utm prefix is literal: 'utmx' is NOT tracking
      "http://x.org/a?utmx=1" -> "http://x.org/a?utmx=1")
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (exp, g) =>
      assert(g === exp)
    }
  }

  test("exact quantiles: bisection matches brute-force selection under ties, outliers, deep recursion") {
    import spark.implicits._
    // heavy ties + extreme outliers; nBuckets=2 + localLimit=1 force
    // the recursion and degenerate-range paths rather than the
    // one-level happy path
    val xs = Seq.fill(50)(5.0) ++ (1 to 40).map(_.toDouble) ++ Seq(1e9, -1e9)
    val qs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    val got = graft.operators.Profile.exactQuantiles(xs.toDF("x"), col("x"),
        qs, nBuckets = 2, localLimit = 1)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = xs.sorted
    qs.foreach { q =>
      val k = math.max(1L, math.ceil(q * xs.size).toLong).toInt
      assert(got(q) === sorted(k - 1), s"q=$q")
    }
    // an all-equal column resolves through the degenerate range
    val eq = graft.operators.Profile.exactQuantiles(
        Seq.fill(10)(7.5).toDF("x"), col("x"), Seq(0.5))
      .collect().head.getDouble(1)
    assert(eq === 7.5)
  }

  test("label propagation: two triangles + bridge converge to per-community min labels") {
    import spark.implicits._
    // triangles {1,2,3} and {10,11,12}, bridge 3–10. Hand-computed
    // with the self-vote + min-label tie-break: after round 2 the
    // communities are stable at labels 1 and 10; the bridge never
    // flips node 10 (its triangle outvotes the single cross edge).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
  }

  test("personalized pagerank: hand-computed two iterations on a path, mass conserved") {
    import spark.implicits._
    // path 1–2–3, seed {1}: r0=(1,0,0);
    // r1=(0.15, 0.85, 0); r2=(0.51125, 0.1275, 0.36125)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.51125, 2L -> 0.1275, 3L -> 0.36125), s"got $got")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "teleport must conserve mass")
  }

  test("matryoshka: recall 1 above cluster size, degraded below (prefix can't order within a cluster)") {
    val e = Similarity.clusteredCorpus(spark)
    val exact = Similarity.cosineTopK(e, 10, 5)
    def recall(shortlist: Int): Double =
      Similarity.annRecall(
          Similarity.matryoshkaTopK(e, 10, 5, mDims = 16, shortlist), exact, 5)
        .agg(avg(col("recall_at_5"))).head().getDouble(0)
    assert(recall(72) == 1.0)
    // the sizing rule is real: a sub-cluster shortlist loses true
    // neighbors to prefix noise
    assert(recall(16) < 1.0)
  }

  test("keep-best canonical: longest cluster member wins, not the min id") {
    import spark.implicits._
    val base = (1 to 19).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base),               // 19 tokens — min id but NOT longest
      (2L, base + " w20"),      // 20 tokens — must be kept
      (3L, "totally different content here")).toDF("doc_id", "text")
    val out = Dedup.keepBestCanonical(df, 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3))))
      .toMap
    // cluster {1,2} labeled by min id 1; keeper is 2 (20 tokens)
    assert(out(1L) == ((2L, 20, 2L)), s"got $out")
    assert(out(3L) == ((3L, 4, 1L)))
  }

  test("rrf hybrid: fused scores reproduce the two retrievers' ranks") {
    val fused = Similarity.rrfHybrid(docs, emb, Seq("dup", "merge", "scan"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(fused.nonEmpty)
    val lex = TextAnalysis.bm25TopK(docs, col("text"),
        Seq("dup", "merge", "scan"), 20)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val dense = Similarity.cosineTopK(emb, 1, 20)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    val expect = (lex.keySet ++ dense.keySet).map { id =>
      val raw = lex.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0) +
        dense.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0)
      id -> math.round(raw * 1e6) / 1e6.toDouble
    }.toMap
    assert(fused.view.mapValues(_._1).toMap == expect)
    // ranks are the descending-score order with doc_id ties
    val order = expect.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    order.zipWithIndex.foreach { case (id, i) =>
      assert(fused(id)._2 == i + 1, s"doc $id rank ${fused(id)._2} != ${i + 1}")
    }
  }

  test("PNG codec: roundtrip exact over all five filters; chunk CRC is actually verified") {
    // ids 0..39 cover every (w, h, filter-cycle) residue; h up to 6
    // puts all five scanline filters inside single images
    (0L until 40L).foreach { id =>
      val st = Multimodal.pngStats(id, Multimodal.encodePng(id))
      val w = 4 + (id % 5).toInt; val h = 3 + (id % 4).toInt
      assert(st.width == w && st.height == h, s"doc $id dims")
      var sr = 0L; var sLeft = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val r = (id * 29 + x * 7 + y * 13) % 256
        val g = (id * 19 + x * 11 + y * 3) % 256
        val b = (id * 13 + x * 5 + y * 17) % 256
        sr += r
        if (x < w / 2) sLeft += r + g + b
      }
      assert(st.sum_r == sr && st.sum_left == sLeft, s"doc $id sums")
    }
    // flip one byte inside the first IDAT body: the CRC check must
    // reject the file, not decode garbage
    val png = Multimodal.encodePng(7L)
    def be32(o: Int) = ((png(o) & 0xff) << 24) | ((png(o + 1) & 0xff) << 16) |
      ((png(o + 2) & 0xff) << 8) | (png(o + 3) & 0xff)
    var off = 8
    while (new String(png, off + 4, 4, "US-ASCII") != "IDAT")
      off += 12 + be32(off)
    val bad = png.clone()
    bad(off + 8) = (bad(off + 8) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException] {
      Multimodal.pngStats(7L, bad)
    }
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("q21 aggregate rewrite ≡ textbook semi/anti compilation (row-identical)") {
    val agg = graft.queries.Extended.qTpchQ21(spark, sf)
    val sa = graft.queries.Extended.qTpchQ21SemiAnti(spark, sf)
    val a = agg.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val b = sa.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(a.nonEmpty, "vacuous equivalence: no qualifying suppliers at sf0.001")
    assert(a.sameElements(b),
      s"rewrite diverged:\nagg=${a.mkString(",")}\nsemi/anti=${b.mkString(",")}")
  }

  test("kmv sketch: exact distinct min-k, and merge-of-splits ≡ whole") {
    import spark.implicits._
    import graft.functions.HashExpressions.kmv_longs_agg
    // duplicates on purpose: a duplicate-admitting buffer would differ
    val vals: Seq[Long] = Seq(9L, 3L, 7L, 3L, 1L, 9L, 5L, 11L, 1L, 2L,
      8L, 2L, 13L, 5L, 4L)
    val truth = vals.distinct.sorted.take(8)
    val whole = vals.toDF("h").agg(kmv_longs_agg(col("h"), 8))
      .collect()(0).getSeq[Long](0)
    assert(whole == truth, s"whole sketch $whole != $truth")
    // monoid: sketch the halves, re-aggregate their registers
    val (l, r) = vals.splitAt(7)
    val parts = l.toDF("h").agg(kmv_longs_agg(col("h"), 8).as("mins"))
      .unionAll(r.toDF("h").agg(kmv_longs_agg(col("h"), 8).as("mins")))
    val mergedSk = parts.select(explode(col("mins")).as("h"))
      .agg(kmv_longs_agg(col("h"), 8)).collect()(0).getSeq[Long](0)
    assert(mergedSk == truth, s"merged sketch $mergedSk != $truth")
  }

  test("kmv estimator lands near the true distinct count on events") {
    val ev = Tables.load(spark, sf, "events")
    val trueN = ev.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().count()
    val est = Sketch.kmvMerged(ev).collect()(0)
      .getAs[Long]("est_distinct")
    // k=64 → ~13% relative stddev; 3-sigma band (exact when trueN < k)
    assert(math.abs(est - trueN) <= math.max(1L, (0.4 * trueN).toLong),
      s"est=$est true=$trueN")
  }

  test("cardinality stream ≡ batch sketch after the last batch; replay idempotent") {
    val ev = Tables.load(spark, sf, "events")
    val tmp = java.nio.file.Files.createTempDirectory("kmvstream").toString
    import graft.streaming.CardinalityStream
    // three micro-batches partitioning the table
    val batches = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      CardinalityStream.cardinalityStage(b, i.toLong,
        s"$tmp/state", s"$tmp/out")
    }
    def rows(path: String) = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    // the KMV monoid makes stream-accumulated state EXACTLY the batch
    // operator's table (same registers, not just close estimates)
    val expect = Sketch.kmvByType(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(rows(s"$tmp/out/batch=2") == expect)
    // at-least-once replay of batch 0 overwrites its own partial:
    // no double-count, report reflects everything ingested so far
    CardinalityStream.cardinalityStage(batches(0), 0L,
      s"$tmp/state", s"$tmp/out")
    assert(rows(s"$tmp/out/batch=0") == expect,
      "replayed batch-0 report must equal the full-table sketch")
  }

  test("kmv overlap estimator tracks the true user-day intersection") {
    val ev = Tables.load(spark, sf, "events")
    def days(t: String) = ev
      .filter(col("event_type") === t && col("user_id").isNotNull)
      .select(concat(col("user_id").cast("string"), lit("@"),
        to_date(col("ts")).cast("string")).as("k")).distinct()
    val a = days("click"); val b = days("purchase")
    val trueUnion = a.unionByName(b).distinct().count()
    val trueInter = a.join(b, "k").count()
    val r = Sketch.kmvOverlap(ev, "click", "purchase").collect()(0)
    assert(trueInter > 0, "vacuous: no overlap at sf0.001")
    // union estimator: ~13% stddev at k=64; 3-sigma band
    assert(math.abs(r.getAs[Long]("est_union") - trueUnion) <=
      math.max(2L, (0.4 * trueUnion).toLong),
      s"union est=${r.getAs[Long]("est_union")} true=$trueUnion")
    // intersection rides J·k effective samples — loose 2x band, and
    // exact-zero only if truly disjoint
    val estI = r.getAs[Long]("est_intersection")
    assert(estI <= 3 * trueInter && 3 * estI >= trueInter,
      s"intersection est=$estI true=$trueInter")
  }

  test("wordpiece merged-token semantics absorb the inner ## prefix") {
    assert(WordPiece.mergedToken("h", "##ug") == "hug")
    assert(WordPiece.mergedToken("##u", "##g") == "##ug")
    assert(WordPiece.mergedToken("a", "b") == "ab")
  }

  test("wordpiece greedy encode is longest-match-first with ## forms") {
    import spark.implicits._
    val vocab = Set("h", "u", "##u", "##g", "##s", "hug")
    val words = Seq(("hugs", 1L), ("hug", 1L), ("u", 1L), ("guh", 1L))
      .toDF("w", "cnt")
    val got = WordPiece.greedyTokenCount(words, vocab).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_tok")).toMap
    // hugs → hug + ##s (longest match beats h+##u+##g+##s)
    assert(got("hugs") == 2L, s"hugs: ${got("hugs")}")
    assert(got("hug") == 1L)
    assert(got("u") == 1L)
    // 'g' has no word-initial form: fallback advances 1 and counts it
    assert(got("guh") == 3L, s"guh: ${got("guh")}")
  }

  test("grid dbscan ≡ textbook driver-side DBSCAN on sf0.001 customers") {
    val cust = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("id"),
        Geo.latOf("c", col("c_custkey")).as("lat"),
        Geo.lonOf("c", col("c_custkey")).as("lon"))
    val got = Geo.dbscan(cust, epsKm = 800.0, minPts = 4).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // textbook reference: brute neighborhoods, BFS components
    val pts = cust.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def dist(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val sLat = math.sin(math.toRadians(b._2 - a._2) / 2)
      val sLon = math.sin(math.toRadians(b._3 - a._3) / 2)
      val d = 2 * 6371.0 * math.asin(math.sqrt(sLat * sLat +
        math.cos(math.toRadians(a._2)) * math.cos(math.toRadians(b._2)) *
          sLon * sLon))
      math.round(d * 1e6) / 1e6
    }
    val nbr = pts.map(p => p._1 ->
      pts.filter(q => dist(p, q) <= 800.0).map(_._1).toSet).toMap
    val core = pts.map(_._1).filter(id => nbr(id).size >= 4).toSet
    // BFS min-label components over core-core edges
    var label = core.map(id => id -> id).toMap
    var changed = true
    while (changed) {
      changed = false
      for (c <- core; n <- nbr(c) if core(n) && label(n) < label(c)) {
        label += c -> label(n); changed = true
      }
    }
    val expect = pts.map(_._1).map { id =>
      if (core(id)) id -> ("core", label(id))
      else {
        val coreNbrs = nbr(id).filter(core)
        if (coreNbrs.nonEmpty) id -> ("border", coreNbrs.map(label).min)
        else id -> ("noise", -1L)
      }
    }.toMap
    assert(expect.values.count(_._1 == "core") > 0, "vacuous: no cores")
    assert(expect.values.count(_._1 == "noise") > 0, "vacuous: no noise")
    assert(got == expect, {
      val diffs = (got.keySet ++ expect.keySet)
        .filter(k => got.get(k) != expect.get(k)).take(5)
      s"diverged on ${diffs.map(k => s"$k: got=${got.get(k)} want=${expect.get(k)}").mkString("; ")}"
    })
  }

  test("bloom runtime filter prunes the fact side and drops no match") {
    import graft.functions.HashExpressions._
    register(spark)
    val o = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"))
    val li = Tables.load(spark, sf, "lineitem").select(col("l_orderkey"))
    val bytes = o.agg(bloom_longs_agg(array(col("o_orderkey")), 1 << 17))
      .head().getAs[Array[Byte]](0)
    val total = li.count()
    val passed = li
      .filter(bloom_might_contain_long(col("l_orderkey"), bytes)).count()
    val matched = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    assert(matched > 0, "vacuous: no qualifying orders at sf0.001")
    // the filter must prune (selective dim) yet keep every match
    assert(passed < total, s"no pruning: $passed of $total")
    assert(passed >= matched, s"dropped matches: $passed < $matched")
  }

  test("trigram prefilter is sound and selective for substring search") {
    val q = "merge batch"
    val hits = TextAnalysis.substringSearch(docs, col("text"), q).collect()
    val truth = docs.filter(instr(col("text"), q) > 0).count()
    assert(hits.length.toLong == truth, s"${hits.length} != $truth")
    // occurrence counts are positive wherever a doc matched
    assert(hits.forall(_.getLong(1) >= 1L))
    // the prefilter alone (no residual contains) already prunes most
    // of the corpus — the property that makes the residual cheap
    val qTris = (0 to q.length - 3).map(i => q.substring(i, i + 3)).distinct
    val cand = docs.filter(size(array_intersect(
      array_distinct(transform(sequence(lit(1),
        greatest(length(col("text")) - 2, lit(0))),
        i => col("text").substr(i, lit(3)))),
      typedLit(qTris))) === qTris.size).count()
    assert(cand < docs.count() / 2, s"prefilter not selective: $cand")
  }

  /** Textbook Wagner–Fischer, the truth reference for the spec. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
