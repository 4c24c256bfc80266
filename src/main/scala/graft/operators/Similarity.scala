package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.{Artifact, Tables}

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`embedding: array<float>`).
  *
  *   - [[cosineTopK]] — brute-force exact top-k: broadcast the query
  *     set, score every (query, vector) pair map-side, reduce with the
  *     k-bounded [[graft.functions.TopK.TopKByScore]] aggregate (each
  *     partition folds to a k-entry heap before the exchange). No
  *     shuffle of the big side at all: the per-query exchange carries
  *     ≤ k rows per partition. This is the baseline and the rerank
  *     kernel.
  *   - [[lshCosineTopK]] — the scale path: sign-random-projection LSH.
  *     Each vector hashes to an H-bit bucket (sign of dot with H
  *     pseudo-random hyperplanes derived from xxhash64 — fully
  *     deterministic, no stored model); candidates = same-bucket
  *     vectors, then exact cosine rerank. At 100 TB the bucket join
  *     replaces the full cross product with |bucket|-sized probes;
  *     recall tuned by H (fewer bits → bigger buckets → higher
  *     recall, more compute). An IVF variant swaps the hash for
  *     learned centroids; the plumbing is identical.
  *
  * All arithmetic is double-precision sequential folds so the DuckDB
  * oracle (same fold written in SQL lambdas) is bit-identical.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def docsT(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Lexical-query terms for the hybrid gate — same planted-term mix
    * as TextAnalysis's t_bm25 (one rare idf-dominant term + two
    * common ones). */
  private val rrfTerms = Seq("dup", "merge", "scan")

  /** Cosine via the compiled kernel
    * ([[graft.functions.HashExpressions.CosineSimilarity]]): one
    * primitive loop per pair, with the SAME per-index float→double
    * casts and sequential accumulation as the DuckDB-oracle SQL — the
    * results stay bit-identical while avoiding interpreted
    * higher-order-lambda evaluation (≈10× on the bench). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashExpressions.cosine_similarity(a, b)

  /** Two-phase top-k reduction over scored (qid, nid, sim) rows: the
    * [[graft.functions.TopK.TopKByScore]] aggregate folds each input
    * partition into a k-bounded heap map-side, so the per-query
    * shuffle carries ≤ k entries per partition instead of every
    * candidate — the former `row_number() OVER (PARTITION BY qid)`
    * sorted ALL of a query's candidates in ONE task (10 queries over
    * 10⁹ vectors = 10 tasks sorting 10⁹ rows each). Ordering is
    * unchanged: sim DESC, nid ASC, rk 1-based. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.HashExpressions
        .top_k_by_score(col("sim"), col("nid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.nid").as("nid"),
        (round(col("col.sim") * 1e4) / 1e4).as("sim"),
        (col("pos") + 1).cast("int").as("rk"))

  /** Exact top-k cosine neighbors for the query set `vec_id < nQueries`
    * (self excluded). */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    * '09, the fusion every production RAG stack runs): a LEXICAL
    * top-n list (BM25 over the text corpus,
    * [[TextAnalysis.bm25TopK]]) and a DENSE top-n list (exact cosine
    * against query vector 0, [[cosineTopK]]) merge on document id
    * with score Σ 1/(k0 + rank) — rank-space fusion needs no score
    * calibration between the two retrievers, which is exactly why
    * RRF won over weighted-sum fusion in practice.
    *
    * Scale design: each retriever's heavy work is its own bounded
    * top-n shape (BM25's term-filtered postings aggregation;
    * cosine's k-bounded heap aggregate) — the fusion itself touches
    * ≤ 2n rows, so the full-outer join and the final rank window are
    * driver-trivial no matter the corpus size. The windows here run
    * single-partition BY CONSTRUCTION over k-bounded lists, never
    * over corpus-sized data. Ranks fuse as exact small-integer
    * rationals, so the double arithmetic is engine-identical without
    * rounding games; the published score still carries the registry's
    * 1e-6 rounding. */
  def rrfHybrid(docs: DataFrame, embeddings: DataFrame,
                queryTerms: Seq[String], n: Int = 20, k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25TopK(docs, col("text"), queryTerms, n)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).as("rl"))
    val dense = cosineTopK(embeddings, 1, n)
      .select(col("nid").as("doc_id"), col("rk").as("rd"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (col("rl") + k0), lit(0.0)) +
          coalesce(lit(1.0) / (col("rd") + k0), lit(0.0))).as("raw"))
      .select(col("doc_id"), (round(col("raw") * 1e6) / 1e6).as("rrf"),
        row_number().over(
          Window.orderBy(col("raw").desc, col("doc_id"))).as("rk"))
  }

  /** `bits`-bit sign-random-projection bucket id for hash table
    * `table` — compiled kernel, hyperplane components ±1 from a
    * deterministic (plane, dim) mix; model-free. Requires
    * HashExpressions.registerSrp on the session. */
  def srpBucket(v: Column, bits: Int, table: Int): Column =
    graft.functions.HashExpressions.srp_bucket(v, bits, table)

  /** Multi-table LSH ANN: standard (L tables × b bits) sign-random-
    * projection. A vector lands in one bucket per table; candidates =
    * union over tables of the query's buckets; exact cosine rerank.
    * Recall ≈ 1-(1-p^b)^L for per-bit agreement p = 1 - θ/π — L
    * tables buy recall at linear cost, b bits shrink buckets
    * (candidate count). At 100 TB: vectors are written bucketed by
    * (table, bucket), so a query probes L buckets instead of the full
    * corpus — the join below is that probe. */
  def lshCosineTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                    bits: Int = 4, tables: Int = 16): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    graft.functions.HashExpressions.registerSrp(embeddings.sparkSession, bits, tables)
    val bucketed = embeddings.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until tables).map(t =>
        srpBucket(col("embedding"), bits, t)): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("tbl").as("qt"), col("bucket").as("qb"))
    // union of per-table candidates: dedupe on the narrow (qid, nid)
    // key, then join vectors back (the distinct must not shuffle the
    // float arrays)
    val cand = bucketed.join(broadcast(q.select(col("qid"), col("qt"), col("qb"))),
        col("tbl") === col("qt") && col("bucket") === col("qb") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
      .join(broadcast(q.select(col("qid"), col("qe")).distinct()), "qid")
      .join(embeddings.select(col("vec_id").as("nid"),
        col("embedding")), "nid")
      .select(col("qid"), col("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(cand, k)
  }

  /** Binary-quantization ANN (the BQ index pattern production vector
    * stores ship alongside PQ): every vector quantizes to
    * `codeWords`·64 packed SRP sign bits — an 8-byte-per-64-bits code
    * — the FULL code scan ranks candidates by Hamming distance into a
    * per-query bounded heap, and only the `shortlist` survivors fetch
    * their float vectors for the exact cosine rerank. Unlike the
    * bucketed families (SRP tables, IVF cells) nothing is pruned
    * structurally: BQ's scale bet is that scanning a few dozen bytes
    * per row of codes with a ~1ns popcount kernel is affordable where
    * scanning floats is not, while recall comes from the rerank. At
    * 100 TB the code column is its own slim parquet file, the heap
    * aggregate shuffles ≤ shortlist rows per query per partition, and
    * the rerank joins touch shortlist·|Q| vectors total.
    *
    * Bit budget is measured, not guessed: on the 64-dim gate corpus
    * raw per-dimension sign codes need a 66%-of-corpus shortlist for
    * recall 1 (near-random vectors — the hardest BQ regime), 512
    * projected bits need ~10%; [[Kernels.srpPack]]'s scaladoc records
    * the numbers. Both kernels (srpPack / [[Kernels.hamming]]) are
    * codegen-native static bodies, so the code scan stays inside one
    * WholeStageCodegen span. */
  def hammingTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                  shortlist: Int, codeWords: Int = 8): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    import graft.functions.HashExpressions.{hamming_dist, srp_pack}
    val coded = embeddings.select(col("vec_id"),
      srp_pack(col("embedding"), codeWords).as("code"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        srp_pack(col("embedding"), codeWords).as("qc"))
    // negated distance so the shared descending top-k heap keeps the
    // NEAREST codes; ties land on the smaller nid (the heap's total
    // order), and the shortlist margin absorbs tie-boundary cuts
    val cand = coded.crossJoin(broadcast(q.select(col("qid"), col("qc"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (-hamming_dist(col("qc"), col("code"))).cast("double").as("nhd"))
    val short = cand.groupBy(col("qid"))
      .agg(graft.functions.HashExpressions
        .top_k_by_score(col("nhd"), col("nid"), shortlist).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.nid").as("nid"))
    val rer = short
      .join(embeddings.select(col("vec_id").as("nid"), col("embedding")), "nid")
      .join(broadcast(q.select(col("qid"), col("qe"))), "qid")
      .select(col("qid"), col("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(rer, k)
  }

  /** The DRIVER-HELD centroid model flattened to the static-literal
    * shape the assignment kernels take: cell ids ascending + one flat
    * cell-major float matrix. The model rides the codegen REFERENCES
    * array (one static `Kernels.nearestCell` call of constant
    * generated-code size), where the previous unrolled-literal struct
    * array grew the generated method linearly in nCells and hit
    * janino's 64 KB ceiling at 1024 cells × dim 64 (PERF_r13),
    * dropping the stage to interpreted evaluation — at billion-vector
    * scale √N cells ≈ 30k, far past that cliff. Assignment and probe
    * selection stay scan-local expressions: no crossJoin, no window,
    * no shuffle; tie-breaks (cosine DESC, cell ASC) are the kernel's
    * contract, bit-identical to the old struct ordering. */
  private def modelArrays(
      centroids: Seq[(Int, Seq[Float])]): (Array[Int], Array[Float]) = {
    require(centroids.nonEmpty, "empty centroid model")
    val dim = centroids.head._2.length
    val cells = new Array[Int](centroids.length)
    val flat = new Array[Float](centroids.length * dim)
    var i = 0
    centroids.foreach { case (c, ce) =>
      require(ce.length == dim,
        s"centroid $c has dim ${ce.length}, expected $dim")
      require(i == 0 || c > cells(i - 1),
        "centroid model must be cell-ascending")
      cells(i) = c
      ce.copyToArray(flat, i * dim)
      i += 1
    }
    (cells, flat)
  }

  /** Nearest-centroid id, map-side. */
  private def nearestCell(centroids: Seq[(Int, Seq[Float])],
                          v: Column): Column = {
    val (cells, flat) = modelArrays(centroids)
    graft.functions.HashExpressions.nearest_cell(v, cells, flat)
  }

  /** The `nProbe` nearest cell ids, best-first, map-side. */
  private def topCells(centroids: Seq[(Int, Seq[Float])], v: Column,
                       nProbe: Int): Column = {
    val (cells, flat) = modelArrays(centroids)
    graft.functions.HashExpressions.top_cells(v, cells, flat, nProbe)
  }

  /** Seed (first nCells vectors) optionally k-means-refined, collected
    * driver-side — nCells × dim floats, a model not a data collect.
    * The refined model stays driver-side throughout ([[refineSeq]]):
    * no DataFrame round-trip, no extra job. */
  private def refinedCentroids(embeddings: DataFrame, nCells: Int,
                               refineIters: Int): Seq[(Int, Seq[Float])] = {
    val seed = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").as("ce"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    refineSeq(embeddings, seed, refineIters).toSeq.sortBy(_._1)
  }

  /** The driver-held centroid model as a tiny DataFrame (index side
    * table / public kmeansRefine return shape). */
  private def centroidsDf(spark: SparkSession,
                          cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.map { case (c, v) => Row(c, v) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("ce",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
  }

  /** Distributed Lloyd iterations. Assignment is the UNROLLED
    * per-row nearest-centroid expression ([[nearestCell]]) — the
    * round-3 shape crossJoined a centroid DataFrame and ranked with a
    * per-vec_id window, i.e. k× row blowup plus a shuffle per
    * iteration; now each iteration is one SCAN (zero exchanges before
    * the k-cell groupBy) and the only driver traffic is the k×dim
    * mean collect, the irreducible Lloyd synchronization point. */
  def kmeansRefine(embeddings: DataFrame, seed: DataFrame,
                   iterations: Int): DataFrame = {
    val start = seed.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    centroidsDf(embeddings.sparkSession,
      refineSeq(embeddings, start, iterations).toSeq.sortBy(_._1))
  }

  /** Lloyd iterations over a driver-held model (the internal form —
    * public callers go through [[kmeansRefine]]/[[refinedCentroids]]). */
  private def refineSeq(embeddings: DataFrame,
                        start: Map[Int, Seq[Float]],
                        iterations: Int): Map[Int, Seq[Float]] = {
    if (iterations <= 0) return start
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    var current = start
    for (_ <- 0 until iterations) {
      val cents = current.toSeq.sortBy(_._1)
      val means = embeddings
        .select(nearestCell(cents, col("embedding")).as("cell"),
          col("embedding"))
        .groupBy(col("cell"))
        .agg(array((0 until dim).map(i =>
          avg(element_at(col("embedding"), i + 1)).cast("float")): _*)
          .as("ce"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
      // dead cells (no members this round) KEEP their previous
      // centroid — the cell count must not silently shrink
      current = current.map { case (cell, old) =>
        cell -> means.getOrElse(cell, old)
      }
    }
    current
  }

  /** IVF-style ANN: coarse quantization + probed search. Centroids
    * start from deterministic seeds (the first nCells vectors) and
    * are optionally k-means-refined ([[kmeansRefine]]); queries probe
    * their `nProbe` nearest cells and rerank exactly. At 100 TB the
    * corpus is WRITTEN partitioned by cell, so a query touches
    * nProbe/nCells of the data — the standard IVF-Flat-on-parquet
    * layout. */
  def ivfCosineTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                    nCells: Int = 16, nProbe: Int = 4,
                    refineIters: Int = 0): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    // ONE centroid model feeds assignment AND probing as scan-local
    // expressions — the round-3 shape recomputed the assignment
    // crossJoin + per-row window once for the corpus and once for the
    // queries, on top of kmeansRefine's own per-iteration pass
    val centroids = refinedCentroids(embeddings, nCells, refineIters)

    // assign: nearest centroid per vector (map-side, no shuffle)
    val assigned = embeddings.select(col("vec_id"), col("embedding"),
      nearestCell(centroids, col("embedding")).as("cell"))

    // queries probe their nProbe nearest cells (map-side)
    val probes = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(topCells(centroids, col("embedding"), nProbe)).as("pc"))
      .select(col("qid"), col("qe"), col("pc").as("cell"))

    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(cand, k)
  }

  /** The PQ shape of an IVF layout that also serves ADC search
    * ([[searchIvfPqIndex]]): `nSub` subspaces of `codesPerSub`
    * codewords each, trained by `pqIters` Lloyd iterations
    * ([[pqTrain]]). */
  final case class Pq(nSub: Int = 8, codesPerSub: Int = 64, pqIters: Int = 2)

  /** Materialize the IVF index as the layout [[ivfCosineTopK]]'s doc
    * promises: vectors written partitioned by cell ([[writeCells]]),
    * centroids as a tiny side table. At 100 TB this is the persisted
    * ANN index — a search touches nProbe of nCells partition
    * directories and the scan PRUNES the rest (asserted in
    * PlanAuditSpec on the executed scan).
    *
    * With `pq` set the same layout is also the composed IVF-PQ index
    * (the standard billion-scale ANN layout): the codebooks persist as
    * a `books` side table and every cell row carries its PQ `codes`
    * and true norm `xnorm` beside the full vector. Parquet's columnar
    * reads give the two access paths from one layout: the ADC pass
    * projects only (vec_id, codes, xnorm) — ~9 bytes of hot data per
    * vector at nSub=8 instead of a 256-byte float row — and the exact
    * rerank projects `embedding` for shortlist rows only, from the
    * already partition-pruned probe cells. Models persist beside the
    * data, so a search session needs no training. */
  def writeIvfIndex(embeddings: DataFrame, path: String,
                    nCells: Int = 16, refineIters: Int = 2,
                    pq: Option[Pq] = None): Unit = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    val centroids = refinedCentroids(embeddings, nCells, refineIters)
    val books = pq.map(p => pqTrain(embeddings, p.nSub, p.codesPerSub, p.pqIters))
    centroidsDf(spark, centroids)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    books.foreach { b =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          b.toSeq.flatMap { case (m, cents) =>
            cents.map { case (cd, ce) => Row(m, cd, ce) } }, 1),
        StructType(Seq(StructField("m", IntegerType),
          StructField("code", IntegerType),
          StructField("ce", ArrayType(FloatType)))))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/books")
    }
    writeCells(embeddings, centroids, books, path, SaveMode.Overwrite)
  }

  /** Per-file row cap on cell-partitioned index writes: ~300 B/row at
    * dim 64 puts 4M rows around 1.2 GB per file — large enough that
    * file count stays ~1/cell at any bench scale, small enough that a
    * crowded cell splits instead of growing one unbounded object. */
  private val CellMaxRecordsPerFile = 4000000L

  /** Route `vecs` to their nearest cell (map-side, no shuffle) and
    * write them into the layout's `cells` — the ONE cell writer of the
    * build and the append; with `books` each row also carries its PQ
    * columns ([[pqCodeCols]]). The cell-wise repartition before the
    * partitioned write is the file-count cap: a raw partitionBy leaves
    * every WRITE TASK emitting a file into every cell it sees — tasks
    * × nCells files, which at cluster scale (1000s of tasks, √N cells)
    * is a small-file explosion `Probe growth ann` showed taxes every
    * subsequent search. One shuffle at build time (write-once,
    * search-many) buys ~one file per cell, and an append lands ≤
    * nCells new files per batch REGARDLESS of the batch's input
    * partitioning (the compaction cadence owns the long-run file
    * budget). maxRecordsPerFile is the opposite-direction bound
    * (ADVICE r13): a cell whose population outgrows one object must
    * SPLIT rather than grow a single file unboundedly (object-store
    * size caps, compaction rewrite units). */
  private def writeCells(vecs: DataFrame, centroids: Seq[(Int, Seq[Float])],
                         books: Option[Books], path: String,
                         mode: SaveMode): Unit =
    vecs.select(Seq(col("vec_id"), col("embedding")) ++
        books.toSeq.flatMap(pqCodeCols) :+
        nearestCell(centroids, col("embedding")).as("cell"): _*)
      .repartition(col("cell"))
      .write.mode(mode)
      .option("maxRecordsPerFile", CellMaxRecordsPerFile)
      .partitionBy("cell").parquet(s"$path/cells")

  /** Probed exact search over a persisted [[writeIvfIndex]] layout
    * (flat or PQ): every live row of the probed cells
    * ([[probedIndex]]) is scored by exact cosine.
    *
    * Concurrency caveat (single-writer layouts only ever hit this
    * during maintenance): a scan that lists a cell inside a
    * compaction's move-in-then-delete window ([[swapInMergedFiles]])
    * can see old ∪ new files, so the SAME nid may appear at two ranks
    * within one top-k result — callers that assume nid-distinct
    * output should dedupe, or search outside compaction windows.
    * Never a short answer: the window only ever ADDS duplicates. The
    * same holds for [[searchIvfPqIndex]]. */
  def searchIvfIndex(spark: SparkSession, path: String,
                     queries: DataFrame, k: Int,
                     nProbe: Int = 4): DataFrame = {
    val (probes, index) = probedIndex(spark, path, queries, nProbe)
    val cand = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(cand, k)
  }

  /** Probed ADC search over a [[writeIvfIndex]] layout built with
    * `pq`: the codes columns of the live probed rows ([[probedIndex]])
    * ADC-score against a driver-built per-query LUT, and the k-bounded
    * shortlist reranks exactly against the `embedding` column of the
    * same pruned directories. Queries are a SMALL query set (collected
    * driver-side for the LUT — bounded by nQueries, not data). A
    * layout without the `books` codebook fails before any scan. */
  def searchIvfPqIndex(spark: SparkSession, path: String,
                       queries: DataFrame, k: Int, nProbe: Int = 12,
                       shortlistFrac: Double = 0.25,
                       minShortlist: Int = 100): DataFrame = {
    val books = loadBooks(spark, path)
    val qs = queries.select(col("qid"), col("qe")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val lutDf = pqQueryLut(spark, books, qs)
    val (probes, index) = probedIndex(spark, path, queries, nProbe)
    // shortlist sizing from the meta's recorded count — a
    // count() over the cells table was a full-index scan per search
    // batch, defeating the probed-directories scale story
    // (code-review r10); the scan remains only the fallback for
    // meta-less layouts
    val n = Artifact.index(path).read.flatMap(_.get("count")).map(_.toLong)
      .getOrElse(spark.read.parquet(s"$path/cells").count())
    val shortlist = math.max(minShortlist,
      math.ceil(n * shortlistFrac).toInt)
    val adc = index
      .join(broadcast(probes.select(col("qid"), col("cell"))), Seq("cell"))
      .join(broadcast(lutDf), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), adcSim.as("sim"))
    val short = topKPerQuery(adc, shortlist).select(col("qid"), col("nid"))
    val rerank = short
      .join(index.select(col("vec_id").as("nid"), col("embedding")), "nid")
      .join(broadcast(queries.select(col("qid"), col("qe"))), "qid")
      .select(col("qid"), col("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(rerank, k)
  }

  /** The probe set-up both searches share: the persisted centroid
    * model (nCells × dim, driver-held) picks each query's `nProbe`
    * nearest cells as a scan-local expression; the probe-cell set is
    * collected driver-side — bounded by nCells, not by data — and only
    * those directories are read ([[probedCellScan]]). Soft-deleted ids
    * ([[deleteFromIvfIndex]]) drop here: an id-only broadcast
    * anti-join on the pruned scan — cell pruning and the candidate
    * shapes are unchanged when no tombstones exist. Returns the
    * (qid, qe, cell) probes and the live probed rows. */
  private def probedIndex(spark: SparkSession, path: String,
                          queries: DataFrame,
                          nProbe: Int): (DataFrame, DataFrame) = {
    graft.functions.HashExpressions.register(spark)
    val centroids = loadCentroids(spark, path)
    val probes = queries
      .select(col("qid"), col("qe"),
        explode(topCells(centroids, col("qe"), nProbe)).as("cell"))
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // <= nCells values, not a data collect
    val scanned = probedCellScan(spark, path, cells.toIndexedSeq)
    val live = tombstoneIds(spark, path, graft.sources.Dfs.default)
      .map(t => scanned.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(scanned)
    (probes, live)
  }

  /** The probed cell directories of a persisted cell-partitioned
    * layout, read by name. A plain read of the cells root builds a
    * file index over EVERY cell before the partition filter prunes it:
    * one recursive listing of nCells directories per search batch,
    * which the 2048-cell `Probe annscale` measured dominating warm
    * search latency (and at object-store scale is nCells LIST calls).
    * One driver-side name listing picks the probed dirs that exist
    * (cells can be empty → never written); basePath keeps `cell` a
    * partition column. */
  private def probedCellScan(spark: SparkSession, path: String,
                             cells: Seq[Int]): DataFrame = {
    val cellsDir = s"$path/cells"
    val present = graft.sources.Dfs.default.listNames(cellsDir)
      .filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toInt).toSet
    val probedDirs = cells.filter(present).map(c => s"$cellsDir/cell=$c")
    if (probedDirs.isEmpty)
      spark.read.parquet(cellsDir).filter(col("cell").isin(cells: _*))
    else
      spark.read.option("basePath", cellsDir).parquet(probedDirs: _*)
  }

  /** The (vec_id, embedding) content fingerprint every IVF meta
    * records ([[Artifact.Fingerprint]]): computable identically from
    * an input corpus, an append batch and the persisted cells'
    * columns, so the meta describes the exact vector CONTENT — a
    * regenerated corpus with the same ids but new vectors rebuilds,
    * never reuses stale cells into a hash gate. */
  private[graft] def vectorFp(vecs: DataFrame): Artifact.Fingerprint =
    Artifact.Fingerprint.of(vecs.select(col("vec_id"), col("embedding")),
      "vec_id")

  /** The one IVF meta: layout version, build parameters, the PQ shape
    * when the layout carries one, then the [[vectorFp]] fingerprint.
    * Layout version 2 = the r13 fingerprint format change (vecIdSum
    * holds RESIDUE sums mod 1e9+7, not raw id sums). Bumping the
    * version makes the one-time rebuild of any v1 index attributable
    * to the intentional format change instead of reading as a silent
    * fingerprint mismatch (ADVICE r13). */
  private[graft] def ivfMeta(nCells: Int, refineIters: Int,
                             fp: Artifact.Fingerprint,
                             pq: Option[Pq] = None): Artifact.Meta =
    Artifact.Meta(Seq[(String, Any)]("version" -> 2, "nCells" -> nCells,
      "refineIters" -> refineIters) ++ pq.toSeq.flatMap(p => Seq(
      "nSub" -> p.nSub, "codesPerSub" -> p.codesPerSub,
      "pqIters" -> p.pqIters)): _*) ++ fp.meta("vecIdSum")

  /** A published meta re-rendered for new content `fp`: the build
    * parameters and PQ shape carry over — what append and compaction
    * republish. */
  private def ivfMetaWith(m: Artifact.Meta,
                          fp: Artifact.Fingerprint): Artifact.Meta =
    ivfMeta(m("nCells").toInt, m("refineIters").toInt, fp,
      m.get("nSub").map(n =>
        Pq(n.toInt, m("codesPerSub").toInt, m("pqIters").toInt)))

  /** The driver-held centroid model of a persisted index — ONE
    * loader for the search/append paths (code-review r10: the
    * collect+sort shape was triplicated). */
  private def loadCentroids(spark: SparkSession,
                            path: String): Seq[(Int, Seq[Float])] =
    spark.read.parquet(s"$path/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1))
      .sortBy(_._1).toSeq

  /** The driver-held PQ codebook of a layout built with `pq`; a
    * layout without one fails here, naming the missing table. */
  private def loadBooks(spark: SparkSession, path: String,
                        fs: graft.sources.Dfs = graft.sources.Dfs.default): Books = {
    require(fs.exists(s"$path/books"),
      s"no PQ codebook at $path/books: the IVF layout was built without pq")
    spark.read.parquet(s"$path/books")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .groupBy(_._1)
      .map { case (m, rows) =>
        m -> rows.sortBy(_._2).map(r => r._2 -> r._3).toSeq
      }
  }

  /** Per-query ADC lookup tables over PQ codebooks: for each query,
    * an (nSub x codesPerSub) table of exact query-subvector /
    * codeword dot products (index-ordered double folds — the
    * oracle-parity arithmetic). ONE builder for the on-disk and
    * in-memory PQ search paths. */
  private def pqQueryLut(spark: SparkSession, books: Books,
                         qs: Array[(Long, Seq[Float])]): DataFrame = {
    val nSub = books.size
    val subDim = books(0).head._2.size
    val lutRows = qs.map { case (qid, qv) =>
      val lut: Seq[Seq[Double]] = (0 until nSub).map { mi =>
        books(mi).map { case (_, ce) =>
          val qsub = qv.slice(mi * subDim, (mi + 1) * subDim)
          qsub.zip(ce).map { case (a, b) => a.toDouble * b.toDouble }.sum
        }
      }
      org.apache.spark.sql.Row(qid, lut)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(lutRows.toSeq, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("lut", ArrayType(ArrayType(DoubleType))))))
  }

  /** Restart-safe ensure of a [[writeIvfIndex]] layout at `path` —
    * the [[Artifact]] reuse-or-rebuild protocol. The meta records a
    * layout version, ALL build parameters (cells, refine iters, the
    * PQ shape when `pq` is set) and the [[vectorFp]] corpus
    * fingerprint (one columnar scan, negligible next to retraining
    * centroids and rewriting the corpus); a session whose meta matches
    * reuses the on-disk cells/centroids/books with no k-means, no PQ
    * training and no corpus rewrite — the "search 100 TB without
    * rebuilding the index" path. The `_tombstones` delete set is the
    * one piece of user state in the layout and is carried across a
    * rebuild. Returns true when the existing index was reused.
    *
    * Known limit: [[compactIvfCells]] physically drops deleted rows,
    * shrinks `_tombstones` to the ids still present and republishes
    * the fingerprint of what remains. An ensure over the full
    * PRE-delete corpus after that mismatches and rebuilds from it —
    * and the reclaimed ids, no longer tombstoned, come back. After a
    * compaction, ensure over the live corpus. */
  def ensureIvfIndex(embeddings: DataFrame, path: String,
                     nCells: Int = 16, refineIters: Int = 2,
                     pq: Option[Pq] = None,
                     fs: graft.sources.Dfs = graft.sources.Dfs.default): Boolean = {
    val index = Artifact.index(path, fs)
    val meta = ivfMeta(nCells, refineIters, vectorFp(embeddings), pq)
    // Crash recovery: a rebuild interrupted between the tombstone
    // stash-rename below and the restoring rename strands the user's
    // delete set at ${path}_tombstones_keep — and the next ensure
    // would rebuild WITHOUT it, silently resurrecting deletions (and
    // leaking the _keep dir forever). Re-adopt it first; the meta
    // file is written only after a fully successful rebuild, so a
    // leftover stash always implies the index dir has no live
    // tombstones of its own (code-review r10).
    val stash = s"${path}_tombstones_keep"
    val tombs = s"$path/_tombstones"
    if (fs.exists(stash)) {
      // MERGE rather than replace: deletes issued after the crash
      // (appended straight to a fresh _tombstones) must survive too.
      // Tombstones are append-only parquet files of vec_ids, read
      // through distinct(), so adopting the stash = moving its files
      // in beside whatever is already there.
      if (fs.exists(tombs)) {
        fs.listNames(stash).zipWithIndex.foreach { case (f, i) =>
          fs.rename(s"$stash/$f", s"$tombs/restored-$i-$f")
        }
        fs.delete(stash)
      } else fs.rename(stash, tombs)
      index.unpublish() // the interrupted rebuild is not trustworthy
    }
    index.isCurrent(meta) || {
      // tombstones survive the rebuild: they are USER deletions
      // layered on top of whatever layout serves the corpus, and the
      // corpus parquet still contains the deleted rows — a plain
      // rebuild silently resurrected every soft-deleted vector
      // (code-review r10)
      val hadTombs = fs.exists(tombs)
      if (hadTombs) { fs.delete(stash); fs.rename(tombs, stash) }
      index.rebuild(meta) {
        writeIvfIndex(embeddings, path, nCells, refineIters, pq)
        if (hadTombs) fs.rename(stash, tombs)
      }
      false
    }
  }

  /** Stable on-disk home for a corpus dir's IVF index
    * ([[Artifact.stableDir]]), so separate driver runs (fresh JVMs)
    * land on the SAME layout and [[ensureIvfIndex]] can reuse it. */
  private[graft] def ivfIndexPath(spark: SparkSession, dir: String): String =
    Artifact.stableDir(spark, "graft_ivf_index", dir)

  /** Grow a persisted [[writeIvfIndex]] layout IN PLACE with new
    * vectors — the maintenance path a production ANN index lives on
    * at 100 TB: centroids (and PQ codebooks) are a trained-once model
    * (k-means over a historical sample); arrivals route scan-locally
    * to their nearest cell, are PQ-encoded when the meta records a PQ
    * shape, and land as APPENDED parquet files inside the cell
    * partitions — no rewrite of existing files, no retraining, cost
    * O(new vectors). The meta fingerprint then advances by the
    * batch's ([[Artifact.Fingerprint]]'s composition law) and is
    * published atomically, so meta always describes disk truth: a
    * session's [[ensureIvfIndex]] over the grown corpus
    * reuses the index, and a crash between data and meta leaves a
    * stale fingerprint that can only cause a REBUILD — never a wrong
    * reuse. A caller that already fingerprinted the batch passes it
    * as `batchFp` and saves a read of the batch. */
  def appendIvfIndex(newVecs: DataFrame, path: String,
                     fs: graft.sources.Dfs = graft.sources.Dfs.default,
                     batchFp: Option[Artifact.Fingerprint] = None)
      : Unit = {
    val spark = newVecs.sparkSession
    graft.functions.HashExpressions.register(spark)
    val index = Artifact.index(path, fs)
    val old = index.meta
    val books = old.get("nSub").map(_ => loadBooks(spark, path, fs))
    // batch-only aggregates BEFORE the append; the fingerprint's
    // three components were chosen to COMPOSE, so the grown layout's
    // fingerprint is old + batch without rescanning the index — a
    // full-disk recompute here made every streaming micro-batch
    // O(index size), quadratic total ingest work (code-review r10).
    // Crash between append and meta publish leaves pre-append meta:
    // the next ensure over the grown corpus mismatches and rebuilds —
    // the same torn-state contract as before.
    val bfp = batchFp.getOrElse(vectorFp(newVecs))
    writeCells(newVecs, loadCentroids(spark, path), books, path,
      SaveMode.Append)
    index.publish(ivfMetaWith(old,
      Artifact.Fingerprint.from(old, "vecIdSum") + bfp))
  }

  /** The move-in-then-delete swap both compaction paths share: move
    * every parquet part of `tmp` into `dir`, then delete the parquet
    * files `dir` held before (the caller's pre-merge snapshot), then
    * drop `tmp`. A concurrent listing inside the window sees
    * old ∪ new — bounded duplicates, never a short dir; Spark part
    * names carry a write-job UUID, so the moves cannot collide. The
    * residual reader hazard is LOUD, not silent: a query that LISTED
    * `dir` before the swap and opens the old files after the deletes
    * fails with Spark's missing-file error and re-plans on retry —
    * it never returns a silently short or duplicated answer from a
    * stale plan. Single writer per layout (the caller's contract). */
  private def swapInMergedFiles(fs: graft.sources.Dfs, dir: String,
                                tmp: String,
                                oldFiles: Seq[String]): Unit = {
    fs.listNames(tmp).filter(_.endsWith(".parquet"))
      .foreach(n => fs.rename(s"$tmp/$n", s"$dir/$n"))
    oldFiles.foreach(n => fs.delete(s"$dir/$n"))
    fs.delete(tmp)
  }

  /** The pure size-tiered merge planner: sort (name, size) pairs
    * ascending, open a new bucket whenever a file's size exceeds
    * tierFactor × the current bucket's (floored) minimum, and return
    * ONLY the buckets holding ≥ minTierFiles members — those merge;
    * everything else (in particular the big base file, alone in its
    * tier) is left untouched. Extracted so the tiering decisions are
    * unit-testable against synthetic size distributions, independent
    * of real parquet file-size noise. */
  private[graft] def sizeTierBuckets(sized: Seq[(String, Long)],
                                     minTierFiles: Int, tierFactor: Long,
                                     minSizeBytes: Long): Seq[Seq[String]] = {
    val asc = sized.sortBy(_._2)
    val buckets = asc.foldLeft(List.empty[(Long, List[String])]) {
      case (Nil, (n, sz)) =>
        (math.max(sz, minSizeBytes), List(n)) :: Nil
      case (acc @ ((floor, names) :: rest), (n, sz)) =>
        if (sz <= floor * tierFactor) (floor, n :: names) :: rest
        else (math.max(sz, minSizeBytes), List(n)) :: acc
    }
    buckets.reverse.collect {
      case (_, names) if names.length >= minTierFiles => names.reverse
    }
  }

  /** Merge a cell's accumulated small append files — the IVF twin
    * of [[graft.operators.Dedup.compactLshIndex]] (the r11 100-batch
    * LSH probe found small-file accumulation throttling probe
    * latency; the r12 `Probe growth ann` run (PERF_r12) measured the
    * SAME linear growth here — nCells files per streamed micro-batch).
    * SIZE-TIERED (Cassandra STCS shape, [[sizeTierBuckets]]): fresh
    * micro-batch files merge among themselves into a medium file,
    * mediums into a large one when enough accumulate, and a cell's
    * big base file is untouched until its own tier fills. Each byte
    * is rewritten O(log_tierFactor(index/batch)) times TOTAL, so
    * per-batch rewrite bytes stay bounded as the index grows — unlike
    * leveling, which rewrites a crowded cell wholesale (leveling is
    * the special case `minTierFiles = maxFilesPerCell + 1` with a
    * `minSizeBytes` above every file size, all of a cell's files in
    * one tier). `minSizeBytes` floors the bucket threshold so KB-scale
    * stream droppings coalesce regardless of their exact sizes.
    *
    * Content (and so the fingerprint) is unchanged, but the meta
    * still can't stay published through the swaps: [[ensureIvfIndex]]
    * compares the meta FILE, never disk content, so a crash mid-swap
    * (merged file moved in, old files not yet deleted → duplicated
    * rows) would leave a torn layout that ensure reuses. The pass
    * runs inside the [[Artifact.maintain]] bracket instead: a torn
    * pass reads as index-absent and rebuilds. Single writer (the
    * caller's contract). Returns the touched cell ids. */
  def compactIvfSizeTiered(spark: SparkSession, path: String,
                           minTierFiles: Int = 4,
                           tierFactor: Long = 8,
                           minSizeBytes: Long = 64L * 1024,
                           fs: graft.sources.Dfs = graft.sources.Dfs.default)
      : Seq[Int] = {
    require(minTierFiles >= 2 && tierFactor >= 2,
      s"size-tiered compaction needs minTierFiles >= 2 and " +
        s"tierFactor >= 2 (got $minTierFiles, $tierFactor)")
    val cellsDir = s"$path/cells"
    // plan first (pure listing work), touch disk only if needed
    val plans: Seq[(Int, Seq[String])] =
      fs.listDirNames(cellsDir).filter(_.startsWith("cell="))
        .sortBy(_.stripPrefix("cell=").toInt)
        .flatMap { d =>
          val cell = d.stripPrefix("cell=").toInt
          val sized = fs.listFileSizes(s"$cellsDir/$d")
            .filter(_._1.endsWith(".parquet"))
          sizeTierBuckets(sized, minTierFiles, tierFactor, minSizeBytes)
            .map(cell -> _)
        }
    if (plans.nonEmpty) Artifact.index(path, fs).maintain { saved =>
      plans.foreach { case (cell, names) =>
        val dir = s"$cellsDir/cell=$cell"
        val tmp = s"$path/_compact_tmp/cell=$cell"
        fs.delete(tmp)
        // merge ONLY the bucket's files — the whole point: files
        // outside the bucket (the big base file) are never read or
        // rewritten by this pass
        spark.read.parquet(names.map(n => s"$dir/$n"): _*).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        swapInMergedFiles(fs, dir, tmp, names)
      }
      fs.delete(s"$path/_compact_tmp")
      saved
    }
    plans.map(_._1).distinct
  }

  /** Delete vectors from a persisted [[writeIvfIndex]] layout by
    * TOMBSTONE — the O(|delete batch|) maintenance path every
    * production ANN index runs (Lucene/Milvus-style soft delete):
    * deleted ids land as an appended parquet delete-set under
    * `_tombstones/`, no cell file is touched, and every
    * [[searchIvfIndex]] anti-joins the (broadcast, id-only) set
    * before ranking. Physical reclamation is a separate, explicitly
    * scheduled [[compactIvfCells]] pass — the split that lets deletes
    * stay cheap while reads stay exact. */
  def deleteFromIvfIndex(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id").cast("long"))
      .write.mode(SaveMode.Append).parquet(s"$path/_tombstones")

  /** The delete set, None when it has no files. Read by naming its
    * files with their known schema: Spark treats a given path whose
    * name starts with `_` as hidden and warns that all paths were
    * ignored (it read them anyway), and a footer read would infer what
    * the writer fixes. */
  private def tombstoneIds(spark: SparkSession, path: String,
                           fs: graft.sources.Dfs): Option[DataFrame] = {
    val dir = s"$path/_tombstones"
    val files = fs.listNames(dir).filter(_.endsWith(".parquet"))
    if (files.isEmpty) None
    else Some(spark.read.schema("vec_id LONG").parquet(files.map(f => s"$dir/$f"): _*)
      .distinct())
  }

  /** Physically reclaim tombstoned rows: rewrite every cell whose
    * dead fraction reaches `minDeadFrac` (write-new → swap via
    * rename, the same never-in-place discipline as the merge
    * family), then shrink the tombstone set to ids still physically
    * present and recompute `_index_meta` from disk truth
    * ([[appendIvfIndex]]'s contract). Cost is O(touched cells), the
    * per-cell stats ride ONE scan into an nCells-bounded collect;
    * cells below the threshold keep paying the (broadcast) tombstone
    * anti-join instead of a rewrite — the standard dead-fraction
    * trade. Returns the compacted cell ids. */
  def compactIvfCells(spark: SparkSession, path: String,
                      minDeadFrac: Double = 0.1,
                      fs: graft.sources.Dfs = graft.sources.Dfs.default)
      : Seq[Int] = {
    val tomb = tombstoneIds(spark, path, fs).getOrElse(return Seq.empty)
    val cells = spark.read.parquet(s"$path/cells")
    val stats = cells
      .join(broadcast(tomb.select(col("vec_id"), lit(1).as("dead"))),
        Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), count(col("dead")).as("nd"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val toCompact = stats.collect {
      case (c, n, nd) if nd > 0 && nd.toDouble / n >= minDeadFrac => c
    }.sorted.toSeq
    if (toCompact.isEmpty) return Seq.empty
    // the whole pass runs inside the maintenance bracket: the stored
    // fingerprint still matches the pre-compact corpus, so a crash
    // mid-rewrite would otherwise let a later ensure REUSE the torn
    // layout. With meta gone, torn reads as absent and ensure rebuilds
    val index = Artifact.index(path, fs)
    val old = index.meta
    index.maintain { _ =>
      toCompact.foreach { c =>
        val dir = s"$path/cells/cell=$c"
        val tmp = s"$path/_compact_tmp_cell_$c"
        // same move-in-then-delete swap as [[compactIvfSizeTiered]]: a
        // concurrent search listing mid-swap sees surviving rows twice
        // (dead rows stay masked — the tombstone set only shrinks
        // AFTER this loop), never a missing cell
        val oldFiles = fs.listNames(dir).filter(_.endsWith(".parquet"))
        spark.read.parquet(dir)
          .join(broadcast(tomb), Seq("vec_id"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        swapInMergedFiles(fs, dir, tmp, oldFiles)
      }
      // tombstones shrink to ids still physically present (cells kept
      // below the threshold); an emptied set deletes the dir outright.
      // The shrink swap must keep the VISIBLE set a SUPERSET of the
      // true dead set at every instant: a delete-dir→rename order has
      // a window with NO tombstone dir while under-threshold cells
      // still hold dead rows — a concurrent search returns them, and a
      // crash there resurrects them PERMANENTLY (both the rebuild path
      // and [[tombstoneIds]] key off the dir's existence, and neither
      // knows about `_tombstones_tmp`). Same move-in-then-delete swap
      // as the cells: the transient old ∪ new union only carries extra
      // ids whose rows are no longer physically present — a no-op for
      // the anti-joins — and the read side distinct()s duplicates.
      val remaining = tomb.join(
        spark.read.parquet(s"$path/cells").select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      val tombsDir = s"$path/_tombstones"
      val tmpT = s"$path/_tombstones_tmp"
      val oldTombFiles = fs.listNames(tombsDir).filter(_.endsWith(".parquet"))
      val (counted, remainCount) =
        Snapshot.observe[Long](remaining, "compactIvfCells", Snapshot.rowCount)
      counted.write.mode(SaveMode.Overwrite).parquet(tmpT)
      val nRemain = remainCount()
      if (nRemain > 0) swapInMergedFiles(fs, tombsDir, tmpT, oldTombFiles)
      else {
        // every dead row was physically removed by the rewrites above,
        // so an absent set is correct at any crash point from here on
        fs.delete(tombsDir)
        fs.delete(tmpT)
      }
      // meta keeps describing PHYSICAL cell content (the append-path
      // contract): recompute the fingerprint from the compacted layout
      Some(ivfMetaWith(old, vectorFp(spark.read.parquet(s"$path/cells"))))
    }
    toCompact
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine ≥ `threshold`. Discovery via multi-table SRP-LSH buckets
    * (same-bucket-in-any-table candidates — at 100 TB this replaces
    * the quadratic all-pairs product), exact cosine verification on
    * candidates. High thresholds (≥0.9 ≈ <26° angle) give the banding
    * near-total recall with few tables.
    *
    * Skew guard (same as [[Dedup.minhashPairs]]): buckets above
    * `maxBucket` are dropped — a hot bucket means that hyperplane set
    * is non-discriminative for the corpus, and expanding it would go
    * quadratic; with `tables` independent tables a genuine near-dup
    * pair still co-buckets elsewhere. `bits` must grow ~log₂(N): the
    * expected bucket size is N/2^bits per table, so at 10⁹ vectors you
    * want bits ≈ 24-28, not the 4 suitable for the sf0.1 corpus. */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double,
                        bits: Int = 4, tables: Int = 16,
                        maxBucket: Int = 256): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    graft.functions.HashExpressions.registerSrp(embeddings.sparkSession, bits, tables)
    val bucketed = embeddings.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        srpBucket(col("embedding"), bits, t)): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    // per-bucket expansion with the hot-bucket cap; the shuffle
    // carries only (tbl, bucket, vec_id) — vectors join back onto the
    // surviving narrow pair keys
    val buckets = bucketed.groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val cand = buckets.select(explode(flatten(
        transform(col("ids"), a =>
          filter(transform(col("ids"), b =>
            when(a < b, struct(a.as("id_a"), b.as("id_b")))),
            x => x.isNotNull)))).as("p"))
      .select(col("p.*")).distinct()
      .join(embeddings.select(col("vec_id").as("id_a"),
        col("embedding").as("ea")), "id_a")
      .join(embeddings.select(col("vec_id").as("id_b"),
        col("embedding").as("eb")), "id_b")
    cand.select(col("id_a"), col("id_b"), cosine(col("ea"), col("eb")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"),
        (round(col("sim") * 1e4) / 1e4).as("sim"))
  }

  /** Symmetric int8 quantization of the embedding column — the
    * storage/bandwidth form every vector pipeline ships (4× smaller
    * than float32, rerank in float on the shortlist). Per-vector
    * max-abs scale; code_i = floor(x_i/scale·127 + 0.5) (explicit
    * floor-of-shifted instead of round(): half-way rounding is then
    * bit-identical across engines). A zero vector quantizes to zero
    * codes. Pure per-row column work — zero shuffle, scan speed. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    embeddings
      .select(col("vec_id"), col("embedding"), scale.as("scale"))
      .select(col("vec_id"), col("embedding"), col("scale"),
        transform(col("embedding"), x =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(floor(x.cast("double") / col("scale") * 127.0 + 0.5)
              .cast("long"))).as("codes"))
  }

  // ------------------------------------------- product quantization //

  /** A PQ codebook: subspace m → its (code, codeword) pairs. */
  private type Books = Map[Int, Seq[(Int, Seq[Float])]]

  /** Subvector m of an embedding split into `m`-of-`nSub` subspaces. */
  private def subVec(v: Column, mi: Int, subDim: Int): Column =
    slice(v, mi * subDim + 1, subDim)

  /** All nSub argmin-L2 codes in one compiled kernel call
    * ([[graft.functions.HashExpressions.PqCodes]]) — the codebook
    * bakes into the expression as a flat literal, so assignment is a
    * single scan-local primitive loop: no crossJoin, no shuffle, and
    * none of the nSub×k interpreted lambda evaluations the unrolled
    * struct-array formulation paid (13.2 s → see PERF_r08). Ties
    * break toward the smaller code. */
  private def pqCodesCol(books: Books): Column =
    graft.functions.HashExpressions.pq_codes(col("embedding"),
      flatBooks(books), books.size, books(0).size)

  /** (m, code)-major flattening of the codebook for the kernel. */
  private def flatBooks(books: Books): Array[Float] =
    (0 until books.size).flatMap(mi => books(mi).flatMap(_._2)).toArray

  /** Per-subspace K-centroid codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11), trained by
    * Lloyd iterations with deterministic seeds (subvectors of the
    * first `k` vectors). ALL subspaces train in ONE job per
    * iteration: assignments for every subspace emit as (m, code, sub)
    * rows from a single scan (explode factor × nSub, but each row
    * carries dim/nSub floats — the shuffle moves exactly one corpus
    * width per iteration), then one (m, code) aggregation computes
    * every mean. The model is nSub×k×subDim floats driver-side — a
    * model pull, not a data collect. */
  def pqTrain(embeddings: DataFrame, nSub: Int, k: Int,
              iters: Int): Map[Int, Seq[(Int, Seq[Float])]] = {
    val dim = embeddings.select(size(col("embedding"))).first().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val subDim = dim / nSub
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    // codes are POSITIONS in the codebook (0..k-1 in seed-id order) —
    // stable even if the seed id range has gaps
    val seed = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1).map(_._2).zipWithIndex
    var books: Map[Int, Seq[(Int, Seq[Float])]] =
      (0 until nSub).map { mi =>
        mi -> seed.map { case (v, idx) =>
          idx -> v.slice(mi * subDim, (mi + 1) * subDim)
        }.toSeq
      }.toMap
    for (_ <- 0 until iters) {
      val means = embeddings
        .select(col("embedding"), pqCodesCol(books).as("codes"))
        .select(posexplode(array((0 until nSub).map { mi =>
          struct(lit(mi).as("m"),
            element_at(col("codes"), mi + 1).as("code"),
            subVec(col("embedding"), mi, subDim).as("sub"))
        }: _*)))
        .select(col("col.m").as("m"), col("col.code").as("code"),
          col("col.sub").as("sub"))
        .groupBy(col("m"), col("code"))
        .agg(array((0 until subDim).map(i =>
          avg(element_at(col("sub"), i + 1)).cast("float")): _*).as("ce"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
      // dead codes keep their previous centroid (cell count stable)
      books = books.map { case (mi, cents) =>
        mi -> cents.map { case (cd, old) =>
          cd -> means.getOrElse((mi, cd), old)
        }
      }
    }
    books
  }

  /** Encode every vector as nSub byte-sized codes plus its true norm
    * — the PQ-with-stored-norms layout (the codes approximate the
    * DIRECTION; the exact norm restores magnitude for cosine). 8
    * bytes + a float per vector at nSub=8: a 64-dim float corpus
    * compresses 32×, which is why PQ is the memory path at 100 TB. */
  def pqEncode(embeddings: DataFrame,
               books: Map[Int, Seq[(Int, Seq[Float])]]): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id") +: pqCodeCols(books): _*)
  }

  /** [[pqEncode]]'s two columns over `embedding` — ONE definition for
    * the encoder, the IVF cell rows ([[writeCells]]) and
    * [[pqAdcShortlist]]. */
  private def pqCodeCols(books: Books): Seq[Column] = Seq(
    pqCodesCol(books).as("codes"),
    sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)).as("xnorm"))

  /** The ADC score of a (`codes`, `xnorm`) row against its query's
    * `lut`: ≈ dot(q, x)/|x| — rank-equivalent to cosine for a fixed
    * query (|q| is constant per qid and drops out). */
  private def adcSim: Column =
    aggregate(zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + 1)),
      lit(0.0), (a, x) => a + x) / col("xnorm")

  /** PQ-ADC ANN: asymmetric distance computation (query vs codes)
    * shortlists, exact cosine reranks. Per query the driver computes
    * the nSub×k lookup table of subspace dot products; the scan then
    * scores a vector with nSub ARRAY LOOKUPS instead of a dim-wide
    * dot product — the table never decodes. At 100 TB the codes
    * table (32× smaller than the vectors) is what stays hot; only
    * the shortlisted rerank rows per query touch the full-width
    * corpus — combine with the IVF cell layout for the standard
    * IVF-PQ index.
    *
    * Shortlist sizing (the default, `shortlistFrac <= 0`) is DERIVED
    * from the code-space margin instead of guessed: every vector
    * carries its reconstruction residual ‖x − x̂‖ ([[graft.functions
    * .HashExpressions.PqResidual]], same scan as the codes), and
    * Cauchy–Schwarz bounds the ADC error per candidate —
    * |adc − true| ≤ ‖q‖·‖x − x̂‖/‖x‖ — so [sim−err, sim+err] brackets
    * the true score and the shortlist keeps exactly the candidates
    * whose interval overlaps the k-th best lower bound. Recall 1 by
    * construction at ANY corpus geometry: on clustered corpora (what
    * PQ is built for) the margins are thin and the shortlist is
    * cluster-sized regardless of N; on near-random corpora the
    * margins honestly say codes can't separate neighbors and the
    * shortlist approaches N — the truth the former flat 25%-of-N
    * default obscured (VERDICT r12 #3). An explicit
    * `shortlistFrac > 0` selects the fixed-fraction regime instead
    * (the tuning-knob mode `s_pq_clustered` pins at a true 5%). */
  def pqCosineTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                   nSub: Int = 8, codesPerSub: Int = 64,
                   refineIters: Int = 2, shortlistFrac: Double = 0.0,
                   minShortlist: Int = 100): DataFrame = {
    val short = pqAdcShortlist(embeddings, nQueries, k, nSub,
      codesPerSub, refineIters, shortlistFrac, minShortlist)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rerank = short
      .join(embeddings.select(col("vec_id").as("nid"), col("embedding")),
        "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(rerank, k)
  }

  /** The ADC shortlist stage of [[pqCosineTopK]] — (qid, nid) rerank
    * candidates — exposed so specs can measure shortlist SIZE (the
    * scale-honesty claim: margin-derived shortlists are cluster-sized
    * on structured corpora, independent of N). */
  private[graft] def pqAdcShortlist(embeddings: DataFrame, nQueries: Int,
                                    k: Int, nSub: Int, codesPerSub: Int,
                                    refineIters: Int,
                                    shortlistFrac: Double,
                                    minShortlist: Int): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val books = pqTrain(embeddings, nSub, codesPerSub, refineIters)
    val marginMode = shortlistFrac <= 0
    // ONE scan produces codes, norm, and (margin mode) the residual
    val coded = embeddings.select(col("vec_id") +: pqCodeCols(books) :+
      (if (marginMode)
        graft.functions.HashExpressions.pq_residual(col("embedding"),
          flatBooks(books), nSub, codesPerSub)
      else lit(0.0)).as("resid"): _*)
    // query-side model: nQueries × (nSub × k) dot-product LUT
    val qs = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val spark = embeddings.sparkSession
    val lutDf = pqQueryLut(spark, books, qs)
    val adc = coded.crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), adcSim.as("sim"),
        (col("resid") / col("xnorm")).as("relres"))
    if (marginMode) {
      // err = ‖q‖ · relres (the Cauchy–Schwarz bound); ‖q‖ rides a
      // broadcast nQueries-row frame, never a per-row recompute
      import org.apache.spark.sql.types._
      val qnormDf = spark.createDataFrame(
        java.util.Arrays.asList(qs.map { case (qid, qv) =>
          org.apache.spark.sql.Row(qid,
            math.sqrt(qv.foldLeft(0.0)((a, x) => a + x.toDouble * x)))
        }: _*),
        StructType(Seq(StructField("qid", LongType),
          StructField("qnorm", DoubleType))))
      pqMarginShortlist(adc.join(broadcast(qnormDf), "qid")
        .select(col("qid"), col("nid"), col("sim"),
          (col("qnorm") * col("relres")).as("err")), k)
    } else {
      val shortlist = math.max(minShortlist,
        math.ceil(embeddings.count() * shortlistFrac).toInt)
      topKPerQuery(adc.select(col("qid"), col("nid"), col("sim")),
        shortlist).select(col("qid"), col("nid"))
    }
  }

  /** Interval-overlap shortlist over ADC scores with per-candidate
    * error bounds: keep every candidate whose [sim−err, sim+err]
    * upper edge reaches the k-th largest LOWER edge. Soundness: a
    * true top-k neighbor j has true_j ≥ k-th largest true ≥ k-th
    * largest lower bound (each lower bound under-estimates its own
    * true score), and hi_j ≥ true_j — so j always survives the
    * filter, ties at the boundary included (the comparison is
    * inclusive, minus a 1e-9 float-slack). The k-th lower bound
    * comes from the same map-side-partial top-k aggregate as
    * [[topKPerQuery]] — one narrow shuffle of ≤ k rows per
    * partition, never a per-query global sort. Fewer than k
    * candidates → threshold −∞, keep all. */
  private[graft] def pqMarginShortlist(scored: DataFrame,
                                       k: Int): DataFrame = {
    val b = scored.select(col("qid"), col("nid"),
      (col("sim") - col("err")).as("lo"), (col("sim") + col("err")).as("hi"))
    // try_element_at, not element_at: under ANSI (the Spark 4
    // default) a plain element_at THROWS past the array end, so a
    // query with fewer than k candidates would crash instead of
    // taking the keep-all fallback (same ANSI-safety move as the
    // query/Paths array access)
    val thr = b.groupBy(col("qid"))
      .agg(graft.functions.HashExpressions
        .top_k_by_score(col("lo"), col("nid"), k).as("tk"))
      .select(col("qid"),
        coalesce(try_element_at(col("tk"), lit(k)).getField("sim"),
          lit(Double.MinValue)).as("thr"))
    b.join(broadcast(thr), "qid")
      .filter(col("hi") >= col("thr") - lit(1e-9))
      .select(col("qid"), col("nid"))
  }

  /** Per-query recall@k of an ANN result against the exact top-k:
    * the hits are the exact rows the ANN search also produced. With
    * parameters that achieve recall 1 this emits (qid, 1.0) per query
    * — and because every hash/centroid is deterministic and the
    * corpus fixed, a DuckDB oracle that computes recall of the exact
    * top-k against itself (trivially 1) hash-matches IFF the ANN
    * search recovered the entire exact top-k. Same proof shape as
    * `d_minhash_exact`: the oracle has no ANN in it at all. A missed
    * neighbor surfaces as a fractional recall (or a missing qid row)
    * and fails the driver compare. */
  /** Deterministic CLUSTERED corpus fixture: `nClusters`
    * well-separated splitmix64 centers, `perCluster` members each at
    * small uniform noise, ids interleaved so the PQ codebook seeds
    * (the first ids) span every cluster. The sf embeddings tables are
    * near-random — honest gates over them need apologetically wide
    * shortlists — so THIS corpus is what certifies the few-percent-
    * shortlist regime the ANN knobs target at 100 TB: structure is
    * what PQ/IVF are designed for. Generation is closed-form per
    * (id, dim) and builds distributed (one projection over a range
    * scan, no driver-side materialization), so the same fixture
    * definition scales to any size. */
  def clusteredCorpus(spark: SparkSession, nClusters: Int = 32,
                      perCluster: Int = 64, dim: Int = 64,
                      noise: Double = 0.05): DataFrame = {
    graft.functions.HashExpressions.register(spark)
    // splitmix64(seed) → uniform in [-1, 1): closed-form kernel, so
    // member vectors are a pure projection of the row id
    def unif(seed: Column): Column =
      graft.functions.HashExpressions.splitmix_unif(seed.cast("long"))
    val center = (d: Int) => unif((col("id") % nClusters) * 1031 + d)
    val member = (d: Int) =>
      (center(d) + lit(noise) * unif(lit(1000003L) + col("id") * 131 + d))
        .cast("float")
    spark.range(0, nClusters.toLong * perCluster)
      .select(col("id").as("vec_id"),
        array((0 until dim).map(member): _*).as("embedding"),
        (col("id") % nClusters).cast("int").as("label"))
  }

  def annRecall(ann: DataFrame, exact: DataFrame, k: Int): DataFrame =
    exact.select(col("qid"), col("nid"))
      .join(ann.select(col("qid"), col("nid")), Seq("qid", "nid"),
        "left_semi")
      .groupBy(col("qid"))
      .agg((count(lit(1)).cast("double") / k).as(s"recall_at_$k"))

  /** Matryoshka / dimension-adaptive search (Kusupati et al. '22):
    * coarse-rank every candidate by the PREFIX `mDims` dimensions
    * only, keep a per-query shortlist, then exact full-dimension
    * rerank. With MRL-trained embeddings the prefix is a faithful
    * coarse embedding by construction; the same two-phase shape is
    * what a production stack runs to cut the scan's flop count
    * mDims/dim (here 4×) before the precise pass.
    *
    * Scale shape: the coarse pass is the only corpus-wide work and it
    * reads mDims floats per vector (a column-pruned narrow scan when
    * prefixes are stored as their own column); both phases reduce
    * through the k-bounded heap aggregate — no window sort, and the
    * rerank touches only nQueries·shortlist rows. */
  def matryoshkaTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                     mDims: Int, shortlist: Int): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val coarse = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(slice(col("qe"), 1, mDims),
          slice(col("embedding"), 1, mDims)).as("sim"))
    val cand = topKPerQuery(coarse, shortlist)
      .select(col("qid"), col("nid"))
    cand
      .join(broadcast(q), "qid")
      .join(embeddings.select(col("vec_id").as("nid"), col("embedding")),
        "nid")
      .select(col("qid"), col("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
      .transform(topKPerQuery(_, k))
  }

  /** SemDeDup (Abbas et al. '23): semantic deduplication of an
    * embedding corpus — cluster, then within each cluster drop every
    * vector that has a sufficiently-similar peer, keeping one
    * representative per near-duplicate group. The pruning policy is
    * deterministic: a vector is dropped iff a SMALLER-id cluster-mate
    * sits at cosine ≥ `tau` (the paper keeps the entry closest to the
    * centroid; an id-based keeper is order- and run-stable, which the
    * hash gate needs).
    *
    * `cluster` is caller-supplied: the registry entry uses a
    * closed-form SRP bucket (so the DuckDB oracle can re-derive the
    * clustering from literal hyperplane signs); production would pass
    * [[nearestCell]] over k-means centroids — the spec pins that
    * variant against brute force. Scale shape: ONE shuffle on the
    * cluster key, pairwise work bounded by cluster size (k is chosen
    * ~N/⟨cluster⟩ precisely to cap it — the paper's 50k clusters for
    * 5 B embeddings), survivors via a broadcast-able anti join on the
    * narrow dropped-id set. */
  def semanticDedup(embeddings: DataFrame, cluster: Column,
                    tau: Double): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val c = embeddings.select(col("vec_id"), col("embedding"),
      cluster.cast("long").as("cl"))
    val dropped = c.as("a")
      .join(c.as("b"),
        col("a.cl") === col("b.cl") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    c.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cl"))
  }

  /** Scan-local k-means cell assignment (vec_id, cl) over a freshly
    * refined driver-held model — the clustering itself as a
    * first-class output (feeds [[semanticDedup]], per-cluster
    * sampling, stratified stats). */
  def kmeansAssign(embeddings: DataFrame, nCells: Int,
                   refineIters: Int): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"),
      nearestCell(refinedCentroids(embeddings, nCells, refineIters),
        col("embedding")).cast("long").as("cl"))
  }

  /** [[semanticDedup]] over the k-means clustering — the production
    * SemDeDup shape (the registry entry uses SRP clusters so DuckDB
    * can re-derive them; this variant is pinned against brute force
    * in OperatorsSpec). */
  def kmeansSemanticDedup(embeddings: DataFrame, nCells: Int,
                          refineIters: Int, tau: Double): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    semanticDedup(embeddings,
      nearestCell(refinedCentroids(embeddings, nCells, refineIters),
        col("embedding")), tau)
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query, the top-k most similar vectors with a DIFFERENT label
    * (same-label vectors are positives, the near-miss negatives are
    * the ones worth training on). Identical scale shape to
    * [[cosineTopK]]: broadcast query set (with labels), scan-local
    * scoring with the label filter fused into the scan, k-bounded
    * heap reduction — the corpus is never shuffled. In production the
    * brute-force scan swaps for any ANN path above (IVF cells /
    * LSH buckets) with the label predicate pushed into the probe. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKPerQuery(scored, k)
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein '98): greedily select k of the nCand most-similar
    * candidates, each step maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — relevance minus
    * redundancy, the standard rerank for RAG retrieval and for
    * picking diverse exemplars from a near-duplicate-heavy corpus.
    *
    * Scale shape: candidate generation is [[cosineTopK]] (swap in any
    * ANN path at scale); everything after runs on nQueries×nCand rows
    * — the candidate and pairwise-sim tables are snapshotted once,
    * then each of the k−1 greedy rounds is a narrow join + per-query
    * argmax over ≤nCand rows, independent of corpus size. Windows
    * here partition by qid over ≤nCand rows — bounded, never a
    * global sort. Determinism: all sims rounded to 1e-4 BEFORE
    * selection and ties broken by nid, so the greedy trajectory is
    * engine-reproducible (the DuckDB oracle unrolls the same k
    * rounds). */
  def mmrTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nCand: Int = 10, lambda: Double = 0.7,
              lambdaComp: Double = 0.3,
              localPairGate: Long = MmrLocalPairs): DataFrame = {
    // lambdaComp is a SEPARATE literal (not derived 1 - lambda)
    // because 1 - 0.7 != 0.3 in doubles and the oracle restates the
    // same source literals — but the two must still form an MMR
    // convex combination, so a caller changing one without the other
    // fails loudly instead of silently re-weighting (code-review r10)
    require(math.abs(lambda + lambdaComp - 1.0) < 1e-9,
      s"mmrTopK: lambda + lambdaComp must be 1, got $lambda + $lambdaComp")
    import org.apache.spark.sql.expressions.Window
    graft.functions.HashExpressions.register(embeddings.sparkSession)
    val cand = Snapshot(
      cosineTopK(embeddings, nQueries, nCand), "mmr_cand").df
    // Driver-local greedy (r14): everything AFTER the corpus-scale
    // cosineTopK discovery is bounded by the CALLER'S PARAMETERS —
    // ≤ nQueries·nCand candidate rows and nCand² pair sims per query
    // — i.e. driver model state by construction, independent of
    // corpus size (the gate is a pure parameter check, no job). The
    // distributed loop's cost at that size is pure scheduling: one
    // pair-snapshot write plus a selection-snapshot write and two
    // joins PER ROUND (measured 33 jobs / 1.9 s warm at sf0.1 for 50
    // output rows). The local loop replays the identical trajectory:
    // Kernels.cosine's exact fold, the same round(x*1e4)/1e4
    // quantization BEFORE selection (Spark Round = BigDecimal
    // HALF_UP, the pageRankLocal device), max-pair-sim diversity
    // penalty, (raw DESC, nid ASC) ties. Callers with a genuinely
    // huge query batch keep the unchanged distributed loop.
    if (nQueries.toLong * nCand * nCand <= localPairGate)
      return mmrLocal(cand, embeddings, k, lambda, lambdaComp)
    val cv = cand.select(col("qid"), col("nid"), col("sim"))
      .join(embeddings.select(col("vec_id").as("nid"), col("embedding")),
        "nid")
    val pair = Snapshot(
      cv.as("a").join(cv.as("b"),
          col("a.qid") === col("b.qid") && col("a.nid") =!= col("b.nid"))
        .select(col("a.qid").as("pq"), col("a.nid").as("na"),
          col("b.nid").as("nb"),
          (round(cosine(col("a.embedding"), col("b.embedding")) * 1e4) / 1e4)
            .as("ps")),
      "mmr_pairs").df
    var sel = cand.filter(col("rk") === 1)
      .select(col("qid"), col("nid"), col("sim").as("score"),
        lit(1).as("step"))
    for (j <- 2 to k) {
      val remaining = cand.select(col("qid"), col("nid"), col("sim"))
        .join(sel.select(col("qid"), col("nid")), Seq("qid", "nid"),
          "left_anti")
      val m = remaining.as("c")
        .join(pair, col("c.qid") === col("pq") && col("c.nid") === col("na"))
        .join(sel.select(col("qid").as("sq"), col("nid").as("sn")),
          col("pq") === col("sq") && col("nb") === col("sn"))
        .groupBy(col("c.qid").as("qid"), col("c.nid").as("nid"),
          col("c.sim").as("sim"))
        .agg(max(col("ps")).as("ms"))
        .withColumn("raw",
          lit(lambda) * col("sim") - lit(lambdaComp) * col("ms"))
      val pick = m.withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("raw").desc, col("nid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("nid"),
          (round(col("raw") * 1e4) / 1e4).as("score"), lit(j).as("step"))
      // pin the ≤ nQueries·j-row selection: each round references it
      // TWICE (anti-join + diversity join), so an unpinned chain
      // doubles the plan per round — 2^k copies of the candidate scan
      // by round k (measured: 27 s for k=5 at sf0.1; pinned: <3 s).
      // Write-and-readback, not localCheckpoint: checkpoint blocks
      // register as persistent RDDs for the session's life, which the
      // PersistHygiene gate forbids for registry queries
      sel = Snapshot(sel.unionByName(pick), s"mmr_sel$j").df
    }
    sel.select(col("qid"), col("nid"), col("score"),
      col("step").cast("int").as("step"))
  }

  /** Pair-budget gate for [[mmrTopK]]'s driver-local plan mode:
    * nQueries·nCand² bounded means the post-discovery state is
    * parameter-sized, not data-sized. */
  private val MmrLocalPairs = 1L << 20

  /** The [[mmrTopK]] greedy loop on the driver — identical arithmetic
    * and tie-breaks to the distributed rounds (see call-site comment).
    * `cand` is the materialized cosineTopK output (qid, nid, sim, rk),
    * ≤ nQueries·nCand rows by construction. */
  private def mmrLocal(cand: DataFrame, embeddings: DataFrame, k: Int,
                       lambda: Double, lambdaComp: Double): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    def rnd4(v: Double): Double = java.math.BigDecimal.valueOf(v * 1e4)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e4
    // same per-index float→double fold as Kernels.cosine
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = cand.select(col("qid"), col("nid"), col("sim"), col("rk"))
      .join(embeddings.select(col("vec_id").as("nid"), col("embedding")),
        "nid")
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("sim"), r.getAs[Int]("rk"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray))
    val out = Vector.newBuilder[(Long, Long, Double, Int)]
    rows.groupBy(_._1).foreach { case (qid, cs) =>
      val first = cs.find(_._4 == 1).get
      var sel = Vector((first._2, first._5))
      out += ((qid, first._2, first._3, 1))
      var j = 2
      while (j <= k) {
        val remaining = cs.filter(c => !sel.exists(_._1 == c._2))
        if (remaining.nonEmpty) {
          var bestNid = 0L; var bestRaw = Double.NegativeInfinity
          var bestEmb: Array[Float] = null
          remaining.foreach { c =>
            var ms = Double.NegativeInfinity
            sel.foreach(s => ms = math.max(ms, rnd4(cos(c._5, s._2))))
            val raw = lambda * c._3 - lambdaComp * ms
            if (raw > bestRaw || (raw == bestRaw && c._2 < bestNid)) {
              bestRaw = raw; bestNid = c._2; bestEmb = c._5
            }
          }
          sel :+= ((bestNid, bestEmb))
          out += ((qid, bestNid, rnd4(bestRaw), j))
        }
        j += 1
      }
    }
    out.result().toDF("qid", "nid", "score", "step")
      .select(col("qid"), col("nid"), col("score"),
        col("step").cast("int").as("step"))
  }

  /** Per-label embedding centroids, computed FULLY distributed (the
    * labeled-prototype complement of the driver-held IVF centroid
    * model): posexplode to (label, dim, value) and aggregate. Map-side
    * partial aggregation collapses every partition to ≤ labels×dims
    * running sums before the shuffle, so the exchange carries model-
    * sized rows regardless of corpus size — this is how you compute
    * class prototypes (for classification, SemDeDup seeding, or
    * per-source embedding drift monitoring) over 100 TB without any
    * driver collect. */
  def labelCentroids(df: DataFrame): DataFrame =
    df.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        // + 0.0 folds IEEE −0.0 into +0.0: a near-zero mean's SIGN is
        // summation-order noise, and ±0.0 — numerically equal —
        // render differently, which desyncs canonical row order in
        // engine-compare harnesses (bit at 10× where per-dim means of
        // near-random floats round to ±0.0)
        (round(avg(col("v").cast("double")) * 1e4) / 1e4 + 0.0).as("c"))

  /** Greedy k-center coreset selection (farthest-point traversal):
    * start from the seed (vec_id 0), then k−1 times add the point
    * whose squared-L2 distance to its nearest already-selected center
    * is maximal (ties → smaller vec_id). The classic 2-approximation
    * for the k-center objective — the standard "diverse subset"
    * primitive for data-selection / coreset construction in training
    * pipelines.
    *
    * Execution shape: the selected-center set is BOUNDED DRIVER MODEL
    * STATE (k vectors — the IVF-centroid contract), so each round is
    * one flat scan of the corpus evaluating `least(d2(e,c1), ...,
    * d2(e,cj))` — a single codegen'd expression over broadcast
    * literals — followed by a 1-row argmax collect. Plans never
    * chain round-over-round (each round rebuilds from the base scan),
    * so there is no 2^k plan growth and nothing to materialize or
    * persist. Total work O(n·k²) distance evaluations; the
    * alternative (persist a running min-dist column, O(n·k)) pays a
    * corpus-sized state write per round — the wrong trade below
    * thousands of centers. At 100 TB: k scans of a columnar table
    * are embarrassingly parallel; production selects over a
    * stratified sample or maintains the running-dist column in a
    * bucketed table (the `d_incremental` layout) when k is large.
    *
    * Distance arithmetic is index-ordered double folds on both sides
    * (`zip_with`+`aggregate` here, `list_transform`+`list_reduce` in
    * the oracle), so selection — argmax over exact IEEE doubles —
    * agrees bit-for-bit with the unrolled-CTE restatement. */
  def kCenter(embeddings: DataFrame, k: Int,
              localGate: Long = KCenterLocalRows): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    // Tiny-corpus plan mode (r14 — the pageRankLocal/TinyCcEdges
    // device): below the gate the corpus IS bounded driver model
    // state (≤ ~50 MB of vectors), and the k-round loop's cost is
    // pure scheduling — measured 18 jobs / 3.6 s warm for 2,000
    // vectors at sf0.1, where one collect + a local loop is ~0.3 s.
    // The local loop computes the IDENTICAL greedy trajectory: same
    // per-index float→double (a−b)² left fold as the zip_with/
    // aggregate expression, min over centers (exact, order-free),
    // argmax with the same (dist DESC, vec_id ASC) tie-break, and the
    // shared final round()-select. The count gate is metadata-only on
    // a bare scan; real corpora keep the unchanged distributed loop.
    val picked: Vector[(Int, Long, Double)] =
      if (e.count() <= localGate) {
        val rows = e.collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        val byId = rows.toMap
        val seed = byId.getOrElse(0L, throw new NoSuchElementException(
          "kCenter: seed vec_id 0 absent"))
        def d2(v: Array[Float], c: Array[Float]): Double = {
          var acc = 0.0; var i = 0
          while (i < v.length) {
            val d = v(i).toDouble - c(i).toDouble; acc += d * d; i += 1
          }
          acc
        }
        var centers = Vector(0L -> seed)
        var sel = Set(0L)
        var out = Vector((1, 0L, 0.0))
        var j = 2
        while (j <= k) {
          var bestId = 0L; var bestD = Double.NegativeInfinity
          rows.foreach { case (id, v) =>
            if (!sel(id)) {
              var dmin = Double.PositiveInfinity
              centers.foreach(c => dmin = math.min(dmin, d2(v, c._2)))
              if (dmin > bestD || (dmin == bestD && id < bestId)) {
                bestD = dmin; bestId = id
              }
            }
          }
          // mirrors the distributed head() on an exhausted candidate set
          if (bestD == Double.NegativeInfinity)
            throw new NoSuchElementException("kCenter: k exceeds corpus size")
          centers :+= (bestId -> byId(bestId))
          sel += bestId
          out :+= ((j, bestId, bestD))
          j += 1
        }
        out
      } else {
        def d2(center: Array[Float]): Column =
          aggregate(
            zip_with(col("embedding"), typedLit(center), (a, b) => {
              val d = a.cast("double") - b.cast("double"); d * d
            }),
            lit(0.0), (acc, x) => acc + x)
        val seed = e.filter(col("vec_id") === 0L)
          .select(col("embedding")).as[Array[Float]].head()
        // bounded driver model state: k center vectors + their ids
        var centers = Vector(0L -> seed)
        var out = Vector((1, 0L, 0.0))
        var j = 2
        while (j <= k) {
          val dist = centers.map(c => d2(c._2)) match {
            case Seq(one) => one
            case many     => least(many: _*)
          }
          val row = e.filter(!col("vec_id").isInCollection(centers.map(_._1)))
            .select(col("vec_id"), col("embedding"), dist.as("dist"))
            .orderBy(col("dist").desc, col("vec_id"))
            .limit(1).head()
          centers :+= (row.getLong(0) -> row.getSeq[Float](1).toArray)
          out :+= ((j, row.getLong(0), row.getDouble(2)))
          j += 1
        }
        out
      }
    picked.toDF("rank", "vec_id", "dist")
      .select(col("rank"), col("vec_id"),
        (round(col("dist") * 1e6) / 1e6).as("dist"))
  }

  /** Row gate for [[kCenter]]'s driver-local plan mode: ≤ ~50 MB of
    * (id, ≤64-dim float) vectors — the bounded-driver-model regime
    * shared with `Dedup.TinyCcEdges` / `Graph.tinyPrSymEdges`. */
  private val KCenterLocalRows = 200000L

  /** Unrolled-CTE oracle for [[kCenter]] — the same greedy loop in
    * plain SQL: round j picks `ORDER BY dist DESC, vec_id LIMIT 1`
    * over `least`-folded exact-double distances, with no Spark
    * machinery in it. */
  private def kCenterOracleSql(k: Int): String = {
    def d2(v: String, c: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($v) + 1), i -> (CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE)) * (CAST($v[i] AS DOUBLE) - CAST($c[i] AS DOUBLE)))), (acc, x) -> acc + x)"
    val base =
      s"""WITH sel1 AS (SELECT 1 AS rank, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS DOUBLE) AS dist), d1 AS MATERIALIZED (SELECT a.vec_id, ${d2("a.embedding", "c.ce")} AS dist FROM embeddings a, (SELECT embedding AS ce FROM embeddings WHERE vec_id = 0) c)"""
    val rounds = (2 to k).map { j =>
      val prevD = s"d${j - 1}"; val prevS = s"sel${j - 1}"
      s"""p$j AS MATERIALIZED (SELECT vec_id, dist FROM $prevD WHERE vec_id NOT IN (SELECT vec_id FROM $prevS) ORDER BY dist DESC, vec_id LIMIT 1), sel$j AS MATERIALIZED (SELECT * FROM $prevS UNION ALL SELECT $j, vec_id, dist FROM p$j), d$j AS MATERIALIZED (SELECT d.vec_id, least(d.dist, ${d2("e.embedding", "c.ce")}) AS dist FROM $prevD d JOIN embeddings e ON e.vec_id = d.vec_id, (SELECT embedding AS ce FROM embeddings WHERE vec_id = (SELECT vec_id FROM p$j)) c)"""
    }.mkString(", ", ", ", "")
    s"$base$rounds SELECT CAST(rank AS INTEGER) AS rank, vec_id, round(dist*1e6)/1e6 AS dist FROM sel$k"
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_kcenter" -> ((s, dir) => kCenter(emb(s, dir), 16)),
    "s_centroids" -> ((s, dir) => labelCentroids(emb(s, dir))),
    "s_cosine_topk" -> ((s, dir) => cosineTopK(emb(s, dir), 10, 5)),
    // lexical (BM25) ⊕ dense (cosine, query vector 0) rank fusion —
    // both retrievers' lists n=20, the standard k0=60
    "s_rrf_hybrid" -> ((s, dir) =>
      rrfHybrid(docsT(s, dir), emb(s, dir), rrfTerms)),
    // top-5 cross-label neighbors per query — the contrastive-
    // training negatives; oracle is the same brute-force scoring with
    // the label predicate
    "s_hard_negatives" -> ((s, dir) => hardNegatives(emb(s, dir), 10, 5)),
    // greedy MMR over the exact top-10 candidates, k=5, λ=0.7 —
    // oracle unrolls the same 5 selection rounds as CTE stages over
    // identically-rounded sims, so the hash certifies the whole
    // greedy trajectory
    "s_mmr_topk" -> ((s, dir) => mmrTopK(emb(s, dir), 10, 5)),
    // oracled recall-1 proof of the multi-table SRP-LSH search: 3-bit
    // × 24-table banding recovers the exact top-5 of every query on
    // this corpus (verified at sf0.01 and sf0.1 — deterministic
    // hyperplanes, so the driver sees exactly this recall)
    "s_lsh_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      annRecall(lshCosineTopK(e, 10, 5, bits = 3, tables = 24),
        cosineTopK(e, 10, 5), 5)
    }),
    // oracled recall-1 proof of the binary-quantization scan+rerank:
    // a 25%-of-corpus Hamming shortlist over 512-bit codes recovers
    // the exact top-5 of every query (measured worst-case need ~10%
    // at both gate scales — 2.4× margin; the oracle has no codes, no
    // popcounts, no shortlist). 25% is the corpus-honest fraction for
    // these near-random vectors — the clustered-fixture spec pins the
    // few-percent regime, the same split as the PQ family.
    "s_hamming_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val short = math.ceil(e.count() * 0.25).toInt
      annRecall(hammingTopK(e, 10, 5, shortlist = short),
        cosineTopK(e, 10, 5), 5)
    }),
    // 0.4: the tail of this corpus's cosine distribution (max pairwise
    // ≈ 0.5 — the generator plants no true embedding duplicates).
    // bits ~ log2(N) for the 2000-vector corpus: 8 bits → 256 buckets
    // per table, mean bucket ≈ 8, so the bucket join probes ~8-row
    // buckets instead of expanding ~125-row ones into a near-complete
    // cross product (the bits=4 parameterization was brute force in an
    // LSH costume). maxBucket=64 (8× the mean) trips only on a
    // degenerate bucket. At this weak threshold (0.4 ≈ 66°) the
    // banding trades recall for pruning — the operator's recall and
    // no-false-positive behavior are pinned by OperatorsSpec at its
    // recall-oriented defaults. ORACLED as a mechanism restatement
    // (the mm_decode shape): the SrpBucket kernel's hyperplane signs
    // are a closed-form splitmix of (plane, dim) — [[srpSign]]
    // re-derives the exact ±1 matrix driver-side and the DuckDB
    // oracle restates sign(Σ v_j·s_j) bucketing, the hot-bucket cap,
    // pair expansion, and the cosine rerank over LITERAL sign lists.
    "s_embed_neardup" -> ((s, dir) =>
      embeddingNearDups(emb(s, dir), 0.4, bits = 8, maxBucket = 64)),
    // oracled recall-1 proof of the IVF probe. The near-random corpus
    // has almost no cell structure at this size, so exact recovery
    // takes a wide probe (12/16 cells, k-means-refined centroids) —
    // the honest small-corpus price; pruning economics only appear
    // when cells outnumber sqrt(N) at real scale. The probe/rerank
    // MECHANISM is what the hash match certifies.
    "s_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      annRecall(ivfCosineTopK(e, 10, 5, nCells = 16, nProbe = 12,
        refineIters = 2), cosineTopK(e, 10, 5), 5)
    }),
    // quantization summarized per vector (scale, code checksum, max
    // reconstruction error) — every number deterministic double
    // arithmetic, so the DuckDB restatement hash-matches exactly
    // oracled recall-1 proof of PQ-ADC: 8×64 codebooks (Lloyd-refined
    // from deterministic seeds), 25%-of-corpus ADC shortlist, exact
    // rerank — the oracle computes exact top-5 only, so the hash
    // match certifies the code-domain shortlist never dropped a true
    // neighbor (verified at sf0.01 AND sf0.1; 10% missed one → the
    // 25% margin is 2.5× the measured knife edge on this structure-
    // free corpus)
    // margin-derived shortlist (the default): the rerank set is the
    // interval-overlap cover from the per-vector reconstruction
    // residuals, so recall 1 holds by construction and the DuckDB
    // exact-top-5 oracle stays the strong proof. On THIS near-random
    // fixture the margins honestly approach the whole corpus (flat
    // PQ cannot separate neighbors without structure — the former
    // flat 25% default hid that); the clustered fixture below is
    // where the shortlist is cluster-sized (VERDICT r12 #3).
    "s_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      annRecall(pqCosineTopK(e, 10, 5), cosineTopK(e, 10, 5), 5)
    }),
    // oracled recall-1 proof of the COMPOSED on-disk index: IVF cell
    // pruning (12/16 probe, as s_ivf_ann) × PQ-ADC shortlisting (25%
    // of probed cells) × exact rerank, all over the persisted layout.
    // The index lives at a stable corpus-keyed location under the
    // _index_meta restart protocol (ensureIvfIndex with a PQ shape) —
    // the benched cost is the SEARCH, not a per-run k-means + PQ
    // train + corpus rewrite; the build path runs on first contact
    // with a corpus and is gated by the same hash (VERDICT r9 #2)
    "s_ivfpq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir) + "_pq"
      ensureIvfIndex(e, path, pq = Some(Pq()))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      annRecall(searchIvfPqIndex(s, path, q, 5), cosineTopK(e, 10, 5), 5)
    }),
    // the FEW-PERCENT-shortlist regime gate: PQ-ADC at a TRUE 5%
    // FIXED-FRACTION shortlist over the deterministic 32-cluster
    // corpus (structure is what PQ is designed for; s_pq_ann's
    // margin-derived default reaches the same regime automatically
    // there — this entry pins the explicit tuning-knob mode).
    // 2048 vectors × 0.05 = the exact
    // minShortlist=100 floor, so the shortlist really is 1-in-20.
    // The oracle pins recall ≡ 1 for every query id: hash equality
    // proves the code-domain shortlist dropped no true neighbor.
    "s_pq_clustered" -> ((s, dir) => {
      val e = clusteredCorpus(s)
      annRecall(pqCosineTopK(e, 10, 5, shortlistFrac = 0.05),
        cosineTopK(e, 10, 5), 5)
    }),
    // prefix-16-of-64 coarse rank + exact rerank of a 72-vector
    // shortlist (3.5% of the corpus): recall 1 on the clustered
    // fixture. The shortlist must EXCEED the cluster size (64):
    // prefix distances cleanly separate clusters but cannot order
    // WITHIN one (cluster-mates share the prefix up to noise), so a
    // sub-cluster shortlist drops true top-5 members on prefix noise
    // — measured recall 0.6 at shortlist=32, 1.0 above 64. The same
    // sizing rule applies in production: shortlist ≳ the expected
    // neighborhood the coarse metric cannot resolve.
    "s_matryoshka" -> ((s, dir) => {
      val e = clusteredCorpus(s)
      annRecall(matryoshkaTopK(e, 10, 5, mDims = 16, shortlist = 72),
        cosineTopK(e, 10, 5), 5)
    }),
    // the PERSISTED-index variant of s_ivf_ann: the cell-partitioned
    // layout lives at a stable location keyed by the corpus dir under
    // the _index_meta restart protocol (ensureIvfIndex), so
    // consecutive driver runs in FRESH JVMs reuse the on-disk index —
    // this entry gates the restart/reuse path itself, not just the
    // probed search. Probe parameters mirror s_ivf_ann (12/16,
    // refined centroids → recall 1 on this corpus); the oracle is the
    // exact top-5 recalled against itself, so hash equality proves
    // the persisted probe recovered every true neighbor.
    "s_ivf_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir)
      ensureIvfIndex(e, path, nCells = 16, refineIters = 2)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      annRecall(searchIvfIndex(s, path, q, 5, nProbe = 12),
        cosineTopK(e, 10, 5), 5)
    }),
    // index MAINTENANCE gate: the persisted IVF layout grown IN
    // PLACE — build on 90% of the corpus, append the remaining 10%
    // under the FROZEN centroid model (appendIvfIndex: no retraining,
    // no file rewrites), then search the grown index. The require
    // pins that ensureIvfIndex over the FULL corpus REUSES the grown
    // layout (meta advanced to disk truth) — if it rebuilt instead,
    // the gate errors rather than silently passing on a fresh full
    // index. The recall-1 oracle then certifies appended vectors are
    // fully searchable: the exact top-5 contains appended ids
    // wherever they are true neighbors, so a routing or visibility
    // bug in the append path breaks the hash.
    "s_ivf_append" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir) + "_grow"
      val fs = graft.sources.Dfs.default
      // the marker certifies the layout really is 90%-built + 10%-
      // appended; ANY rebuild (incl. one a broken append would
      // provoke inside ensureIvfIndex) deletes it, so a full-trained
      // index can never satisfy this gate — no silent pass
      val marker = s"$path/_grown.tsv"
      if (!(Artifact.index(path).isCurrent(ivfMeta(16, 2, vectorFp(e))) &&
          fs.exists(marker))) {
        fs.delete(path)
        ensureIvfIndex(e.filter(col("vec_id") % 10 =!= 7), path,
          nCells = 16, refineIters = 2)
        appendIvfIndex(e.filter(col("vec_id") % 10 === 7), path)
        fs.writeStringAtomic(marker, "split\tvec_id % 10 == 7\n")
      }
      require(ensureIvfIndex(e, path, nCells = 16, refineIters = 2) &&
        fs.exists(marker),
        "grown index must be reused, not rebuilt")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // probe wider than s_ivf_ann's 12/16: the centroids here are
      // trained on 90% of an already near-structureless corpus, so
      // cell boundaries shift slightly vs the full-trained gates;
      // 14/16 recovers recall 1 (pruning economics are s_ivf_ann /
      // s_ivf_indexed's job — THIS gate certifies appended-vector
      // visibility and reuse)
      annRecall(searchIvfIndex(s, path, q, 5, nProbe = 14),
        cosineTopK(e, 10, 5), 5)
    }),
    // soft-delete visibility gate: ensure the full-corpus index
    // (reuse protocol), overwrite the tombstone set with vec_id % 7
    // == 3 (idempotent — the gate's delete set is total, so re-runs
    // land the same state), then search. The exact side runs over
    // the LIVE corpus on BOTH engines, so recall 1 proves deleted
    // vectors neither appear as neighbors nor displace live ones.
    "s_ivf_delete" -> ((s, dir) => {
      val e = emb(s, dir)
      val path = ivfIndexPath(s, dir) + "_del"
      val fs = graft.sources.Dfs.default
      ensureIvfIndex(e, path, nCells = 16, refineIters = 2)
      fs.delete(s"$path/_tombstones")
      deleteFromIvfIndex(e.filter(col("vec_id") % 7 === 3), path)
      val live = e.filter(col("vec_id") % 7 =!= 3)
      val q = live.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      annRecall(searchIvfIndex(s, path, q, 5, nProbe = 14),
        cosineTopK(live, 10, 5), 5)
    }),
    // SemDeDup with a closed-form clustering (table-0 8-bit SRP
    // bucket → 256 clusters) and the corpus-calibrated 0.4 threshold
    // (see s_embed_neardup). ORACLED as a mechanism restatement: the
    // DuckDB SQL re-derives the clusters from LITERAL hyperplane
    // signs, re-runs the within-cluster pairwise cosine, and applies
    // the same smaller-id-wins keep policy — hash equality certifies
    // clustering, candidate generation, and pruning end to end.
    // 8 bits (r11 ran 4): cluster count must scale with the corpus or
    // the within-cluster pairwise step turns quadratic — at the 100×
    // rehearsal 16 clusters meant 1.25·10⁹ candidate pairs (the r11
    // oracle timeout, and the same hazard for the ENGINE at 100 TB);
    // 256 caps mean cluster size at corpus/256 on both sides.
    "s_semantic_dedup" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.functions.HashExpressions.registerSrp(e.sparkSession, 8, 1)
      semanticDedup(e, srpBucket(col("embedding"), 8, 0), 0.4)
    }),
    "s_quantize" -> ((s, dir) => {
      val q = quantizeInt8(emb(s, dir))
      q.select(col("vec_id"),
        size(col("codes")).as("n_dims"),
        (round(col("scale") * 1e6) / 1e6).as("scale_r"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
        (round(array_max(zip_with(col("codes"), col("embedding"),
          (c, x) => abs(c.cast("double") * col("scale") / 127.0 -
            x.cast("double")))) * 1e6) / 1e6).as("max_err"))
    }))

  /** The EXACT ±1 hyperplane component the [[graft.functions.
    * HashExpressions.SrpBucket]] kernel derives for (plane, j) — the
    * same splitmix mix, re-run driver-side so the DuckDB oracle can
    * restate the bucketing over literal sign lists. Any drift between
    * this and the kernel breaks the s_embed_neardup hash match (and
    * is pinned directly by SimilaritySpec). */
  private[graft] def srpSign(plane: Int, j: Int): Int = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    if (z > 0) 1 else -1
  }

  /** Driver-side replica of the kernel's bucket for a concrete vector
    * — spec-pinning glue only. Identical fold order and `> 0` sign
    * test. */
  private[graft] def srpBucketRef(v: Seq[Float], bits: Int, table: Int): Long = {
    var bucket = 0L
    var h = 0
    while (h < bits) {
      val plane = table * bits + h
      var proj = 0.0
      var j = 0
      while (j < v.length) {
        proj += v(j).toDouble * srpSign(plane, j)
        j += 1
      }
      if (proj > 0) bucket |= (1L << h)
      h += 1
    }
    bucket
  }

  /** The [[embeddingNearDups]] mechanism restated as DuckDB SQL with
    * the hyperplane sign matrix inlined as literals: per-table bucket
    * = Σ 2^h·(Σ v_j·s_j > 0) over the SAME sequential double fold the
    * kernel runs, then the identical (tbl, bucket) grouping,
    * 2..maxBucket cap, a<b pair expansion, DISTINCT, and cosine
    * rerank. Hash equality certifies the whole discovery+verify path
    * end to end. */
  private def nearDupOracleSql(threshold: Double, bits: Int, tables: Int,
                               maxBucket: Int, dim: Int): String = {
    def proj(plane: Int): String = {
      val s = (0 until dim).map(srpSign(plane, _)).mkString("[", ",", "]")
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(embedding) + 1), j -> CAST(embedding[j] AS DOUBLE) * CAST(($s)[j] AS DOUBLE))), (a, x) -> a + x)"
    }
    def bucket(t: Int): String =
      (0 until bits).map(h =>
        s"(CASE WHEN ${proj(t * bits + h)} > 0 THEN ${1L << h} ELSE 0 END)")
        .mkString(" + ")
    // guard: the sign matrix is emitted for exactly `dim` dims — on a
    // dim-mismatched embeddings table, list indexing past the literal
    // would yield NULL→0 and silently mis-bucket; fail LOUDLY instead
    val bk = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucket(t)} AS bucket FROM (SELECT vec_id, CASE WHEN len(embedding) = $dim THEN embedding ELSE error('embedding dim must be $dim') END AS embedding FROM embeddings)")
      .mkString(" UNION ALL ")
    val dotAB =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(ea) + 1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))), (acc, x) -> acc + x)"
    s"""WITH bk AS ($bk), sized AS (SELECT tbl, bucket FROM bk GROUP BY tbl, bucket HAVING count(*) BETWEEN 2 AND $maxBucket), cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b FROM bk x JOIN bk y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id JOIN sized s ON s.tbl = x.tbl AND s.bucket = x.bucket), vecs AS (SELECT c.id_a, c.id_b, a.embedding AS ea, b.embedding AS eb FROM cand c JOIN embeddings a ON a.vec_id = c.id_a JOIN embeddings b ON b.vec_id = c.id_b), scored AS (SELECT id_a, id_b, $dotAB / (${normSql("ea")} * ${normSql("eb")}) AS sim FROM vecs) SELECT id_a, id_b, round(sim*1e4)/1e4 AS sim FROM scored WHERE sim >= $threshold"""
  }

  /** [[semanticDedup]] restated over the literal table-0 sign matrix
    * (same mechanism-restatement shape as [[nearDupOracleSql]]):
    * cluster = Σ 2^h·(proj_h > 0), within-cluster a<b pairwise cosine
    * over the identical sequential double fold, dropped = larger ids
    * of ≥-threshold pairs, survivors = the rest. */
  private def semanticDedupOracleSql(tau: Double, bits: Int,
                                     dim: Int): String = {
    def proj(plane: Int): String = {
      val s = (0 until dim).map(srpSign(plane, _)).mkString("[", ",", "]")
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(embedding) + 1), j -> CAST(embedding[j] AS DOUBLE) * CAST(($s)[j] AS DOUBLE))), (a, x) -> a + x)"
    }
    val bucket = (0 until bits).map(h =>
      s"(CASE WHEN ${proj(h)} > 0 THEN ${1L << h} ELSE 0 END)")
      .mkString(" + ")
    val dotAB =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(ea) + 1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))), (acc, x) -> acc + x)"
    s"""WITH bk AS (SELECT vec_id, CAST($bucket AS BIGINT) AS cl, embedding FROM (SELECT vec_id, CASE WHEN len(embedding) = $dim THEN embedding ELSE error('embedding dim must be $dim') END AS embedding FROM embeddings)), cand AS (SELECT b.vec_id AS ib, a.embedding AS ea, b.embedding AS eb FROM bk a JOIN bk b ON a.cl = b.cl AND a.vec_id < b.vec_id), dropped AS (SELECT DISTINCT ib AS vec_id FROM cand WHERE $dotAB / (${normSql("ea")} * ${normSql("eb")}) >= $tau) SELECT vec_id, cl FROM bk WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"""
  }

  // DuckDB-side double fold, bit-identical to the Spark expressions.
  private val dotSql =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(qe) + 1), i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (acc, x) -> acc + x)"
  private def normSql(v: String) =
    s"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))"

  private val exactTop5Sql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10), scored AS (SELECT qid, vec_id AS nid, $dotSql / (${normSql("qe")} * ${normSql("embedding")}) AS sim FROM q, embeddings WHERE vec_id != qid), ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM scored)"""

  // the same brute force over the LIVE corpus only (vec_id % 7 = 3
  // soft-deleted on the Spark side): neither q nor the candidate pool
  // may see a deleted vector — recall 1 certifies tombstone
  // invisibility end to end
  private val exactTop5LiveSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10 AND vec_id % 7 != 3), scored AS (SELECT qid, vec_id AS nid, $dotSql / (${normSql("qe")} * ${normSql("embedding")}) AS sim FROM q, embeddings WHERE vec_id != qid AND vec_id % 7 != 3), ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM scored)"""

  // same brute-force scoring, restricted to cross-label candidates
  private val hardNegSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id < 10), scored AS (SELECT qid, vec_id AS nid, $dotSql / (${normSql("qe")} * ${normSql("embedding")}) AS sim FROM q, embeddings WHERE vec_id != qid AND label != qlabel), ranked AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM scored) SELECT qid, nid, round(sim*1e4)/1e4 AS sim, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 5"""

  /** The greedy MMR trajectory unrolled: candidates = exact top-nCand
    * (1e-4-rounded, rk carried), pairwise candidate sims likewise
    * rounded, then one CTE pair (argmax + running selection) per
    * round — the same unrolled-loop oracle shape as the BPE trainer
    * and PageRank. Selection ORDER BY uses the identical
    * λ·sim − (1−λ)·ms double arithmetic over identical rounded
    * inputs, ties by nid. */
  private def mmrOracleSql(k: Int, nCand: Int,
                           lambda: Double, lambdaComp: Double): String = {
    val dotAB =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(ea) + 1), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))), (acc, x) -> acc + x)"
    val raw = s"CAST($lambda AS DOUBLE)*sim - CAST($lambdaComp AS DOUBLE)*ms"
    val base =
      s"""$exactTop5Sql, cand AS (SELECT qid, nid, round(sim*1e4)/1e4 AS sim, rk FROM ranked WHERE rk <= $nCand), cv AS (SELECT c.qid, c.nid, e.embedding FROM cand c JOIN embeddings e ON e.vec_id = c.nid), pr AS (SELECT a.qid AS pq, a.nid AS na, b.nid AS nb, round(($dotAB) / (${normSql("ea")} * ${normSql("eb")}) * 1e4)/1e4 AS ps FROM (SELECT qid, nid, embedding AS ea FROM cv) a JOIN (SELECT qid, nid, embedding AS eb FROM cv) b ON a.qid = b.qid AND a.nid != b.nid), sel1 AS (SELECT qid, nid, sim AS score, 1 AS step FROM cand WHERE rk = 1)"""
    val rounds = (2 to k).map { j =>
      val prev = s"sel${j - 1}"
      s"""m$j AS (SELECT c.qid, c.nid, c.sim, max(p.ps) AS ms FROM cand c JOIN pr p ON p.pq = c.qid AND p.na = c.nid JOIN $prev s ON s.qid = p.pq AND s.nid = p.nb WHERE NOT EXISTS (SELECT 1 FROM $prev x WHERE x.qid = c.qid AND x.nid = c.nid) GROUP BY c.qid, c.nid, c.sim), s$j AS (SELECT qid, nid, round(($raw)*1e4)/1e4 AS score, $j AS step FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY $raw DESC, nid) AS rn FROM m$j) WHERE rn = 1), sel$j AS (SELECT * FROM sel${j - 1} UNION ALL SELECT * FROM s$j)"""
    }.mkString(", ", ", ", "")
    s"$base$rounds SELECT qid, nid, score, CAST(step AS INTEGER) AS step FROM sel$k"
  }

  // the ANN oracles have NO LSH/IVF in them: they compute recall of
  // the exact top-5 against itself (= 1.0 per query). Hash equality
  // therefore PROVES the deterministic ANN search recovered the full
  // exact top-5 for every query — the d_minhash_exact proof shape.
  val oracle: Map[String, String] = Map(
    "s_kcenter" -> kCenterOracleSql(16),
    "s_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS pos, count(*) AS n,
        |  round(avg(CAST(embedding[i] AS DOUBLE))*1e4)/1e4 + 0.0 AS c
        |FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,
    "s_cosine_topk" ->
      s"""$exactTop5Sql SELECT qid, nid, round(sim*1e4)/1e4 AS sim, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 5""",
    // both retrievers restated exactly (BM25 arithmetic ≡ t_bm25's
    // oracle; dense ≡ the exact-cosine shape for query vector 0),
    // then the identical integer-rank RRF fold over the full outer
    // join
    "s_rrf_hybrid" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |dls AS (SELECT doc_id, t, len(t) AS dl FROM toks),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dls),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (SELECT doc_id, dl, unnest(t) AS term FROM dls) WHERE term IN (${rrfTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY term),
        |scored AS (SELECT doc_id, ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * (tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w FROM tf JOIN dft USING (term) CROSS JOIN stats),
        |lex AS (SELECT doc_id, round(sum(w)*1e4)/1e4 AS bm25 FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
        |lexr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl FROM lex),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |ds AS (SELECT vec_id AS nid, $dotSql / (${normSql("qe")} * ${normSql("embedding")}) AS sim FROM q, embeddings WHERE vec_id != 0),
        |dr AS (SELECT nid, rd FROM (SELECT nid, row_number() OVER (ORDER BY sim DESC, nid) AS rd FROM ds) WHERE rd <= 20),
        |f AS (SELECT coalesce(l.doc_id, d.nid) AS doc_id,
        |             coalesce(CAST(1.0 AS DOUBLE)/(rl + 60), CAST(0.0 AS DOUBLE)) + coalesce(CAST(1.0 AS DOUBLE)/(rd + 60), CAST(0.0 AS DOUBLE)) AS raw
        |      FROM lexr l FULL OUTER JOIN dr d ON l.doc_id = d.nid)
        |SELECT doc_id, round(raw*1e6)/1e6 AS rrf, CAST(row_number() OVER (ORDER BY raw DESC, doc_id) AS INTEGER) AS rk FROM f""".stripMargin,
    "s_hard_negatives" -> hardNegSql,
    "s_mmr_topk" -> mmrOracleSql(5, 10, 0.7, 0.3),
    "s_lsh_ann" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_hamming_ann" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_ivf_ann" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_pq_ann" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_ivfpq_ann" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_ivf_indexed" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_ivf_append" ->
      s"""$exactTop5Sql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    "s_ivf_delete" ->
      s"""$exactTop5LiveSql SELECT qid, CAST(count(*) AS DOUBLE) / 5 AS recall_at_5 FROM ranked WHERE rk <= 5 GROUP BY qid""",
    // the clustered-corpus gate runs over the SYNTHETIC fixture (not
    // a testdata table), so the oracle states the recall-1 CLAIM
    // directly: exact-vs-PQ comparison happens on the Spark side
    // (annRecall against brute-force cosineTopK over the same
    // fixture), and the hash match pins that every one of the 10
    // query ids recovered its full exact top-5 at the 5% shortlist
    "s_pq_clustered" ->
      "SELECT CAST(range AS BIGINT) AS qid, CAST(1.0 AS DOUBLE) AS recall_at_5 FROM range(0, 10)",
    // same oracle shape as s_pq_clustered: the fixture is synthetic
    // (not a testdata table), so the oracle states the recall-1 CLAIM
    // and the Spark side carries the exact-vs-coarse comparison
    // (annRecall against brute-force cosineTopK on the same fixture)
    "s_matryoshka" ->
      "SELECT CAST(range AS BIGINT) AS qid, CAST(1.0 AS DOUBLE) AS recall_at_5 FROM range(0, 10)",
    "s_quantize" ->
      """WITH scaled AS (SELECT vec_id, embedding, list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS s FROM embeddings),
        |coded AS (SELECT vec_id, embedding, s, list_transform(embedding, x -> CASE WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(CAST(x AS DOUBLE) / s * 127.0 + 0.5) AS BIGINT) END) AS codes FROM scaled)
        |SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims, round(s*1e6)/1e6 AS scale_r,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (a, x) -> a + x) AS BIGINT) AS code_sum,
        |  round((list_aggregate(list_transform(range(1, len(embedding) + 1), i -> abs(CAST(codes[i] AS DOUBLE) * s / 127.0 - CAST(embedding[i] AS DOUBLE))), 'max'))*1e6)/1e6 AS max_err
        |FROM coded""".stripMargin,
    // mechanism restatement over the literal sign matrix — see
    // nearDupOracleSql; parameters mirror the query entry exactly
    "s_embed_neardup" -> nearDupOracleSql(
      threshold = 0.4, bits = 8, tables = 16, maxBucket = 64, dim = 64),
    "s_semantic_dedup" -> semanticDedupOracleSql(
      tau = 0.4, bits = 8, dim = 64))
}
