package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.{Artifact, Tables}

/** Deduplication operators for a training-data pipeline: exact,
  * normalized-exact, n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (the point of each variant):
  *   - exact/normalized: one hash-groupBy — the shuffle carries only
  *     (16-byte hash, doc_id); at 100 TB this is the cheapest possible
  *     dedup and the first pass of any pipeline;
  *   - n-gram Jaccard: EXACT pairwise similarity via the relational
  *     formulation (explode shingles → self-join on shingle →
  *     inclusion-exclusion). Quadratic in co-bucketed docs, so it's
  *     the verification/rerank kernel, not the discovery path;
  *   - MinHash+LSH: the discovery path — 64-perm signatures, banded
  *     into (band, hash) buckets; only same-bucket docs pair up.
  *     Buckets above `maxBucket` are dropped (standard LSH skew guard:
  *     a hot bucket means the band is non-discriminative, and at scale
  *     it would quadratically explode the pair stage);
  *   - SimHash: 64-bit signature whose Hamming distance tracks cosine
  *     similarity of the token multiset; banded by 4×16-bit chunks
  *     (any pair within Hamming ≤ 3 shares at least one exact chunk —
  *     pigeonhole), verified with bit_count(xor).
  *
  * All hashing is xxhash64 (deterministic, codegen'd). MinHash/SimHash
  * signatures themselves are not SQL-expressible, so their driver
  * queries are the VERIFIED forms ([[minhashVerifiedPairs]],
  * [[simhashVerifiedPairs]]): sketch discovery reranked by the exact
  * Jaccard kernel, hash-compared against an oracle that contains no
  * sketch at all — recall-1 proofs. The raw sketch outputs are pinned
  * by `OperatorsSpec` against brute-force Jaccard / Hamming.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Edge count above which [[connectedComponents]] runs `Large`, in
    * the caller's session ([[Regime]]); below it the loop is pure
    * scheduling and runs single-partition with AQE off. 1M edges ≈
    * ~16 MB of (long,long) pairs: comfortably one task's work. */
  private val SmallCcEdges = 1000000L

  /** Canonical text normalization for near-exact dedup. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exact(df: DataFrame, text: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word 3-gram shingles: contiguous token windows joined by a
    * space — compiled kernel (WordNgrams); < 3 tokens → empty.
    * Requires HashExpressions.register (callers below do). */
  def shingles(text: Column): Column =
    graft.functions.HashExpressions.word_ngrams3(split(text, " "))

  /** The shared shingle-postings subtree of BOTH exact pair joins
    * (Jaccard and containment): per-doc distinct-shingle sizes and
    * the (a < b) pair intersection counts. ONE definition so the
    * promised 100-TB df-guard (drop shingles shared by ~every doc
    * before the pair join) lands here once, for both operators
    * (code-review r10: the subtree was duplicated verbatim). */
  private def shinglePairCounts(df: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    // the per-doc distinct-shingle count rides EACH POSTING ROW (one
    // long) so the pair aggregation recovers both docs' sizes as
    // min() — n is constant per doc (r15). The former shape ran a
    // separate `sizes` aggregation (a corpus-wide doc_id exchange
    // over the exploded postings) and joined it back onto the pairs
    // TWICE, re-shingling the corpus once per join — 4 shingle
    // kernel passes and 3 joins where 2 passes and 1 join suffice
    // (plan evidence: plans/r15/d_ngram_jaccard_before.txt, the four
    // word_ngrams Generate nodes).
    val sh = df
      .select(col("doc_id"), array_distinct(shingles(col("text"))).as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
  }

  /** Exact pairwise n-gram Jaccard over a bounded candidate set —
    * the relational formulation that also serves as the LSH rerank. */
  def ngramJaccardPairs(df: DataFrame, minJaccard: Double): DataFrame =
    shinglePairCounts(df)
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jac"))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        (round(col("jac") * 1e4) / 1e4).as("jaccard"))

  /** Directed n-gram CONTAINMENT join: containment(A→B) =
    * |sh(A) ∩ sh(B)| / |sh(A)| over distinct word 3-gram shingle
    * sets — the ASYMMETRIC complement of [[ngramJaccardPairs]].
    * Jaccard misses the quote/subset case entirely (a benchmark doc
    * pasted inside a 100× larger page has Jaccard ≈ 0.01 but
    * containment ≈ 1.0), which is exactly the leak the GPT-3/PaLM
    * decontamination write-ups filter on.
    *
    * Scale design: the heavy work — the shingle-postings self-join
    * and the intersection groupBy — runs ONCE over undirected
    * (a < b) pairs; the two directed rows per surviving pair are a
    * post-aggregation projection union over the tiny intersected
    * result, so asymmetry costs zero extra shuffle. At 100 TB the
    * postings join inherits the same df-style guard as the TF-IDF
    * join: a shingle shared by every doc would be dropped before the
    * pair join (not needed at gate scale; 3-gram collisions are
    * rare). Threshold applies to the RAW ratio; the published value
    * is 1e-4-rounded (the registry's standard double contract). */
  def containmentPairs(df: DataFrame, minContainment: Double): DataFrame = {
    // the two directed projections below each reference the pair
    // subtree — unsnapshotted, the shingle self-join + pair
    // aggregation ran TWICE per call (r15; measured 27.1 shuffle-MB
    // vs the Jaccard twin's 16.7 at sf0.1). The pair table is
    // candidate-pairs-sized, the smallest relation in the operator.
    val inter = Snapshot(shinglePairCounts(df), "cont_pairs").df
    val directed = inter.select(col("doc_a").as("src"), col("doc_b").as("dst"),
        (col("i").cast("double") / col("na").cast("double")).as("c"))
      .union(inter.select(col("doc_b"), col("doc_a"),
        (col("i").cast("double") / col("nb").cast("double")).as("c")))
    directed.filter(col("c") >= minContainment)
      .select(col("src"), col("dst"),
        (round(col("c") * 1e4) / 1e4).as("containment"))
  }

  /** Benchmark-contamination check: for each corpus doc, the number
    * of its distinct word 3-grams that also appear in ANY probe
    * (benchmark/eval) document — the standard n-gram-overlap decon
    * pass a training corpus runs before release. The probe shingle
    * set is small (eval suites are), so at 100 TB it broadcasts and
    * the corpus side is a map-side semi-join + one groupBy on
    * doc_id; the corpus never self-joins. */
  def contamination(corpus: DataFrame, probes: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(corpus.sparkSession)
    val c = corpus.select(col("doc_id"),
      explode(array_distinct(shingles(col("text")))).as("sh"))
    val p = probes
      .select(explode(array_distinct(shingles(col("text")))).as("sh"))
      .distinct()
    c.join(broadcast(p), Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Repeated-span detection — token-level exact-substring dedup in
    * the shape of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL'22): every length-`spanLen` token
    * window that occurs more than once ANYWHERE in the corpus is a
    * duplicated span; per document we report how many of its window
    * positions are duplicated and the resulting ratio (the
    * keep/strip signal — Lee et al. excise the spans; the doc-level
    * ratio is the triage view).
    *
    * Scale design: the window stream is (doc_id, window) pairs — one
    * row per token position, the same O(total tokens) scale as the
    * shingle stream MinHash already shuffles. The global window count
    * is one groupBy over a SECOND, narrower window pass (Catalyst
    * prunes doc_id out of it, so the count subtree scans only `text`
    * — two cheap generate passes beat shuffling the wide stream
    * twice, and the filter+projection sit under both generates); the
    * count joins back (broadcast at small corpus sizes, a w-keyed
    * shuffle at scale) and the per-doc rollup is a doc-keyed shuffle. At
    * 100 TB the window key would be xxhash64(window) (8-byte keys,
    * ~50-byte strings carried only to the rollup) — identical
    * dataflow, hash-collision odds ≈ (#windows)²/2⁶⁵; the string key
    * here keeps the gate query byte-exact against the SQL oracle.
    * A suffix-array formulation finds variable-length maximal repeats
    * but needs a global sort; fixed-L windows at stride 1 dominate it
    * operationally (any repeat ≥ L surfaces) and stay embarrassingly
    * parallel.
    */
  def repeatedSpans(df: DataFrame, text: Column, spanLen: Int): DataFrame = {
    val toks = df.select(col("doc_id"), split(lower(text), " ").as("t"))
    val wins = toks.where(size(col("t")) >= spanLen)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - (spanLen - 1)),
        i => concat_ws(" ", slice(col("t"), i, lit(spanLen))))).as("w"))
    val winCount = wins.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val perDoc = wins.join(winCount, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    df.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_windows"), lit(0L)), lit(1L)).cast("double") *
          1e4) / 1e4).as("dup_ratio"))
  }

  /** Repeated-span REMOVAL — the surgery stage of substring-level
    * dedup (Lee et al. '22, "Deduplicating Training Data Makes
    * Language Models Better"): every token position covered by a
    * length-`spanLen` window that occurs MORE THAN ONCE corpus-wide
    * (including within-document repeats) is cut, and the survivors
    * reassemble in order. [[repeatedSpans]] SCORES documents with the
    * same fixed-L stride-1 window dataflow; this operator performs
    * the cut the scores motivate.
    *
    * Returns (doc_id, n_tokens, n_cut, clean_hash) — clean_hash is
    * the md5 of the cleaned text, so the gate compares the exact
    * surgical output byte-for-byte without shipping full documents
    * through the hash harness.
    *
    * Scale shape: the only wide exchange is the window groupBy
    * (identical to repeatedSpans — ~50-byte keys, map-side partial);
    * covered-position expansion is bounded by dup-window count × L;
    * reassembly is one doc_id aggregation whose per-group size is one
    * document's tokens. Interval union falls out of the distinct on
    * (doc_id, p) — no per-doc interval-merge loop anywhere. */
  def removeRepeatedSpans(df: DataFrame, text: Column,
                          spanLen: Int): DataFrame = {
    val toks = df.select(col("doc_id"),
      posexplode(split(lower(text), " "))).toDF("doc_id", "p", "tok")
    val wins = df.select(col("doc_id"), split(lower(text), " ").as("t"))
      .where(size(col("t")) >= spanLen)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("t")) - (spanLen - 1)),
        i => concat_ws(" ", slice(col("t"), i, lit(spanLen))))))
      .toDF("doc_id", "i", "w") // i = 0-based window start position
    val dup = wins.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("w"))
    val covered = wins.join(dup, "w")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (spanLen - 1))).as("p"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok"))).as("clean"))
    df.select(col("doc_id"),
        size(split(lower(text), " ")).cast("long").as("n_tokens"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        md5(coalesce(col("clean"), lit(""))).as("clean_hash"))
  }

  /** 64-perm MinHash signature — compiled kernel
    * ([[graft.functions.HashExpressions.MinHashSignature]]): one
    * xxHash per shingle, 64 affine permutations in a primitive loop.
    * (The nested-transform formulation evaluates its lambdas
    * interpreted per (perm, shingle) — 100× slower; see
    * HashExpressions.) */
  def minhashSignature(shingleArr: Column): Column =
    graft.functions.HashExpressions.minhash_signature(shingleArr)

  /** MinHash+LSH near-dup candidate pairs with signature-estimated
    * Jaccard. bands×rows must equal the signature length.
    *
    * Shuffle layout: the band exchange carries only (doc_id, band,
    * bucket) — 24 bytes/row — NOT the 512-byte signature (16 band
    * copies of it would dominate the shuffle at scale); signatures
    * join back onto the (few) surviving candidate pairs. */
  /** Per-doc MinHash signatures (docs with ≥ 3 tokens survive). */
  def signatures(df: DataFrame): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    df.select(col("doc_id"), shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSignature(col("sh")).as("sig"))
  }

  /** One 64-bit LSH key per band: the band id is folded into the hash
    * seed, so `bucket` ALONE is the join key (no (band, bucket)
    * composite — a single narrow column buckets, sorts and joins). */
  def bandKeys(sigd: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame =
    sigd.select(col("doc_id"),
      explode(bandKeyArray(col("sig"), bands, rows)).as("bucket"))

  /** The per-row array of band keys [[bandKeys]] explodes — also the
    * input of the bloom build the probe path observes during its
    * snapshot write. */
  private def bandKeyArray(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(sig, b * rows + 1, rows)),
        lit(b))): _*)

  def minhashPairs(df: DataFrame, bands: Int = 16, rows: Int = 4,
                   minEst: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    // snapshot the signatures (r14): this one plan references sigd
    // THREE times (band explode + both verify-join sides), and with
    // no shared exchange under it each reference re-ran the 64-perm
    // shingle+minhash map over the corpus TEXT — the heaviest map in
    // the operator, ×3. The signature table is bands×16 bytes/doc,
    // three orders of magnitude narrower than the text it stands for
    // (the index-table argument at line ~410), so one write buys two
    // saved corpus passes at any scale.
    val sigd = Snapshot(signatures(df), "mh_sigs").df

    // band key: ONE definition ([[bandKeyArray]]) shared with the
    // persisted-index paths — a second inline copy of the key formula
    // could drift and make in-batch and index-probe dedup bucket the
    // same signatures differently (code-review r10)
    val banded = sigd.select(col("doc_id"),
        posexplode(bandKeyArray(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    // same-bucket candidate pairs (skew guard: drop hot buckets)
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = buckets.select(explode(flatten(
        transform(col("ids"), a =>
          filter(transform(col("ids"), b =>
            when(a < b, struct(a.as("doc_a"), b.as("doc_b")))),
            x => x.isNotNull)))).as("p"))
      .select(col("p.*")).distinct()

    pairs
      .join(sigd.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigd.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.HashExpressions
          .sig_agreement(col("sig_a"), col("sig_b")).as("est"))
      .filter(col("est") >= minEst)
      .select(col("doc_a"), col("doc_b"),
        (round(col("est") * 1e4) / 1e4).as("est_jaccard"))
  }

  // ------------------------------------- incremental dedup index //

  /** Persist the LSH index so NEW shards dedup against an existing
    * corpus without ever re-reading it: `<table>_bands` holds the band
    * keys as a Spark bucketed table (hash-bucketed AND sorted by
    * `bucket`, so the probe join needs no exchange on the index side),
    * `<table>_sigs` holds the signatures for candidate verification.
    * The index is bands × 16 bytes per doc — three orders of magnitude
    * smaller than the corpus it stands for, which is what makes
    * "dedup a daily shard against 100 TB" a small job instead of a
    * full recompute. `nBuckets` should scale with corpus size (it is
    * the probe join's parallelism). */
  /** Drop a managed table AND its warehouse location — a previous
    * session's directory outlives the in-memory catalog, and
    * SaveMode.Overwrite refuses to claim an unregistered location.
    * The delete rides the [[graft.sources.Dfs]] seam: the warehouse
    * dir may be any Hadoop scheme. */
  private def clearTable(spark: SparkSession, name: String,
                         fs: graft.sources.Dfs): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    fs.delete(s"${wh.stripSuffix("/")}/${name.toLowerCase}")
  }

  /** With `location` set, the index tables are EXTERNAL at
    * `location/bands` and `location/sigs`: the catalog entry is
    * re-creatable from the directories ([[ensureIndexRegistered]]),
    * so the index survives a session/process restart even on the
    * default in-memory catalog — required for long-lived streams
    * ([[graft.streaming.CorpusStream]]). Without it the tables are
    * managed (single-session lifetime). */
  def initLshIndex(df: DataFrame, table: String, nBuckets: Int = 8,
                   bands: Int = 16, rows: Int = 4,
                   location: Option[String] = None,
                   fs: graft.sources.Dfs = graft.sources.Dfs.default): Unit = {
    clearTable(df.sparkSession, s"${table}_bands", fs)
    clearTable(df.sparkSession, s"${table}_sigs", fs)
    location.foreach { dir =>
      fs.delete(s"$dir/bands")
      fs.delete(s"$dir/sigs")
      // record the layout so post-restart registration cannot
      // misdeclare the bucketing of the on-disk files
      fs.mkdirs(dir)
      Artifact.index(dir, fs).publish(Artifact.Meta(
        "nBuckets" -> nBuckets, "bands" -> bands, "rows" -> rows))
    }
    // both writes consume the signatures — compute the kernel once
    Snapshot.cached(signatures(df)) { sigd =>
      val bw = bandKeys(sigd, bands, rows).write
        .bucketBy(nBuckets, "bucket").sortBy("bucket")
        .mode(SaveMode.Overwrite)
      location.fold(bw)(dir => bw.option("path", s"$dir/bands"))
        .saveAsTable(s"${table}_bands")
      val sw = sigd.write.mode(SaveMode.Overwrite)
      location.fold(sw)(dir => sw.option("path", s"$dir/sigs"))
        .saveAsTable(s"${table}_sigs")
    }
    // band geometry lives WITH the table, not in callers' heads: the
    // probe/append paths read it back, so a caller passing different
    // bands/rows after a restart cannot silently bucket probe keys
    // that can never match the indexed ones (code-review r10)
    df.sparkSession.sql(s"ALTER TABLE ${table}_bands SET TBLPROPERTIES " +
      s"('graft.bands' = '$bands', 'graft.rows' = '$rows')")
  }

  /** The index's recorded band geometry, falling back to the caller's
    * values for pre-property indexes. The recorded values WIN: they
    * describe the on-disk band keys. */
  private def lshGeometry(spark: SparkSession, table: String,
                          bands: Int, rows: Int): (Int, Int) = try {
    val props = spark.sql(s"SHOW TBLPROPERTIES ${table}_bands")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    (props.get("graft.bands").map(_.toInt).getOrElse(bands),
      props.get("graft.rows").map(_.toInt).getOrElse(rows))
  } catch { case _: Exception => (bands, rows) }

  /** Fold a deduped shard into the index; the bucketed layout is
    * preserved, so the next shard's probe stays exchange-free. */
  def appendToLshIndex(df: DataFrame, table: String, nBuckets: Int = 8,
                       bands0: Int = 16, rows0: Int = 4): Unit = {
    // appends must key bands exactly like the on-disk index
    val (bands, rows) = lshGeometry(df.sparkSession, table, bands0, rows0)
    Snapshot.cached(signatures(df)) { sigd =>
      // collapse to ONE writer task before the bucketed write:
      // without it every append emits nBuckets x input-partitions
      // files (the `Probe growth dedup` 100-append stream accumulated
      // 25,600 files for 245 MB, and the per-batch index scan's
      // latency grew 5.8x — footer opens, not data; PERF_r11). The
      // writer fans its task back out into one file per bucket id, so
      // an append adds exactly <= nBuckets files; repartition is an
      // exchange, so the signature kernels still compute at full
      // parallelism upstream, and a micro-batch/daily shard through
      // one write task is I/O a single core handles comfortably.
      // (repartition(nBuckets, bucket) does NOT work: repartition's
      // partition ids don't coincide with the writer's bucket ids —
      // measured: every task still wrote every bucket.)
      bandKeys(sigd, bands, rows)
        .repartition(1).write
        .bucketBy(nBuckets, "bucket").sortBy("bucket")
        .mode(SaveMode.Append).saveAsTable(s"${table}_bands")
      sigd.repartition(1).write
        .mode(SaveMode.Append).saveAsTable(s"${table}_sigs")
    }
  }

  /** Compact an external LSH index (the `location/{bands,sigs}`
    * layout [[initLshIndex]] writes and [[ensureIndexRegistered]]
    * recovers) back to nBuckets band files + a handful of sig files.
    * Content-preserving: same rows, same geometry, same location —
    * only the file count changes. Offline index maintenance, run
    * between stream restarts (the same operational slot as
    * AnnStream's IVF compaction): compacted data lands in sibling
    * `*_compact` directories FIRST, the live dirs swap by rename, and
    * the catalog re-registers from the meta file — so a crash before
    * the swap loses nothing, and a crash between the two renames
    * leaves the `*_compact` dir to adopt (or the index rebuilds from
    * the accumulated corpus via initLshIndex, the recovery path a
    * lost index always has). */
  def compactLshIndex(spark: SparkSession, table: String,
                      location: String,
                      fs: graft.sources.Dfs = graft.sources.Dfs.default): Unit = {
    val nBuckets = Artifact.index(location, fs).meta("nBuckets").toInt
    val tmp = s"${table}_bands_compact_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    fs.delete(s"$location/bands_compact")
    fs.delete(s"$location/sigs_compact")
    spark.table(s"${table}_bands")
      .repartition(1).write
      .bucketBy(nBuckets, "bucket").sortBy("bucket")
      .option("path", s"$location/bands_compact").saveAsTable(tmp)
    spark.table(s"${table}_sigs")
      .repartition(1)
      .write.parquet(s"$location/sigs_compact")
    // swap: catalog entries drop (external — data stays), dirs rename,
    // ensureIndexRegistered re-creates the entries from the meta file
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_sigs")
    fs.delete(s"$location/bands")
    fs.rename(s"$location/bands_compact", s"$location/bands")
    fs.delete(s"$location/sigs")
    fs.rename(s"$location/sigs_compact", s"$location/sigs")
    require(ensureIndexRegistered(spark, table, location, fs),
      s"index at $location failed to re-register after compaction")
  }

  /** Recover the catalog entries of an external-location index after
    * a restart (the in-memory catalog forgets them; the directories
    * don't). The bucket count comes from the [[Artifact]] meta record the
    * init wrote — never from a caller guess, which could misdeclare
    * the on-disk bucketing and corrupt every probe and append after
    * it. Returns true when the index is usable — both tables already
    * registered, or re-registered from `location`. False means no
    * index exists yet. */
  def ensureIndexRegistered(spark: SparkSession, table: String,
                            location: String,
                            fs: graft.sources.Dfs = graft.sources.Dfs.default): Boolean = {
    val bandsDir = s"$location/bands"
    val sigsDir = s"$location/sigs"
    val meta = Artifact.index(location, fs).read match {
      case Some(m) if fs.exists(bandsDir) && fs.exists(sigsDir) => m
      case _ => return spark.catalog.tableExists(s"${table}_bands") &&
        spark.catalog.tableExists(s"${table}_sigs")
    }
    val nBuckets = meta("nBuckets").toInt
    if (!spark.catalog.tableExists(s"${table}_bands")) {
      spark.sql(
        s"""CREATE TABLE ${table}_bands (doc_id BIGINT, bucket BIGINT)
           |USING PARQUET
           |CLUSTERED BY (bucket) SORTED BY (bucket) INTO $nBuckets BUCKETS
           |LOCATION '$bandsDir'""".stripMargin)
      // re-register the band GEOMETRY too (not just the bucketing):
      // probe/append read it back via lshGeometry, so a post-restart
      // caller with different bands/rows defaults cannot compute keys
      // the on-disk index never contained (code-review r10)
      (meta.get("bands"), meta.get("rows")) match {
        case (Some(b), Some(r)) =>
          spark.sql(s"ALTER TABLE ${table}_bands SET TBLPROPERTIES " +
            s"('graft.bands' = '$b', 'graft.rows' = '$r')")
        case _ => ()
      }
    }
    if (!spark.catalog.tableExists(s"${table}_sigs"))
      spark.sql(
        s"""CREATE TABLE ${table}_sigs (doc_id BIGINT, sig ARRAY<BIGINT>)
           |USING PARQUET LOCATION '$sigsDir'""".stripMargin)
    true
  }

  /** Near-dups of `newDocs` against an [[initLshIndex]] corpus index.
    * Only the (small) shard shuffles: its band keys repartition to the
    * index's bucketing for the probe join; the hot-bucket guard is a
    * windowed count that rides the same bucketed clustering (no
    * exchange); signatures join onto the few surviving pairs. Returns
    * (new_id, dup_of, est_jaccard). New-vs-new pairs inside the shard
    * are [[minhashPairs]]' job on the shard alone. */
  def dedupAgainstIndex(spark: SparkSession, newDocs: DataFrame,
                        table: String, minEst: Double = 0.5,
                        maxBucket: Int = 64, bands0: Int = 16,
                        rows0: Int = 4, bloomBits: Int = 1 << 22): DataFrame = {
    // the table's recorded geometry wins over the caller's defaults
    val (bands, rows) = lshGeometry(spark, table, bands0, rows0)
    // the shard's signatures feed the probe AND the verify join —
    // shard-sized; snapshot them so the kernel runs once WITHOUT a
    // persist() whose blocks would outlive the returned lazy plan.
    // Bloom pre-filter on the index scan: the probe's bucket set is
    // shard-sized; a serialized sketch BloomFilter over it bakes into
    // a compiled predicate evaluated AT THE SCAN — index rows whose
    // bucket cannot match drop before the hot-bucket window count and
    // the join ever see them. At 100 TB this is the difference
    // between windowing the full band table per shard and touching
    // ~|shard × bands| buckets of it. False positives only admit
    // extra buckets into the exact bucket join — never wrong pairs.
    // The build rides the snapshot WRITE ([[Snapshot.observe]]):
    // each row contributes its band-key array to the bloom aggregate
    // during the job that writes the signatures — the probe path
    // spends NO separate count or aggregate jobs before its one probe
    // job. Fixed `bloomBits` replaces the former pre-count sizing:
    // 2^22 bits holds ~400k probe keys comfortably (~7 hashes either
    // way); size it to ~10 bits per expected |shard|×bands key at
    // larger shards — an overfilled bloom only admits extra buckets,
    // never wrong pairs, and an underfilled one just has a lower FP
    // rate.
    val (sigs, bloom) = Snapshot.observe[Array[Byte]](signatures(newDocs),
      "probe_sigs", graft.functions.HashExpressions.bloom_longs_agg(
        bandKeyArray(col("sig"), bands, rows), bloomBits).as("bloom"))
    val sigNew = Snapshot(sigs, "probe_sigs").df
    val probe = bandKeys(sigNew, bands, rows)
      .select(col("doc_id").as("new_id"), col("bucket"))
    val bloomBytes = bloom()
    // exclude the shard's OWN rows from the index view before the
    // bucket counts: a replayed batch whose bands already landed then
    // probes the exact pre-append state, so its match set — including
    // the hot-bucket guard's verdicts — is identical across replays
    // (the broadcast anti-join keeps the index side exchange-free;
    // shard id-sets are micro-batch/daily-shard sized)
    val ownIds = broadcast(sigNew.select(col("doc_id")).distinct())
    val index = spark.table(s"${table}_bands")
      .filter(graft.functions.HashExpressions
        .bloom_might_contain_long(col("bucket"), bloomBytes))
      .join(ownIds, Seq("doc_id"), "left_anti")
      .withColumn("bcnt", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bcnt") <= maxBucket)
    val cand = index.join(probe, "bucket")
      .filter(col("doc_id") =!= col("new_id"))
      .select(col("new_id"), col("doc_id").as("dup_of")).distinct()
    cand
      .join(spark.table(s"${table}_sigs")
        .select(col("doc_id").as("dup_of"), col("sig").as("sig_old")), "dup_of")
      .join(sigNew.select(col("doc_id").as("new_id"), col("sig").as("sig_new")),
        "new_id")
      .select(col("new_id"), col("dup_of"),
        graft.functions.HashExpressions
          .sig_agreement(col("sig_new"), col("sig_old")).as("est"))
      .filter(col("est") >= minEst)
      .select(col("new_id"), col("dup_of"),
        (round(col("est") * 1e4) / 1e4).as("est_jaccard"))
  }

  /** 64-bit SimHash over the token multiset: per-bit ±1 votes from
    * each token's xxHash64(seed 42 — identical values to Spark's
    * xxhash64 function), sign of the vote sum sets the bit. Compiled
    * kernel ([[graft.functions.HashExpressions.SimHash64]]); requires
    * HashExpressions.register on the session (simhashPairs does). */
  def simhash(text: Column): Column =
    graft.functions.HashExpressions.simhash64(split(text, " "))

  /** SimHash over word-3-gram SHINGLE features rather than unigram
    * tokens — the feature choice of the classic near-dup deployments:
    * shingles are far more discriminative (the n-gram space is
    * |vocab|³), so unrelated docs sit near Hamming 32 while true
    * near-dups stay in the low tail. On this corpus unigram-token
    * signatures are all correlated (tiny synthetic vocabulary) and
    * Hamming ≤ 15 keeps ~25% of ALL pairs; shingle signatures keep
    * ~10⁻⁵ of them at the same radius — pruning that actually works.
    * Requires HashExpressions.register. */
  def simhashShingled(text: Column): Column =
    graft.functions.HashExpressions.simhash64(shingles(text))

  /** SimHash near-dup pairs within `maxHamming`, via `nChunks`-way
    * chunk banding of the 64-bit signature (chunk width 64/nChunks).
    * Pigeonhole: a pair within Hamming ≤ nChunks-1 shares at least one
    * exact chunk, so discovery is COMPLETE for maxHamming ≤ nChunks-1
    * (enforced). The production shape is 4×16-bit (hamming ≤ 3):
    * 16-bit chunks keep buckets discriminative at scale. Wider
    * completeness (e.g. nChunks=16 → hamming ≤ 15) shrinks chunks to
    * 4 bits and the candidate set degenerates toward all-pairs —
    * that parameterization is a small-corpus proof kernel
    * ([[simhashVerifiedPairs]]), never the 100-TB discovery path. */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
                   nChunks: Int = 4,
                   sigOf: Column => Column = simhash): DataFrame = {
    require(nChunks >= 2 && 64 % nChunks == 0,
      s"nChunks must divide 64 and be >= 2, got $nChunks")
    require(maxHamming < nChunks,
      s"banding incomplete: maxHamming=$maxHamming needs > $maxHamming chunks")
    val width = 64 / nChunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    graft.functions.HashExpressions.register(df.sparkSession)
    val sh = df.select(col("doc_id"), sigOf(col("text")).as("sig"))
    val banded = sh.select(col("doc_id"), col("sig"),
      posexplode(array((0 until nChunks).map(b =>
        shiftright(col("sig"), b * width).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // hamming filter BEFORE the pair-dedup: bit_count is a few
      // instructions per row, while distinct is a shuffle — pruning
      // first shrinks the exchange to the surviving pairs only
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Multi-block SimHash banding (Manku, Jain & Sarma, WWW'07): the
    * 64-bit signature splits into `nBlocks` blocks; each band keys on
    * one `blocksPerBand`-subset of block VALUES — all
    * C(nBlocks, blocksPerBand) subsets — so a pair within Hamming ≤
    * nBlocks − blocksPerBand has ≥ blocksPerBand clean blocks and
    * shares at least one full band key (pigeonhole over the subsets).
    * This is what makes SimHash banding survive scale where single-
    * chunk banding can't: the band key carries blocksPerBand·64/
    * nBlocks bits, so expected random-pair candidacy is
    * C(nBlocks,bpb)·N²/2^keyBits — at the default 6-choose-3 the keys
    * are ~32 bits and a 500k-doc corpus surfaces only thousands of
    * random candidates, where 16-way single-chunk banding (4-bit
    * keys, 256 buckets total) degenerated to ~0.6·N² joined rows —
    * the measured superlinear 100× decade (VERDICT r12 #4). Pairs
    * BEYOND the complete radius still surface when they luckily share
    * a band; the `maxHamming` filter keeps any discovered pair within
    * the radius semantics. Explode factor is the band count (20). */
  def simhashPairsBlocked(df: DataFrame, maxHamming: Int = 15,
                          nBlocks: Int = 6, blocksPerBand: Int = 3,
                          sigOf: Column => Column = simhash): DataFrame = {
    require(nBlocks > blocksPerBand && blocksPerBand >= 1,
      s"need 1 <= blocksPerBand < nBlocks, got $blocksPerBand/$nBlocks")
    // > 64 blocks would make some widths ZERO: constant band keys,
    // one bucket, and the all-pairs join this function exists to
    // prevent — fail fast instead
    require(nBlocks <= 64,
      s"nBlocks must be <= 64 (64-bit signature), got $nBlocks")
    val widths = Array.tabulate(nBlocks)(i =>
      64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    graft.functions.HashExpressions.register(df.sparkSession)
    val sh = df.select(col("doc_id"), sigOf(col("text")).as("sig"))
    def block(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      shiftright(col("sig"), offsets(i)).bitwiseAND(lit(mask))
    }
    val combos = (0 until nBlocks).combinations(blocksPerBand).toArray
    val banded = sh.select(col("doc_id"), col("sig"),
      posexplode(array(combos.map(c =>
        struct(c.zipWithIndex.map { case (bi, j) =>
          block(bi).as(s"k$j")
        }.toIndexedSeq: _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash discovery verified against exact Jaccard — the
    * SQL-oracle-checkable form ([[minhashVerifiedPairs]]' proof shape
    * for the SimHash path). Discovery runs [[simhashPairsBlocked]]
    * over the SHINGLE-feature signatures ([[simhashShingled]]) at the
    * Manku 6-choose-3 banding: ~32-bit band keys keep the candidate
    * join LINEAR in N (the former 16-way single-chunk banding had
    * 4-bit keys — 256 buckets — and its join emitted ~0.6·N² rows,
    * the measured 3.2× superlinear 100× decade, VERDICT r12 #4),
    * guaranteed-complete within Hamming ≤ 3 and opportunistic out to
    * the `maxHamming = 15` radius. Candidates are reranked by the
    * exact n-gram Jaccard kernel at `minJaccard`; the DuckDB oracle
    * computes {all pairs with exact J ≥ minJaccard} with no SimHash
    * at all. Measured on this corpus: shingle-feature Hamming over
    * J ≥ 0.8 pairs tops out at 11 at 1×–10× scale, while unrelated
    * pairs sit near 32. (Unigram-token signatures are unusable here:
    * the tiny synthetic vocabulary correlates them all — feature
    * choice IS the pruning.)
    *
    * SimHash ALONE is not recall-1 for J ≥ 0.8 at any fixed radius:
    * the round-11 100× rehearsal measured 3 of 25,600 true pairs
    * whose shingle-signature Hamming crossed even 15 (Hamming of a
    * J=0.8 pair is a random variable; its tail widens with corpus
    * size). The candidate set is therefore UNIONED with MinHash band
    * candidates at 32×2 banding, whose per-pair miss probability is
    * scale-invariant and negligible — P(miss | J=0.8) =
    * (1−0.8²)³² ≈ 6·10⁻¹⁵, i.e. ~10⁻⁵ expected misses even at 10⁹
    * true pairs (the former 16×4 union partner sat at 2·10⁻⁴/pair —
    * fine while SimHash was radius-15-complete, too thin now that
    * the blocked banding only guarantees Hamming ≤ 3). Both paths
    * feed the same exact-Jaccard rerank, so the output is still
    * exactly {discovered pairs with J ≥ minJaccard} and the oracle
    * equality proves joint recall 1. At 100 TB this is the
    * production hybrid: two banded discovery passes (each one narrow
    * shuffle with selective keys), never an all-pairs join.
    *
    * The 6·10⁻¹⁵ bound holds for pairs whose band buckets survive
    * [[minhashPairs]]' hot-bucket skew guard, so the union call
    * raises that cap to 4096: a duplicate CLUSTER of B docs fills
    * its true-match buckets with ~B entries, and the default cap of
    * 64 would silently drop every bucket of a 100+-doc cluster —
    * exactly the pairs in the (3, 15] Hamming tail that the blocked
    * SimHash pass no longer guarantees (review r13). Cost stays
    * output-bound (a B-doc cluster's C(B,2) pairs ARE true
    * candidates the rerank must see); clusters past ~6k docs exceed
    * even the raised cap and belong to the exact/normalized dedup
    * passes that run before near-dup discovery in every composed
    * pipeline here. */
  def simhashVerifiedPairs(df: DataFrame,
                           minJaccard: Double = 0.8): DataFrame = {
    val simCand = simhashPairsBlocked(df, maxHamming = 15,
      sigOf = simhashShingled)
      .select(col("doc_a"), col("doc_b"))
    val mhCand = minhashPairs(df, bands = 32, rows = 2, maxBucket = 4096)
      .select(col("doc_a"), col("doc_b"))
    val pairs = Snapshot(
      simCand.union(mhCand).distinct(),
      "simhash_pairs").df
    // once-shingled array rerank over the pairs in hand (r15) — see
    // [[rerankPairs]]
    rerankPairs(df, pairs, minJaccard)
  }

  // ------------------------------------------------------- queries //

  /** The composed corpus-cleaning pipeline: quality gate →
    * normalized exact dedup → surviving doc ids. Each stage is an
    * operator above; this is the end-to-end shape a training-data
    * pipeline runs (minhash near-dup removal chains after it via
    * [[minhashPairs]] — kept out of this query so the whole pipeline
    * stays SQL-oracle-checkable). */
  /** The quality gate (>= 10 tokens, mean token length in [2, 12]) —
    * ONE definition shared by [[cleanCorpus]] and [[dedupPipeline]]
    * so the composed pipeline stays the composition of its
    * advertised stages (code-review r10: the thresholds were
    * inlined twice). */
  private def qualityRows(df: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val meanLen = (length(col("text")) - size(toks) + 1).cast("double") /
      size(toks).cast("double")
    df.filter(size(toks) >= 10 && meanLen >= 2.0 && meanLen <= 12.0)
  }

  /** Normalized-exact keep-min over already-quality-gated rows. */
  private def exactKeepIds(quality: DataFrame): DataFrame =
    quality.groupBy(md5(normalized(col("text")).cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  def cleanCorpus(df: DataFrame): DataFrame =
    exactKeepIds(qualityRows(df))

  /** LSH discovery verified against exact Jaccard, SQL-oracle-checkable:
    * the LSH candidate pairs are joined back to the exact n-gram
    * Jaccard kernel and filtered to J ≥ `minJaccard`. The DuckDB
    * oracle computes {all pairs with exact J ≥ minJaccard} with no
    * LSH at all — hash equality therefore PROVES the banded discovery
    * path has recall 1 at this threshold on this corpus (at 16×4
    * banding, P(miss | J=0.8) ≈ 2·10⁻⁴ analytically; all hashing is
    * deterministic so the result is reproducible bit-for-bit). */
  def minhashVerifiedPairs(df: DataFrame, minJaccard: Double = 0.8,
                           bands: Int = 16, rows: Int = 4,
                           minEst: Double = 0.5): DataFrame = {
    // the pair list feeds BOTH the candidate-doc set and the final
    // join — snapshot it (O(near-dup pairs), tiny next to the corpus)
    // so the LSH discovery DAG runs once with no lingering persist()
    val pairs = Snapshot(
      minhashPairs(df, bands, rows, minEst).select(col("doc_a"), col("doc_b")),
      "minhash_pairs").df
    // exact-rerank only the docs LSH surfaced — per-doc shingle sets
    // are independent, so per-pair Jaccard is unchanged, and the
    // quadratic kernel never sees the full corpus (the discovery/
    // rerank split that holds at 100 TB). r15: the rerank attaches
    // once-shingled arrays to the pairs in hand instead of routing
    // through the postings self-join — see [[rerankPairs]].
    rerankPairs(df, pairs, minJaccard)
  }

  /** Exact n-gram Jaccard rerank for an ALREADY-ENUMERATED candidate
    * pair list (r15, VERDICT r14 #2 — the fused discovery+rerank):
    * shingle each candidate doc ONCE into a distinct-shingle-ARRAY
    * snapshot, then attach both sides' arrays to the pairs and compute
    * |A∩B| / (|A|+|B|−|A∩B|) per pair row with `array_intersect`.
    *
    * Replaces routing the verify through [[ngramJaccardPairs]], whose
    * postings shape re-enumerates pairs it already has: its plan
    * references the shingle subtree THREE times (the sizes groupBy +
    * both self-join sides) with no shared exchange — the candidate
    * docs were shingled 3× — and pays a shingle-keyed self-join +
    * pair groupBy + two size joins to rediscover exactly the pairs in
    * hand. Here the candidate set is shingled once (the snapshot
    * write), and the verify is two narrow doc_id joins. At 100 TB the
    * shuffle carries each candidate's array once per side vs the
    * exploded per-shingle postings rows — strictly fewer bytes for
    * the same docs.
    *
    * Equivalence to the postings formula, pair by pair: the arrays
    * are `array_distinct`, so `size(array_intersect)` = the postings
    * intersection count i; na/nb = the per-doc distinct-shingle
    * counts; the jac expression is the same double division of the
    * same integer values, the raw-threshold filter and the 1e-4
    * rounding are verbatim. Pairs the postings inner joins dropped
    * (i = 0, or an empty shingle set) here carry jac = 0 — or NULL
    * when BOTH sides are empty — and are dropped by the same
    * `jac >= minJaccard` filter (minJaccard > 0 at every call site).
    * The no-LSH DuckDB oracles re-prove it per query. */
  private def rerankPairs(df: DataFrame, pairs: DataFrame,
                          minJaccard: Double): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      // no distinct: a left-semi probe side tolerates duplicates, and
      // the dedup exchange cost more than the (tiny) duplicate keys
    val candSh = Snapshot(
      df.join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(shingles(col("text"))).as("sh")),
      "rerank_sh").df
    pairs
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("i"),
        size(col("sha")).cast("long").as("n_a"),
        size(col("shb")).cast("long").as("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") /
          (col("n_a") + col("n_b") - col("i")).cast("double")).as("jac"))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        (round(col("jac") * 1e4) / 1e4).as("jaccard"))
  }

  /** Distributed connected components by min-label propagation WITH
    * pointer jumping — the dedup-cluster resolution step: near-dup
    * PAIRS become clusters (A~B, B~C ⇒ {A,B,C}) and each cluster
    * keeps its smallest doc_id. Every node starts labeled with
    * itself; each round a node takes the min over {its label, its
    * neighbors' labels, THE LABEL OF ITS LABEL}. The last term is the
    * pointer-jumping/path-halving step: labels chase their own
    * forwarding chain, so a length-D chain converges in O(log D)
    * rounds instead of the plain propagation's D (a 10⁶-hop
    * pathological chain is ~20 rounds, not 10⁶ — at 100 TB the round
    * count IS the cost, each one being a full shuffle of the edge
    * set). Labels always name nodes of the same component (they enter
    * via an edge or an existing label), so the fixpoint is exactly
    * the per-component min. Scale shape: each round is one narrow
    * (node, label) shuffle over the EDGE set plus narrow label-sized
    * joins — the corpus itself is never touched, and the label
    * frontier is snapshotted every TWO rounds (alternating
    * write-and-readback dirs) so the plan/lineage stays O(1) deep
    * instead of growing per iteration, the classic failure of
    * iterative DataFrame loops. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponents(edges, maxIter, None)

  /** [[connectedComponents]] with its regime pinned by `force` (tests). */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int,
                                         force: Option[Regime]): DataFrame = {
    val caller = edges.sparkSession
    val a = col("a"); val b = col("b")
    // the symmetric edge set feeds every round — snapshot it once
    // instead of re-running the union+distinct per iteration; its size
    // is observed ON the write (zero extra jobs) to pick the plan mode
    val (symSnap, edgeCount) = Snapshot.counted(
      edges.toDF("a", "b")
        .union(edges.toDF("b", "a").select(col("a"), col("b")))
        .distinct(),
      "cc_edges")
    // The regime ([[Regime]]) only picks physical strategy, never
    // results. `Small`: after exact rerank the surviving edge set is
    // usually TINY relative to the corpus (256 rows at sf0.1), and the
    // loop's cost is pure scheduling — with AQE on, every exchange
    // becomes its own query-stage job, and every broadcast build is
    // another (PERF_r05.md: ~18 jobs ≈ 6 s for 256 edges). The WHOLE
    // loop then runs in the AQE-off clone with ONE shuffle partition
    // and broadcasts disabled: each 2-round iteration collapses into a
    // single write job whose identical 1-partition exchanges the
    // non-AQE ReuseExchange rule dedupes. `Large`: the caller's
    // full-width AQE plan is the right one. `Local`: even the
    // 1-partition loop is pure job-scheduling cost (a percolated
    // 20k-edge geo graph spent 12.3 s in ~6 snapshot-write iterations
    // — PERF_r11.md), and the edge list is bounded DRIVER-SIDE state:
    // collect once, union-find with path compression (exact
    // per-component min by definition), hand back a local frame.
    val regime = Regime.pick(edgeCount, SmallCcEdges, force)
    if (regime == Regime.Local) {
      val pairs = symSnap.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      pairs.foreach { case (x, y) =>
        parent.getOrElseUpdate(x, x); parent.getOrElseUpdate(y, y)
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      // snapshot the key set before the final finds: path compression
      // updates values mid-iteration (no structural change, but don't
      // lean on that)
      val label = parent.keys.toArray.map(n => n -> find(n)).toSeq
      // component label = min node id: guaranteed by always attaching
      // the larger root under the smaller
      import caller.implicits._
      return label.toDF("doc_id", "component")
    }
    val small = regime == Regime.Small
    val sess = if (!small) caller else {
      val s2 = Regime.aqeOff(caller)
      s2.conf.set("spark.sql.shuffle.partitions", "1")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2
    }
    val sym = if (small) symSnap.in(sess) else symSnap.df
    var labels = Snapshot(
      sym.select(a.as("node")).distinct()
        .select(col("node"), col("node").as("label")),
      "cc_labels_0")
    // One COMPLETE propagation round: neighbor-min, then TWO
    // pointer-jump hops (l → lab(l) → lab(lab(l)), both against the
    // round-start labels — path halving twice per round; each hop is
    // a narrow labels-sized join and only ever moves a label DOWN
    // within its component, so the fixpoint — the per-component min —
    // is unchanged). Emits (node, label, prev) with prev = the
    // round's input label.
    def round(lbl: DataFrame): DataFrame = {
      val neighborMin = sym
        .join(lbl.select(col("node").as("b"), col("label")), Seq("b"))
        .groupBy(a.as("node")).agg(min(col("label")).as("nmin"))
      val hop = lbl.select(col("node"), col("label").as("prev"))
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("prev"), coalesce(col("nmin"), col("prev")))
            .as("l1"), col("prev"))
      def jump(df: DataFrame, from: String, to: String): DataFrame = df
        .join(lbl.select(col("node").as(from), col("label").as(s"${from}_lab")),
          Seq(from), "left")
        .select(col("node"),
          least(col(from), coalesce(col(s"${from}_lab"), col(from))).as(to),
          col("prev"))
      jump(jump(hop, "l1", "l2"), "l2", "label")
    }
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // TWO complete rounds per snapshot write — the write (a whole
      // job: shuffle + commit + readback) is the per-round fixed cost
      // at small scale, so batching rounds halves it. Convergence is
      // observed on the SECOND round alone: round B runs complete on
      // round A's output, so "B changed nothing" IS the fixpoint test
      // — a shallow graph (the common dedup-cluster case) converges
      // in ONE write where the round-4 shape took three. The observe
      // rides the snapshot write itself (zero extra jobs).
      val once = round(labels.df)
      val twice = round(once.select(col("node"), col("label")))
      // alternate sites: never overwrite the dir being read
      val site = s"cc_labels_${(i + 1) % 2}"
      val (observed, changed) = Snapshot.observe[Long](twice, site,
        coalesce(sum(when(col("label") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("changed")) // coalesce: empty graph sums to null
      labels = Snapshot(observed, site)
      converged = changed() == 0L
      i += 1
    }
    // exiting via the cap would silently publish UNCONVERGED (wrong)
    // components — fail loudly instead; a pathological-diameter graph
    // needs a bigger maxIter (each iteration is two label-quadrupling
    // rounds), not a wrong answer
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        s"(2 pointer-jumped rounds each; cluster diameter is pathological); raise maxIter")
    // hand the final snapshot back through the CALLER's session so the
    // result composes with caller-session plans (the loop may have run
    // in the small-graph clone)
    val out = if (small) labels.in(caller) else labels.df
    out.select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** Oracle-checkable cluster resolution over the exact-verified
    * near-dup pairs: [[minhashVerifiedPairs]] edges (recall-1-proven ≡
    * the exact pair set) → [[connectedComponents]] → one row per
    * clustered doc with its canonical (smallest) id. The DuckDB
    * oracle recomputes the same clusters with a recursive CTE over
    * the no-LSH exact pairs — transitive closure, no propagation
    * machinery. */
  def dupClusters(df: DataFrame, minJaccard: Double = 0.8): DataFrame =
    connectedComponents(
      minhashVerifiedPairs(df, minJaccard)
        .select(col("doc_a"), col("doc_b")))
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_canonical"))

  /** Quality-aware canonical selection: within each verified near-dup
    * cluster keep the member with the MOST TOKENS (ties → lowest
    * doc_id) — "longest version wins", the keep-best rule curation
    * pipelines use instead of [[dupClusters]]'s min-id canonical
    * (a truncated scrape must not shadow the complete page it
    * duplicates). Singletons are their own cluster and keep
    * themselves.
    *
    * Scale shape: clusters come from the already-probed-at-100×
    * banded dedup + CC path; the selection adds one token-count scan
    * and one grp-keyed aggregation whose per-group argmax is a
    * `min(struct(...))` — an ordinary two-phase (partial/final)
    * aggregate, never a per-cluster window sort. Output is one row
    * per cluster. */
  def keepBestCanonical(df: DataFrame, minJaccard: Double = 0.8): DataFrame = {
    val comp = connectedComponents(
      minhashVerifiedPairs(df, minJaccard)
        .select(col("doc_a"), col("doc_b")))
    val toks = df.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    toks.join(comp, Seq("doc_id"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("grp"),
        col("doc_id"), col("n_tokens"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_members"),
        // lexicographic min of (-tokens, id) = argmax tokens, tie → min id
        min(struct((-col("n_tokens")).as("nt"), col("doc_id").as("id")))
          .as("best"))
      .select(col("grp"), col("best.id").as("keep_id"),
        (-col("best.nt")).cast("int").as("keep_tokens"), col("n_members"))
  }

  /** Leakage-safe train/eval split: assignment by NEAR-DUP CLUSTER,
    * not by document. Splitting docs independently leaks eval
    * answers into training whenever two near-duplicates straddle the
    * boundary — the standard contamination route benchmark audits
    * keep finding. Here every verified near-dup cluster
    * ([[minhashVerifiedPairs]] at `minJaccard` → min-label
    * [[connectedComponents]]; singletons are their own cluster) draws
    * ONE deterministic md5 uniform from its cluster id and the whole
    * cluster lands on the same side, so no verified pair can ever
    * cross the split. `testPermille` controls the expected eval
    * fraction (uniform over clusters).
    *
    * Scale shape: the banded dedup + CC machinery this composes is
    * the already-probed-at-100× path; the split itself adds one
    * narrow left join (doc → cluster) and scan-local md5 arithmetic
    * — no new shuffle of the corpus. */
  def leakageSafeSplit(df: DataFrame, testPermille: Int,
                       minJaccard: Double = 0.8): DataFrame = {
    val cc = connectedComponents(
      minhashVerifiedPairs(df, minJaccard)
        .select(col("doc_a"), col("doc_b")))
      .select(col("doc_id"), col("component"))
    val grp = df.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("grp"))
    val u32 = conv(substring(md5(col("grp").cast("string")), 1, 8), 16, 10)
      .cast("long")
    grp.select(col("doc_id"), col("grp"),
      when(u32 % 1000 < testPermille, "test").otherwise("train").as("split"))
  }

  /** Incremental dedup, exact-verified and SQL-oracle-checkable: docs
    * with doc_id ≡ 0 (mod 5) play the "new shard", the rest the
    * already-indexed corpus. Index the corpus, probe the shard, then
    * exact-rerank the discovered pairs at J ≥ `minJaccard` — the
    * DuckDB oracle computes ALL cross-shard pairs at that threshold
    * with no LSH, so hash equality proves the persisted-index
    * discovery path has recall 1 on this corpus. */
  def incrementalVerifiedPairs(s: SparkSession, df: DataFrame,
                               minJaccard: Double = 0.8): DataFrame = {
    val shard = df.filter(col("doc_id") % 5 === 0)
    val corpus = df.filter(col("doc_id") % 5 =!= 0)
    initLshIndex(corpus, "graft_inc_idx")
    val cand = Snapshot(
      dedupAgainstIndex(s, shard, "graft_inc_idx")
        .select(col("new_id"), col("dup_of"),
          least(col("new_id"), col("dup_of")).as("doc_a"),
          greatest(col("new_id"), col("dup_of")).as("doc_b")),
      "incremental_cand").df
    // once-shingled array rerank over the discovered pairs (r15) —
    // see [[rerankPairs]]; cand is a snapshot, so referencing it here
    // and inside the rerank costs no recompute
    cand.join(
        rerankPairs(df, cand.select(col("doc_a"), col("doc_b")), minJaccard),
        Seq("doc_a", "doc_b"))
      .select(col("new_id"), col("dup_of"), col("jaccard"))
  }

  /** The END-TO-END curation pipeline, oracle-checkable as ONE query:
    * quality gate → normalized exact dedup (keep smallest id) →
    * near-dup clustering over the survivors (LSH discovery, exact
    * rerank, connected components) → drop non-canonical cluster
    * members → deterministic train/test split tag. Every stage is an
    * operator above; composing them in one DataFrame program and
    * hash-matching a single relational restatement proves the STAGES
    * COMPOSE — ids flow through semi/anti joins without loss, the
    * cluster resolution sees exactly the exact-dedup survivors, and
    * the split assignment is engine-stable. This is the shape a real
    * corpus release runs nightly. */
  def dedupPipeline(df: DataFrame, minJaccard: Double = 0.8,
                    trainPct: Int = 80): DataFrame = {
    val quality = qualityRows(df)
    val kept = quality.join(exactKeepIds(quality), Seq("doc_id"), "left_semi")
    val comps = connectedComponents(
      minhashVerifiedPairs(kept, minJaccard)
        .select(col("doc_a"), col("doc_b")))
    val drop = comps.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    kept.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(TextAnalysis.md5Bucket16(col("doc_id")) % 100 < trainPct,
          "train").otherwise("test").as("split"))
  }

  /** Content-defined chunking fingerprint, one row per document: the
    * chunk count plus an md5-of-chunk-md5s fingerprint, so the gate
    * pins EVERY boundary the rolling hash declared in every document.
    * Chunking is scan-local (the codegen'd [[graft.functions.Kernels
    * .cdcChunks]] kernel — zero shuffles in this query), which is the
    * 100-TB property: boundaries depend only on a w-token window, so
    * any partitioning of the corpus chunks identically, and an
    * insertion/deletion perturbs at most the chunks overlapping one
    * window of the edit — the robustness fixed-stride spans
    * (`d_span_dedup`) fundamentally lack. */
  def cdcFingerprint(df: DataFrame, w: Int = 4, div: Int = 8): DataFrame = {
    import graft.functions.HashExpressions.cdc_chunks
    df.select(col("doc_id"),
        cdc_chunks(col("text"), w, div).as("chunks"))
      .select(col("doc_id"),
        size(col("chunks")).as("n_chunks"),
        md5(concat_ws("", transform(col("chunks"), c => md5(c)))).as("fp"))
  }

  /** Cross-document duplicate CDC chunks: explode chunk hashes and
    * aggregate — the chunk-granularity exact-dedup discovery. The
    * only exchange carries (16-byte hash, token count) rows, never
    * chunk text; at corpus scale this is the same md5-groupBy shape
    * as `d_exact` applied below document granularity. */
  def cdcDuplicateChunks(df: DataFrame, w: Int = 4,
                         div: Int = 8): DataFrame = {
    import graft.functions.HashExpressions.cdc_chunks
    df.select(col("doc_id"),
        explode(cdc_chunks(col("text"), w, div)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"),
        size(split(col("chunk"), " ", -1)).as("n_tokens"))
      .groupBy(col("chunk_hash"), col("n_tokens"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
  }

  /** Chunk-granularity contamination audit: per EVAL document, the
    * fraction of its CDC chunks appearing verbatim anywhere in the
    * train corpus — [[contamination]]'s decontamination question
    * asked with insertion-robust boundaries, so a benchmark answer
    * pasted into a train page WITH surrounding edits still hits on
    * its interior chunks where fixed windows would shift past it.
    *
    * Scale shape: the eval side is tiny, so its distinct chunk hashes
    * BROADCAST into the train scan (one pass, no train shuffle); the
    * surviving hit set is ≤ |eval chunks|, joined back to the eval
    * chunks for the per-doc rate. */
  def cdcContamination(train: DataFrame, probe: DataFrame,
                       w: Int = 4, div: Int = 8): DataFrame = {
    import graft.functions.HashExpressions.cdc_chunks
    def chunkHashes(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
          explode(cdc_chunks(col("text"), w, div)).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("h"))
    val pc = chunkHashes(probe)
    val pHashes = broadcast(pc.select(col("h")).distinct())
    val hitH = chunkHashes(train).select(col("h"))
      .join(pHashes, Seq("h"), "left_semi").distinct()
    pc.join(hitH.withColumn("_hit", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), count(col("_hit")).as("n_hit"))
      .select(col("doc_id"), col("n_chunks"), col("n_hit"),
        (round(col("n_hit").cast("double") /
          col("n_chunks").cast("double") * 1e4) / 1e4).as("hit_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_cdc_contamination" -> ((s, dir) => {
      graft.functions.HashExpressions.register(s)
      val d = docs(s, dir)
      cdcContamination(d.filter(col("doc_id") >= 10),
        d.filter(col("doc_id") < 10))
    }),
    "d_cdc_chunks" -> ((s, dir) => {
      graft.functions.HashExpressions.register(s)
      cdcFingerprint(docs(s, dir))
    }),
    "d_cdc_dups" -> ((s, dir) => {
      graft.functions.HashExpressions.register(s)
      cdcDuplicateChunks(docs(s, dir))
    }),
    "p_clean_corpus" -> ((s, dir) => cleanCorpus(docs(s, dir))),
    "p_dedup_pipeline" -> ((s, dir) => dedupPipeline(docs(s, dir))),
    "d_incremental" -> ((s, dir) => incrementalVerifiedPairs(s, docs(s, dir))),
    "d_minhash_exact" -> ((s, dir) => minhashVerifiedPairs(docs(s, dir))),
    "d_components" -> ((s, dir) => dupClusters(docs(s, dir))),
    // keep-best canonicals: longest member per cluster, one row per
    // cluster — the selection rule, not just the clustering, is what
    // the hash certifies
    "d_keep_best" -> ((s, dir) => keepBestCanonical(docs(s, dir))),
    // 10% eval target; the oracle re-derives the clusters with the
    // d_components recursive CTE and applies the identical md5 coin,
    // so the hash certifies cluster-atomic assignment end to end
    "p_leakage_split" -> ((s, dir) =>
      leakageSafeSplit(docs(s, dir), testPermille = 100)),
    // docs 0-9 stand in for the benchmark/eval set
    "d_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      contamination(d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10))
    }),
    "d_exact" -> ((s, dir) => exact(docs(s, dir), col("text"))),
    "d_exact_norm" -> ((s, dir) =>
      exact(docs(s, dir).withColumn("text", normalized(col("text"))), col("text"))),
    "d_ngram_jaccard" -> ((s, dir) =>
      ngramJaccardPairs(docs(s, dir), 0.2)),
    // τ=0.5: catches the planted near-dups in both directions plus
    // any subset/quote relationships Jaccard's symmetric denominator
    // hides
    "d_ngram_containment" -> ((s, dir) =>
      containmentPairs(docs(s, dir), 0.5)),
    // L=8: long enough that chance vocabulary collisions vanish —
    // every duplicated window is a genuinely shared span
    "d_span_dedup" -> ((s, dir) =>
      repeatedSpans(docs(s, dir), col("text"), 8)),
    // the REMOVAL stage over the same windows: the oracle re-derives
    // the cut positions relationally and md5s its own reassembled
    // text, so the hash certifies the exact surgical output
    "d_span_cut" -> ((s, dir) =>
      removeRepeatedSpans(docs(s, dir), col("text"), 8)),
    // the high-recall banding regime (32 bands × 2 rows, no estimate
    // gate) proven at the LOWER threshold 0.5: P(miss | J=0.5) =
    // (1-0.5²)^32 ≈ 1e-4 analytically, 0 measured — the oracle has no
    // LSH, so the hash match certifies recall 1 at J ≥ 0.5 here
    // (d_minhash_exact proves the production 16×4 regime at J ≥ 0.8)
    "d_minhash_lsh" -> ((s, dir) => minhashVerifiedPairs(docs(s, dir),
      minJaccard = 0.5, bands = 32, rows = 2, minEst = 0.0)),
    "d_simhash" -> ((s, dir) => simhashVerifiedPairs(docs(s, dir))),
    // The PRODUCTION SimHash shape: 4×16-bit banding, Hamming ≤ 3 —
    // the classic near-exact-dup contract (Manku et al., WWW'07 run
    // 64-bit signatures at radius 3). 16-bit chunk keys keep every
    // bucket discriminative at corpus scale, unlike the 4-bit proof
    // kernel above. The truth set is defined by signature Hamming (no
    // Jaccard threshold reproduces it), so the DuckDB oracle gets the
    // deterministic signatures as a literal VALUES table and restates
    // banding + radius relationally ([[simhashProdOracle]]); the
    // brute-force spec additionally pins completeness AND soundness
    // (OperatorsSpec "production simhash banding").
    "d_simhash_prod" -> ((s, dir) => {
      simhashProdCtx = Some((s, dir))
      simhashPairs(docs(s, dir), maxHamming = 3, nChunks = 4,
        sigOf = simhashShingled)
    }))

  /** Set by the `d_simhash_prod` builder; lets [[simhashProdOracle]]
    * regenerate the literal signature table for the SAME session/dir
    * the query ran against. Verify dumps oracle SQL only after every
    * query future has completed, so the stash is always populated
    * when the dynamic oracle is rendered. */
  @volatile private var simhashProdCtx: Option[(SparkSession, String)] = None

  /** `d_simhash_prod`'s oracle, rendered at dump time. The per-doc
    * 64-bit shingle-SimHash signatures are fully deterministic
    * (xxhash64 seed-42 bit votes), so they are inlined as a literal
    * VALUES table — the same literal-inlining trick as `t_analyze`'s
    * stem map and `s_embed_neardup`'s SRP sign matrix — and DuckDB
    * independently recomputes 4×16-bit chunk banding (band-equality
    * self-join) and the `bit_count(xor) <= 3` radius from the raw
    * signatures. Hash equality therefore proves the distributed
    * banded discovery emits exactly the Hamming ≤ 3 pair set. The
    * collect is oracle-dump-only (never in the benched query path)
    * and bounded at gate scale (500 rows at sf0.01). */
  private def simhashProdOracle: Map[String, String] = simhashProdCtx match {
    case None => Map.empty
    case Some((s, dir)) =>
      graft.functions.HashExpressions.register(s)
      val sigs = docs(s, dir)
        .select(col("doc_id"), simhashShingled(col("text")).as("sig"))
        .collect()
        .map(r => s"(${r.getLong(0)}, CAST(${r.getLong(1)} AS BIGINT))")
        .mkString(", ")
      Map("d_simhash_prod" ->
        s"""WITH sigs(doc_id, sig) AS (VALUES $sigs), chunks AS (SELECT doc_id, sig, b AS band, (sig >> (b * 16)) & 65535 AS chunk FROM sigs, (VALUES (0), (1), (2), (3)) bands(b)), cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb FROM chunks a JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id) SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming FROM cand WHERE bit_count(xor(sa, sb)) <= 3""")
  }

  /** Shared CDC restatement: tokens, per-token codepoint polyhashes,
    * window-4 rolling hashes, mod-8 boundaries, chunk slices — list
    * folds in index order, no kernel, no Spark machinery. */
  private val cdcBaseSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |th AS (SELECT doc_id, toks, len(toks) AS n,
      |  list_transform(toks, t -> list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(range(1, length(t)+1), i -> CAST(unicode(t[i]) AS BIGINT))), (a,c) -> (a*31+c) % 1000000007)) AS th FROM t),
      |b AS (SELECT doc_id, toks, n, list_filter(range(4, n+1), i -> list_reduce(list_prepend(CAST(11 AS BIGINT), th[i-3:i]), (a,x) -> (a*31+x) % 1000000007) % 8 = 0) AS bp FROM th),
      |e AS (SELECT doc_id, toks, CASE WHEN len(bp)=0 OR bp[-1] != n THEN list_append(bp, n) ELSE bp END AS ends FROM b)""".stripMargin

  def oracle: Map[String, String] = simhashProdOracle ++ Map(
    // chunks for ALL docs from the shared restatement, split by side,
    // exact distinct-hash membership — no broadcast machinery
    "d_cdc_contamination" ->
      s"""$cdcBaseSql,
        |x AS (SELECT doc_id, unnest(list_transform(range(1, len(ends)+1), k -> struct_pack(
        |   h := md5(array_to_string(toks[(CASE WHEN k=1 THEN 1 ELSE ends[k-1]+1 END):(ends[k])], ' '))))) AS ch FROM e),
        |sel AS (SELECT doc_id, ch.h AS h FROM x),
        |pp AS (SELECT doc_id, h FROM sel WHERE doc_id < 10),
        |trh AS (SELECT DISTINCT h FROM sel WHERE doc_id >= 10)
        |SELECT pp.doc_id, count(*) AS n_chunks, count(trh.h) AS n_hit,
        |  round((CAST(count(trh.h) AS DOUBLE)/CAST(count(*) AS DOUBLE))*1e4)/1e4 AS hit_rate
        |FROM pp LEFT JOIN trh ON pp.h = trh.h GROUP BY pp.doc_id""".stripMargin,
    "d_cdc_chunks" ->
      s"""$cdcBaseSql,
        |c AS (SELECT doc_id, list_transform(range(1, len(ends)+1), k -> md5(array_to_string(toks[(CASE WHEN k=1 THEN 1 ELSE ends[k-1]+1 END):(ends[k])], ' '))) AS chs FROM e)
        |SELECT doc_id, CAST(len(chs) AS INTEGER) AS n_chunks, md5(array_to_string(chs, '')) AS fp FROM c""".stripMargin,
    "d_cdc_dups" ->
      s"""$cdcBaseSql,
        |x AS (SELECT doc_id, unnest(list_transform(range(1, len(ends)+1), k -> struct_pack(
        |   h := md5(array_to_string(toks[(CASE WHEN k=1 THEN 1 ELSE ends[k-1]+1 END):(ends[k])], ' ')),
        |   l := ends[k] - (CASE WHEN k=1 THEN 0 ELSE ends[k-1] END)))) AS ch FROM e)
        |SELECT ch.h AS chunk_hash, CAST(ch.l AS INTEGER) AS n_tokens, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, count(*) AS n_occ
        |FROM x GROUP BY 1,2 HAVING count(*) >= 2""".stripMargin,
    // the WHOLE pipeline restated relationally: quality gate, exact
    // dedup keep-min, exact J>=0.8 pairs among survivors, recursive
    // transitive closure, canonical-only survivors, md5 split tag —
    // no LSH, no propagation machinery, no sampling randomness
    // every multiply-referenced CTE is MATERIALIZED: inside a WITH
    // RECURSIVE block DuckDB inlines plain CTEs at each reference, and
    // the duplicated shingle self-join out-spilled the 100x rehearsal
    // host's disk (the same query shape with single references —
    // d_minhash_exact — fits in the oracle budget)
    "p_dedup_pipeline" ->
      """WITH RECURSIVE quality AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE len(string_split(text, ' ')) >= 10 AND (CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 2.0 AND 12.0), kept AS MATERIALIZED (SELECT q.doc_id, q.text FROM quality q JOIN (SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) k ON q.doc_id = k.doc_id), toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept), sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8), edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(node, label) AS (SELECT a, a FROM edges UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node), comp AS MATERIALIZED (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node), survivors AS (SELECT k.doc_id FROM kept k LEFT JOIN comp c ON k.doc_id = c.doc_id WHERE c.doc_id IS NULL OR c.doc_id = c.component) SELECT doc_id, CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 80 THEN 'train' ELSE 'test' END AS split FROM survivors""",
    "p_clean_corpus" ->
      """SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, text FROM documents WHERE len(string_split(text, ' ')) >= 10 AND (CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 2.0 AND 12.0) GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""",
    "d_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY md5(text)",
    "d_exact_norm" ->
      "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1",
    // same undirected intersection, then the two directed ratios —
    // the UNION ALL mirrors Spark's post-aggregation projection pair
    "d_ngram_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ij AS (SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
        |d AS (SELECT doc_a AS src, doc_b AS dst, CAST(i AS DOUBLE) / CAST(na AS DOUBLE) AS c FROM ij
        |      UNION ALL SELECT doc_b, doc_a, CAST(i AS DOUBLE) / CAST(nb AS DOUBLE) FROM ij)
        |SELECT src, dst, round(c*1e4)/1e4 AS containment FROM d WHERE c >= 0.5""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, round((CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE))*1e4)/1e4 AS jaccard FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.2""",
    // windows restated with DuckDB list slicing: t[i:i+7] is the same
    // 8-token window Spark's slice(t, i, 8) builds; range(1, n-6) ≡
    // sequence(1, n-7) — both emit n-7 positions
    // windows aggregate on their 128-bit md5_number rather than the
    // window STRING: same multiset (md5 collisions over ~50M distinct
    // 8-token windows are ~2^-100 events), ~4x less hash-table memory
    // — the raw-string form OOM'd DuckDB at the 100x rehearsal
    "d_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents), win AS MATERIALIZED (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6), i -> md5_number(array_to_string(t[i:i+7], ' ')))) AS wh FROM toks WHERE len(t) >= 8), cnt AS MATERIALIZED (SELECT wh, count(*) AS c FROM win GROUP BY wh), per AS (SELECT doc_id, count(*) AS n_windows, CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans FROM win JOIN cnt USING (wh) GROUP BY doc_id) SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows, coalesce(n_dup_spans, 0) AS n_dup_spans, round(CAST(coalesce(n_dup_spans, 0) AS DOUBLE) / CAST(greatest(coalesce(n_windows, 0), 1) AS DOUBLE) * 1e4) / 1e4 AS dup_ratio FROM documents d LEFT JOIN per USING (doc_id)""",
    // the cut positions re-derived relationally (1-based coordinates
    // throughout — only counts and the reassembled text surface, so
    // the coordinate base is internal); interval union = DISTINCT on
    // (doc_id, p), reassembly = ordered string_agg, then md5 — the
    // hash certifies the exact surgical output byte for byte
    // ws no longer carries the full token list per window position
    // (the r11 form duplicated `t` O(positions) times — the 100x OOM)
    // and windows reduce to md5_number immediately, as in d_span_dedup
    "d_span_cut" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |ws AS MATERIALIZED (SELECT doc_id, u.i AS i, u.wh AS wh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6), i -> {'i': i, 'wh': md5_number(array_to_string(t[i:i+7], ' '))})) AS u FROM toks WHERE len(t) >= 8)),
        |dup AS (SELECT wh FROM ws GROUP BY wh HAVING count(*) > 1),
        |cov0 AS (SELECT doc_id, i, unnest(range(0, 8)) AS o FROM ws WHERE wh IN (SELECT wh FROM dup)),
        |cov AS (SELECT DISTINCT doc_id, i + o AS p FROM cov0),
        |tok AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p FROM toks),
        |kept AS (SELECT k.doc_id, k.p, k.tok FROM tok k
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.p = k.p)),
        |cl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(tok, ' ' ORDER BY p) AS clean FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(lower(d.text), ' ')) - coalesce(n_kept, 0) AS BIGINT) AS n_cut,
        |  md5(coalesce(clean, '')) AS clean_hash
        |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin,
    "d_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), probe AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10) SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN probe p ON s.sh = p.sh WHERE s.doc_id >= 10 GROUP BY s.doc_id""",
    // the oracle has NO LSH and NO index — matching it proves the
    // persisted-index incremental discovery has recall 1 at J >= 0.8
    // (see incrementalVerifiedPairs; shard = doc_id % 5 = 0)
    "d_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS (SELECT doc_a, doc_b, round((CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE))*1e4)/1e4 AS jaccard FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8) SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS new_id, CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS dup_of, jaccard FROM pairs WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)""",
    // the oracle has NO LSH — matching it proves banded discovery
    // recall = 1 at J >= 0.8 on this corpus (see minhashVerifiedPairs)
    "d_minhash_exact" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, round((CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE))*1e4)/1e4 AS jaccard FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""",
    // cluster resolution: the oracle recomputes the SAME clusters by
    // recursive transitive closure over the no-LSH exact pair set —
    // no label propagation, no components machinery. Matching proves
    // the distributed min-label iteration converged to true components
    "d_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS (SELECT doc_a, doc_b FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(node, label) AS (SELECT a, a FROM edges UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node) SELECT node AS doc_id, min(label) AS component, (node = min(label)) AS is_canonical FROM reach GROUP BY node""",
    // clusters via the same recursive transitive closure, then the
    // argmax restated as a window (row_number over tokens DESC, id
    // ASC) — selection-equivalent to Spark's min(struct) aggregate
    "d_keep_best" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS (SELECT doc_a, doc_b FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(node, label) AS (SELECT a, a FROM edges UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node), comp AS (SELECT node AS doc_id, min(label) AS grp FROM reach GROUP BY node), mem AS (SELECT d.doc_id, coalesce(comp.grp, d.doc_id) AS grp, len(string_split(d.text, ' ')) AS n_tokens FROM documents d LEFT JOIN comp USING (doc_id)), rk AS (SELECT grp, doc_id, n_tokens, row_number() OVER (PARTITION BY grp ORDER BY n_tokens DESC, doc_id) AS rn, count(*) OVER (PARTITION BY grp) AS n_members FROM mem) SELECT grp, doc_id AS keep_id, CAST(n_tokens AS INTEGER) AS keep_tokens, n_members FROM rk WHERE rn = 1""",
    // clusters re-derived by recursive transitive closure (the
    // d_components oracle), singletons their own cluster, then the
    // SAME md5 coin per cluster — leakage-safe by construction on
    // both sides, and the hash proves the distributed path agrees
    "p_leakage_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8), edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs), reach(node, label) AS (SELECT a, a FROM edges UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node), comp AS MATERIALIZED (SELECT node AS doc_id, min(label) AS grp FROM reach GROUP BY node) SELECT d.doc_id, coalesce(comp.grp, d.doc_id) AS grp, CASE WHEN CAST(('0x' || substring(md5(CAST(coalesce(comp.grp, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 100 THEN 'test' ELSE 'train' END AS split FROM documents d LEFT JOIN comp USING (doc_id)""",
    // NO LSH in the oracle: exact pairs at J >= 0.5 — hash equality
    // proves the 32×2 banding surfaced every such pair (recall 1)
    "d_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, round((CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE))*1e4)/1e4 AS jaccard FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5""",
    // NO SimHash in the oracle: exact pairs at J >= 0.8 — hash
    // equality proves the pigeonhole-complete 16-chunk banding over
    // shingle-feature signatures covers every exact near-dup on this
    // corpus (measured J≥0.8 shingle-Hamming tail reaches 11 ≤ the
    // guaranteed-complete 15); same truth set as d_minhash_exact,
    // certifying a DIFFERENT discovery mechanism
    "d_simhash" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 3)), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, round((CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE))*1e4)/1e4 AS jaccard FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""")
}
