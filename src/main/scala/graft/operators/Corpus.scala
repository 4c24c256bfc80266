package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.functions.HashExpressions
import graft.sources.Tables

/** Corpus-curation operators: the cleaning/mixing stages a training-
  * data pipeline runs AFTER per-document scoring ([[TextAnalysis]])
  * and BEFORE dedup ([[Dedup]]) — repetition signals, corpus-level
  * boilerplate detection, PII scrubbing, and deterministic sampling
  * (class-balanced and token-budgeted).
  *
  * Scale notes (100 TB): repetition and PII are per-document —
  * repetition shuffles only narrow (doc_id, token) pairs with map-side
  * partial aggregation; PII is pure scan-speed regex. Boilerplate is
  * the one corpus-global stage: shingle doc-frequencies aggregate with
  * partial combine, and the surviving boilerplate set (frequent
  * shingles only — small by construction) broadcasts back, so the
  * corpus is never shuffled whole. Both samplers key on md5(doc_id),
  * which is stable across runs, partitionings, cluster sizes and
  * engines — re-running the pipeline never migrates a document across
  * the sample boundary.
  */
object Corpus {

  private def r4(c: Column): Column = round(c * 1e4) / 1e4

  def tokens(text: Column): Column = split(text, " ")

  /** Gopher-style repetition signals: the fraction of tokens taken by
    * the single most frequent word, and the fraction of duplicated
    * bigrams. High values flag machine-generated / boilerplate docs.
    * Distributed shape: explode to (doc_id, token) and aggregate —
    * documents are small, so per-doc groups never skew. */
  def repetitionSignals(df: DataFrame, text: Column): DataFrame = {
    HashExpressions.register(df.sparkSession)
    val words = df.select(col("doc_id"), explode(tokens(text)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).count()
      .groupBy(col("doc_id"))
      .agg(max(col("count")).as("maxc"), sum(col("count")).as("n_tokens"))
    val bigrams = df.select(col("doc_id"),
        explode(HashExpressions.word_ngrams2(tokens(text))).as("bg"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bg")).as("d_bi"), count(lit(1)).as("n_bi"))
    words.join(bigrams, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        r4(col("maxc").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        r4(lit(1.0) - col("d_bi").cast("double") / col("n_bi").cast("double"))
          .as("dup_bigram_frac"))
  }

  /** Corpus-level boilerplate: 3-gram shingles occurring in at least
    * `minDocs` distinct documents are "boilerplate" (headers, footers,
    * license blurbs at web scale); each document reports how much of
    * it is made of them. The boilerplate set is frequent-only, hence
    * small, hence broadcast — the corpus-side explode is never
    * re-shuffled for the membership join. */
  /** Per-document distinct 3-gram shingles — the shared input of the
    * docfreq aggregation and the membership scoring. */
  def shingleSet(df: DataFrame, text: Column): DataFrame = {
    HashExpressions.register(df.sparkSession)
    df.select(col("doc_id"),
      explode(array_distinct(HashExpressions.word_ngrams3(tokens(text))))
        .as("sh"))
  }

  /** Score each document's shingles against a boilerplate set
    * (`boiler`: one `sh` column, frequent-only hence small hence
    * broadcast). Shared by the batch operator and the streaming stage
    * ([[graft.streaming.CorpusStream.curationStage]]) so batch ≡
    * stream holds by construction. */
  def boilerplateScore(sh: DataFrame, boiler: DataFrame): DataFrame =
    sh.join(broadcast(boiler.select(col("sh"), lit(1).as("isb"))),
        Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("isb")).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        r4(col("n_boiler").cast("double") / col("n_shingles").cast("double"))
          .as("boiler_frac"))

  def boilerplateSignals(df: DataFrame, text: Column,
                         minDocs: Int = 5): DataFrame = {
    val sh = shingleSet(df, text)
    val boiler = sh.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("docfreq"))
      .filter(col("docfreq") >= minDocs)
    boilerplateScore(sh, boiler)
  }

  /** Conservative ASCII patterns shared with the DuckDB oracle (RE2 ∩
    * java.util.regex — no lookaround, no \b). */
  val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
  val phoneRe = "[0-9]{3}-[0-9]{4}"

  /** Redact emails then phone numbers. Spark's regexp_replace is
    * global by default; the DuckDB twin needs the 'g' flag. */
  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Per-document PII audit: match counts plus an md5 digest of the
    * scrubbed text (md5 is engine-independent, so the digest oracles
    * the full scrubbed string without shipping it). */
  def piiAudit(df: DataFrame, text: Column): DataFrame =
    df.select(col("doc_id"),
      size(regexp_extract_all(text, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(text, lit(phoneRe), lit(0))).as("n_phones"),
      md5(scrubPii(text)).as("scrub_hash"))

  /** Class-balanced downsampling: classes larger than `cap` keep a
    * deterministic md5-bucket fraction ≈ cap/|class|; smaller classes
    * keep everything. Class sizes come from a pre-aggregated broadcast
    * (classes ≪ rows), so the data pass is a scan + map-side join —
    * no shuffle of the corpus. floor() before the integer cast on BOTH
    * engines (double→int casts round differently). */
  def stratifiedSample(df: DataFrame, classCol: Column, key: Column,
                       cap: Int): DataFrame = {
    val counts = df.groupBy(classCol.as("_cls")).agg(count(lit(1)).as("_cnt"))
    val bucket = TextAnalysis.md5Bucket16(key) % 10000
    // null-safe: a null class is a class too (<=> matches it to its
    // count row; plain === would silently drop every null-class doc)
    df.join(broadcast(counts), classCol <=> col("_cls"))
      .filter(bucket < floor(
        least(lit(1.0), lit(cap.toDouble) / col("_cnt").cast("double")) * 10000)
        .cast("long"))
      .drop("_cls", "_cnt")
  }

  /** Token-budget corpus mixing: within each class, take documents in
    * deterministic md5-bucket order until the running token count
    * exceeds `budget` — the "N tokens per source" recipe of LLM data
    * mixes. One window per class; a class bigger than an executor's
    * partition would be pre-split by bucket range at real scale. */
  def tokenBudgetSample(df: DataFrame, classCol: Column, key: Column,
                        estTokens: Column, budget: Long): DataFrame = {
    val bucket = TextAnalysis.md5Bucket16(key)
    val w = Window.partitionBy(classCol).orderBy(bucket.asc, key.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(estTokens).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis '06):
    * each row draws a deterministic uniform u from its key's md5 —
    * exact integer arithmetic, (u32 + 0.5)/2³² so u ∈ (0,1) — and the
    * n rows with the largest priority u^(1/w) are the sample; the
    * classic one-pass distributed weighted sampler (heavier w →
    * priority closer to 1). Priorities round to 1e-8 (ties break by
    * key) so the selection boundary is engine-stable.
    *
    * Scale shape: priority is scan-local map work; the global top-n is
    * the k-bounded heap aggregate ([[graft.functions.TopK]]) — each
    * partition folds to ≤ n entries before the single-row exchange, so
    * a 100 TB corpus ships n·partitions heap entries, never a global
    * sort. The weight join-back touches only the n winners. */
  /** Deterministic seeded global shuffle into training shards — the
    * final stage of an LLM data pipeline: examples must reach the
    * trainer WELL-MIXED (no source/time locality) in a REPRODUCIBLE
    * order (seeded — a re-run or resumed job sees the identical
    * stream), sharded so each shard is one sequential file a
    * data-loader worker owns.
    *
    * Permutation = order by md5(seed # key): engine-independent,
    * uniform, collision-free on distinct keys (key itself is the
    * tiebreak for total order anyway); a different seed is an
    * independent permutation. shard = first 8 hex digits mod
    * nShards, position = rank within the shard.
    *
    * Scale shape: ONE exchange, hash-partitioned on the shard id,
    * then each shard sorts its own slice — no global sort, no driver
    * involvement. nShards is the parallelism AND the shard-size knob:
    * pick it so a shard fits one task comfortably (~1 GiB shards at
    * 100 TB → ~10⁵ shards). The DuckDB oracle restates the same md5
    * arithmetic with a window, so hash equality proves the
    * distributed permutation IS the stated permutation. */
  def shuffleShards(df: DataFrame, key: Column, nShards: Int,
                    seed: Long = 0L): DataFrame = {
    val h = md5(concat_ws("#", lit(seed.toString), key.cast("string")))
    val t = df.select(key.as("doc_id"), h.as("_h"))
      .withColumn("shard",
        (conv(substring(col("_h"), 1, 8), 16, 10).cast("long") % nShards)
          .cast("int"))
    t.withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_h"), col("doc_id")))
        .cast("int"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     n: Int): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    val u32 = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (u32.cast("double") + 0.5) / lit(4294967296.0)
    val keyed = df.select(key.as("doc_id"), weight.cast("double").as("w"))
      .select(col("doc_id"), col("w"),
        (round(pow(u, lit(1.0) / col("w")) * 1e8) / 1e8).as("pri"))
    val top = keyed
      .agg(graft.functions.HashExpressions
        .top_k_by_score(col("pri"), col("doc_id"), n).as("tk"))
      .select(posexplode(col("tk")))
      .select(col("col.nid").as("doc_id"),
        (round(col("col.sim") * 1e8) / 1e8).as("pri"),
        (col("pos") + 1).cast("int").as("pick_rank"))
    // re-attach weights by broadcasting the n WINNERS against the
    // corpus scan (never the reverse — the corpus is the big side)
    keyed.select(col("doc_id"), col("w")).join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("w"), col("pri"), col("pick_rank"))
  }

  /** Per-group winsorization: clip a signal to its group's
    * [lo, hi] percentile band — the standard outlier-taming step
    * before quality scores feed a sampler (a 10⁶-char document should
    * count as "long", not dominate the weight budget). One
    * model-sized percentile aggregation (groups ≪ rows, exact
    * interpolated percentile matching DuckDB's quantile_cont),
    * broadcast back, clip scan-local. */
  def winsorize(df: DataFrame, group: Column, value: Column,
                lo: Double, hi: Double): DataFrame = {
    val v = df.select(col("doc_id"), group.as("grp"),
      value.cast("double").as("v"))
    val bounds = v.groupBy(col("grp")).agg(
      expr(s"percentile(v, $lo)").as("p_lo"),
      expr(s"percentile(v, $hi)").as("p_hi"))
    v.join(broadcast(bounds), "grp")
      .select(col("doc_id"), col("grp"), col("v"),
        (round(greatest(col("p_lo"), least(col("p_hi"), col("v"))) * 1e4)
          / 1e4).as("v_clip"))
  }

  /** Concatenate-and-chunk sequence packing — the layout step that
    * turns a cleaned corpus into fixed-`budget`-token training
    * sequences: documents are laid out in deterministic hash order
    * (md5 of `key`: uniform AND engine-independent, so the layout is
    * bit-stable across runs, partitionings and engines), virtually
    * concatenated, and cut every `budget` tokens. Each document gets
    * its global token offset and the first/last sequence ids its span
    * touches (a document crossing a cut belongs to both — the
    * standard "pack then chunk" recipe).
    *
    * The global offset is a DISTRIBUTED prefix sum, never one
    * unbounded window (that would drag the whole corpus through a
    * single task): rows bucket by the first `bucketChars` hex chars
    * of the hash — a PREFIX of the sort key, so bucket ranges tile
    * the total order — per-bucket token totals (≤ 16^bucketChars
    * rows) collect to the driver for exclusive bucket offsets, and
    * the within-bucket cumsum runs as 16^bucketChars independent
    * windows. At 100 TB raise `bucketChars` (4 → 65k buckets): the
    * collect stays model-sized and window partitions stay
    * executor-sized. */
  def packSequences(df: DataFrame, key: Column, nTokens: Column,
                    budget: Long, bucketChars: Int = 2): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val withK = df
      .withColumn("_k", md5(key.cast("string")))
      .withColumn("_b", substring(col("_k"), 1, bucketChars))
      .withColumn("n_tokens", nTokens.cast("long"))
    // driver-held model: one (bucket → exclusive token offset) entry
    // per occupied bucket, bounded by 16^bucketChars
    val totals = withK.groupBy(col("_b")).agg(sum(col("n_tokens")).as("_t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val bucketOffset: Map[String, Long] = totals.map { case (b, t) =>
      val entry = b -> acc; acc += t; entry
    }.toMap
    val wb = Window.partitionBy(col("_b")).orderBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withK
      .withColumn("tok_offset",
        element_at(typedLit(bucketOffset), col("_b")) +
          coalesce(sum(col("n_tokens")).over(wb), lit(0L)))
      .withColumn("seq_first", expr(s"tok_offset DIV ${budget}L"))
      .withColumn("seq_last",
        expr(s"(tok_offset + n_tokens - 1) DIV ${budget}L"))
      .drop("_k", "_b")
  }

  /** Overlapping token-window chunking — the RAG / context-window
    * prep step: each document becomes windows of `window` tokens at
    * `stride` starts (stride < window ⇒ overlap), the final window
    * truncated to the tail. Chunk count is closed-form
    * (1 if n ≤ window, else ⌈(n−window)/stride⌉+1 — no window that a
    * previous one fully covers), so the whole operator is per-row
    * generate+slice: zero shuffles, scale-trivial. `chunk_hash` is
    * md5 of the chunk text — engine-independent, which lets the
    * DuckDB oracle restate the exact slicing. */
  def chunkDocs(df: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.withColumn("_toks", tokens(col("text")))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_c", when(col("_n") <= window, lit(1L))
        .otherwise(expr(s"(_n - ${window}L + ${stride - 1}L) DIV ${stride}L + 1L")))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("_c") - 1)))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("n_tokens",
        least(lit(window.toLong), col("_n") - col("tok_start")))
      .withColumn("chunk_hash", md5(concat_ws(" ",
        slice(col("_toks"), (col("tok_start") + 1).cast("int"),
          col("n_tokens").cast("int")))))
      .drop("_toks", "_n", "_c")
  }

  /** Model-based quality filtering — the in-engine analog of the
    * fastText quality classifier every web-scale pipeline runs
    * (CCNet / LLaMA-style): a Naive Bayes model over bucketed
    * per-document features (length, mean token length, stopword
    * ratio), self-distilled from the Gopher heuristic's weak labels
    * ([[TextAnalysis.quality]]'s keep flag), then scored back over
    * the whole corpus as a log-likelihood ratio.
    *
    * Everything — training AND inference — is relational, so the
    * model fits in the same job that applies it and the DuckDB
    * oracle can restate it exactly: feature bucketing is per-row
    * integer math, each feature's (value, class) count table is a
    * model-sized aggregate (≤ ~30 rows) broadcast back onto the
    * corpus, and the score is a fixed-order sum of add-one-smoothed
    * log ratios. At 100 TB the corpus is scanned twice (once to
    * count, once to score) and shuffles only the model-sized count
    * tables — the classifier costs two scans, zero corpus shuffles.
    */
  def nbQualityModel(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val nChars = length(text)
    val mtl = (nChars - nTokens + 1).cast("double") / nTokens.cast("double")
    val stopRatio = size(filter(toks,
        t => t.isInCollection(TextAnalysis.enStopwords)))
      .cast("double") / nTokens.cast("double")
    // featurization (tokenize + stopword lambda per doc) is the
    // operator's dominant cost — snapshot it so train AND score read
    // the 5-int-per-doc feature table instead of re-tokenizing the
    // corpus (one text scan total, the fastText-pipeline shape of
    // "extract features once, fit+apply on the features")
    val feats = Snapshot(
      df.select(col("doc_id"),
        (nTokens >= 10 && mtl >= 2.0 && mtl <= 12.0).as("keep"),
        least(floor(nTokens.cast("double") / 10.0), lit(20.0)).cast("long")
          .as("lb"),
        floor(mtl).cast("long").as("mb"),
        floor(stopRatio * 10.0).cast("long").as("sb")),
      "nb_feats").df
    // ONE training scan: the three per-feature count tables melt into
    // a single (feature, value, class-counts) aggregation — the naive
    // formulation (tot + one groupBy per feature) re-featurized the
    // corpus four times, which at 100× dominated the operator. The
    // melted model is ≤ ~3×30 rows BY CONSTRUCTION (bucket domains:
    // lb ≤ 21, mb ≤ ~12 under the mtl gate, sb ≤ 11) — bounded MODEL
    // state, so it collects to the driver once (r15, the WordPiece
    // typedLit device) instead of materializing + three broadcast
    // joins + a tot cross-join: the likelihood-ratio tables become
    // driver-computed map literals and the whole scoring pass is a
    // pure projection over the feature snapshot, no joins at all.
    // Arithmetic is IDENTICAL: scala's math.log and Catalyst's log
    // are both java.lang.Math.log over the same doubles, and the
    // score's addition order (prior + llr_lb + llr_mb + llr_sb) is
    // preserved term for term.
    val melted = feats.select(col("keep"),
        explode(map(
          lit("lb"), col("lb"), lit("mb"), col("mb"),
          lit("sb"), col("sb"))).as(Seq("feat", "v")))
      .groupBy(col("feat"), col("v"))
      .agg(count(when(col("keep"), 1)).as("ck"),
        count(when(not(col("keep")), 1)).as("cd"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lbRows = melted.filter(_._1 == "lb")
    val nk = lbRows.map(_._3).sum
    val nd = lbRows.map(_._4).sum
    def llrMap(c: String): Map[Long, Double] = {
      val rows = melted.filter(_._1 == c)
      val vf = rows.length.toLong
      rows.map { case (_, v, ck, cd) =>
        v -> (math.log((ck + 1).toDouble / (nk + vf).toDouble) -
          math.log((cd + 1).toDouble / (nd + vf).toDouble))
      }.toMap
    }
    val score = lit(math.log((nk + 1).toDouble) -
        math.log((nd + 1).toDouble)) +
      element_at(typedLit(llrMap("lb")), col("lb")) +
      element_at(typedLit(llrMap("mb")), col("mb")) +
      element_at(typedLit(llrMap("sb")), col("sb"))
    feats
      .select(col("doc_id"), col("lb"), col("mb"), col("sb"),
        r4(score).as("nb_score"),
        (r4(score) > 0).as("nb_keep"))
  }

  /** Temperature-scaled source mixing — the GPT-3-style mixture
    * recipe: source s gets a document quota ∝ |s|^α (α < 1 flattens
    * the mix toward small sources), filled in deterministic
    * md5-bucket order. Quota arithmetic is EXACT integers end to
    * end — weights are round(|s|^α · 1e6) longs, the normalizer is
    * an integer sum, quotas are integer `(total·w) DIV Σw` — so no
    * float-summation order can flip a boundary document on either
    * engine. Per-source counts are a broadcast-sized aggregate; the
    * data pass is one scan + a per-source rank window (a source
    * larger than a partition pre-splits by bucket range at real
    * scale, the [[packSequences]] tiling). */
  def temperatureMix(df: DataFrame, classCol: Column, key: Column,
                     total: Long, alphaPct: Int = 50): DataFrame = {
    // per-source counts are MODEL-sized (one row per source) — collect
    // once and compute the quota table driver-side (r15, the typedLit
    // device): the sumw aggregate and the quota broadcast join both
    // disappear; the data pass keeps only the rank window + a map
    // lookup filter. Quota arithmetic stays EXACT integers in the
    // same order — round(pow(cnt,α)·1e6) via BigDecimal HALF_UP (the
    // identical rounding Catalyst's round applies to a double), an
    // integer Σw, and integer (total·w) DIV Σw per source. A possible
    // NULL source keeps the old null-safe-join semantics through a
    // dedicated scalar (maps cannot hold a null key).
    // keys ride Spark's OWN string cast on both the build and lookup
    // sides, so the map is self-consistent for any class column type
    val counts = df.groupBy(classCol.cast("string").as("_cls"))
      .agg(count(lit(1)).as("_cnt"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    def w(cnt: Long): Long = java.math.BigDecimal
      .valueOf(math.pow(cnt.toDouble, alphaPct / 100.0) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val sumw = counts.map { case (_, c) => w(c) }.sum
    val quota: Map[String, Long] = counts.collect {
      case (Some(cls), c) => cls -> (total * w(c)) / sumw
    }.toMap
    val nullQuota: Option[Long] = counts.collectFirst {
      case (None, c) => (total * w(c)) / sumw
    }
    val quotaCol = when(classCol.isNull,
        nullQuota.map(lit(_)).getOrElse(lit(null).cast("long")))
      .otherwise(element_at(typedLit(quota), classCol.cast("string")))
    val rank = row_number().over(Window.partitionBy(classCol)
      .orderBy(TextAnalysis.md5Bucket16(key).asc, key.asc))
    df.withColumn("mix_rank", rank.cast("long"))
      .withColumn("quota", quotaCol)
      .filter(col("mix_rank") <= col("quota"))
  }

  /** Length-bucketed training-batch assembly — the padding-
    * minimization recipe for non-packed fine-tuning: documents bucket
    * by ⌊log₂(tokens)⌋ (≤2× length spread inside a bucket), fill
    * fixed-size batches in deterministic md5 order within each
    * bucket, and report per-batch padding waste (1 − Σtokens /
    * (max·n) — what the batch actually pads to). One narrow shuffle
    * on the bucket key; the per-bucket rank window is the
    * [[tokenBudgetSample]] caveat — a hot bucket pre-splits by md5
    * range at real scale. */
  def lengthBucketBatches(df: DataFrame, key: Column, nTokens: Column,
                          batchSize: Int): DataFrame = {
    val w = Window.partitionBy(col("_lb"))
      .orderBy(TextAnalysis.md5Bucket16(key).asc, key.asc)
    df.withColumn("_n", nTokens.cast("long"))
      .withColumn("_lb", floor(log2(col("_n"))).cast("long"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(_rn - 1) DIV $batchSize"))
      .groupBy(col("_lb").as("len_bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("_n")).as("max_tokens"),
        sum(col("_n")).as("sum_tokens"))
      .withColumn("pad_frac",
        r4(lit(1.0) - col("sum_tokens").cast("double") /
          (col("max_tokens") * col("n_docs")).cast("double")))
  }

  // ------------------------------------------------------- queries //

  /** DSIR-style data selection (Xie et al. '23): per-document
    * importance weight log(p̂_target/p̂_source) under hashed-bigram
    * bag-of-features models — the cheap importance-resampling signal
    * for steering a web-scale mix toward a target distribution (here:
    * `isTarget` rows are the target sample, the whole frame the
    * source). Features are word bigrams hashed into `nBuckets` md5
    * buckets (engine/run-stable); both multinomials are add-one
    * smoothed; a document's weight is the sum of its bigrams' bucket
    * log-ratios.
    *
    * Scale shape: one bigram shuffle for the two count tables (tiny:
    * ≤ nBuckets rows each, broadcast back joined onto the bigram
    * stream), one per-doc aggregation. Resampling itself is then
    * [[stratifiedSample]]/[[tokenBudgetSample]] keyed on the weight —
    * no new machinery. */
  def dsirWeights(df: DataFrame, text: Column, isTarget: Column,
                  nBuckets: Int = 1024): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    val bg = df.select(col("doc_id"), isTarget.as("tgt"),
        explode(graft.functions.HashExpressions
          .word_ngrams2(tokens(text))).as("bgs"))
      .select(col("doc_id"), col("tgt"),
        (TextAnalysis.md5Bucket16(col("bgs")) % nBuckets).as("b"))
    val cs = bg.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val ct = bg.filter(col("tgt")).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val tot = bg.agg(count(lit(1)).as("ts"),
      count(when(col("tgt"), 1)).as("tt"))
    val ratios = cs.join(ct, Seq("b"), "left").crossJoin(broadcast(tot))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tt") + nBuckets).cast("double")) -
          log((col("cs") + 1).cast("double") /
            (col("ts") + nBuckets).cast("double"))).as("lr"))
    bg.join(broadcast(ratios), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        r4(sum(col("lr"))).as("dsir_weight"))
  }

  /** Per-domain frequency cap: keep at most `maxPerSource` documents
    * from each source/domain — the anti-SEO-farm diversity control
    * every web-corpus pipeline applies (a single template site must
    * not contribute a million near-identical pages to the mix).
    * Selection is a deterministic md5 coin on doc_id (same 16-bit
    * arithmetic as [[TextAnalysis.md5Bucket16]]), so re-running the
    * pipeline never swaps which documents survive. Unlike
    * [[stratifiedSample]] — a RATE sampler whose per-class yield is
    * `cap` only in expectation — this is the exact cap: every domain
    * emits min(|domain|, maxPerSource) documents, with their
    * selection rank.
    *
    * Scale design: per-domain selection runs as the k-bounded heap
    * aggregate ([[graft.functions.TopK.TopKByScore]]), NOT a
    * `row_number` window — a hot domain with 10⁸ pages would force
    * one task to sort all of them; the heap folds each input
    * partition to ≤ k entries map-side, so the shuffle carries
    * ≤ k·partitions rows per domain regardless of domain size. */
  def domainCap(df: DataFrame, source: Column, maxPerSource: Int): DataFrame = {
    graft.functions.HashExpressions.register(df.sparkSession)
    // negated coin: the heap keeps HIGHEST scores, we keep lowest
    // coins; integer coins are exact in double, ties fall to the
    // heap's id-ASC contract
    df.select(source.as("source"), col("doc_id"),
        (-TextAnalysis.md5Bucket16(col("doc_id"))).cast("double").as("s"))
      .groupBy(col("source"))
      .agg(graft.functions.HashExpressions
        .top_k_by_score(col("s"), col("doc_id"), maxPerSource).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), col("col.nid").as("doc_id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** The corpus has no organic PII, so the audit query plants a
    * deterministic synthetic tail (same expression in the oracle) —
    * the scrubber and counters then run on real + planted content. */
  private def withSyntheticPii(df: DataFrame): DataFrame =
    df.withColumn("text", concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex.com tel 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")))

  /** k-anonymity audit over the metadata quasi-identifiers a corpus
    * release exposes (lang, source, length bucket): a document whose
    * full quasi-identifier tuple has fewer than k peers is a
    * re-identification risk — the standard pre-release privacy gate
    * next to [[piiAudit]]'s content scan. Each doc also carries its
    * peer counts up the generalization ladder (drop the length
    * bucket, then the source), so curators see which generalization
    * restores k-anonymity instead of just a flag.
    *
    * Shape at 100 TB: three metadata-only grouped counts (map-side
    * combinable, group cardinality = |lang x source x buckets| —
    * dimension-sized), broadcast-joined back to the corpus: one
    * corpus scan, zero corpus shuffles. NULL quasi-identifiers are
    * excluded up front (stated contract, mirrored in the oracle):
    * a NULL can't be a re-identification handle. */
  def kAnonymity(docs: DataFrame, k: Int): DataFrame = {
    val b = docs
      .filter(col("lang").isNotNull && col("source").isNotNull &&
        col("n_chars").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        (col("n_chars") / 100L).cast("long").as("len_b"))
    val full = b.groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n_full"))
    val noLen = b.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_no_len"))
    val langOnly = b.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang_only"))
    b.join(broadcast(full), Seq("lang", "source", "len_b"))
      .join(broadcast(noLen), Seq("lang", "source"))
      .join(broadcast(langOnly), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("source"), col("len_b"),
        col("n_full"), col("n_no_len"), col("n_lang_only"),
        (col("n_full") < k).as("at_risk"))
  }

  /** Join-consistent ("universe") sampling — the VerdictDB/BlinkDB
    * device for sampling BOTH sides of a join: keep exactly the rows
    * whose JOIN-KEY hash falls under the rate, on every table. Two
    * independent Bernoulli samples at rate p keep only p² of the join
    * (and bias FK joins toward childless parents); sampling the key
    * UNIVERSE keeps the full join structure of the sampled keys, so
    * per-key aggregates are exact on the sample and totals scale by
    * 1/p. The hash is the corpus's md5 device — deterministic, so the
    * sample is reproducible and the oracle re-derives it. Scale
    * shape: the predicate evaluates at the scan on each side (no
    * coordination, no key exchange), cutting BOTH join inputs —
    * and therefore the join shuffle — by p before any exchange. */
  def universeSample(df: DataFrame, key: Column, rate10k: Int): DataFrame = {
    require(rate10k >= 1 && rate10k <= 10000, s"rate10k=$rate10k")
    df.filter(TextAnalysis.md5Bucket16(key) % 10000 < rate10k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 1/8 key-universe sample applied INDEPENDENTLY to both join
    // sides; the oracle states the predicate once (key equality
    // implies both sides pass) — hash equality proves the two scans
    // derive the same universe
    "c_universe_sample" -> ((s, dir) => {
      val o = universeSample(Tables.load(s, dir, "orders"),
        col("o_orderkey"), 1250)
      val li = universeSample(Tables.load(s, dir, "lineitem"),
        col("l_orderkey"), 1250)
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          (count(lit(1)) * 8).as("est_total"),
          (round(sum(col("l_quantity")) * 1e2) / 1e2).as("qty"))
    }),
    "c_k_anonymity" -> ((s, dir) =>
      kAnonymity(docs(s, dir), k = 20)),
    "c_repetition" -> ((s, dir) =>
      repetitionSignals(docs(s, dir), col("text"))),
    "c_boilerplate" -> ((s, dir) =>
      boilerplateSignals(docs(s, dir), col("text"), minDocs = 5)),
    "c_pii_scrub" -> ((s, dir) =>
      piiAudit(withSyntheticPii(docs(s, dir)), col("text"))),
    "c_stratified_sample" -> ((s, dir) =>
      stratifiedSample(docs(s, dir), col("source"), col("doc_id"), cap = 8)
        .select(col("doc_id"), col("source"))),
    "c_domain_cap" -> ((s, dir) =>
      domainCap(docs(s, dir), col("source"), 10)),
    "c_token_budget" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("est_tokens",
        ceil(length(col("text")).cast("double") / 4.0).cast("long"))
      tokenBudgetSample(d, col("source"), col("doc_id"),
          col("est_tokens"), budget = 500L)
        .select(col("doc_id"), col("source"), col("est_tokens"),
          col("cum_tokens"))
    }),
    "c_pack_sequences" -> ((s, dir) =>
      packSequences(docs(s, dir), col("doc_id"),
          size(tokens(col("text"))), budget = 1024L)
        .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
          col("seq_first"), col("seq_last"))),
    "c_chunk_overlap" -> ((s, dir) =>
      chunkDocs(docs(s, dir), window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("tok_start"),
          col("n_tokens"), col("chunk_hash"))),
    // target = the English slice; weights should lift en documents
    "c_dsir_weights" -> ((s, dir) =>
      dsirWeights(docs(s, dir), col("text"), col("lang") === "en")),
    "c_quality_model" -> ((s, dir) =>
      nbQualityModel(docs(s, dir), col("text"))),
    "c_temperature_mix" -> ((s, dir) =>
      temperatureMix(docs(s, dir), col("source"), col("doc_id"),
          total = 200L, alphaPct = 50)
        .select(col("doc_id"), col("source"), col("mix_rank"),
          col("quota"))),
    "c_length_batches" -> ((s, dir) => {
      val d = docs(s, dir)
      lengthBucketBatches(d, col("doc_id"),
        size(tokens(col("text"))), batchSize = 16)
    }),
    // 100 winners by char-count weight — the A-ES priorities are pure
    // md5 integer arithmetic + one pow, restated verbatim in DuckDB
    "c_weighted_sample" -> ((s, dir) =>
      weightedSample(docs(s, dir), col("doc_id"), col("n_chars"), 100)),
    // seeded training-shard shuffle: 8 shards over the documents —
    // the permutation (shard AND within-shard position) restated
    // verbatim in DuckDB md5 arithmetic
    "c_shuffle_shards" -> ((s, dir) =>
      shuffleShards(docs(s, dir), col("doc_id"), 8)),
    // per-language 5/95 winsorization of document length
    "c_winsorize" -> ((s, dir) =>
      winsorize(docs(s, dir), col("lang"), col("n_chars"), 0.05, 0.95)),
    // the curation→mixing→layout END of the training-data pipeline
    // composed as one program: NB quality filter (model trained on
    // the whole corpus) → temperature-scaled source mix → sequence
    // packing of the selection. One relational oracle restates the
    // whole chain, proving the three stages COMPOSE (the
    // p_dedup_pipeline shape for this session's operators).
    "p_mix_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val keep = nbQualityModel(d, col("text"))
        .filter(col("nb_keep")).select(col("doc_id"))
      // snapshot the kept docs ONCE as the narrow (doc_id, source,
      // n_tokens) projection (r15): the mix + packing stages after it
      // need exactly these three columns, and between them they scan
      // their input four times (source counts, rank window, bucket
      // totals, offset window) — each scan used to re-run the NB
      // score + semi-join + tokenize over the TEXT. The snapshot is
      // ~3 orders narrower than the text it stands for (the guide §8
      // keys-not-payloads move; the r14 signature-snapshot argument),
      // so one narrow write buys three corpus passes at any scale.
      val kept = Snapshot(
        d.join(keep, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).as("n_tokens")),
        "mix_kept").df
      val mixed = temperatureMix(kept, col("source"), col("doc_id"),
        total = 150L, alphaPct = 50)
      packSequences(mixed, col("doc_id"),
          col("n_tokens"), budget = 512L)
        .select(col("doc_id"), col("source"), col("mix_rank"),
          col("n_tokens"), col("tok_offset"), col("seq_first"),
          col("seq_last"))
    }))

  private val piiText =
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  /** The NB model's train CTEs, shared by the `c_quality_model`
    * oracle and the composed-pipeline oracle (`p_mix_pipeline`) —
    * one definition so the restatements cannot drift apart. */
  private val nbCtes =
    """f AS (
      |  SELECT doc_id,
      |    (n >= 10 AND mtl >= 2.0 AND mtl <= 12.0) AS keep,
      |    CAST(least(floor(CAST(n AS DOUBLE) / 10.0), 20.0) AS BIGINT) AS lb,
      |    CAST(floor(mtl) AS BIGINT) AS mb,
      |    CAST(floor(sr * 10.0) AS BIGINT) AS sb
      |  FROM (
      |    SELECT doc_id, n,
      |      CAST(nc - n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS mtl,
      |      CAST(hits AS DOUBLE) / CAST(n AS DOUBLE) AS sr
      |    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n, length(text) AS nc,
      |            len(list_filter(string_split(text, ' '),
      |              t -> t IN ('the','a','of','and','to','in','is','it','on','for'))) AS hits
      |          FROM documents))),
      |tot AS (SELECT count(*) FILTER (WHERE keep) AS nk,
      |               count(*) FILTER (WHERE NOT keep) AS nd FROM f),
      |mlb AS (SELECT lb, count(*) FILTER (WHERE keep) AS ck,
      |               count(*) FILTER (WHERE NOT keep) AS cd FROM f GROUP BY lb),
      |llb AS (SELECT lb, ln(CAST(ck+1 AS DOUBLE)/CAST(nk+vf AS DOUBLE)) -
      |               ln(CAST(cd+1 AS DOUBLE)/CAST(nd+vf AS DOUBLE)) AS llr_lb
      |        FROM mlb CROSS JOIN (SELECT count(*) AS vf FROM mlb) CROSS JOIN tot),
      |mmb AS (SELECT mb, count(*) FILTER (WHERE keep) AS ck,
      |               count(*) FILTER (WHERE NOT keep) AS cd FROM f GROUP BY mb),
      |lmb AS (SELECT mb, ln(CAST(ck+1 AS DOUBLE)/CAST(nk+vf AS DOUBLE)) -
      |               ln(CAST(cd+1 AS DOUBLE)/CAST(nd+vf AS DOUBLE)) AS llr_mb
      |        FROM mmb CROSS JOIN (SELECT count(*) AS vf FROM mmb) CROSS JOIN tot),
      |msb AS (SELECT sb, count(*) FILTER (WHERE keep) AS ck,
      |               count(*) FILTER (WHERE NOT keep) AS cd FROM f GROUP BY sb),
      |lsb AS (SELECT sb, ln(CAST(ck+1 AS DOUBLE)/CAST(nk+vf AS DOUBLE)) -
      |               ln(CAST(cd+1 AS DOUBLE)/CAST(nd+vf AS DOUBLE)) AS llr_sb
      |        FROM msb CROSS JOIN (SELECT count(*) AS vf FROM msb) CROSS JOIN tot)""".stripMargin

  private val nbScoreExpr =
    """ln(CAST(nk+1 AS DOUBLE)) - ln(CAST(nd+1 AS DOUBLE))
      |         + llr_lb + llr_mb + llr_sb""".stripMargin

  val oracle: Map[String, String] = Map(
    // predicate stated ONCE on the join key (equality implies both
    // sides pass): matching the double-filtered Spark plan proves the
    // two independent scans sampled the same key universe
    "c_universe_sample" ->
      ("SELECT o_orderpriority, count(*) AS n_lines, count(*) * 8 AS est_total, " +
        "round((sum(l_quantity))*1e2)/1e2 AS qty " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER) % 10000 < 1250 " +
        "GROUP BY o_orderpriority"),
    "c_k_anonymity" ->
      """WITH b AS (SELECT doc_id, lang, source, n_chars // 100 AS len_b FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL),
        |f AS (SELECT lang, source, len_b, count(*) AS n_full FROM b GROUP BY 1, 2, 3),
        |nl AS (SELECT lang, source, count(*) AS n_no_len FROM b GROUP BY 1, 2),
        |lo AS (SELECT lang, count(*) AS n_lang_only FROM b GROUP BY 1)
        |SELECT doc_id, lang, source, len_b, n_full, n_no_len, n_lang_only, n_full < 20 AS at_risk
        |FROM b JOIN f USING (lang, source, len_b) JOIN nl USING (lang, source) JOIN lo USING (lang)""".stripMargin,
    "c_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |w AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS maxc, CAST(sum(c) AS BIGINT) AS n_tokens
        |      FROM (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2) GROUP BY 1),
        |bg AS (SELECT doc_id, count(DISTINCT bg) AS d_bi, count(*) AS n_bi
        |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' '))),
        |                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bg
        |             FROM documents) GROUP BY 1)
        |SELECT w.doc_id, n_tokens,
        |  round((CAST(maxc AS DOUBLE) / CAST(n_tokens AS DOUBLE))*1e4)/1e4 AS top_word_frac,
        |  round((1.0 - CAST(d_bi AS DOUBLE) / CAST(n_bi AS DOUBLE))*1e4)/1e4 AS dup_bigram_frac
        |FROM w JOIN bg ON w.doc_id = bg.doc_id""".stripMargin,
    "c_boilerplate" ->
      """WITH sh AS (SELECT DISTINCT doc_id, sh FROM
        |  (SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
        |   FROM documents)),
        |bo AS (SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 5)
        |SELECT s.doc_id, count(*) AS n_shingles, count(bo.sh) AS n_boiler,
        |  round((CAST(count(bo.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE))*1e4)/1e4 AS boiler_frac
        |FROM sh s LEFT JOIN bo ON s.sh = bo.sh GROUP BY s.doc_id""".stripMargin,
    "c_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all($piiText, '[a-z0-9.]+@[a-z0-9.]+')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all($piiText, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
         |  md5(regexp_replace(regexp_replace($piiText, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'), '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_hash
         |FROM documents""".stripMargin,
    // the window restatement of the heap aggregate: identical coin,
    // identical (coin ASC, doc_id ASC) selection order
    "c_domain_cap" ->
      """SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10""".stripMargin,
    "c_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS cnt,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 10000 AS b
        |  FROM documents)
        |WHERE b < CAST(floor(least(1.0, 8.0 / cnt) * 10000) AS BIGINT)""".stripMargin,
    "c_token_budget" ->
      """SELECT doc_id, source, est_tokens, cum_tokens FROM (
        |  SELECT doc_id, source, est_tokens,
        |    CAST(sum(est_tokens) OVER (PARTITION BY source ORDER BY b, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM (SELECT doc_id, source,
        |          CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_tokens,
        |          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
        |        FROM documents))
        |WHERE cum_tokens <= 500""".stripMargin,
    // the oracle restates the SAME md5 total order as ONE unbounded
    // window (fine at oracle scale); hash equality proves the
    // bucketed two-level prefix sum computes the identical global
    // layout — the distributed scan is exact, not approximate
    "c_pack_sequences" ->
      """SELECT doc_id, n_tokens, tok_offset,
        |  CAST(tok_offset // 1024 AS BIGINT) AS seq_first,
        |  CAST((tok_offset + n_tokens - 1) // 1024 AS BIGINT) AS seq_last
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |          md5(CAST(doc_id AS VARCHAR)) AS k
        |        FROM documents))""".stripMargin,
    // exact slicing restated: 1-based inclusive list slices on both
    // engines; md5 of the joined chunk text makes the window contents
    // hash-comparable without shipping the text
    "c_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, toks, n,
        |        CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM t),
        |e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS tok_start,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(toks[(chunk_id*48 + 1):(chunk_id*48 + least(64, n - chunk_id*48))], ' ')) AS chunk_hash
        |FROM e""".stripMargin,
    // same bigram construction as t_lm_score's oracle, same md5
    // bucket formula as t_hash_split's, same add-one smoothing and
    // cast placement as the Spark plan — the per-doc sum is the only
    // reassociation point and rides the shared 1e4 rounding
    "c_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, tgt, CAST(('0x' || substring(md5(bgs), 1, 4)) AS INTEGER) % 1024 AS b
        |       FROM (SELECT doc_id, tgt, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bgs FROM toks)),
        |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM bg GROUP BY b),
        |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bg WHERE tgt GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM bg) AS ts, (SELECT count(*) FROM bg WHERE tgt) AS tt),
        |r AS (SELECT cs.b,
        |        ln(CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) -
        |        ln(CAST(cs.cs + 1 AS DOUBLE) / CAST(ts + 1024 AS DOUBLE)) AS lr
        |      FROM cs LEFT JOIN ct ON cs.b = ct.b CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_bigrams, round(sum(lr)*1e4)/1e4 AS dsir_weight
        |FROM bg JOIN r ON bg.b = r.b GROUP BY doc_id""".stripMargin,
    // the full NB train+score restated relationally: same bucketing
    // integer math, same add-one smoothing, same fixed-order sum of
    // the three log ratios plus the prior, shared 1e4 rounding
    "c_quality_model" ->
      s"""WITH $nbCtes
        |SELECT f.doc_id, f.lb, f.mb, f.sb,
        |  round(($nbScoreExpr)*1e4)/1e4 AS nb_score,
        |  round(($nbScoreExpr)*1e4)/1e4 > 0 AS nb_keep
        |FROM f JOIN llb USING (lb) JOIN lmb USING (mb) JOIN lsb USING (sb)
        |CROSS JOIN tot""".stripMargin,
    // exact-integer quota arithmetic restated: round(|s|^0.5·1e6)
    // BIGINT weights, integer-sum normalizer, integer-div quotas —
    // no float summation anywhere a boundary doc could flip
    "c_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |w AS (SELECT source, CAST(round(pow(CAST(cnt AS DOUBLE), 0.5) * 1e6) AS BIGINT) AS w FROM c),
        |q AS (SELECT source, CAST((200 * w) // (SELECT sum(w) FROM w) AS BIGINT) AS quota FROM w),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), doc_id) AS BIGINT) AS mix_rank
        |      FROM documents)
        |SELECT r.doc_id, r.source, r.mix_rank, q.quota
        |FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source WHERE mix_rank <= quota""".stripMargin,
    "c_length_batches" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |b AS (SELECT doc_id, n, CAST(floor(log2(n)) AS BIGINT) AS lb,
        |        row_number() OVER (PARTITION BY CAST(floor(log2(n)) AS BIGINT)
        |          ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), doc_id) AS rn
        |      FROM t)
        |SELECT lb AS len_bucket, CAST((rn - 1) // 16 AS BIGINT) AS batch_id,
        |  count(*) AS n_docs, max(n) AS max_tokens, CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  round((1.0 - CAST(sum(n) AS DOUBLE) / CAST(max(n) * count(*) AS DOUBLE))*1e4)/1e4 AS pad_frac
        |FROM b GROUP BY 1, 2""".stripMargin,
    "c_weighted_sample" ->
      """WITH k AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |  round(pow((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0,
        |            1.0 / CAST(n_chars AS DOUBLE)) * 1e8)/1e8 AS pri
        |  FROM documents)
        |SELECT doc_id, w, pri,
        |  CAST(row_number() OVER (ORDER BY pri DESC, doc_id) AS INTEGER) AS pick_rank
        |FROM k ORDER BY pri DESC, doc_id LIMIT 100""".stripMargin,
    "c_shuffle_shards" ->
      """WITH h AS (SELECT doc_id, md5('0#' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
        |t AS (SELECT doc_id, hh,
        |  CAST(CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8 AS INTEGER) AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS INTEGER) AS pos
        |FROM t""".stripMargin,
    "c_winsorize" ->
      """WITH b AS (SELECT lang AS grp,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p_lo,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p_hi
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang AS grp, CAST(n_chars AS DOUBLE) AS v,
        |  round(greatest(p_lo, least(p_hi, CAST(n_chars AS DOUBLE)))*1e4)/1e4 AS v_clip
        |FROM documents d JOIN b ON d.lang = b.grp""".stripMargin,
    // the whole pipeline as one statement: the NB train CTEs are the
    // SHARED nbCtes block, the mix/pack stages restate the same
    // integer quota arithmetic, md5 rank order and one-window prefix
    // sum as their standalone oracles — hash equality proves the
    // staged Spark program computes the composition exactly
    "p_mix_pipeline" ->
      s"""WITH $nbCtes,
        |scored AS (SELECT f.doc_id
        |           FROM f JOIN llb USING (lb) JOIN lmb USING (mb) JOIN lsb USING (sb) CROSS JOIN tot
        |           WHERE round(($nbScoreExpr)*1e4)/1e4 > 0),
        |kept AS (SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc_id),
        |c2 AS (SELECT source, count(*) AS cnt FROM kept GROUP BY source),
        |wq AS (SELECT source, CAST(round(pow(CAST(cnt AS DOUBLE), 0.5) * 1e6) AS BIGINT) AS w FROM c2),
        |q AS (SELECT source, CAST((150 * w) // (SELECT sum(w) FROM wq) AS BIGINT) AS quota FROM wq),
        |r AS (SELECT doc_id, source, text,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), doc_id) AS BIGINT) AS mix_rank
        |      FROM kept),
        |m AS (SELECT r.doc_id, r.source, r.mix_rank, r.text FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source WHERE mix_rank <= quota),
        |p AS (SELECT doc_id, source, mix_rank,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        md5(CAST(doc_id AS VARCHAR)) AS k FROM m),
        |o AS (SELECT doc_id, source, mix_rank, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |      FROM p)
        |SELECT doc_id, source, mix_rank, n_tokens, tok_offset,
        |  CAST(tok_offset // 512 AS BIGINT) AS seq_first,
        |  CAST((tok_offset + n_tokens - 1) // 512 AS BIGINT) AS seq_last
        |FROM o""".stripMargin)
}
