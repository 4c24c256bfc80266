package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.Tables

/** Distributed BPE (byte-pair-encoding) tokenizer training — the
  * vocabulary-learning step every LLM data pipeline runs before
  * token counting, packing, or dedup-by-token. Sennrich-style
  * dictionary BPE: train on the (word, frequency) table, not the
  * raw corpus, so after ONE corpus-wide word-count shuffle every
  * merge iteration runs over a vocabulary-sized table (Heaps' law:
  * ~millions of distinct words for 100 TB of text — a broadcast-
  * sized frame, iterated in memory).
  *
  * Representation: a word's token sequence is one delimited string,
  * `|t1||t2||...|` — every token wrapped in `|` on both sides. That
  * makes "merge pair (a,b) everywhere, leftmost-first, non-
  * overlapping" EXACTLY `replace(s, "|a||b|", "|ab|")`: the doubled
  * inner delimiter keeps each token's own brackets intact on both
  * sides of a match, so consecutive matches never share boundary
  * characters and the standard continue-after-replacement scan of
  * `replace` implements greedy left-to-right merging. Both engines'
  * `replace` have those semantics, which is what lets the DuckDB
  * oracle restate the WHOLE training loop (pair counting, argmax
  * with (count DESC, pair ASC) tie-break, merge application) as
  * eight unrolled CTE stages over the same strings — the hash match
  * certifies every intermediate vocabulary state, not just the
  * final table.
  *
  * Scale shape: one wide shuffle (word count), then per merge a
  * vocabulary-sized pair-count aggregation and a single-row argmax
  * collect (the driver holds only the merge table — nMerges rows).
  * Merge application is a stacked codegen'd `replace` on the
  * persisted vocab frame; no per-row loops, no UDFs, no growth in
  * partition count. Real trainers batch merges per counting pass;
  * one-merge-per-pass is the exact-reference semantics the oracle
  * can certify.
  */
object Bpe {

  /** `|c1||c2||...|` character-delimited form of a word. Built via
    * 1-based substr over a sequence (NOT `split(w, "")`) so the
    * DuckDB restatement (`list_transform(range(...), substring)`)
    * is character-identical. */
  def charDelim(w: Column): Column =
    concat(lit("|"),
      array_join(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), "||"),
      lit("|"))

  /** Adjacent-pair strings `"a b"` of a delimited token sequence.
    * Guarded for single-token words — Spark's `sequence(1, 0)`
    * counts DOWN rather than producing an empty list. */
  def pairsOf(s: Column): Column = {
    val tk = split(s.substr(lit(2), length(s) - 2), "\\|\\|")
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => concat(element_at(tk, i), lit(" "), element_at(tk, i + lit(1)))))
      .otherwise(array().cast("array<string>"))
  }

  /** One merge applied everywhere (see object doc for why this is
    * exact greedy leftmost non-overlapping merging). */
  def applyMerge(s: Column, a: String, b: String): Column =
    replace(s, lit(s"|$a||$b|"), lit(s"|$a$b|"))

  /** The (word, cnt) training dictionary: corpus words with empty
    * strings and delimiter-carrying words dropped (the latter so
    * token text can never contain the representation's delimiter —
    * mirrored verbatim in the oracle's WHERE). */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Train `nMerges` BPE merges; returns the merge table
    * (merge_rank, pair, merged, cnt) — the tokenizer model. Runs
    * eagerly (one vocabulary-sized Spark job per merge, one-row
    * collect each); the returned frame is the driver-held model
    * materialized as literals, so downstream writes replay nothing. */
  def train(docs: DataFrame, text: Column, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    Snapshot.cached(wordCounts(docs, text)) { wc =>
      var cur = wc.select(col("w"), charDelim(col("w")).as("s"), col("cnt"))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var exhausted = false
      for (r <- 1 to nMerges if !exhausted) {
        val top = cur
          .select(explode(pairsOf(col("s"))).as("pair"), col("cnt"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("pair"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val Array(a, b) = pair.split(" ", 2)
          merges += ((r, pair, a + b, top(0).getLong(1)))
          cur = cur.withColumn("s", applyMerge(col("s"), a, b))
        }
      }
      import spark.implicits._
      merges.result().toDF("merge_rank", "pair", "merged", "cnt")
    }
  }

  /** Batched trainer: identical output to [[train]] (per-merge
    * sequential semantics), bounded Spark jobs. Each counting pass
    * collects the top candidates ONCE and a driver-side guard selects
    * the longest candidate PREFIX that provably equals what the
    * sequential argmax loop would pick — up to batchK merges per
    * pair-count job — and `localCheckpoint` every `checkpointEvery`
    * merges truncates the stacked-`replace` lineage the one-merge
    * loop let grow unbounded. Honest regime note (measured,
    * PERF_r09.md): on natural-text dictionaries the prefix batches;
    * on digit-run ID dictionaries every top pair shares tokens, the
    * guard proves nothing safe, and this degenerates to sequential
    * with only the lineage fix — [[trainLocal]] is the production
    * path there.
    *
    * The guard (why batched ≡ sequential, ALWAYS — not just "where
    * prefixes don't interact"; non-interaction is what the guard
    * PROVES, falling back to batch=1 = exact sequential otherwise).
    * Candidates come sorted by the argmax order (count DESC, pair
    * ASC). A prefix p_1..p_m is taken only while, for each next p_j:
    *
    *  1. p_j shares no token with any earlier selected pair's tokens
    *     or merged string — so merges p_1..p_{j-1} destroy none of
    *     p_j's occurrences and create none (p_j's count is unchanged
    *     when sequential recounts at step j);
    *  2. no merge p_i (i<j) can CREATE a pair that would outrank p_j
    *     at step j. A created pair carries the merged token m_i; its
    *     post-merge count is ≤ old(x, m_i) + old(x, a_i) on the left
    *     (every created occurrence consumed an (x, a_i) occurrence;
    *     m_i may pre-exist as an ordinary token string) and
    *     symmetrically ≤ old(m_i, y) + old(b_i, y) on the right. If
    *     every old pair whose SECOND token is a_i, FIRST token is b_i,
    *     or that contains m_i at all, has count < ⌈cnt(p_j)/2⌉, both
    *     addends are below half and no created pair reaches cnt(p_j)
    *     — strictly, so ties (which the pair-ASC order could award to
    *     an unpredictable m_i-string) are impossible. The check scans
    *     the collected candidate list, which is only valid if that
    *     list COVERS every pair with count ≥ ⌈cnt(p_j)/2⌉ — when the
    *     collect was truncated at a floor above that, the guard stops
    *     the batch instead of guessing.
    *
    * Decreased pairs can't spoil either: a pair ranked after p_j only
    * loses count, and everything ranked before p_j is in the selected
    * prefix (destroyed by its own merge). Applying the selected
    * merges left-to-right is exactly what sequential does between
    * recounts, so the vocab state entering the next pass is
    * identical. */
  def trainBatched(docs: DataFrame, text: Column, nMerges: Int,
                   batchK: Int = 16, checkpointEvery: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    Snapshot.cached(wordCounts(docs, text)) { wc =>
      var cur = wc.select(col("w"), charDelim(col("w")).as("s"), col("cnt"))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var done = 0
      var sinceCheckpoint = 0
      var exhausted = false
      while (done < nMerges && !exhausted) {
        val nCand = math.max(64, 4 * batchK)
        val cands = cur
          .select(explode(pairsOf(col("s"))).as("pair"), col("cnt"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("pair"))
          .limit(nCand).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        if (cands.isEmpty) exhausted = true
        else {
          val complete = cands.length < nCand // collect saw every pair
          val floor = cands.last._2
          val batch = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, String, Long)]
          var lefts = Set.empty[String]  // a_i of selected pairs
          var rights = Set.empty[String] // b_i of selected pairs
          var merged = Set.empty[String] // their merged strings
          var stop = false
          for ((pair, cnt) <- cands.take(math.min(batchK, cands.length))
               if !stop && done + batch.size < nMerges) {
            val Array(a, b) = pair.split(" ", 2)
            val m = a + b
            if (batch.isEmpty) {
              batch += ((pair, a, b, cnt))
              lefts = Set(a); rights = Set(b); merged = Set(m)
            } else {
              val half = (cnt + 1) / 2 // ⌈cnt/2⌉
              val covered = complete || floor < half
              val toks = lefts ++ rights
              val disjoint = !toks(a) && !toks(b) && !merged(a) &&
                !merged(b) && !toks(m) && !merged(m)
              // a selected pair (a_i, b_i) never matches this pattern
              // itself: disjointness keeps a_i out of `rights` and b_i
              // out of `lefts` (and its merge destroys it anyway)
              val spoiler = cands.exists { case (qp, qc) =>
                qc >= half && {
                  val Array(qa, qb) = qp.split(" ", 2)
                  lefts(qb) || rights(qa) || merged(qa) || merged(qb)
                }
              }
              if (disjoint && covered && !spoiler) {
                batch += ((pair, a, b, cnt))
                lefts += a; rights += b; merged += m
              } else stop = true
            }
          }
          val sel = batch.toSeq
          for ((pair, a, b, cnt) <- sel) {
            done += 1
            merges += ((done, pair, a + b, cnt))
            cur = cur.withColumn("s", applyMerge(col("s"), a, b))
          }
          sinceCheckpoint += sel.size
          if (sinceCheckpoint >= checkpointEvery) {
            cur = cur.localCheckpoint()
            sinceCheckpoint = 0
          }
        }
      }
      import spark.implicits._
      merges.result().toDF("merge_rank", "pair", "merged", "cnt")
    }
  }

  /** Driver-side trainer over the COLLECTED dictionary — the
    * model-fit path. [[trainBatched]]'s guard is provably exact but
    * degenerates to one merge per pass on dictionaries whose top
    * pairs share tokens (digit-run IDs are the worst case: every high
    * pair contains '0', so no prefix is ever safe); this path removes
    * the per-merge Spark round-trip entirely. The dictionary is
    * vocabulary-sized (Heaps' law — millions of rows for 100 TB of
    * text, same driver-held-model regime as the k-means centroids and
    * PQ codebooks), so: ONE distributed word-count shuffle, one
    * bounded collect (guarded by `maxDictRows` — throws rather than
    * OOM the driver; prune low-frequency words or use trainBatched
    * past it), then classic incremental-count BPE: per merge, an
    * argmax scan of the pair-count map and a token-list rewrite of
    * only the words CONTAINING the merged pair (an occurrence index
    * makes that lookup O(1)). Exact sequential semantics — same
    * (count DESC, pair ASC) argmax, same greedy leftmost merge — so
    * the per-merge oracle and the ScalaCheck equivalence property
    * gate all three trainers against each other. */
  /** Codepoint-order string comparison: equivalent to comparing the
    * UTF-8 byte encodings lexicographically (UTF-8 preserves
    * codepoint order), which is how Spark's UTF8String and DuckDB
    * order strings — WITHOUT the per-comparison byte-array
    * allocation. Java's String.compareTo is UTF-16 code-unit order,
    * which sorts surrogate pairs (non-BMP, U+10000+) BELOW BMP chars
    * in [U+E000, U+FFFF] and would diverge from the distributed
    * trainers on such ties. */
  private[graft] def cpLess(x: String, y: String): Boolean = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val ca = x.codePointAt(i); val cb = y.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    (x.length - i) < (y.length - j)
  }

  def trainLocal(docs: DataFrame, text: Column, nMerges: Int,
                 maxDictRows: Int = 20000000): DataFrame = {
    val spark = docs.sparkSession
    // guard BEFORE materializing: collect at most maxDictRows+1 rows
    // (CollectLimit — executors stop feeding past the limit), so an
    // over-budget dictionary throws instead of OOMing the driver on
    // the collect line itself (ADVICE r9: the old full-collect ran
    // first and the require never fired)
    val dict = wordCounts(docs, text).limit(maxDictRows + 1).collect()
    require(dict.length <= maxDictRows,
      s"trainLocal: dictionary exceeds $maxDictRows rows — " +
        "prune low-frequency words or use trainBatched")
    // split by CODEPOINT (not code units): Spark's substr — the
    // distributed trainers' charDelim — counts codepoints, and a
    // surrogate-pair-splitting String.split("") would silently
    // diverge from them on non-BMP text
    val words: Array[Array[String]] =
      dict.map(r => r.getString(0).codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    val cnts: Array[Long] = dict.map(_.getLong(1))
    val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap // pair → word indices
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    def addWord(wi: Int, sign: Long): Unit = {
      val t = words(wi)
      var i = 0
      while (i < t.length - 1) {
        val p = (t(i), t(i + 1))
        val c = pairCnt.getOrElse(p, 0L) + sign * cnts(wi)
        if (c == 0L) { pairCnt.remove(p); () } else pairCnt(p) = c
        if (sign > 0)
          occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += wi
        i += 1
      }
      // stale occ entries (sign < 0) are tolerated: the merge loop
      // re-checks membership when it rewrites a word
    }
    words.indices.foreach(addWord(_, 1L))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      if (pairCnt.isEmpty) exhausted = true
      else {
        // argmax by (count DESC, pair-string ASC) — the train() order.
        // ASC here must be CODEPOINT order (≡ UTF-8 byte order, what
        // Spark's orderBy/the DuckDB oracle use), NOT Java String '<'
        // (UTF-16 code-unit order): the two diverge when non-BMP
        // characters tie against BMP chars in [U+E000,U+FFFF]
        // (ADVICE r9)
        var best: ((String, String), Long) = null
        var bestKey: String = null
        pairCnt.foreach { e =>
          val k = s"${e._1._1} ${e._1._2}"
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && cpLess(k, bestKey))) {
            best = e; bestKey = k
          }
        }
        val ((a, b), c) = best
        r += 1
        merges += ((r, s"$a $b", a + b, c))
        val touched = occ.getOrElse((a, b), scala.collection.mutable.HashSet.empty)
        touched.foreach { wi =>
          val t = words(wi)
          // membership re-check: occ can hold stale indices
          var has = false; var i = 0
          while (!has && i < t.length - 1) {
            if (t(i) == a && t(i + 1) == b) has = true; i += 1
          }
          if (has) {
            addWord(wi, -1L)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < t.length) {
              if (j < t.length - 1 && t(j) == a && t(j + 1) == b) {
                out += a + b; j += 2 // greedy leftmost, skip past merge
              } else { out += t(j); j += 1 }
            }
            words(wi) = out.toArray
            addWord(wi, 1L)
          }
        }
        occ.remove((a, b))
      }
    }
    import spark.implicits._
    merges.result().toDF("merge_rank", "pair", "merged", "cnt")
  }

  /** Tokenized form of every dictionary word under `merges` (the
    * trained model as (rank, a, b) triples): word → final token
    * array. The encode path: corpora re-tokenize by broadcast-
    * joining words against this vocab table — no per-document
    * merge loops anywhere. */
  def encodeVocab(docs: DataFrame, text: Column,
                  merges: Seq[(String, String)]): DataFrame = {
    val start = wordCounts(docs, text)
      .select(col("w"), charDelim(col("w")).as("s"), col("cnt"))
    val done = merges.foldLeft(start) { case (df, (a, b)) =>
      df.withColumn("s", applyMerge(col("s"), a, b))
    }
    done.select(col("w"),
      split(col("s").substr(lit(2), length(col("s")) - 2), "\\|\\|")
        .as("tokens"), col("cnt"))
  }

  /** Per-document BPE token count under a freshly trained model —
    * the end-to-end trainer+encoder composition the registry gates.
    * The vocab join broadcasts (vocabulary ≪ corpus). */
  def tokenCount(docs: DataFrame, text: Column, nMerges: Int): DataFrame = {
    val model = train(docs, text, nMerges).collect()
      .sortBy(_.getInt(0))
      .map(r => { val Array(a, b) = r.getString(1).split(" ", 2); (a, b) })
    val vocab = encodeVocab(docs, text, model.toSeq)
      .select(col("w"), size(col("tokens")).as("n_tok"))
    docs.select(col("doc_id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|"))
      .join(broadcast(vocab), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).as("n_bpe_tokens"))
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_bpe_train" -> ((s, dir) =>
      train(Tables.load(s, dir, "documents"), col("text"), 8)),
    // the batched trainer against the SAME per-merge oracle: the
    // guard proves batched ≡ sequential, so one hash certifies both
    // the equivalence on this corpus and every intermediate state
    // (batchK=4 so the 8-merge gate actually exercises multi-merge
    // passes, not one big batch)
    "t_bpe_batch" -> ((s, dir) =>
      trainBatched(Tables.load(s, dir, "documents"), col("text"), 8,
        batchK = 4)),
    // the driver-side model-fit trainer against the SAME oracle —
    // three independent implementations, one truth
    "t_bpe_local" -> ((s, dir) =>
      trainLocal(Tables.load(s, dir, "documents"), col("text"), 8)),
    "t_bpe_encode" -> ((s, dir) =>
      tokenCount(Tables.load(s, dir, "documents"), col("text"), 8)))

  /** The full training loop restated as DuckDB SQL: word counts →
    * char-delimited t0 → per merge r an argmax CTE (m_r) and the
    * post-merge vocabulary (t_r), chained `nMerges` deep, each
    * stage reading the previous one and the chosen pair via scalar
    * subqueries. No literals derived from data anywhere — the SQL
    * is static and DuckDB re-derives every merge itself, so hash
    * equality certifies the entire distributed loop. */
  private def trainOracleStages(nMerges: Int): String = {
    val chars =
      "list_transform(range(1, length(w) + 1), i -> substring(w, i, 1))"
    // MATERIALIZED: every t_r is referenced twice (by m_{r+1} and
    // t_{r+1}); inlining would expand the chain 2^nMerges-fold
    val base =
      "wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY w), " +
      s"t0 AS MATERIALIZED (SELECT w, '|' || array_to_string($chars, '||') || '|' AS s, cnt FROM wc)"
    def pairs(src: String) =
      s"SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS pair, cnt FROM (SELECT string_split(substring(s, 2, length(s) - 2), '||') AS tk, cnt FROM $src)"
    val stages = (1 to nMerges).map { r =>
      val prev = s"t${r - 1}"
      s"m$r AS MATERIALIZED (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (${pairs(prev)}) GROUP BY pair ORDER BY c DESC, pair LIMIT 1), " +
      s"t$r AS MATERIALIZED (SELECT w, replace(s, '|' || split_part((SELECT pair FROM m$r), ' ', 1) || '||' || split_part((SELECT pair FROM m$r), ' ', 2) || '|', '|' || replace((SELECT pair FROM m$r), ' ', '') || '|') AS s, cnt FROM $prev)"
    }
    s"WITH $base, ${stages.mkString(", ")}"
  }

  private def trainOracleSql(nMerges: Int): String = {
    val sel = (1 to nMerges)
      .map(r => s"SELECT $r AS merge_rank, pair, replace(pair, ' ', '') AS merged, c AS cnt FROM m$r")
      .mkString(" UNION ALL ")
    s"${trainOracleStages(nMerges)} SELECT CAST(merge_rank AS INTEGER) AS merge_rank, pair, merged, cnt FROM ($sel)"
  }

  private def encodeOracleSql(nMerges: Int): String =
    s"${trainOracleStages(nMerges)} " +
    s"SELECT d.doc_id, CAST(sum(len(string_split(substring(v.s, 2, length(v.s) - 2), '||'))) AS BIGINT) AS n_bpe_tokens " +
    s"FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d " +
    s"JOIN t$nMerges v USING (w) WHERE d.w <> '' AND d.w NOT LIKE '%|%' GROUP BY d.doc_id"

  val oracle: Map[String, String] = Map(
    "t_bpe_train" -> trainOracleSql(8),
    "t_bpe_batch" -> trainOracleSql(8),
    "t_bpe_local" -> trainOracleSql(8),
    "t_bpe_encode" -> encodeOracleSql(8))
}
