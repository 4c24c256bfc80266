package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Snapshot
import graft.sources.Tables

/** Unigram language-model tokenizer (SentencePiece-style), completing
  * the tokenizer family next to the three BPE trainers ([[Bpe]]):
  * pieces carry probabilities, words segment by VITERBI best path
  * under the model, and training is hard-EM — segment the corpus,
  * re-estimate piece counts from the chosen segmentations, prune to
  * the final vocabulary.
  *
  * Deterministic and oracle-restatable by construction:
  *
  *   - Costs are QUANTIZED integer log-probs,
  *     `round(-ln(cnt/mass) * 1e6)` as BIGINT — after the one shared
  *     rounding, every comparison both engines make is integer-exact
  *     (same device as the corpus-wide `round(x*1eN)/1eN` formula all
  *     float gates share).
  *   - The Viterbi DP packs `(cost, n_pieces, last_k)` into one long
  *     (`(cost*16 + n)*8 + k`), so `min` IS the deterministic
  *     tie-break chain: least cost, then fewest pieces, then the
  *     shortest final piece. The backward reconstruction is therefore
  *     unique, and hard-EM counts agree bit-for-bit across engines.
  *   - The whole trainer is column algebra: the per-word DP is one
  *     sequential `aggregate` fold (positions 1..len) whose step
  *     takes `array_min` over the ≤maxPieceLen candidate extensions —
  *     no UDF, no mapPartitions, no per-row driver logic. The model
  *     between stages is bounded driver state (≤ candN + |chars|
  *     pieces, the same class as BPE merge lists / k-means
  *     centroids), re-broadcast as a map literal.
  *
  * Scale shape: word-level, not corpus-level — training folds over
  * the DISTINCT word dictionary (Zipf: ≪ corpus), so 100 TB of text
  * costs one word-count shuffle plus dictionary-sized DP jobs, and
  * encode is a broadcast join of per-word token counts back to the
  * corpus. Words longer than maxWordLen are excluded from BOTH
  * training and encode counts (stated contract, mirrored verbatim in
  * the oracle; they are vanishingly rare in natural text).
  */
object Unigram {

  val MaxPieceLen = 4
  val MaxWordLen = 12
  // Missing-piece sentinel. Never wins (the k=1 single-char branch
  // always matches a real piece) and never collides with a real cost
  // (reals stay ≤ ~1e10 packed). Kept ≤ 1e12 so every packed value —
  // including sentinel-based ones — stays below 2^53: Spark's `/` on
  // longs is DOUBLE division, and all our divisors are powers of two,
  // so division and truncation are integer-exact ONLY while values
  // fit the double mantissa.
  private val Inf = 1000000000000L

  /** (w, cnt) training dictionary — [[Bpe.wordCounts]]'s filters plus
    * the maxWordLen cap that bounds the DP depth. */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|") &&
        length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Candidate piece counts: every substring of length 1..MaxPieceLen
    * of every dictionary word, weighted by word count. */
  def candidateCounts(words: DataFrame): DataFrame =
    words.select(explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
              least(lit(MaxPieceLen), length(col("w")) - i + 1)), k =>
            col("w").substr(i, k))))).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("ccnt"))

  /** Quantized cost: round(-ln(cnt/mass)*1e6) as long — the one
    * float step, shared formula with the oracle. */
  private def lpq(cnt: Long, mass: Long): Long =
    math.round(-math.log(cnt.toDouble / mass.toDouble) * 1e6)

  /** Driver-held model: piece -> integer cost. Bounded: candN top
    * pieces plus every single character (coverage guarantee — the
    * DP's k=1 branch always finds a piece). */
  private def fitModel(cands: DataFrame, candN: Int): Map[String, Long] = {
    val top = cands
      .orderBy(col("ccnt").desc, col("piece").asc).limit(candN)
    val singles = cands.filter(length(col("piece")) === 1)
    val v0 = top.unionByName(singles).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mass = v0.valuesIterator.sum
    v0.map { case (p, c) => p -> lpq(c, mass) }
  }

  /** Per-word Viterbi under `model`: appends packed-DP column `pk`
    * (array<long>, pk[i+1] = packed best at position i) to `words`.
    * Packed value = (cost*16 + nPieces)*8 + k. */
  private def viterbi(words: DataFrame, model: Map[String, Long]): DataFrame = {
    val m = typedLit(model)
    words.withColumn("pk", aggregate(
      sequence(lit(1), length(col("w"))),
      array(lit(0L)),
      (acc, i) => {
        val cands = transform(
          sequence(lit(1), least(i, lit(MaxPieceLen))), k => {
            val prev = element_at(acc, (i - k + 1).cast("int"))
            val cost = (prev / 128L).cast("long")
            val n = (prev / 8L).cast("long") % 16L
            val lp = coalesce(
              element_at(m, col("w").substr(i - k + 1, k)), lit(Inf))
            (((cost + lp) * 16L + n + 1L) * 8L + k).cast("long")
          })
        concat(acc, array(array_min(cands)))
      }))
  }

  /** Backward walk over the packed DP: the unique piece list of the
    * canonical segmentation. */
  private def pieces(w: Column, pk: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("long").as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val k = element_at(pk, (st.getField("pos") + 1).cast("int")) % 8L
        when(st.getField("pos") > 0,
          struct((st.getField("pos") - k).as("pos"),
            concat(st.getField("ps"), array(
              w.substr((st.getField("pos") - k + 1).cast("int"),
                k.cast("int")))).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))

  /** One hard-EM pass: segment the dictionary under `model`, count
    * pieces weighted by word count. */
  private def emCounts(words: DataFrame,
                       model: Map[String, Long]): DataFrame =
    viterbi(words, model)
      .select(explode(pieces(col("w"), col("pk"))).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))

  /** Train the tokenizer: candidate init -> one hard-EM pass ->
    * prune to `vocabSize` plus all single characters. Returns the
    * model table (piece, cnt, lpq) — cnt the EM piece count, lpq the
    * add-one-smoothed quantized cost the encoder uses. */
  def train(docs: DataFrame, text: Column, vocabSize: Int = 64,
            candN: Int = 192): DataFrame = {
    Snapshot.cached(wordCounts(docs, text)) { words =>
      Snapshot.cached(candidateCounts(words)) { cands =>
        val model0 = fitModel(cands, candN)
        val em = emCounts(words, model0)
        // final vocab: top-vocabSize EM pieces ∪ all single chars
        // (chars missing from EM counts keep cnt 0 — alive via the
        // add-one smoothing, so encode coverage is total)
        val top = em.orderBy(col("cnt").desc, col("piece").asc)
          .limit(vocabSize)
        val singles = cands.filter(length(col("piece")) === 1)
          .select(col("piece")).join(em, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        val v1 = top.unionByName(singles)
          .groupBy(col("piece")).agg(max(col("cnt")).as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val mass = v1.map(_._2 + 1L).sum
        val s = docs.sparkSession
        import s.implicits._
        v1.toSeq.map { case (p, c) => (p, c, lpq(c + 1L, mass)) }
          .toDF("piece", "cnt", "lpq")
      }
    }
  }

  /** Per-document token counts under a freshly trained model — the
    * registry's end-to-end trainer+encoder gate. Per-word piece
    * counts come straight from the packed DP's n field; the corpus
    * join is broadcast (dictionary ≪ corpus). */
  def tokenCount(docs: DataFrame, text: Column, vocabSize: Int = 64,
                 candN: Int = 192): DataFrame = {
    val model = train(docs, text, vocabSize, candN).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val words = wordCounts(docs, text)
    val perWord = viterbi(words, model)
      .select(col("w"),
        ((element_at(col("pk"), (length(col("w")) + 1).cast("int"))
          / 8L).cast("long") % 16L).as("n_tok"))
    docs.select(col("doc_id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|") &&
        length(col("w")) <= MaxWordLen)
      .join(broadcast(perWord), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).as("n_unigram_tokens"))
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_unigram_train" -> ((s, dir) =>
      train(Tables.load(s, dir, "documents"), col("text"))),
    "t_unigram_encode" -> ((s, dir) =>
      tokenCount(Tables.load(s, dir, "documents"), col("text"))))

  // -------------------------------------------------------- oracle //

  /** The full trainer restated as DuckDB SQL, BPE-oracle style: no
    * literals derived from data — DuckDB re-derives candidates, the
    * Viterbi DP (unrolled to MaxWordLen position stages, packed
    * exactly like the Spark fold), the backward reconstruction, the
    * EM counts, and the final smoothed model itself. */
  private def dpStages(tag: String, vocab: String): String = {
    // d{tag}{i}: (w, p) — packed best at position i under `vocab`
    val stages = (1 to MaxWordLen).map { i =>
      val branches = (1 to math.min(i, MaxPieceLen)).map { k =>
        val prev =
          if (i - k == 0) "CAST(0 AS BIGINT)" else s"d$tag${i - k}.p"
        val from =
          if (i - k == 0) "wc" else s"d$tag${i - k} JOIN wc USING (w)"
        s"SELECT wc.w, (($prev // 128 + v.lpq) * 16 + ($prev // 8) % 16 + 1) * 8 + $k AS x " +
        s"FROM $from JOIN $vocab v ON v.piece = substring(wc.w, ${i - k + 1}, $k) WHERE length(wc.w) >= $i"
      }
      s"d$tag$i AS MATERIALIZED (SELECT w, min(x) AS p FROM (${branches.mkString(" UNION ALL ")}) GROUP BY w)"
    }
    // ka{tag}: (w, pos, k, piece) — the argmin step at every position
    val ka = (1 to MaxWordLen).map(i =>
      s"SELECT w, $i AS pos, CAST(p % 8 AS INTEGER) AS k, substring(w, $i - CAST(p % 8 AS INTEGER) + 1, CAST(p % 8 AS INTEGER)) AS piece FROM d$tag$i")
      .mkString(" UNION ALL ")
    s"${stages.mkString(", ")}, ka$tag AS MATERIALIZED ($ka)"
  }

  /** Backward reconstruction under ka{tag}: piece emissions weighted
    * by word count -> (piece, cnt) EM table. */
  private def reconStages(tag: String): String = {
    val steps = (0 until MaxWordLen).map { j =>
      s"r$tag${j + 1} AS MATERIALIZED (SELECT r$tag$j.w, r$tag$j.cnt, r$tag$j.pos - ka.k AS pos, ka.piece " +
      s"FROM r$tag$j JOIN ka$tag ka ON ka.w = r$tag$j.w AND ka.pos = r$tag$j.pos WHERE r$tag$j.pos > 0)"
    }
    val emits = (1 to MaxWordLen)
      .map(j => s"SELECT piece, cnt FROM r$tag$j").mkString(" UNION ALL ")
    s"r${tag}0 AS (SELECT w, cnt, length(w) AS pos, '' AS piece FROM wc), " +
    s"${steps.mkString(", ")}, em$tag AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM ($emits) GROUP BY piece)"
  }

  private def trainOracleStages: String = {
    val subs = "flatten(list_transform(range(1, length(w) + 1), i -> " +
      s"list_transform(range(1, least($MaxPieceLen, length(w) - i + 1) + 1), k -> substring(w, i, k))))"
    "WITH wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
    s"WHERE w <> '' AND w NOT LIKE '%|%' AND length(w) <= $MaxWordLen GROUP BY w), " +
    s"cand AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS ccnt FROM (SELECT unnest($subs) AS piece, cnt FROM wc) GROUP BY piece), " +
    "v0 AS MATERIALIZED (SELECT piece, CAST(round(-ln(CAST(ccnt AS DOUBLE) / (SELECT CAST(sum(ccnt) AS DOUBLE) FROM (SELECT DISTINCT piece, ccnt FROM ((SELECT piece, ccnt FROM cand ORDER BY ccnt DESC, piece LIMIT 192) UNION ALL (SELECT piece, ccnt FROM cand WHERE length(piece) = 1))))) * 1e6) AS BIGINT) AS lpq " +
    "FROM (SELECT DISTINCT piece, ccnt FROM ((SELECT piece, ccnt FROM cand ORDER BY ccnt DESC, piece LIMIT 192) UNION ALL (SELECT piece, ccnt FROM cand WHERE length(piece) = 1)))), " +
    s"${dpStages("a", "v0")}, ${reconStages("a")}, " +
    // final vocab: top-64 EM pieces ∪ singles (cnt 0 when unused)
    "v1c AS MATERIALIZED (SELECT piece, max(cnt) AS cnt FROM (" +
    "(SELECT piece, cnt FROM ema ORDER BY cnt DESC, piece LIMIT 64) UNION ALL " +
    "(SELECT c.piece, coalesce(e.cnt, 0) AS cnt FROM (SELECT piece FROM cand WHERE length(piece) = 1) c LEFT JOIN ema e USING (piece))" +
    ") GROUP BY piece), " +
    "v1 AS MATERIALIZED (SELECT piece, cnt, CAST(round(-ln(CAST(cnt + 1 AS DOUBLE) / (SELECT CAST(sum(cnt + 1) AS DOUBLE) FROM v1c)) * 1e6) AS BIGINT) AS lpq FROM v1c)"
  }

  val oracle: Map[String, String] = Map(
    "t_unigram_train" ->
      s"$trainOracleStages SELECT piece, cnt, lpq FROM v1",
    "t_unigram_encode" ->
      (s"$trainOracleStages, ${dpStages("b", "v1")} " +
        s"SELECT d.doc_id, CAST(sum((f.p // 8) % 16) AS BIGINT) AS n_unigram_tokens " +
        s"FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d " +
        s"JOIN (SELECT w, p FROM (${(1 to MaxWordLen).map(i => s"SELECT w, p, $i AS l FROM db$i").mkString(" UNION ALL ")}) WHERE l = length(w)) f USING (w) " +
        s"WHERE d.w <> '' AND d.w NOT LIKE '%|%' AND length(d.w) <= $MaxWordLen GROUP BY d.doc_id"))
}
