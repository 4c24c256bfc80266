package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Snapshot
import graft.sources.Tables

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT
  * vocabulary) — completing the tokenizer family next to the three
  * BPE trainers ([[Bpe]]) and the unigram-LM trainer ([[Unigram]]).
  * WordPiece differs from BPE on BOTH sides of the model:
  *
  *   - TRAINING merges the pair maximizing the LIKELIHOOD score
  *     `count(ab) / (count(a) * count(b))` — the corpus-LM gain of
  *     the merge — not the raw pair count; non-initial tokens carry
  *     the `##` continuation prefix and merging strips the inner one
  *     (`("h","##ug") → "hug"`, `("##u","##g") → "##ug"`).
  *   - ENCODING is greedy longest-match-first against the final
  *     vocabulary (no merge replay): at each position take the
  *     longest vocabulary piece, `##`-prefixed when word-internal.
  *
  * Engine-agreement devices (house style):
  *
  *   - The argmax score is quantized ONCE as
  *     `floor((ln(cp) - ln(ca) - ln(cb)) * 1e6)` — a shared integer
  *     both engines compare exactly, ties broken by pair ASC
  *     (`floor` avoids the half-rule entirely; the ulp-crossing
  *     hazard of ln is ~1e-9 per comparison, the same accepted class
  *     as every `round(x*1eN)` gate).
  *   - Token sequences reuse [[Bpe]]'s `|t1||t2|` delimited-string
  *     representation, so one `replace` IS greedy leftmost
  *     non-overlapping merge application on both engines (see
  *     Bpe.scala's object doc for the argument); `#` never collides
  *     with token text because `#`-carrying words are excluded
  *     up front (stated contract, mirrored in the oracle's WHERE,
  *     like the `|` exclusion).
  *   - The greedy encoder is one sequential `aggregate` fold over
  *     character positions (state = (pos, n_tokens)); the DuckDB
  *     oracle unrolls the same greedy walk into MaxWordLen join
  *     stages. Coverage is total by construction — every single-char
  *     piece (initial and `##` form) observed in training is in the
  *     vocabulary, and the encode corpus IS the train corpus — and
  *     both sides still state the same fallback (advance one char)
  *     so the contract is total even off that happy path.
  *
  * Scale shape: identical to [[Bpe]] — ONE corpus-wide word-count
  * shuffle, then vocabulary-sized pair/token aggregations per merge
  * with a 1-row argmax collect (driver holds only the merge table),
  * and encode is a broadcast join of per-word token counts back to
  * the corpus. Words beyond MaxWordLen are excluded from training
  * and encode counts (the [[Unigram]] contract, mirrored verbatim in
  * the oracle; vanishingly rare in natural text).
  */
object WordPiece {

  val MaxWordLen = 12
  val NMerges = 8

  /** `|c1||##c2||##c3|...` — char-delimited with continuation
    * prefixes on non-initial characters. */
  def charDelimWp(w: Column): Column =
    concat(lit("|"),
      array_join(transform(sequence(lit(1), length(w)),
        i => when(i === 1, w.substr(i, lit(1)))
          .otherwise(concat(lit("##"), w.substr(i, lit(1))))), "||"),
      lit("|"))

  /** Training dictionary: [[Bpe.wordCounts]]'s filters plus the `#`
    * exclusion (token text must never contain the continuation
    * prefix) and the MaxWordLen cap bounding the encode DP. */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|") &&
        !col("w").contains("#") && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** WordPiece merge semantics: the continuation prefix of the RIGHT
    * token is absorbed (`a + stripPrefix(b, "##")`). */
  def mergedToken(a: String, b: String): String = a + b.stripPrefix("##")

  /** Train `nMerges` WordPiece merges; returns the model table
    * (merge_rank, pair, merged, score_q, cnt). Per merge: one
    * token-count and one pair-count aggregation over the
    * vocabulary-sized dictionary frame, a broadcast score join, and
    * a 1-row argmax collect. */
  def train(docs: DataFrame, text: Column,
            nMerges: Int = NMerges): DataFrame = {
    // snapshot (not persist) so the merge loop can run in its cloned
    // session — see [[loopDict]]; also persist-hygiene-cleaner: no
    // cached blocks at all
    val wc = Snapshot(wordCounts(docs, text), "wp_wc")
    trainFromWc(loopDict(docs.sparkSession, wc), nMerges, docs.sparkSession)
  }

  /** Rebind the dictionary snapshot into an AQE-off clone for the
    * merge loop (r15): each of the loop's 2 actions per round (the
    * bounded token-count collect, the 1-row argmax) is a tiny
    * vocabulary-sized aggregation whose plan AQE splits into 2–3
    * query-stage jobs — 8 rounds cost ~36 jobs where 16 suffice. The
    * clone ([[Regime.aqeOff]], the snapshot rebound by
    * [[Snapshot.in]]) executes each action as ONE job; plans and
    * arithmetic are unchanged (no joins anywhere in the round plans —
    * the model rides typedLit maps), and the caller's session never
    * sees the flipped conf. */
  private def loopDict(caller: SparkSession, wc: Snapshot): DataFrame =
    wc.in(Regime.aqeOff(caller))

  /** The merge loop over an already-pinned dictionary frame — shared
    * by [[train]] (persist) and [[tokenCount]] (snapshot, reused by
    * the encode stages). Per merge: ONE dictionary-frame aggregation
    * collected to a driver token-count map (bounded: cur's distinct
    * tokens ⊆ alphabet ∪ merged tokens, ≤ |alphabet| + nMerges — the
    * BPE-dictionary regime) and ONE pair aggregation + argmax job;
    * the former broadcast-join shape built two broadcast relations
    * per round, each re-running the token aggregation (r14, measured
    * 60 jobs → 36 for the composed encode gate). */
  private def trainFromWc(wc: DataFrame, nMerges: Int,
                          out: SparkSession): DataFrame = {
    var cur = wc.select(col("w"), charDelimWp(col("w")).as("s"), col("cnt"))
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val tokMap = cur.select(
          explode(split(col("s").substr(lit(2), length(col("s")) - 2),
            "\\|\\|")).as("tok"), col("cnt"))
        .groupBy(col("tok")).agg(sum(col("cnt")).as("tc"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      val tm = typedLit(tokMap)
      val top = cur
        .select(explode(Bpe.pairsOf(col("s"))).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pc"))
        .withColumn("ca", element_at(tm, split(col("pair"), " ", 2).getItem(0)))
        .withColumn("cb", element_at(tm, split(col("pair"), " ", 2).getItem(1)))
        .withColumn("score_q",
          floor((log(col("pc")) - log(col("ca")) - log(col("cb"))) * 1e6))
        .orderBy(col("score_q").desc, col("pair"))
        .select(col("pair"), col("score_q"), col("pc"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val Array(a, b) = pair.split(" ", 2)
        val m = mergedToken(a, b)
        merges += ((r, pair, m, top(0).getLong(1), top(0).getLong(2)))
        cur = cur.withColumn("s",
          replace(col("s"), lit(s"|$a||$b|"), lit(s"|$m|")))
      }
    }
    // the model is driver-held literals — hand it back bound to the
    // CALLER's session, never the loop clone
    import out.implicits._
    merges.result().toDF("merge_rank", "pair", "merged", "score_q", "cnt")
  }

  /** Final vocabulary: the initial alphabet (every single-char piece,
    * initial and `##` form, observed in the dictionary) plus one
    * token per merge — the published vocab-growth rule. Bounded
    * driver state (alphabet + nMerges). */
  def vocabulary(wc: DataFrame, merged: Seq[String]): Set[String] = {
    val alpha = wc
      .select(explode(split(charDelimWp(col("w"))
        .substr(lit(2), length(charDelimWp(col("w"))) - 2), "\\|\\|"))
        .as("piece"))
      .distinct().collect().map(_.getString(0))
    alpha.toSet ++ merged
  }

  /** Greedy longest-match-first token count per word under `vocab`:
    * one sequential fold over positions, state packs (pos, n). At
    * each position the fold takes the LONGEST matching piece
    * (`##`-prefixed when pos > 1) and advances past it; a miss
    * (impossible when the vocab covers the corpus alphabet — see
    * object doc) advances one character. */
  def greedyTokenCount(words: DataFrame, vocab: Set[String]): DataFrame = {
    val vm = typedLit(vocab.map(_ -> 1).toMap)
    words.withColumn("n_tok", aggregate(
      sequence(lit(1), length(col("w"))),
      struct(lit(1L).as("pos"), lit(0L).as("n")),
      (st, i) => {
        val pos = st.getField("pos")
        val active = pos === i.cast("long")
        val ks = sequence(lit(1),
          (length(col("w")).cast("long") - pos + 1L).cast("int"))
        val hits = filter(ks, k => {
          val piece = when(pos === 1L,
              col("w").substr(pos.cast("int"), k))
            .otherwise(concat(lit("##"),
              col("w").substr(pos.cast("int"), k)))
          element_at(vm, piece).isNotNull
        })
        val k = coalesce(array_max(hits).cast("long"), lit(1L))
        when(active,
          struct((pos + k).as("pos"), (st.getField("n") + 1L).as("n")))
          .otherwise(st)
      },
      st => st.getField("n")))
  }

  /** Per-document WordPiece token count under a freshly trained
    * model — the end-to-end trainer+encoder gate. The per-word count
    * table is vocabulary-sized and broadcast back to the corpus. */
  def tokenCount(docs: DataFrame, text: Column,
                 nMerges: Int = NMerges): DataFrame = {
    // ONE corpus-wide word-count shuffle, snapshotted: the trainer,
    // the vocabulary collect, and the greedy encode all read the
    // dictionary frame — unsnapshotted, each re-ran the corpus
    // explode+groupBy (3 full corpus passes for the one gate; r14).
    // Snapshot, not persist: the returned plan references perWord
    // lazily, and cached blocks must not outlive a returned plan
    // (persist-hygiene contract).
    val wc = Snapshot(wordCounts(docs, text), "wp_wc")
    // the merge loop and the vocabulary collect run on the AQE-off
    // clone ([[loopDict]]); the encode fold + broadcast join stay on
    // the caller's session over the same snapshot
    val wcLoop = loopDict(docs.sparkSession, wc)
    val model = trainFromWc(wcLoop, nMerges, docs.sparkSession).collect()
      .map(_.getString(2)).toSeq
    val perWord = greedyTokenCount(wc.df, vocabulary(wcLoop, model))
      .select(col("w"), col("n_tok"))
    docs.select(col("doc_id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "" && !col("w").contains("|") &&
        !col("w").contains("#") && length(col("w")) <= MaxWordLen)
      .join(broadcast(perWord), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tok")).as("n_wp_tokens"))
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_wordpiece_train" -> ((s, dir) =>
      train(Tables.load(s, dir, "documents"), col("text"))),
    "t_wordpiece_encode" -> ((s, dir) =>
      tokenCount(Tables.load(s, dir, "documents"), col("text"))))

  // -------------------------------------------------------- oracle //

  /** The full trainer restated as DuckDB SQL, BPE-oracle style: char
    * delimiting with `##` prefixes, per merge a token-count CTE, a
    * likelihood-scored argmax, and the post-merge state, chained
    * nMerges deep. No data-derived literals anywhere. */
  private def trainOracleStages(nMerges: Int): String = {
    val chars = "list_transform(range(1, length(w) + 1), i -> " +
      "CASE WHEN i = 1 THEN substring(w, i, 1) ELSE '##' || substring(w, i, 1) END)"
    val base =
      "wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      s"WHERE w <> '' AND w NOT LIKE '%|%' AND w NOT LIKE '%#%' AND length(w) <= $MaxWordLen GROUP BY w), " +
      s"t0 AS MATERIALIZED (SELECT w, '|' || array_to_string($chars, '||') || '|' AS s, cnt FROM wc)"
    def toks(src: String) =
      s"SELECT unnest(string_split(substring(s, 2, length(s) - 2), '||')) AS tok, cnt FROM $src"
    def pairs(src: String) =
      s"SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS pair, cnt " +
      s"FROM (SELECT string_split(substring(s, 2, length(s) - 2), '||') AS tk, cnt FROM $src)"
    val merged = "split_part(pair, ' ', 1) || CASE WHEN split_part(pair, ' ', 2) LIKE '##%' " +
      "THEN substring(split_part(pair, ' ', 2), 3) ELSE split_part(pair, ' ', 2) END"
    val stages = (1 to nMerges).map { r =>
      val prev = s"t${r - 1}"
      s"tc$r AS MATERIALIZED (SELECT tok, CAST(sum(cnt) AS BIGINT) AS tc FROM (${toks(prev)}) GROUP BY tok), " +
      s"m$r AS MATERIALIZED (SELECT pair, $merged AS merged, " +
      s"CAST(floor((ln(pc) - ln(ca.tc) - ln(cb.tc)) * 1e6) AS BIGINT) AS score_q, pc AS cnt " +
      s"FROM (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM (${pairs(prev)}) GROUP BY pair) p " +
      s"JOIN tc$r ca ON ca.tok = split_part(p.pair, ' ', 1) " +
      s"JOIN tc$r cb ON cb.tok = split_part(p.pair, ' ', 2) " +
      "ORDER BY score_q DESC, pair LIMIT 1), " +
      // coalesce guards the exhausted-trainer case: if a merge round
      // finds no pair, m_r is empty and the scalar subqueries return
      // NULL — without the guard replace(s, NULL, ...) would NULL the
      // whole dictionary state for every later stage (ADVICE r11).
      // With it, search and replacement both collapse to s, a no-op.
      s"t$r AS MATERIALIZED (SELECT w, replace(s, " +
      s"coalesce('|' || split_part((SELECT pair FROM m$r), ' ', 1) || '||' || split_part((SELECT pair FROM m$r), ' ', 2) || '|', s), " +
      s"coalesce('|' || (SELECT merged FROM m$r) || '|', s)) AS s, cnt FROM $prev)"
    }
    s"WITH $base, ${stages.mkString(", ")}"
  }

  private def trainOracleSql(nMerges: Int): String = {
    val sel = (1 to nMerges)
      .map(r => s"SELECT $r AS merge_rank, pair, merged, score_q, cnt FROM m$r")
      .mkString(" UNION ALL ")
    s"${trainOracleStages(nMerges)} SELECT CAST(merge_rank AS INTEGER) AS merge_rank, pair, merged, score_q, cnt FROM ($sel)"
  }

  /** Greedy longest-match encode unrolled to MaxWordLen stages: per
    * stage, every still-active word takes the longest vocabulary
    * piece at its cursor (a flat join against the k-candidates
    * unnest, max(k) per word, fallback 1) and advances; MaxWordLen
    * stages suffice because every stage advances at least one
    * character. */
  private def encodeOracleSql(nMerges: Int): String = {
    val venc =
      "venc AS MATERIALIZED (SELECT DISTINCT tok AS piece FROM " +
      "(SELECT unnest(string_split(substring(s, 2, length(s) - 2), '||')) AS tok FROM t0) " +
      s"UNION SELECT merged FROM (${(1 to nMerges).map(r => s"SELECT merged FROM m$r").mkString(" UNION ALL ")}))"
    val g0 = "g0 AS MATERIALIZED (SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS n FROM wc)"
    val stages = (1 to MaxWordLen).map { j =>
      val prev = s"g${j - 1}"
      s"kk$j AS MATERIALIZED (SELECT g.w, max(x.k) AS kk FROM $prev g, " +
      s"(SELECT unnest(range(1, ${MaxWordLen + 1})) AS k) x " +
      "JOIN venc v ON TRUE " +
      "WHERE g.pos <= length(g.w) AND x.k <= length(g.w) - g.pos + 1 " +
      "AND v.piece = CASE WHEN g.pos = 1 THEN substring(g.w, g.pos, CAST(x.k AS INTEGER)) " +
      "ELSE '##' || substring(g.w, g.pos, CAST(x.k AS INTEGER)) END " +
      "GROUP BY g.w), " +
      s"g$j AS MATERIALIZED (SELECT g.w, " +
      "CASE WHEN g.pos > length(g.w) THEN g.pos ELSE g.pos + CAST(coalesce(k.kk, 1) AS INTEGER) END AS pos, " +
      s"CASE WHEN g.pos > length(g.w) THEN g.n ELSE g.n + 1 END AS n FROM $prev g LEFT JOIN kk$j k USING (w))"
    }
    s"${trainOracleStages(nMerges)}, $venc, $g0, ${stages.mkString(", ")} " +
    s"SELECT d.doc_id, CAST(sum(g.n) AS BIGINT) AS n_wp_tokens " +
    "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d " +
    s"JOIN g$MaxWordLen g USING (w) " +
    s"WHERE d.w <> '' AND d.w NOT LIKE '%|%' AND d.w NOT LIKE '%#%' AND length(d.w) <= $MaxWordLen " +
    "GROUP BY d.doc_id"
  }

  val oracle: Map[String, String] = Map(
    "t_wordpiece_train" -> trainOracleSql(NMerges),
    "t_wordpiece_encode" -> encodeOracleSql(NMerges))
}
