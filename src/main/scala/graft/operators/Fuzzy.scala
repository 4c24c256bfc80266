package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.Tables

/** Edit-distance fuzzy join — entity-resolution / near-duplicate
  * matching over string keys (the "same supplier spelled two ways"
  * problem a training-data pipeline hits when fusing corpora).
  *
  * Blocking is the whole game at scale: a naive θ-join on
  * `levenshtein(a, b) <= τ` is a cross join (10^10 × 10^10 pairs at
  * 100 TB). This uses the deletion-neighborhood method (FastSS /
  * SymSpell): every string emits its ≤τ-character-deletion variants
  * as join keys; two strings within edit distance τ ALWAYS share at
  * least one variant (align an optimal edit script, delete the
  * edited positions from each side — at most τ per side — and both
  * collapse to the same string). Candidates are pairs sharing a key;
  * an exact `levenshtein` filter then removes false positives, so
  * the result is EXACT — the blocking theorem only guarantees no
  * false negatives, which the DuckDB brute-force oracle certifies.
  *
  * Why not segment blocking (PassJoin-style prefix/suffix pigeonhole)?
  * Generated-ID corpora like TPC-H's `Customer#000000042` share long
  * constant prefixes, so the prefix segment hashes the ENTIRE table
  * into one bucket and the candidate set degenerates to the cross
  * join. Deletion variants keep the discriminating characters in
  * every key: buckets stay O(1) regardless of shared affixes.
  *
  * Scale shape: explode ×(L+1 per deletion level) → one narrow
  * shuffle on short, near-unique keys → per-bucket pair expansion
  * (bounded by bucket size) → distinct → verify. No cross join
  * anywhere; the verify filter runs on candidates only. Key volume
  * is L^τ/τ! per string — τ=1 (the common dedup setting) is L+1
  * keys; τ=2 is ~L²/2, still far below any quadratic blowup.
  */
object Fuzzy {

  /** All variants of `s` reachable by deleting at most `tau`
    * characters (including `s` itself), distinct. Pure array/string
    * expressions — per-row map work, no shuffle. Single-char deletion
    * at 1-based position i is `substr(1, i-1) || substr(i+1, len)`;
    * `tau` levels expand the frontier through `flatten ∘ transform`.
    * Empty strings pass through as themselves (the `sequence` guard —
    * Spark's `sequence(1, 0)` would count DOWN, not produce the
    * empty list).
    *
    * Rejected refinement (c), round 10: a compiled Catalyst kernel
    * (tight per-row loop replacing the interpreted HOF lambdas) was
    * built, property-tested equivalent, and measured — warm
    * t_fuzzy_join 6.7 s vs 6.55 s, t_fuzzy_join2 4.1 s vs 3.7 s: no
    * gain. A stage breakdown (OPTIMIZATION_r14.md) showed why: the
    * apparent 4.3 s "generation" stage is first-job JVM/codegen
    * warmup, not lambda dispatch —
    * warm key generation is ~1 s and the remaining cost is spread
    * across the bucket join + pair distinct (2.1 s) and verify
    * (0.7 s) with no single hot spot. Kept HOF; don't re-try
    * blindly. */
  def deletionVariants(s: Column, tau: Int): Column = {
    def oneLevel(k: Column): Column =
      when(length(k) === 0, array())
        .otherwise(transform(sequence(lit(1), length(k)),
          i => concat(k.substr(lit(1), i - lit(1)),
            k.substr(i + lit(1), length(k)))))
    var keys = array(s)
    for (_ <- 1 to tau)
      keys = array_distinct(concat(keys, flatten(transform(keys, oneLevel(_)))))
    keys
  }

  /** Exact edit-distance self-join over the distinct values of
    * `key` in `df`: all unordered pairs (a < b) with
    * `levenshtein(a, b) <= tau`, plus the distance. Deletion-
    * neighborhood blocking + exact verify (see object doc).
    *
    * Two "obvious" refinements were measured and REJECTED on this
    * corpus (both made it slower; kept as notes so they aren't
    * re-tried blindly): (a) verifying with `levenshtein` BEFORE the
    * pair-dedup — the full O(|a|·|b|) DP on every candidate costs
    * more than deduping near-duplicate-free candidates first
    * (7.6 s → 11 s at sf0.1); (b) a PassJoin-style deletion-POSITION
    * diagonal filter — it requires keeping duplicate keys per
    * position, and on zero-run generated IDs (`Customer#000…`) a
    * length-k run contributes k duplicate keys per string, growing
    * the candidate stream ~k× before the filter prunes it
    * (7.6 s → 12 s). */
  def editSelfJoin(df: DataFrame, key: Column, tau: Int): DataFrame = {
    val spark = df.sparkSession
    graft.functions.HashExpressions.register(spark)
    val width = graft.Tuning.computeWidth(spark)
    // snapshot the exploded key table: the self-join would otherwise
    // run the distinct + variant expansion twice (once per side).
    // Width discipline (r14, guide §2.5/§4): every stage of this
    // operator is COMPUTE-dense (×(L+1)^τ variant explode, per-bucket
    // pair expansion, banded-DP verify), so byte-driven AQE coalescing
    // starves it — measured at sf0.1: the whole candidate+verify
    // pipeline collapsed to ≤4 tasks (3.5 MB of keys) and ran ~5.7 s
    // warm on 32 idle cores. The repartition BEFORE the explode
    // spreads names ahead of the ×19 amplification (shuffle the keys,
    // not the payload — guide §8), and the one AFTER the snapshot
    // read pins the pair-expansion width AND pre-distributes on dk —
    // exactly the distribution the at-scale SMJ needs, so past the
    // broadcast threshold it replaces (not adds to) the join exchange.
    val keyed = Snapshot(
      df.select(key.as("nm")).distinct()
        .repartition(width, col("nm"))
        .select(col("nm"),
          explode(deletionVariants(col("nm"), tau)).as("dk")),
      "fuzzy_keys").df
      .repartition(width, col("dk"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.dk") === col("b.dk") && col("a.nm") < col("b.nm"))
      .select(col("a.nm").as("name_a"), col("b.nm").as("name_b"))
      .distinct()
      // THRESHOLD-bounded verify: the 3-arg levenshtein runs the
      // banded O(τ·n) DP and returns −1 past the bound, instead of
      // the full O(n²) matrix the 2-arg form always fills — the DP is
      // the verify stage's cost (see rejected-refinement note (a))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), tau))
      .filter(col("dist") >= 0 && col("dist") <= tau)
  }

  /** End-to-end entity resolution — the composition a corpus-fusion
    * pipeline actually runs: fuzzy-match keys ([[editSelfJoin]]) →
    * connected components over the match graph
    * ([[Dedup.connectedComponents]], min-label) → every entity mapped
    * to its cluster and the CANONICAL record (the name of the
    * cluster's smallest key; unmatched entities are their own
    * cluster).
    *
    * The component graph is built at the NAME level — one node per
    * distinct name (represented by its smallest entity key), never
    * one per entity. On a corpus where d entities share each name,
    * expanding name-pairs to key-pairs before CC multiplies the edge
    * list by d² (measured on the 100× replica: 300M edges, 856 s —
    * a genuine scale-killer); name-level CC keeps the graph
    * duplication-free (same replica: ~10 s) and entities attach to
    * their name's cluster with one narrow join afterwards. This also
    * makes SAME-name entities co-cluster — the right resolution
    * semantics — while the cluster id stays the global min entity
    * key (min over per-name min keys). Identical outputs on
    * unique-name corpora. */
  def resolveEntities(df: DataFrame, key: Column, name: Column,
                      tau: Int): DataFrame = {
    val ents = Snapshot(
      df.select(key.cast("long").as("ek"), name.as("nm")), "er_entities").df
    val nameId = Snapshot(
      ents.groupBy(col("nm")).agg(min(col("ek")).as("nameid")), "er_names").df
    val pairs = editSelfJoin(nameId, col("nm"), tau)
    val edges = pairs
      .join(nameId.select(col("nameid").as("ka"), col("nm").as("name_a")),
        "name_a")
      .join(nameId.select(col("nameid").as("kb"), col("nm").as("name_b")),
        "name_b")
      .select(col("ka"), col("kb"))
    val cc = Dedup.connectedComponents(edges)
      .select(col("doc_id").as("nameid"), col("component"))
    val nameCluster = nameId.join(cc, Seq("nameid"), "left")
      .select(col("nm"),
        coalesce(col("component"), col("nameid")).as("cluster"))
    ents.join(nameCluster, "nm")
      .join(ents.select(col("ek").as("cluster"),
        col("nm").as("canonical_name")), "cluster")
      .select(col("ek").as("entity_key"), col("nm").as("name"),
        col("cluster"), col("canonical_name"))
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // all customer-name pairs within one edit — on this corpus the
    // 18-char names share a 9-char constant prefix (the segment-
    // blocking worst case the object doc describes); the deletion
    // keys stay selective and the hash match against the DuckDB
    // CROSS-JOIN oracle proves the blocking lossless
    "t_fuzzy_join" -> ((s, dir) =>
      editSelfJoin(Tables.load(s, dir, "customer"), col("c_name"), 1)
        .select(col("name_a"), col("name_b"), col("dist").cast("int"))),
    // τ=2 exercises the MULTI-LEVEL deletion frontier (the
    // `deletionVariants` loop runs twice — level-2 keys are deletions
    // of deletions), which the τ=1 gate never touches. On a
    // deterministic 5% key sample: τ=2 keys are ~L²/2 per string and
    // the near-collision candidate volume on shared-prefix IDs grows
    // with τ, so the sample keeps BOTH the Spark candidate stream and
    // the DuckDB brute-force oracle affordable at every gated SF while
    // certifying the same losslessness theorem at the deeper radius.
    "t_fuzzy_join2" -> ((s, dir) =>
      editSelfJoin(Tables.load(s, dir, "customer")
          .filter(col("c_custkey") % 20 === 0), col("c_name"), 2)
        .select(col("name_a"), col("name_b"), col("dist").cast("int"))),
    // the composed resolution pipeline on a sparser (2%) sample —
    // the DuckDB oracle re-derives the clusters with a recursive CTE
    // over the brute-force match graph, so the hash certifies fuzzy
    // blocking, min-label components and canonical attach TOGETHER
    "p_entity_resolution" -> ((s, dir) =>
      resolveEntities(Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % 50 === 0), col("c_custkey"),
        col("c_name"), 2)))

  // the oracle has NO blocking in it: brute-force levenshtein over
  // all ordered pairs of DISTINCT key values — the operator's declared
  // domain (editSelfJoin dedups keys first; a corpus with repeated
  // names, e.g. the 10× scale replica, would otherwise multiply every
  // row-pair by the duplicate count²). Hash equality certifies the
  // deletion-neighborhood candidate set contains every true pair.
  val oracle: Map[String, String] = Map(
    "t_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT c_name FROM customer)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "t_fuzzy_join2" ->
      """WITH n AS (SELECT DISTINCT c_name FROM customer WHERE c_custkey % 20 = 0)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // restated at the same NAME level as the operator (one node per
    // distinct name = its min entity key), so the semantics agree on
    // duplicated-name corpora too
    "p_entity_resolution" ->
      """WITH RECURSIVE c AS (SELECT c_custkey AS ek, c_name AS nm FROM customer WHERE c_custkey % 50 = 0),
        |nid AS (SELECT nm, min(ek) AS nameid FROM c GROUP BY nm),
        |p AS (SELECT a.nameid AS ka, b.nameid AS kb FROM nid a JOIN nid b ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= 2),
        |edges AS (SELECT ka AS a, kb AS b FROM p UNION SELECT kb, ka FROM p),
        |reach(node, label) AS (SELECT a, a FROM edges UNION SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node),
        |comp AS (SELECT node AS nameid, min(label) AS cluster FROM reach GROUP BY node),
        |nc AS (SELECT nm, coalesce(comp.cluster, nid.nameid) AS cluster
        |       FROM nid LEFT JOIN comp USING (nameid))
        |SELECT c.ek AS entity_key, c.nm AS name, nc.cluster, cn.nm AS canonical_name
        |FROM c JOIN nc USING (nm) JOIN c cn ON cn.ek = nc.cluster""".stripMargin)
}
