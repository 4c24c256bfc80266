package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.Tables

/** Graph analytics over the relational tables: PageRank on the
  * customer–supplier interaction graph (who transacted with whom via
  * orders ⋈ lineitem). Complements the dedup clusterer's connected
  * components ([[Dedup.dupClusters]]) with an importance measure —
  * the two standard iterative-graph shapes a data-curation pipeline
  * runs (e.g. domain-authority weighting of web-crawl sources before
  * sampling).
  *
  * PageRank is personalized PageRank whose teleport set is every
  * node: [[pageRank]], [[pageRankConverged]] and
  * [[personalizedPageRank]] share one power iteration
  * ([[powerIteration]]). Its physical strategy is picked once per
  * call from the edge count observed on the edge write, by the one
  * regime table in [[Regime]]: a driver-side loop for tiny graphs,
  * the lazy per-iteration shuffle, and the fused shape (cached
  * pre-partitioned edges) past 30M symmetrized edges.
  */
object Graph {

  /** Numeric node encoding: customer c ↔ 2c, supplier s ↔ 2s+1 —
    * every shuffle in the edge build and the PageRank loop carries
    * 8-byte keys; the display string materializes only at the very
    * end ([[decodeNode]]). The same move as deduping on the numeric
    * pair below: strings are presentation, not dataflow. */
  private[graft] def decodeNode(id: Column): Column =
    when(id.bitwiseAND(1) === 0, concat(lit("c"), shiftright(id, 1)))
      .otherwise(concat(lit("s"), shiftright(id, 1)))

  /** Distinct customer–supplier edges in the numeric node encoding. */
  private[graft] def customerSupplierEdgesNum(orders: DataFrame,
                                                  lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      // dedup on the NUMERIC pair: the distinct's exchange carries 16
      // bytes/row instead of two strings (the string-keyed shape was
      // the whole-query bottleneck at sf0.1)
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
      .select((col("ck") * 2).as("a"), (col("sk") * 2 + 1).as("b"))

  /** The symmetrized edge set — the ONE definition of what "the same
    * undirected graph" means for every graph operator here (pagerank /
    * PPR / label propagation / BFS), laid over the ASYMMETRIC edge
    * snapshot each of them writes; inline copies could drift on e.g.
    * self-loop or distinct() handling (code-review r10). */
  private def symUnion(edges: DataFrame): DataFrame =
    edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))

  /** Snapshot of the ASYMMETRIC edge list with its row count observed
    * on the write, plus the lazy symmetrized view over it (r14): the
    * former symmetrized snapshot wrote 2|E| rows where |E| suffice —
    * the union is a cheap scan-level view over the snapshot, and the
    * symmetrized count is exactly 2|E| (the bipartite parity encoding
    * and the a<b co-purchase convention both exclude self-loops and
    * mirrored duplicates). Downstream consumers that scan the
    * symmetrized view twice re-read the half-size snapshot twice —
    * the same bytes as one full-size scan, minus the doubled write.
    * The count rides the write ([[Snapshot.counted]], zero extra
    * jobs). */
  private def edgeSnapshotCounted(edges: DataFrame,
                                  site: String): (DataFrame, Long) = {
    val (snap, n) = Snapshot.counted(edges, site)
    (symUnion(snap.df), 2L * n)
  }

  /** Fixed-iteration damped PageRank over an undirected edge list
    * (columns `a`, `b`): [[personalizedPageRank]] whose teleport set
    * is every node. Returns (node, rank) with rank rounded to 1e-6 —
    * deterministic up to float reassociation in the neighbor sums,
    * which the rounding absorbs (same bound as every other double
    * aggregate in the registry).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    powerIteration(edges, None, iters, damping, tol = 0.0)

  /** Convergence-mode PageRank: run until the max per-node rank change
    * drops to `tol` (L∞ — the standard power-iteration stopping rule)
    * or `maxIters`, whichever first. Each checked iteration
    * materializes the rank vector (`localCheckpoint`) and measures the
    * delta with one node-keyed join — two extra narrow jobs per
    * iteration, the price of knowing when to stop; the fixed-iteration
    * path ([[pageRank]], tol=0) stays one lazy plan with zero
    * mid-loop actions. Throws if `maxIters` passes without reaching
    * `tol` — an unconverged importance ranking must fail loudly, the
    * same contract as [[Dedup.dupClusters]]'s pointer jumping. */
  def pageRankConverged(edges: DataFrame, maxIters: Int, tol: Double,
                        damping: Double = 0.85): DataFrame = {
    require(tol > 0, "pageRankConverged: tol must be positive")
    powerIteration(edges, None, maxIters, damping, tol)
  }

  /** Personalized PageRank (Haveliwala, "Topic-Sensitive PageRank",
    * WWW 2002): teleport mass returns to the SEED set instead of
    * spreading uniformly — rank becomes proximity to the seeds, the
    * "propagate trust from a curated seed list" primitive web-corpus
    * curation uses to weight sources near known-good sites (and the
    * classic seed-expansion recommender). r⁰ = 1_S/|S|;
    * rᵏ = (1−δ)·1_S/|S| + δ·Σ_in rᵏ⁻¹/deg, with |S| counting the
    * distinct seed list (seeds outside the graph included). Global
    * [[pageRank]] is the S = every-node case of the same power
    * iteration, in the same regimes ([[Regime]]). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           damping: Double = 0.85): DataFrame =
    powerIteration(edges, Some(seeds), iters, damping, tol = 0.0)

  private val checkpointEvery = 10

  /** Above this many symmetrized edges the power iteration runs
    * `Large` (cached pre-partitioned edge table, [[Regime]]); below,
    * the lazy per-iteration exchange is cheaper. Measured bracket:
    * lazy wins at 11.7M (sf1), fused wins at 117M (sf10) — the
    * boundary sits at the geometric middle. */
  private val fusedPrSymEdges = 30000000L

  /** The one power iteration behind [[pageRank]], [[pageRankConverged]]
    * and [[personalizedPageRank]]. `teleport` None is the every-node
    * set: r⁰ and the teleport base are the literals 1/n and (1−δ)/n.
    * Some(seeds) flags each node's membership (column `node`) and
    * applies 1/|S| and (1−δ)/|S| on seeds, 0.0 elsewhere. The
    * symmetrized graph keeps every out-degree ≥ 1, so there is no
    * dangling-mass term and the update stays pure map/reduce. `tol`
    * > 0 (every-node set only) is convergence mode; `force` pins the
    * regime (tests).
    *
    * Distributed shape: TWO bounded write-and-readbacks — the
    * asymmetric edge list (one upstream derivation total) and the
    * degree-annotated edge list the loop scans. The degree table
    * exists only as a subtree inside the latter's write, with the
    * node count observed on it; the seed flags ride that same write
    * (`s` on the src side for r⁰, `t` on the dst side for the
    * teleport base, recovered per node as max(t) inside the dst
    * aggregation — no node-table join per iteration), with |S|
    * observed on the seed subtree. Per iteration: one shuffle of the
    * edge list (join on src — ranks arrive shuffled from the previous
    * iteration's groupBy) and one dst-keyed aggregation. Lineage grows
    * linearly; a `localCheckpoint()` every 10 rounds truncates it. */
  private[graft] def powerIteration(edges: DataFrame, teleport: Option[DataFrame],
                                    iters: Int, damping: Double, tol: Double,
                                    force: Option[Regime] = None): DataFrame = {
    require(tol == 0 || teleport.isEmpty, "convergence mode needs the every-node set")
    val site = if (teleport.isEmpty) "pr" else "ppr"
    val (symSnap, mEdges) = edgeSnapshotCounted(edges, s"${site}_sym")
    // the distinct seed list, |S| observed on it: flagged by src (r⁰)
    // and, in the distributed write, by dst (teleport base) — both
    // joins read its one exchange, and either read counts all of it
    val seedSet = teleport.map(seeds => Snapshot.observe[Long](
      seeds.select(col("node")).distinct(), s"${site}_seeds", Snapshot.rowCount))
    def flagged(df: DataFrame, key: String, flag: String): DataFrame =
      seedSet.fold(df)(f => df.join(
        f._1.select(col("node").as(key), lit(true).as(flag)), Seq(key), "left"))
    def seedCount(): Option[Long] = seedSet.map { f =>
      val nS = f._2(); require(nS > 0, "personalizedPageRank: empty seed set"); nS
    }
    val regime = Regime.pick(mEdges, fusedPrSymEdges, force)
    if (regime == Regime.Local)
      return pageRankLocal(flagged(symSnap, "src", "s"), () => seedCount(),
        iters, damping, tol)
    val (deg, nodes) = Snapshot.observe[Long](
      symSnap.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      s"${site}_deg", Snapshot.rowCount)
    val symDegSnap = Snapshot(flagged(
      symSnap.join(flagged(deg, "src", "s"), "src"), "dst", "t"), s"${site}_edges").df
    // the write above just ran (snapshots are eager), so the degree
    // and seed subtrees have executed exactly once: counts in hand
    val n = nodes()
    require(n > 0, "pageRank: empty edge set")
    val nS = seedCount()
    def onSeeds(flag: String, v: Double): Column =
      when(col(flag), lit(v)).otherwise(lit(0.0))
    val r0 = nS.fold(lit(1.0 / n))(s => onSeeds("s", 1.0 / s))
    val base = nS.fold(lit((1 - damping) / n))(s => onSeeds("t", (1 - damping) / s))
    val carried = nS.map(_ => col("t")).toSeq
    val aggs = sum(col("m")).as("in_mass") +: nS.map(_ => max(col("t")).as("t")).toSeq
    def ranked(r: DataFrame): DataFrame =
      r.select(col("src").as("node"), (round(col("r") * 1e6) / 1e6).as("rank"))
    // degenerate 0-iteration call: the result is r⁰ itself
    if (iters <= 0 && tol == 0)
      return ranked(symDegSnap.select(col("src"), r0.as("r")).distinct())
    // the Large shape: the edge table is pre-partitioned on the join
    // key ONCE and cached, so each of the k iterations shuffles only
    // the NODE-sized rank vector — the lazy shape re-exchanges (and
    // re-sorts, under SMJ) the EDGE-sized side every iteration, the
    // dominant cost at 100× (measured: sf10 = 117M sym edges,
    // g_pagerank 72→64 s, g_ppr 88→56 s). Below the gate the lazy
    // shape is faster (sf1 = 11.7M edges: fused lost 8.4→10.1 s warm
    // — cache fill + in-memory scan overhead exceeds the smaller
    // exchange it saves). The shuffle_hash hint on the small side
    // removes the per-iteration sort SMJ would re-impose on the
    // cached edges; map-side partial aggregation bounds the groupBy's
    // shuffle at O(partitions × nodes).
    val fused = regime == Regime.Large
    ranked(Snapshot.cached(
        if (fused) symDegSnap.repartition(col("src")) else symDegSnap,
        enabled = fused) { symDeg =>
      // r⁰ is a per-node CONSTANT (1/n, or 1/|S| on flagged seeds), so
      // iteration 1 needs no rank table and no join: its mass term is
      // r⁰/deg over the annotated edge scan. Every node appears as dst
      // (the graph is symmetrized), so the aggregation domain — and
      // hence the output node set — is identical to the joined form's;
      // the arithmetic is the same division of the same doubles.
      // Iterations 2+ join the materialized rank vector.
      var ranks: DataFrame = null
      var converged = false
      var i = 0
      while (i < iters && !converged) {
        i += 1
        val masses =
          if (i == 1)
            symDeg.select(col("dst") +: (r0 / col("deg")).as("m") +: carried: _*)
          else {
            val rhs = if (fused) ranks.hint("shuffle_hash") else ranks
            symDeg.join(rhs, "src")
              .select(col("dst") +: (col("r") / col("deg")).as("m") +: carried: _*)
          }
        val next = masses
          .groupBy(col("dst")).agg(aggs.head, aggs.tail: _*)
          .select(col("dst").as("src"),
            (base + lit(damping) * col("in_mass")).as("r"))
        if (tol > 0) {
          // convergence mode: pin this iteration's vector (also the
          // lineage truncation) and measure the L∞ step — against the
          // 1/n constant at i = 1 (r⁰ never exists as a frame)
          val pinned = next.localCheckpoint()
          val delta =
            if (i == 1)
              pinned.agg(max(abs(col("r") - lit(1.0 / n))))
                .head().getDouble(0)
            else
              pinned.as("n").join(ranks.as("p"), "src")
                .agg(max(abs(col("n.r") - col("p.r")))).head().getDouble(0)
          converged = delta <= tol
          ranks = pinned
        } else {
          ranks = next
          // long fixed runs: truncate the per-iteration lineage growth
          // before the plan deepens past what the optimizer re-walks
          // cheaply (never triggers at the 5-iteration oracle depth)
          if (i % checkpointEvery == 0 && i < iters)
            ranks = ranks.localCheckpoint()
        }
      }
      if (tol > 0 && !converged)
        throw new IllegalStateException(
          s"pageRank did not converge to tol=$tol within $iters iterations")
      ranks
    })
  }

  /** The `Local` regime: power iteration on the driver over a tiny
    * symmetrized edge list — the [[Dedup.dupClusters]] union-find
    * device applied here. `rows` are (src, dst[, seed flag]) and are
    * collected in one action, which also delivers |S| (`nSeeds`). The
    * update is the SAME formula as the distributed loop (base + δ·Σ
    * r/deg over in-edges), the final rounding mirrors Spark's
    * Round-on-double semantics (BigDecimal.valueOf, HALF_UP), and the
    * convergence/throw contract is identical — only the physical
    * strategy differs. Double-sum reassociation between the two
    * strategies sits inside the 1e-6 rounding bound, the same
    * tolerance every cross-engine oracle compare already rides. */
  private def pageRankLocal(rows: DataFrame, nSeeds: () => Option[Long],
                            iters: Int, damping: Double, tol: Double): DataFrame = {
    val spark = rows.sparkSession
    val collected = rows.collect()
    val pairs = collected.map(r => (r.get(0), r.get(1)))
    val deg = scala.collection.mutable.HashMap.empty[Any, Long]
    pairs.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1 }
    val n = deg.size
    require(n > 0, "pageRank: empty edge set")
    // per-node r⁰ and teleport base, as in the distributed loop
    val (r0, base): (Any => Double, Any => Double) = nSeeds() match {
      case None => (_ => 1.0 / n, _ => (1 - damping) / n)
      case Some(s) =>
        val seeds = collected.filterNot(_.isNullAt(2)).map(_.get(0)).toSet
        (k => if (seeds(k)) 1.0 / s else 0.0,
          k => if (seeds(k)) (1 - damping) / s else 0.0)
    }
    var ranks: Map[Any, Double] = deg.keys.map(k => k -> r0(k)).toMap
    var converged = false
    var i = 0
    while (i < iters && !converged) {
      i += 1
      val in = scala.collection.mutable.HashMap.empty[Any, Double]
      pairs.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0.0) + ranks(s) / deg(s)
      }
      val next = ranks.keys
        .map(k => k -> (base(k) + damping * in.getOrElse(k, 0.0)))
        .toMap
      if (tol > 0)
        converged = ranks.keys.map(k => math.abs(next(k) - ranks(k))).max <= tol
      ranks = next
    }
    if (tol > 0 && !converged)
      throw new IllegalStateException(
        s"pageRank did not converge to tol=$tol within $iters iterations")
    def rnd(v: Double): Double = java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "node", rows.schema("src").dataType),
      org.apache.spark.sql.types.StructField(
        "rank", org.apache.spark.sql.types.DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      ranks.toSeq.map { case (k, v) =>
        org.apache.spark.sql.Row(k, rnd(v))
      }.asJava, schema)
  }

  /** Distinct part–part co-purchase edges (parts sharing an order) —
    * the market-basket projection of lineitem, the third standard
    * graph a curation pipeline derives (after the bipartite
    * interaction graph above and the near-dup graph in [[Dedup]]).
    * The within-order pair build is quadratic in ORDER SIZE only
    * (TPC-H caps it at 7 line items; a real basket table would cap or
    * sample giant baskets first), then one distinct on the 16-byte
    * numeric pair. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val lp = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()
  }

  /** Per-node triangle participation counts over an undirected edge
    * list (`a` < `b`, distinct) — the clustering-structure census
    * (local clustering coefficient numerator) used to weight
    * community-dense sources before sampling.
    *
    * Scale design is the degree-ordered orientation (Schank/Wagner,
    * the standard distributed-triangle shape): every edge points from
    * its lower endpoint to its higher endpoint under the total order
    * (degree, id), so each triangle is enumerated EXACTLY once from
    * its minimum vertex, and the wedge join's fan-out per node is the
    * out-degree, bounded by O(√E) instead of the raw degree — a
    * celebrity node with 10⁸ neighbors contributes no wedges at all
    * (all its edges point IN). Orientation keys compare as structs
    * (no deg·2³²+id arithmetic to overflow). Three shuffles total:
    * the degree groupBy, the wedge self-join on src, and the closing
    * equi-join on (b, c) — no EXISTS, no cartesian anywhere. */
  def trianglesPerNode(edges: DataFrame): DataFrame = {
    // snapshot the edge list once — degrees, both wedge-join sides
    // and the closing join all re-derive from it, and the upstream
    // build (the basket self-join) must not re-execute per consumer
    val e = Snapshot(edges.select(col("a"), col("b")), "tri_edges").df
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val keyed = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val fwd = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // oriented edges carry the DESTINATION's key so the wedge
    // comparison below needs no further degree join; the three reads
    // of `o` (two wedge-join sides + the closing edge) are IDENTICAL
    // subtrees over the edge snapshot, so Spark's ReuseExchange
    // computes the orientation once and replays the exchange —
    // write-and-readback here would only add a disk round-trip
    // (checkpoint blocks are out: persist-hygiene forbids cached
    // blocks outliving a returned lazy plan)
    val o = keyed.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("dst"),
      when(fwd, col("db")).otherwise(col("da")).as("ddst"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.ddst"), col("e1.dst")) <
            struct(col("e2.ddst"), col("e2.dst")))
      .select(col("e1.src").as("ta"), col("e1.dst").as("tb"),
        col("e2.dst").as("tc"))
    val tri = wedges.join(o.select(col("src").as("tb"), col("dst").as("tc")),
      Seq("tb", "tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. '07)
    * with a SELF-VOTE and min-label tie-break — the deterministic
    * variant: each round every node adopts the most frequent label
    * among its neighbors plus itself (the self-vote damps the 2-cycle
    * oscillation plain synchronous LPA exhibits on bipartite-ish
    * structure), ties broken to the smallest label. Communities of
    * near-dup domains / co-purchase cliques in a handful of rounds,
    * without CC's requirement that membership be transitive.
    *
    * Scale shape: per round exactly one shuffle of the edge snapshot
    * (join on src) + one (node, label)-keyed count + one node-keyed
    * argmax — the argmax is `min(struct(-count, label))`, a TWO-PHASE
    * aggregate (partials combine map-side), never a per-node window
    * sort. Labels are 8-byte ids end to end. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val symSnap = symUnion(Snapshot(edges, "lpa_sym").df)
    var labels = symSnap.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    var i = 0
    while (i < iters) {
      i += 1
      // round 1's labels are the IDENTITY (every node labels itself),
      // so the neighbor-label join is the edge list relabelled: lbl =
      // src, one E-sized join gone (r15, the pageRank constant-r⁰
      // fold one loop over). The join domain is unchanged — every src
      // is in labels by construction (labels = distinct src) — and
      // the whole chain is integer-exact.
      val neigh =
        if (i == 1) symSnap.select(col("dst").as("node"), col("src").as("lbl"))
        else symSnap
          .join(labels.select(col("node").as("src"), col("lbl")), "src")
          .select(col("dst").as("node"), col("lbl"))
      val votes = neigh
        .unionByName(labels)
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
      labels = votes.groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
      if (i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint()
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** Multi-source BFS hop distances: every node's minimum hop count
    * from a seed set, out to `maxHops` — the graph-proximity filter a
    * curation pipeline runs when "within k links of a trusted seed"
    * IS the inclusion criterion (crawl-frontier scoping, seed-expanded
    * allowlists), the discrete sibling of [[personalizedPageRank]]'s
    * continuous proximity.
    *
    * Scale design is FRONTIER iteration, not min-relaxation: each
    * round joins the edge snapshot against only the nodes discovered
    * LAST round and anti-joins the settled set, so a round's shuffle
    * carries the frontier's out-edges — not the full |V| distance
    * vector re-expanded through every edge, which is what the
    * unrolled relational form (and the DuckDB oracle) does per
    * round. On a 100-TB graph the frontier peaks and shrinks while
    * Σ|frontier| = |reached|, so total work is O(E reached) across
    * the whole run vs O(E·hops) for relaxation. Each frontier pins
    * via [[Snapshot.counted]] (it is read twice next round — the
    * expansion and the settled union), whose row count observed on
    * the write short-circuits the loop on exhaustion with zero extra
    * jobs. Seeds count at hop 0 whether or not they appear in the
    * edge list (an isolated trusted node is still trusted). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfsHops: maxHops must be >= 0, got $maxHops")
    val sym = symUnion(Snapshot(edges, "bfs_sym").df)
    var settled = Snapshot(
      seeds.select(col("node")).distinct()
        .select(col("node"), lit(0).as("hops")), "bfs_d0").df
    var frontier = settled
    var h = 0
    var exhausted = false
    while (h < maxHops && !exhausted) {
      h += 1
      val next = sym
        .join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("hops"))
      val (snap, n) = Snapshot.counted(next, s"bfs_f$h")
      frontier = snap.df
      exhausted = n == 0L
      // settled stays a LAZY union of the on-disk frontier snapshots:
      // each round's anti-join re-reads them (same total read cost as
      // one merged snapshot) but nothing ever REWRITES the full
      // settled set — per-round write stays O(|frontier|), not O(|V|)
      if (!exhausted) settled = settled.union(frontier)
    }
    settled
  }

  private val prIters = 5
  private val lpaIters = 4
  private val bfsMaxHops = 4

  /** The BFS oracle unrolls min-relaxation: each round min-merges the
    * previous distances with every neighbor's distance+1. Layered
    * frontier expansion computes exactly this fixpoint prefix (the
    * Bellman-Ford ≡ BFS equivalence on unit weights), so hash
    * equality proves the frontier/anti-join machinery — which shares
    * no shape with the oracle — lands the same distances. */
  private def bfsOracleSql(maxHops: Int): String = {
    val base = "WITH e0 AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS a, " +
      "'s' || l_suppkey AS b FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
      "r0 AS MATERIALIZED (SELECT DISTINCT 'c' || c_custkey AS node, 0 AS hops " +
      "FROM customer WHERE c_custkey < 25)"
    val iterCtes = (1 to maxHops).map { i =>
      s"r$i AS MATERIALIZED (SELECT node, min(hops) AS hops FROM (" +
        s"SELECT node, hops FROM r${i - 1} " +
        s"UNION ALL SELECT s.dst, r.hops + 1 FROM sym s " +
        s"JOIN r${i - 1} r ON s.src = r.node) GROUP BY node)"
    }.mkString(", ", ", ", "")
    s"$base$iterCtes SELECT node, hops FROM r$maxHops"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // communities on the co-purchase projection (same deterministic
    // mod-4 basket sample as g_triangles, same in-budget rationale)
    "g_labelprop" -> ((s, dir) =>
      labelPropagation(coPurchaseEdges(Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)), lpaIters)),
    // the whole iteration runs on 8-byte node ids; the "c123"/"s45"
    // presentation strings appear only in this final projection
    "g_pagerank" -> ((s, dir) => pageRank(
      customerSupplierEdgesNum(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")), prIters)
      .select(decodeNode(col("node")).as("node"), col("rank"))),
    // seed set = customers with custkey < 25: proximity-to-seeds
    // ranking over the same interaction graph as g_pagerank
    "g_ppr" -> ((s, dir) => personalizedPageRank(
      customerSupplierEdgesNum(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")),
      Tables.load(s, dir, "customer").filter(col("c_custkey") < 25)
        .select((col("c_custkey") * 2).as("node")), prIters)
      .select(decodeNode(col("node")).as("node"), col("rank"))),
    // deterministic basket sample (orders ≡ 0 mod 4): the FULL sf0.1
    // graph is 1.2M edges / 41M wedges — ~48 s in Spark AND ~48 s in
    // DuckDB (intrinsic workload, measured this round), far past the
    // per-query bench budget. The sample keeps the gate shape
    // identical (same orientation, same joins) at in-budget volume;
    // the full-graph cost is recorded as perf evidence instead.
    "g_triangles" -> ((s, dir) => {
      triScaleCtx = Some((s, dir))
      trianglesPerNode(coPurchaseEdges(Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)))
    }),
    // same seed set + interaction graph as g_ppr; hop radius 4 (the
    // bipartite graph alternates customer/supplier sides per hop)
    "g_bfs" -> ((s, dir) => bfsHops(
      customerSupplierEdgesNum(Tables.load(s, dir, "orders"),
        Tables.load(s, dir, "lineitem")),
      Tables.load(s, dir, "customer").filter(col("c_custkey") < 25)
        .select((col("c_custkey") * 2).as("node")), bfsMaxHops)
      .select(decodeNode(col("node")).as("node"), col("hops"))))

  /** The oracle unrolls the same five update steps as chained CTEs —
    * identical double-operation order (damping constants forced to
    * DOUBLE so DuckDB's decimal arithmetic can't produce a different
    * 0.15 than Scala's `1 - 0.85`). */
  private def prOracleSql(iters: Int): String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val base = "WITH e0 AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS a, " +
      "'s' || l_suppkey AS b FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
      "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src), " +
      "nn AS (SELECT count(*) AS n FROM deg), " +
      "r0 AS MATERIALIZED (SELECT src, deg, 1.0 / (SELECT n FROM nn) AS r FROM deg)"
    val iterCtes = (1 to iters).map { i =>
      s"r$i AS MATERIALIZED (SELECT s.dst AS src, max(d.deg) AS deg, " +
        s"(1 - $d) / (SELECT n FROM nn) + $d * sum(r.r / r.deg) AS r " +
        s"FROM sym s JOIN r${i - 1} r ON s.src = r.src " +
        s"JOIN deg d ON d.src = s.dst GROUP BY s.dst)"
    }.mkString(", ", ", ", "")
    s"$base$iterCtes SELECT src AS node, round(r * 1e6) / 1e6 AS rank FROM r$iters"
  }

  /** The personalized loop unrolled — same CTE scaffolding as
    * [[prOracleSql]], with the teleport base CASE'd on seed
    * membership. |S| counts the RAW seed list (as the Scala side's
    * |S|, observed on its seed subtree), while mass only initializes
    * on seed nodes that exist in the graph — identical on both
    * engines by construction. */
  private def pprOracleSql(iters: Int): String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val base = "WITH e0 AS MATERIALIZED (SELECT DISTINCT 'c' || o_custkey AS a, " +
      "'s' || l_suppkey AS b FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
      "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src), " +
      "seeds AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer WHERE c_custkey < 25), " +
      "ns AS (SELECT count(*) AS n FROM seeds), " +
      "nb AS MATERIALIZED (SELECT d.src, d.deg, " +
      s"CASE WHEN s.node IS NOT NULL THEN (1 - $d) / (SELECT n FROM ns) ELSE 0.0 END AS b, " +
      "CASE WHEN s.node IS NOT NULL THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS r0 " +
      "FROM deg d LEFT JOIN seeds s ON s.node = d.src), " +
      "r0 AS MATERIALIZED (SELECT src, deg, b, r0 AS r FROM nb)"
    val iterCtes = (1 to iters).map { i =>
      s"r$i AS MATERIALIZED (SELECT s.dst AS src, max(d.deg) AS deg, max(d.b) AS b, " +
        s"max(d.b) + $d * sum(r.r / r.deg) AS r " +
        s"FROM sym s JOIN r${i - 1} r ON s.src = r.src " +
        s"JOIN nb d ON d.src = s.dst GROUP BY s.dst)"
    }.mkString(", ", ", ", "")
    s"$base$iterCtes SELECT src AS node, round(r * 1e6) / 1e6 AS rank FROM r$iters"
  }

  /** The LPA oracle unrolls each round as two CTEs: the vote count
    * and the argmax restated as max-count-then-min-label (provably the
    * same total order as Spark's `min(struct(-c, lbl))`). */
  private def lpaOracleSql(iters: Int): String = {
    // MATERIALIZED throughout: v{i} reads l{i-1} twice and l{i} reads
    // v{i} twice, so CTE inlining expands the chain 4^iters-fold —
    // fine at sf0.01, a 74 GB DuckDB spill at the 10x rehearsal
    // (PERF_r11; same hazard class the BPE oracle pins).
    val base = "WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
      "FROM lineitem WHERE l_orderkey % 4 = 0), " +
      "e AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b FROM lp x JOIN lp y " +
      "ON x.ok = y.ok AND x.pk < y.pk), " +
      "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym)"
    val iterCtes = (1 to iters).map { i =>
      s"v$i AS MATERIALIZED (SELECT node, lbl, count(*) AS c FROM (" +
        s"SELECT s.dst AS node, l.lbl FROM sym s JOIN l${i - 1} l ON s.src = l.node " +
        s"UNION ALL SELECT node, lbl FROM l${i - 1}) GROUP BY node, lbl), " +
        s"l$i AS MATERIALIZED (SELECT v.node, min(v.lbl) AS lbl FROM v$i v " +
        s"JOIN (SELECT node, max(c) AS mc FROM v$i GROUP BY node) m " +
        s"ON v.node = m.node AND v.c = m.mc GROUP BY v.node)"
    }.mkString(", ", ", ", "")
    s"$base$iterCtes SELECT node, lbl AS label FROM l$iters"
  }

  // def, not val: the triangle oracle renders at DUMP time with a
  // scale-derived shard count (the simhashProdOracle device)
  def oracle: Map[String, String] = Map(
    "g_bfs" -> bfsOracleSql(bfsMaxHops),
    "g_labelprop" -> lpaOracleSql(lpaIters),
    "g_pagerank" -> prOracleSql(prIters),
    "g_ppr" -> pprOracleSql(prIters),
    // the identical degree-ordered orientation restated relationally:
    // row-value comparisons (deg, id) < (deg, id) are DuckDB's struct
    // ordering, the same total order Spark's struct(<) compiles
    "g_triangles" -> triOracleSql(triShards()))

  /** Set by the `g_triangles` builder (the `simhashProdCtx` device in
    * [[Dedup]]): Verify dumps oracle SQL only after every query has
    * run, so the stash is populated when the dynamic oracle renders. */
  @volatile private var triScaleCtx: Option[(SparkSession, String)] = None

  /** Shard count for the triangle oracle, derived from corpus scale
    * instead of the static 16 the r12 rehearsal validated at 100×
    * (60M lineitem rows) — static was right for 100× but not 1000×
    * (VERDICT r12 #6). Per-shard working set is ~wedges/nShards and
    * wedges grow ~linearly over content-disjoint replicas, so holding
    * per-shard work at the 100×-validated level means shards scale
    * linearly past it: 16 up to 60M rows, 160 at 1000×. The count()
    * is parquet-metadata-only and runs once at dump time. */
  private def triShards(): Int = triScaleCtx match {
    case None => 16
    case Some((s, dir)) =>
      val rows = Tables.load(s, dir, "lineitem").count()
      math.max(16, math.ceil(rows / 60000000.0 * 16).toInt)
  }

  /** The triangle oracle, sharded by wedge source. The r11 monolithic
    * form fed every triangle's THREE corner rows into one final
    * GROUP BY — at the 100x rehearsal that is ~7.5 billion rows into
    * a single aggregation, which out-spilled the rehearsal host's
    * disk (measured: > 68 GB temp). Every oriented wedge has exactly
    * ONE source vertex, so `src % nShards` partitions the wedge set
    * exactly; each shard closes its wedges against the full oriented
    * edge list and aggregates per-node counts LOCALLY (the map-side
    * partial-aggregate device, restated in SQL), and the final
    * GROUP BY sums nShards small partials. Same triangles, same
    * counts, bounded working set at any scale. */
  private def triOracleSql(nShards: Int = 16): String = {
    val base =
      """WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem WHERE l_orderkey % 4 = 0),
        |e AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
        |o AS MATERIALIZED (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS src,
        |             CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS dst,
        |             CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS ddst
        |      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b)""".stripMargin
    val shardCtes = (0 until nShards).map { s =>
      s"t$s AS (SELECT node, count(*) AS c FROM (" +
        s"SELECT unnest([w.ta, w.tb, w.tc]) AS node FROM (" +
        "SELECT e1.src AS ta, e1.dst AS tb, e2.dst AS tc FROM o e1 " +
        "JOIN o e2 ON e1.src = e2.src AND (e1.ddst, e1.dst) < (e2.ddst, e2.dst) " +
        s"WHERE e1.src % $nShards = $s) w " +
        "JOIN o e3 ON e3.src = w.tb AND e3.dst = w.tc) GROUP BY node)"
    }.mkString(", ")
    val union = (0 until nShards).map(s => s"SELECT node, c FROM t$s")
      .mkString(" UNION ALL ")
    s"$base, $shardCtes SELECT node, CAST(sum(c) AS BIGINT) AS triangles FROM ($union) GROUP BY node"
  }
}
