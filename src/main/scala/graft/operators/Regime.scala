package graft.operators

import org.apache.spark.sql.SparkSession

/** The physical strategy an iterative graph operator runs in, picked
  * ONCE per call from the edge count observed on its edge write (zero
  * extra jobs). A regime never changes results — every regime computes
  * the same update with the same rounding; only job scheduling,
  * caching and partitioning differ. The one regime table:
  *
  * | regime  | [[Graph.pageRank]] / [[Graph.personalizedPageRank]] | [[Dedup.connectedComponents]] |
  * |---------|------------------------------------------|--------------------------------|
  * | `Local` | ≤ [[LocalEdges]]: power iteration on the driver | ≤ [[LocalEdges]]: driver union-find |
  * | `Small` | lazy loop, edge side re-exchanged per round | loop in the [[aqeOff]] clone, 1 partition, no broadcasts (≤ 1M edges) |
  * | `Large` | > 30M: edges cached pre-partitioned, only ranks shuffle | loop in the caller's session (> 1M edges) |
  *
  * Callers inside `graft` (the regime-equality tests) force a regime
  * through the operators' `private[graft]` `force` argument. */
private[graft] sealed trait Regime

private[graft] object Regime {
  case object Local extends Regime
  case object Small extends Regime
  case object Large extends Regime

  /** Edge rows up to which a graph is bounded driver-side state
    * (≤ ~1.6 MB of (long, long) pairs, the BPE-dictionary / k-means
    * centroid class): below it a distributed loop's cost is pure job
    * scheduling (≈18 jobs for 256 CC edges, PERF_r05.md; ~1 s of
    * snapshot round-trips on t_textrank's 31-node graph, r12). */
  val LocalEdges = 100000L

  /** `force`, else the regime for `edges` rows: `Local` up to
    * [[LocalEdges]], `Large` above `largeAbove`, `Small` between. */
  def pick(edges: Long, largeAbove: Long, force: Option[Regime]): Regime =
    force.getOrElse(
      if (edges <= LocalEdges) Local else if (edges > largeAbove) Large else Small)

  /** The AQE-off clone of `caller` (same SparkContext, isolated
    * SQLConf — the withSQLConf move, scoped so concurrent queries in
    * the caller never see the flipped conf) for loops of tiny
    * aggregations, where AQE splits every exchange into its own
    * query-stage job and the loop's cost is scheduling. Frames move
    * in and out of it as snapshots ([[graft.Snapshot.in]]). */
  def aqeOff(caller: SparkSession): SparkSession = {
    val s = caller.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
}
