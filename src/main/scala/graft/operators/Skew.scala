package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.Tables

/** Skew-mitigation operators — the hot-key survival kit for 100 TB.
  *
  * AQE's skew-join splitting handles most cases at runtime; these are
  * the explicit rewrites for when the skew is known and extreme
  * (power-law keys, a handful of giants):
  *
  *   - [[saltedAgg]]: two-phase aggregation through a salted key.
  *     Phase 1 groups by (key, salt) — the hot key's rows spread over
  *     `buckets` reducers; phase 2 merges the per-salt partials. Works
  *     for any algebraic aggregate (sum/count/min/max — anything with
  *     a merge). The rewrite is semantics-preserving: the oracle
  *     compares it against the plain GROUP BY.
  *
  *   - [[saltedJoin]]: big-side rows get a deterministic salt in
  *     [0, buckets); the small side is replicated once per salt value.
  *     The join key becomes (key, salt) — a hot key's matches spread
  *     over `buckets` tasks at the cost of a `buckets`× copy of the
  *     small side (which is why the small side must be the dimension).
  */
object Skew {

  /** Deterministic row-content salt in [0, buckets). MUST NOT be
    * derived from monotonically_increasing_id()/rand(): if a shuffle
    * map task is recomputed after a fetch failure, a nondeterministic
    * salt re-assigns rows to different buckets and the two-phase
    * rewrite drops/double-counts (the SPARK-23207 class of bugs) —
    * exactly the large-cluster scenario this operator exists for.
    * Hashing every column spreads a hot key's rows as long as the
    * rows differ anywhere; full-row duplicates co-bucket, which is
    * correct (and they aggregate into one partial anyway). */
  private def contentSalt(df: DataFrame, buckets: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(buckets))

  /** Salted sum/count aggregation over one key column. */
  def saltedAgg(df: DataFrame, key: String, valueCol: String,
                buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt", contentSalt(df, buckets))
    val partial = salted.groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    partial.groupBy(col(key))
      .agg(sum(col("_psum")).as("total"), sum(col("_pcnt")).as("n"))
  }

  /** Salted equi-join: `big` ⋈ `small` on `key`, hot keys spread over
    * `buckets` tasks. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 buckets: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("_salt", contentSalt(big, buckets))
    val replicatedSmall = small.withColumn("_salt",
      explode(array((0 until buckets).map(lit(_)): _*)))
    saltedBig.join(replicatedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Pure decision rule, exposed for testing: salt only when the
    * hottest key's share exceeds what one reducer should hold (2/par —
    * below that AQE's runtime splitting is enough), and size the salt
    * so the hot key spreads to ~its fair share of the cluster:
    * share×par×2 buckets, capped at `parallelism`. */
  def chooseBuckets(maxShare: Double, parallelism: Int): Int =
    if (maxShare <= 2.0 / parallelism) 1
    else math.min(parallelism,
      math.max(2, math.ceil(maxShare * parallelism * 2).toInt))

  /** Hottest-key share from a bounded deterministic sample — the
    * planning statistic for [[chooseBuckets]]. Two tiny jobs over a
    * `fraction` sample (top-1 key count + sample size), the same kind
    * of pre-pass AQE's stats collection does; collects one row, never
    * data. Seeded sample + stable file splits ⇒ reproducible plans. */
  def sampledMaxShare(df: DataFrame, key: String,
                      fraction: Double = 0.05, seed: Long = 42L): Double = {
    Snapshot.cached(df.select(col(key)).sample(fraction, seed)) { s =>
      val total = s.count()
      if (total == 0) 0.0
      else {
        val top = s.groupBy(col(key)).count()
          .orderBy(col("count").desc).limit(1)
          .collect().head.getLong(1)
        top.toDouble / total
      }
    }
  }

  /** Skew-adaptive aggregation: measure, then pick the plain GROUP BY
    * or the salted rewrite with a data-derived bucket count. The
    * result is identical either way (the oracle pins it); only the
    * shuffle layout changes. */
  def autoSaltedAgg(df: DataFrame, key: String, valueCol: String,
                    parallelism: Int = 32): DataFrame = {
    val buckets = chooseBuckets(sampledMaxShare(df, key), parallelism)
    if (buckets <= 1)
      df.groupBy(col(key))
        .agg(sum(col(valueCol)).as("total"), count(lit(1)).as("n"))
    else saltedAgg(df, key, valueCol, buckets)
  }

  /** MEMORY-BOUNDED rank over LOW-CARDINALITY window partitions — the
    * rewrite for the classic scale trap `rank() OVER (PARTITION BY
    * flag ORDER BY v)` when `flag` has a handful of values: Spark's
    * Window hash-partitions by `flag`, so ONE task must sort (and
    * hold) a third of the fact, which is fatal once that third
    * exceeds a task. Same two-level decomposition as
    * [[Corpus.packSequences]]'s distributed prefix sum: equi-width
    * value buckets (codegen'd `width_bucket` over the observed
    * [min, max] — any value-function bucketing is CORRECT, it only
    * chooses the internal partitioning) tile each group's order,
    * per-(group, bucket) counts collect into a driver-bounded offset
    * model (≤ groups × buckets rows), and the within-bucket rank runs
    * as groups × buckets independent, executor-sized windows. Ties
    * never span buckets (bucket is a function of the VALUE), so
    * `offset + local rank` IS the global rank — exact; the DuckDB
    * oracle is the plain single-window statement.
    *
    * The trade, measured at 100×/8 cpus on 60M rows: the naive window
    * runs 4.5 s while a 20M-row partition still fits one task; this
    * form pays two extra scans (min/max + counts) and runs 15.1 s
    * (a first cut that assigned buckets with an interpreted
    * higher-order array filter measured 38.8 s — bucket assignment
    * must stay codegen'd). The win is not speed at THIS scale but
    * boundedness: each task sorts ≤ rows/(groups × occupied buckets)
    * instead of rows/groups, which is the number that must stay
    * executor-sized at 100 TB. Raise `nBuckets` with scale; the
    * collect stays model-sized. */
  def rankSkewFree(df: DataFrame, group: String, value: String,
                   nBuckets: Int = 64): DataFrame = {
    val d = df.withColumn("_v", col(value).cast("double"))
    val mm = d.agg(min(col("_v")), max(col("_v"))).head()
    // NULL values go to bucket 0, below every width_bucket bucket
    // (>= 1): ascending rank() puts NULLS FIRST, all tied at rank 1,
    // and the offset model then shifts every non-null bucket by the
    // null count — exactly the plain window's semantics. min() null
    // means the column is empty/all-NULL: everything is bucket 0 and
    // no bucket edges exist (the old code NPE'd on getDouble here;
    // code-review r10).
    val b =
      if (mm.isNullAt(0) || mm.getDouble(0) == mm.getDouble(1))
        d.withColumn("_b", lit(0))
      else d.withColumn("_b",
        when(col("_v").isNull, lit(0)).otherwise(
          width_bucket(col("_v"), lit(mm.getDouble(0)),
            lit(mm.getDouble(1)), lit(nBuckets)).cast("int")))
    // NULL group keys ride a sentinel so the model join keeps them
    // (null === null is false in SQL); the plain window partitions
    // NULL groups together, so the rewrite must too
    val gk = coalesce(col(group).cast("string"), lit("\u0000<null>"))
    // driver model: exclusive row offset per (group, bucket) — one
    // entry per occupied cell, bounded by |groups| × nBuckets
    val counts = b.groupBy(gk.as("_og"), col("_b"))
      .count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = Map.empty[String, Long]
    val offRows = counts.map { case (g, bk, n) =>
      val off = acc.getOrElse(g, 0L)
      acc += g -> (off + n)
      (g, bk, off)
    }.toSeq
    val offDf = df.sparkSession.createDataFrame(offRows)
      .toDF("_og", "_ob", "_off")
    val wb = Window.partitionBy(col(group), col("_b")).orderBy(col("_v"))
    b.join(broadcast(offDf),
        gk === col("_og") && col("_b") === col("_ob"))
      .withColumn("rnk", rank().over(wb) + col("_off"))
      .drop("_v", "_b", "_og", "_ob", "_off")
  }

  // ------------------------------------------------------- queries //

  /** Explicit runtime-filter join (the Bloom semi-join every warehouse
    * engine plans under selective dim filters — Spark's own
    * spark.sql.optimizer.runtime.bloomFilter covers simple cases; this
    * is the explicit form for when the planner can't see the
    * selectivity): build a Bloom filter over the FILTERED dimension's
    * join keys (one tiny aggregate; the filter is driver-held model
    * state, the broadcast regime), push `might_contain` into the fact
    * scan, and only THEN shuffle for the exact join. The fact rows
    * that cannot match never enter the exchange — at 100 TB with a 1%
    * selective dim filter that is a ~99% shuffle-volume cut for the
    * cost of one bitset broadcast. False positives ride to the exact
    * join and die there; the oracle is the PLAIN join, so hash
    * equality proves the pre-filter drops no matching row. */
  def bloomFilteredJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                        dimKey: String, bits: Int = 1 << 17): DataFrame = {
    val s = fact.sparkSession
    graft.functions.HashExpressions.register(s)
    val filterBytes = dim
      .agg(graft.functions.HashExpressions
        .bloom_longs_agg(array(col(dimKey)), bits))
      .head().getAs[Array[Byte]](0)
    fact.filter(graft.functions.HashExpressions
        .bloom_might_contain_long(col(factKey), filterBytes))
      .join(dim, col(factKey) === col(dimKey))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // runtime bloom filter vs the plain join oracle: the selective
    // order filter (~1/8 of orders) prunes the lineitem exchange
    "k_bloom_join" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      bloomFilteredJoin(li, o, "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          (round(sum(col("l_quantity")) * 1e2) / 1e2).as("qty"))
    }),
    // correctness of the salted rewrite vs the plain GROUP BY oracle.
    // The money operand rides the integer-cent device (per-row
    // round(x*1e2)→BIGINT): at the 100x rehearsal the salted and
    // plain double sums reassociated across the 2-dec rounding
    // boundary (the q_join_agg class) — integer partials are exact in
    // any order, which is also the honest form for a rewrite whose
    // entire point is re-bracketing the sum. l_quantity
    // (k_auto_salted) is integer-valued in double, so its sums are
    // already order-exact and stay on the shared rounding formula.
    "k_salted_agg" -> ((s, dir) => {
      val out = saltedAgg(Tables.load(s, dir, "lineitem")
          .withColumn("cents",
            round(col("l_extendedprice") * 1e2).cast("long")),
        "l_returnflag", "cents")
      out.select(col("l_returnflag"),
        (col("total") / 1e2).as("total"), col("n"))
    }),
    // l_returnflag has 3 values (~1/3 share each) — the sampler must
    // detect the skew and route through the salted path; the oracle is
    // the plain GROUP BY either way
    "k_auto_salted" -> ((s, dir) => {
      val out = autoSaltedAgg(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity")
      out.select(col("l_returnflag"),
        (round(col("total") * 1e2) / 1e2).as("total"), col("n"))
    }),
    // rank over a 3-value window partition, decomposed into
    // 3 × nBuckets executor-sized windows — the oracle is the plain
    // (single-task-per-flag) window statement
    "k_rank_skewfree" -> ((s, dir) => {
      rankSkewFree(Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("rnk"))
    }),
    "k_salted_join" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
        .withColumnRenamed("p_partkey", "l_partkey")
      saltedJoin(li, p.select(col("l_partkey"), col("p_brand")), "l_partkey")
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    }))

  val oracle: Map[String, String] = Map(
    // the PLAIN join — hash equality proves the bloom pre-filter
    // drops no matching fact row (FPs die at the exact join)
    "k_bloom_join" ->
      ("SELECT o_orderpriority, count(*) AS n_lines, round((sum(l_quantity))*1e2)/1e2 AS qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0 " +
        "GROUP BY o_orderpriority"),
    // NOTE: salting sums doubles in a different order than the plain
    // GROUP BY — round(2) absorbs the reassociation error
    "k_salted_agg" ->
      "SELECT l_returnflag, sum(CAST(round(l_extendedprice * 1e2) AS BIGINT)) / 1e2 AS total, count(*) AS n FROM lineitem GROUP BY l_returnflag",
    "k_auto_salted" ->
      "SELECT l_returnflag, round((sum(l_quantity))*1e2)/1e2 AS total, count(*) AS n FROM lineitem GROUP BY l_returnflag",
    "k_rank_skewfree" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag, rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity NULLS FIRST) AS rnk FROM lineitem",
    "k_salted_join" ->
      "SELECT p_brand, count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand")
}
