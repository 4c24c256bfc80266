package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.sources.Tables

/** Dataset profiling — the per-column summary (rows, nulls, distinct
  * count, min/max, mean rendered length) a pipeline runs before
  * trusting a new drop of training data. ONE pass over the table: all
  * columns' aggregates go into a single `agg` (Catalyst plans the
  * multi-distinct via one Expand — still a single scan), and the
  * 1×(6·k) result row is reshaped to long form with `stack`, which is
  * driver-free and keeps the whole profile inside the same job.
  *
  * Values are profiled through their canonical string rendering so
  * one schema fits every column type; renderings are engine-identical
  * for the integer/string columns profiled here (doubles would not
  * be — callers profile those via dedicated numeric stats). At 100 TB
  * the only change worth making is `approx_count_distinct` instead of
  * the exact multi-distinct Expand; the scan count stays 1 either
  * way.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val s = col(c).cast("string")
      Seq(count(s).as(s"${c}__cnt"),
        countDistinct(s).as(s"${c}__nd"),
        min(s).as(s"${c}__min"),
        max(s).as(s"${c}__max"),
        avg(length(s)).as(s"${c}__len"))
    }
    val wide = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val groups = cols.map(c =>
      s"'$c', n_rows - `${c}__cnt`, `${c}__nd`, `${c}__min`, `${c}__max`, round(`${c}__len` * 1e4) / 1e4")
    wide.select(col("n_rows"), expr(
      s"stack(${cols.size}, ${groups.mkString(", ")}) AS " +
        "(column_name, n_nulls, n_distinct, min_s, max_s, avg_len)"))
  }

  /** Declarative constraint validation — the Deequ/Great-Expectations
    * shape: each constraint is (name, observed metric, pass
    * predicate) over the lineitem drop — completeness, composite-key
    * uniqueness, range compliance, distribution sanity. ALL metrics
    * compute in one `agg` (a single table scan with partial
    * aggregation — the cheapest possible audit at 100 TB) and the
    * 1-row result reshapes to one row per constraint via `stack`;
    * a pipeline gates a new drop on `filter(!passed).isEmpty`.
    * Verdicts evaluate on the ROUNDED observed value and are
    * restated as literal comparisons in the oracle, so pass/fail
    * itself hash-compares. */
  def lineitemAudit(df: DataFrame): DataFrame = {
    val n = count(lit(1)).cast("double")
    val metrics: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      ("complete_orderkey",
        count(col("l_orderkey")).cast("double") / n, _ === 1.0),
      // DISTINCT over the struct, not the column pair: multi-column
      // countDistinct skips rows with any NULL field while the
      // oracle's count(DISTINCT (a,b)) counts NULL-bearing tuples —
      // the audit would diverge exactly on the dirty rows it exists
      // to flag (code-review r10)
      ("unique_line_key",
        countDistinct(struct(col("l_orderkey"), col("l_linenumber")))
          .cast("double") / n,
        _ === 1.0),
      ("qty_in_range",
        sum(when(col("l_quantity").between(1, 50), 1).otherwise(0))
          .cast("double") / n, _ === 1.0),
      ("discount_bounded",
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.5, 1)
          .otherwise(0)).cast("double"), _ === 0.0),
      ("mean_qty_sane",
        avg(col("l_quantity")), c => c >= 10.0 && c <= 40.0))
    val wide = df.agg(metrics.head._2.as(metrics.head._1),
      metrics.tail.map(m => m._2.as(m._1)): _*)
    val groups = metrics.map(m => s"'${m._1}', `${m._1}`")
    val long = wide.select(expr(
      s"stack(${metrics.size}, ${groups.mkString(", ")}) AS " +
        "(check_name, observed_raw)"))
      .select(col("check_name"),
        (round(col("observed_raw") * 1e4) / 1e4).as("observed"))
    val passed = metrics.foldLeft(lit(false)) { (acc, m) =>
      when(col("check_name") === m._1, m._3(col("observed"))).otherwise(acc)
    }
    long.withColumn("passed", passed)
  }

  /** Population-stability-index drift monitor — "did this corpus
    * slice's distribution move?", the audit run before a new data
    * drop joins a training mix. The REFERENCE slice (`isRef` true)
    * defines `nBuckets` quantile boundaries; both slices histogram
    * into those buckets and each bucket contributes
    * (p_cand − p_ref)·ln(p_cand/p_ref) (ε-smoothed so an empty bucket
    * scores large-but-finite instead of ±∞). Σ psi_term < 0.1 is the
    * conventional "stable" verdict; the per-bucket rows localize
    * WHERE the mass moved.
    *
    * Scale shape: one percentile aggregation over the reference slice
    * (driver-held model — nBuckets−1 doubles), then bucket assignment
    * is a scan-local literal-comparison sum and the histogram one
    * nBuckets-row aggregation; totals join back as a broadcast
    * 1-row scalar. No corpus shuffle anywhere. */
  def psiDrift(df: DataFrame, isRef: Column, value: Column,
               nBuckets: Int = 10): DataFrame = {
    // NULL in the reference predicate classifies as CANDIDATE, not
    // dropped-from-both: sum(is_ref.cast(long)) would silently skip
    // NULL rows from BOTH counters while a CASE-WHEN oracle counts
    // them as candidates (ADVICE r9) — coalesce makes the two agree
    // on any corpus with NULLs in the predicate column.
    val v = df.select(coalesce(isRef, lit(false)).as("is_ref"),
      value.cast("double").as("v"))
    val qs = (1 until nBuckets).map(i =>
      s"${i.toDouble / nBuckets}D").mkString(", ")
    val cuts = v.filter(col("is_ref"))
      .agg(expr(s"percentile(v, array($qs))")).head().getSeq[Double](0)
    // coalesce: a NULL value folds to a NULL bucket on the Spark side
    // while the oracle's CASE WHEN yields 0 per cut (bucket 0) — the
    // same NULL class the is_ref coalesce above already handles
    // (code-review r10)
    val bucket = coalesce(cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + (col("v") > lit(c)).cast("int") }, lit(0))
    val counts = v.groupBy(bucket.as("bucket"))
      .agg(sum(col("is_ref").cast("long")).as("n_ref"),
        sum((!col("is_ref")).cast("long")).as("n_cand"))
    val tot = counts.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cand")).as("t_cand"))
    val pr = col("n_ref").cast("double") / col("t_ref")
    val pc = col("n_cand").cast("double") / col("t_cand")
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cand"),
        (round((pc - pr) * log((pc + 1e-6) / (pr + 1e-6)) * 1e4) / 1e4)
          .as("psi_term"))
  }

  private final case class QuantPend(q: Double, lo: Double, hi: Double,
                                     k: Long)

  /** EXACT distributed quantiles by iterative histogram bisection —
    * the 100-TB path to an exact median: a global `percentile` sorts
    * every value into one aggregation state, this never sorts more
    * than `localLimit` rows anywhere. Each level histograms the
    * candidate range into `nBuckets` (one scan per DISTINCT live
    * range — level 1 is always a single scan shared by every
    * requested q), walks the cumulative counts driver-side (≤nBuckets
    * rows of bounded model state, the k-means-centroid class), and
    * either (a) resolves a range whose values are all equal, (b)
    * exact-selects within a bucket that fits `localLimit`, or (c)
    * recurses into the bucket's OBSERVED [min, max]. Recursion depth
    * is log_nBuckets(n/localLimit) in the uniform case and guaranteed
    * finite always: a range's observed min < max split into different
    * buckets, so every level strictly shrinks the candidate multiset.
    *
    * Rank semantics are the lower discrete quantile — element at
    * 1-based rank max(1, ceil(q·n)) — exactly DuckDB/Postgres
    * `quantile_disc`, so the gate compares the true element, not an
    * interpolation. NULLs are excluded on both sides. */
  def exactQuantiles(df: DataFrame, value: Column, qs: Seq[Double],
                     nBuckets: Int = 4096,
                     localLimit: Int = 100000): DataFrame = {
    val s = df.sparkSession
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    val vals = Snapshot(
      df.select(value.cast("double").as("v")).filter(col("v").isNotNull),
      "quant_vals").df
    val head = vals.agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
      max(col("v")).as("mx")).head()
    val n = head.getLong(0)
    require(n > 0, "exactQuantiles: no non-null values")
    var pending = qs.map(q => QuantPend(q, head.getDouble(1),
      head.getDouble(2), math.max(1L, math.ceil(q * n).toLong)))
    val resolved = scala.collection.mutable.Map[Double, Double]()
    var level = 0
    while (pending.nonEmpty) {
      level += 1
      require(level <= 64, "exactQuantiles: failed to converge")
      val next = scala.collection.mutable.ArrayBuffer[QuantPend]()
      pending.groupBy(p => (p.lo, p.hi)).foreach { case ((lo, hi), ps) =>
        if (lo == hi) ps.foreach(p => resolved(p.q) = lo)
        else {
          val span = hi - lo
          val bucketExpr = least(
            floor((col("v") - lo) / span * nBuckets).cast("int"),
            lit(nBuckets - 1))
          val ranged = vals.filter(col("v") >= lo && col("v") <= hi)
          val hist = ranged.groupBy(bucketExpr.as("b"))
            .agg(count(lit(1)).as("c"), min(col("v")).as("bmn"),
              max(col("v")).as("bmx"))
            .collect().map(r => r.getInt(0) ->
              ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
            .sortBy(_._1)
          val cum = hist.scanLeft(0L)(_ + _._2._1)
          ps.foreach { p =>
            val idx = cum.indexWhere(_ >= p.k) - 1
            val (_, (c, bmn, bmx)) = hist(idx)
            val kIn = p.k - cum(idx)
            if (bmn == bmx) resolved(p.q) = bmn
            else if (c <= localLimit) {
              // bounded exact selection: ≤localLimit doubles, the same
              // driver-side model-state class as the histogram itself
              val arr = ranged.filter(col("v") >= bmn && col("v") <= bmx)
                .collect().map(_.getDouble(0))
              java.util.Arrays.sort(arr)
              resolved(p.q) = arr(kIn.toInt - 1)
            } else next += QuantPend(p.q, bmn, bmx, kIn)
          }
        }
      }
      pending = next.toSeq
    }
    import s.implicits._
    qs.map(q => (q, resolved(q))).toDF("q", "value")
  }

  // ------------------------------------------------------- queries //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_quantiles" -> ((s, dir) =>
      exactQuantiles(Tables.load(s, dir, "lineitem"),
        col("l_extendedprice"), quantileQs)),
    "c_profile" -> ((s, dir) =>
      profile(Tables.load(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "c_constraints" -> ((s, dir) =>
      lineitemAudit(Tables.load(s, dir, "lineitem"))),
    // English slice as the reference distribution, everything else as
    // the candidate; length (n_chars) as the monitored signal
    "c_drift_psi" -> ((s, dir) =>
      psiDrift(Tables.load(s, dir, "documents"),
        col("lang") === "en", col("n_chars"))))

  private def colSql(c: String): String =
    s"SELECT '$c' AS column_name, count(*) AS n_rows, " +
    s"count(*) - count($c) AS n_nulls, " +
    s"count(DISTINCT CAST($c AS VARCHAR)) AS n_distinct, " +
    s"min(CAST($c AS VARCHAR)) AS min_s, max(CAST($c AS VARCHAR)) AS max_s, " +
    s"round(avg(length(CAST($c AS VARCHAR))) * 1e4) / 1e4 AS avg_len " +
    "FROM documents"

  private val quantileQs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)

  val oracle: Map[String, String] = Map(
    // the bisection's truth is the plain discrete quantile — the
    // oracle sorts, the operator never does
    "c_quantiles" -> quantileQs.map(q =>
      s"SELECT CAST($q AS DOUBLE) AS q, " +
        s"quantile_disc(l_extendedprice, $q) AS value FROM lineitem")
      .mkString(" UNION ALL "),
    "c_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(colSql).mkString(" UNION ALL "),
    // the audit restated: one aggregate CTE, five literal rows — the
    // pass predicates become explicit comparisons on the ROUNDED
    // observed values so the verdicts hash-compare
    "c_constraints" ->
      """WITH m AS (SELECT
        |  CAST(count(l_orderkey) AS DOUBLE) / count(*) AS complete_orderkey,
        |  CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) / count(*) AS unique_line_key,
        |  CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS qty_in_range,
        |  CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS discount_bounded,
        |  avg(l_quantity) AS mean_qty_sane
        |FROM lineitem)
        |SELECT 'complete_orderkey' AS check_name, round(complete_orderkey*1e4)/1e4 AS observed, round(complete_orderkey*1e4)/1e4 = 1.0 AS passed FROM m
        |UNION ALL SELECT 'unique_line_key', round(unique_line_key*1e4)/1e4, round(unique_line_key*1e4)/1e4 = 1.0 FROM m
        |UNION ALL SELECT 'qty_in_range', round(qty_in_range*1e4)/1e4, round(qty_in_range*1e4)/1e4 = 1.0 FROM m
        |UNION ALL SELECT 'discount_bounded', round(discount_bounded*1e4)/1e4, round(discount_bounded*1e4)/1e4 = 0.0 FROM m
        |UNION ALL SELECT 'mean_qty_sane', round(mean_qty_sane*1e4)/1e4, round(mean_qty_sane*1e4)/1e4 >= 10.0 AND round(mean_qty_sane*1e4)/1e4 <= 40.0 FROM m""".stripMargin,
    "c_drift_psi" -> psiOracleSql(10))

  /** The PSI computation restated: reference-decile boundaries from
    * the same interpolated quantile, identical ε-smoothed term. The
    * boundary list rides one scalar-subquery CTE; bucket assignment
    * is the same literal-comparison sum. */
  private def psiOracleSql(nBuckets: Int): String = {
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets).mkString(", ")
    val bucket = (1 until nBuckets).map(i =>
      s"(CASE WHEN v > q[$i] THEN 1 ELSE 0 END)").mkString(" + ")
    """WITH ref AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'en'), """ +
    s"""cuts AS (SELECT quantile_cont(v, [$qs]) AS q FROM ref), """ +
    """av AS (SELECT lang = 'en' AS is_ref, CAST(n_chars AS DOUBLE) AS v FROM documents), """ +
    s"""b AS (SELECT is_ref, $bucket AS bucket FROM av, cuts), """ +
    """c AS (SELECT bucket, CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref, CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cand FROM b GROUP BY bucket), """ +
    """t AS (SELECT sum(n_ref) AS t_ref, sum(n_cand) AS t_cand FROM c) """ +
    """SELECT bucket, n_ref, n_cand, round(((CAST(n_cand AS DOUBLE)/t_cand) - (CAST(n_ref AS DOUBLE)/t_ref)) * ln(((CAST(n_cand AS DOUBLE)/t_cand) + 1e-6) / ((CAST(n_ref AS DOUBLE)/t_ref) + 1e-6)) * 1e4)/1e4 AS psi_term FROM c, t"""
  }
}
