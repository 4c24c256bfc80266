package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Output-layout control for large writes: range-clustered files with
  * bounded row counts.
  *
  * At 100 TB the two file-layout failure modes are (a) too-few giant
  * files (no read parallelism, OOM-ing readers) or a long tail of tiny
  * ones (listing/open overhead), and (b) rows scattered so every file
  * spans the whole key range (parquet row-group min/max stats prune
  * nothing). [[writeSized]] addresses both: `repartitionByRange` over
  * the cluster keys gives each output file a narrow, disjoint key
  * range (so a selective reader's predicate skips whole files on
  * footer stats), `sortWithinPartitions` keeps row groups internally
  * clustered, and `maxRecordsPerFile` hard-caps file size regardless
  * of range skew. The row-count pre-pass is one cheap count job — the
  * same planning statistic AQE gathers — and at a known scale the
  * caller can pass `rows` to skip it.
  */
object Layout {

  /** Write `df` as ~`targetRowsPerFile`-row files range-clustered on
    * `keys`. Returns the file count written. */
  def writeSized(df: DataFrame, path: String, keys: Seq[Column],
                 targetRowsPerFile: Long, rows: Long = -1L): Int = {
    val n = if (rows >= 0) rows else df.count()
    val nParts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.repartitionByRange(nParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
    graft.sources.Dfs.default.listNames(path)
      .count(_.endsWith(".parquet"))
  }

  /** Write `df` z-order-clustered on two non-negative long-valued
    * columns: rows are sorted by the Morton interleave of (x, y), so
    * each output file covers a small tile in BOTH dimensions and
    * parquet footer min/max prune files for predicates on EITHER
    * column — the multi-dimensional layout a single-key sort cannot
    * give. Callers with negative/unbounded domains bucket or offset
    * into [0, 2^16) first (the same contract as any Z-order index).
    * The interleave column is dropped before writing. */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
                    targetRowsPerFile: Long, rows: Long = -1L): Int = {
    graft.functions.HashExpressions.register(df.sparkSession)
    val n = if (rows >= 0) rows else df.count()
    val nParts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.withColumn("_z", graft.functions.HashExpressions.z_order16(x, y))
      .repartitionByRange(nParts, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
    graft.sources.Dfs.default.listNames(path)
      .count(_.endsWith(".parquet"))
  }

  /** N-column generalization of [[writeZOrdered]]: rows sort by the
    * N-ary Morton interleave, so each output file is a small
    * hyper-tile — parquet footer stats prune files for a predicate on
    * ANY of the `keys`. Per-dimension domain is [0, 2^(63/N)) (the
    * widest a single long key admits); callers bucket/offset wider or
    * negative domains first, as with the 2-D form. */
  def writeZOrderedN(df: DataFrame, path: String, keys: Seq[Column],
                     targetRowsPerFile: Long, rows: Long = -1L): Int = {
    require(keys.size >= 2, "z-order needs at least 2 columns")
    graft.functions.HashExpressions.register(df.sparkSession)
    val n = if (rows >= 0) rows else df.count()
    val nParts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.withColumn("_z", graft.functions.HashExpressions.z_orderN(keys))
      .repartitionByRange(nParts, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
    graft.sources.Dfs.default.listNames(path)
      .count(_.endsWith(".parquet"))
  }

  /** Write `df` range-clustered on `key` AND a per-file min/max stats
    * manifest next to it (`manifest/`) — the Delta/Iceberg
    * data-skipping pattern expressed with plain parquet: each data
    * file's key range is recorded once at write time, and
    * [[skippingRead]] consults the manifest to open ONLY the files
    * whose range intersects the predicate. Parquet footers already
    * carry min/max, but at 100 TB footer-level skipping still costs
    * one open+footer-read per file (millions of S3 GETs); the manifest
    * answers the same question with ONE small parquet read. The stats
    * job is a single scan of the freshly-written data grouped by
    * `input_file_name()` — file-local aggregation, no shuffle of the
    * data rows beyond the per-file partials. */
  def writeSkipping(df: DataFrame, path: String, key: Column,
                    targetRowsPerFile: Long, rows: Long = -1L): Int = {
    val nFiles = writeSized(df, s"$path/data", Seq(key), targetRowsPerFile,
      rows)
    val s = df.sparkSession
    val keyName = df.select(key).schema.head.name
    s.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyName)).as("min_k"), max(col(keyName)).as("max_k"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/manifest")
    nFiles
  }

  /** Per-file BLOOM manifest — point-lookup skipping on a key the
    * layout is NOT clustered by (the Parquet-bloom / Iceberg-puffin /
    * Delta-bloom-index pattern). [[writeSkipping]]'s min/max ranges
    * prune range predicates on the SORT key, but a point lookup on an
    * unclustered key hits every file's [min, max]; a per-file Bloom
    * filter answers "might this file contain key x" in one small
    * manifest read instead of opening every footer. Build cost: one
    * file-local aggregation ([[graft.functions.HashExpressions
    * .BloomLongsAgg]] partials fold per partition; each file
    * contributes one bloomBits-sized filter row). */
  def writeBloomSkipping(df: DataFrame, path: String, sortKey: Column,
                         bloomKey: Column, targetRowsPerFile: Long,
                         bloomBits: Int = 1 << 16, rows: Long = -1L): Int = {
    val s = df.sparkSession
    graft.functions.HashExpressions.register(s)
    val nFiles = writeSized(df, s"$path/data", Seq(sortKey),
      targetRowsPerFile, rows)
    val keyName = df.select(bloomKey).schema.head.name
    s.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(graft.functions.HashExpressions
          .bloom_longs_agg(array(col(keyName)), bloomBits).as("bloom"),
        count(lit(1)).as("rows"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/bloom_manifest")
    nFiles
  }

  /** Bloom-pruned point-lookup read over a [[writeBloomSkipping]]
    * layout: returns (DataFrame, files opened, files total). The
    * manifest is collected driver-side (bounded by FILE count — the
    * FileIndex regime, like [[skippingRead]]); a file is opened iff
    * its filter might contain ANY query key. The exact key join still
    * applies after the scan, so false positives cost I/O, never
    * correctness. */
  def bloomSkipRead(s: SparkSession, path: String, keyName: String,
                    keys0: Seq[Long]): (DataFrame, Int, Int) = {
    val keys = keys0.distinct // a duplicate query key must not duplicate rows
    val manifest = s.read.parquet(s"$path/bloom_manifest").collect()
    val files = manifest.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
      keys.exists(bf.mightContainLong)
    }.map(_.getAs[String]("file"))
    val keysDf = {
      import s.implicits._
      keys.toDF(keyName)
    }
    val df =
      if (files.isEmpty)
        s.read.parquet(s"$path/data").filter(lit(false))
      else
        s.read.parquet(files.toIndexedSeq: _*)
          .join(broadcast(keysDf), keyName)
    (df, files.length, manifest.length)
  }

  /** Manifest-pruned range read over a [[writeSkipping]] layout:
    * returns (pruned DataFrame, files opened, files total). The file
    * list is collected driver-side — bounded by FILE count, the same
    * driver-resident state Spark's own FileIndex keeps for every scan;
    * the data rows never leave the executors. The residual filter
    * still applies (manifest ranges admit whole files; exact bounds
    * come from the predicate), so correctness never depends on the
    * manifest being fine-grained — only speed does. */
  def skippingRead(s: SparkSession, path: String, keyName: String,
                   lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val manifest = s.read.parquet(s"$path/manifest")
    val total = manifest.count().toInt
    val files = manifest
      .filter(col("max_k") >= lo && col("min_k") <= hi)
      .select("file").collect().map(_.getString(0))
    val df =
      if (files.isEmpty)
        s.read.parquet(s"$path/data").filter(lit(false))
      else
        s.read.parquet(files.toIndexedSeq: _*)
          .filter(col(keyName) >= lo && col(keyName) <= hi)
    (df, files.length, total)
  }

  // ------------------------------------------------------- queries //

  /** Round-trip through the sized layout: orders written as bounded
    * range-clustered files, read back. The DuckDB oracle is the bare
    * projection — hash equality proves the layout machinery loses and
    * reorders nothing; the layout properties themselves (file bounds,
    * disjoint ranges) are pinned in LayoutSpec. */
  def sizedRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_layout").toString + "/orders"
    writeSized(o, path, Seq(col("o_orderkey")), targetRowsPerFile = 4000L)
    s.read.parquet(path)
  }

  /** CSV sink→source round-trip: the interchange format every
    * pipeline still meets at its edges. Written WITH header, read
    * back under the ORIGINAL schema — never schema inference, which
    * at 100 TB is a second full scan that can silently re-type a
    * column from one dirty row. Doubles survive because Spark writes
    * shortest-round-trip representations. Hash equality against the
    * bare projection proves the text encode/decode loses nothing. */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_csv").toString + "/orders"
    o.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    s.read.schema(o.schema).option("header", "true").csv(path)
  }

  /** JSON-lines sink→source round-trip, same explicit-schema contract
    * as [[csvRoundTrip]] (and the same read discipline as the
    * Wikidata ingest: PERMISSIVE + declared schema, no inference). */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_json").toString + "/orders"
    o.write.mode(SaveMode.Overwrite).json(path)
    s.read.schema(o.schema).json(path)
  }

  /** ORC sink→source round-trip — the third columnar-capable format
    * Spark ships natively (parquet is the default everywhere else in
    * this repo, CSV/JSON cover the text interchange cases). ORC
    * carries its own schema, so unlike the text round-trips no
    * explicit read schema is needed; predicate pushdown and column
    * pruning work the same as parquet (ORC footers carry min/max).
    * Hash equality against the bare projection proves the
    * encode/decode loses nothing, doubles included. */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_orc").toString + "/orders"
    o.write.mode(SaveMode.Overwrite).orc(path)
    s.read.orc(path)
  }

  /** Round-trip through the 2-D z-order layout: orders written as
    * (custkey, orderkey) tiles — the multi-dimensional clustering a
    * single-key sort can't give, so footer stats prune files for
    * predicates on EITHER key. Keys are bucketed into the interleave
    * domain [0, 2^16) with pmod, per the z_order_16 contract (the
    * z-value orders the layout only — it never reaches the data, so
    * bucketing costs nothing in fidelity). Hash equality against the
    * bare projection proves the interleave/cluster/write machinery
    * loses and reorders nothing; the tiling property itself is pinned
    * in LayoutSpec's span assertions. */
  def zorderRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString + "/orders"
    writeZOrdered(o, path,
      pmod(col("o_custkey"), lit(65536L)),
      pmod(col("o_orderkey"), lit(65536L)),
      targetRowsPerFile = 4000L)
    s.read.parquet(path)
  }

  /** Hive-style partitioned write + PARTITION-PRUNED read: orders
    * land under `o_orderstatus=<v>/` directories and the reader's
    * status predicate prunes at the DIRECTORY level — zero I/O for
    * excluded partitions, before footer stats even load. This is the
    * first-order scale lever z-order complements (partition on the
    * coarse operational key, cluster within partitions on query
    * keys); the returned query filters one status so the gate's hash
    * certifies the pruned read reproduces the slice exactly, and
    * PlanAuditSpec pins that the predicate lands in PartitionFilters
    * (not a post-scan filter). The partition column comes back as the
    * directory-derived value — re-selected in original column order
    * so the round-trip schema is unchanged. */
  def partitionedRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_part").toString + "/orders"
    o.write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** Spark-native bucketed tables + co-located join/aggregate: both
    * sides are written with `bucketBy(16, key).sortBy(key)` into
    * managed tables, so the SortMergeJoin AND the downstream per-key
    * aggregate run with ZERO Exchange — the scan-provided hash
    * partitioning satisfies every distribution requirement in the
    * plan (the grouping keys are a superset of the bucket key). This
    * is THE 100-TB strategy for repeatedly-joined fact tables: pay
    * the shuffle once at write time, never again on any read.
    * PlanAuditSpec pins the no-Exchange property; the hash gate
    * certifies the bucketed layout computes exactly the aggregate a
    * bare shuffle join would. Bucketed copies are rebuilt per session
    * (the in-memory catalog does not survive a restart, so stale
    * warehouse dirs are deleted first), but REUSED across the
    * session's runs — Bench's best-of-2 measures the exchange-free
    * read, which is the operator. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val fp = (scala.util.hashing.MurmurHash3.stringHash(dir) & Int.MaxValue)
      .toString
    // CONTENT-sensitive reuse, like every other ensure path (the
    // graft.sources.Artifact contract): a catalog-existence
    // check alone reuses stale bucketed copies after the corpus at
    // `dir` is regenerated (code-review r10). Key sums are reduced
    // mod a prime so the fingerprint aggregate can't overflow ANSI
    // sum at any replica scale.
    def contentFp(df: DataFrame, key: String): String = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col(key) % 1000003L), lit(0L))).head()
      s"${r.getLong(0)}_${r.getLong(1)}"
    }
    val ofp = contentFp(Tables.load(s, dir, "orders"), "o_orderkey")
    val lfp = contentFp(Tables.load(s, dir, "lineitem"), "l_orderkey")
    val ot = s"orders_bkt_${fp}_$ofp"; val lt = s"lineitem_bkt_${fp}_$lfp"
    val wh = s.conf.get("spark.sql.warehouse.dir")
    // reclaim SUPERSEDED generations of this corpus's bucketed copies:
    // every regeneration mints a new content-fingerprinted name, and
    // without cleanup each one stranded a full orders+lineitem copy in
    // the warehouse forever (code-review r10)
    s.catalog.listTables().collect()
      .map(_.name)
      .filter(n => (n.startsWith(s"orders_bkt_${fp}_") && n != ot) ||
        (n.startsWith(s"lineitem_bkt_${fp}_") && n != lt))
      .foreach { n =>
        s.sql(s"DROP TABLE IF EXISTS $n")
        graft.sources.Dfs.default.delete(s"$wh/$n")
      }
    def ensure(name: String, build: => DataFrame,
               bucketCol: String): Unit =
      if (!s.catalog.tableExists(name)) {
        // a previous JVM's managed-table dir without catalog entry
        // blocks CREATE — clear it before writing
        graft.sources.Dfs.default.delete(s"$wh/$name")
        build.write.mode(SaveMode.Overwrite)
          .bucketBy(16, bucketCol).sortBy(bucketCol).saveAsTable(name)
      }
    ensure(ot, Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")), "o_orderkey")
    ensure(lt, Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
    val o = s.table(ot).hint("merge") // pin SMJ so the bucketed
    val li = s.table(lt)              // (not broadcast) path is gated
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(count(lit(1)).as("n_lines"),
        (round(sum(col("l_quantity")) * 100) / 100).as("qty"))
      .select(col("o_orderkey"),
        (round(col("o_totalprice") * 100) / 100).as("price"),
        col("n_lines"), col("qty"))
  }

  /** Gate for the skipping layout: lineitem written with a per-file
    * key manifest, read back through the manifest-pruned range scan.
    * The hash certifies the pruned read reproduces the slice exactly;
    * LayoutSpec pins that the manifest actually pruned (files opened
    * strictly fewer than files written) — the property that turns a
    * 100-TB scan into a few-file read. */
  def skippingRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_skip").toString
    // same width-derived file budget as the bloom gate (r14): file
    // count follows write parallelism, floor 4000 rows/file keeps the
    // sf0.01 driver-gate layout byte-identical
    val rows = li.count()
    writeSkipping(li, path, col("l_orderkey"),
      targetRowsPerFile =
        math.max(4000L, rows / (2L * graft.Tuning.computeWidth(s))),
      rows = rows)
    val (df, _, _) = skippingRead(s, path, "l_orderkey", 1000L, 3000L)
    df.select(col("l_orderkey"), col("l_partkey"),
      (round(col("l_quantity") * 100) / 100).as("l_quantity"))
  }

  /** Gate for the bloom-skipping layout: lineitem clustered by
    * l_orderkey with a per-file Bloom manifest over the (unclustered)
    * 52-bit md5 comment hash, then a multi-key point lookup — the
    * query keys are the comment hashes of every 3000th order's lines,
    * a driver-held set the oracle re-derives (no data literals). The
    * hash certifies the bloom-pruned read loses nothing (residual
    * join = correctness independent of FP rate); LayoutSpec pins that
    * the blooms actually skip files, the property min/max manifests
    * cannot give an unclustered key. */
  def bloomSkipRoundTrip(s: SparkSession, dir: String): DataFrame = {
    // synthetic content-id (md5 of orderkey#linenumber): the
    // random-looking unique id whose point lookup is the bloom
    // index's home use case — min/max ranges on it are vacuous
    val ch = conv(substring(md5(concat(col("l_orderkey").cast("string"),
      lit("#"), col("l_linenumber").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), ch.as("ch"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloomskip").toString
    // file-size scaling: bound the file COUNT by the session's write
    // parallelism (2×computeWidth — cluster-adaptive, r14; was a
    // constant 150) instead of the rows-per-file constant — the r11
    // fixed 4000-rows/file gate wrote 15,000 files at the 100×
    // rehearsal and the probe measured file creation, not the
    // operator (PERF_r11 "build-dominated"). The 4000-row floor keeps
    // the sf0.01 driver-gate layout byte-identical; `rows` is passed
    // through so writeSized doesn't re-count the projected table.
    val rows = li.count()
    val fileBudget = 2L * graft.Tuning.computeWidth(s)
    writeBloomSkipping(li, path, col("l_orderkey"), col("ch"),
      targetRowsPerFile = math.max(4000L, rows / fileBudget), rows = rows)
    val keys = li.filter(col("l_orderkey") % 3000 === 0)
      .select(col("ch")).distinct().collect().map(_.getLong(0)).toSeq
    val (df, _, _) = bloomSkipRead(s, path, "ch", keys)
    df.select(col("l_orderkey"), col("l_partkey"), col("ch"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w_bloom_skip" -> (bloomSkipRoundTrip _),
    "w_skipping_read" -> (skippingRoundTrip _),
    "w_bucketed_join" -> (bucketedJoin _),
    "w_partitioned_prune" -> (partitionedRoundTrip _),
    "w_sized_roundtrip" -> (sizedRoundTrip _),
    "w_zorder_roundtrip" -> (zorderRoundTrip _),
    "w_csv_roundtrip" -> (csvRoundTrip _),
    "w_json_roundtrip" -> (jsonRoundTrip _),
    "w_orc_roundtrip" -> (orcRoundTrip _))

  private val ordersProj =
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"

  val oracle: Map[String, String] = Map(
    // the oracle re-derives the query-key set and ignores the layout
    // entirely: hash equality proves the bloom-pruned multi-file read
    // returns exactly the full-scan answer
    "w_bloom_skip" ->
      ("WITH li AS (SELECT l_orderkey, l_partkey, " +
        "CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)), 1, 13)) AS BIGINT) AS ch FROM lineitem), " +
        "q AS (SELECT DISTINCT ch FROM li WHERE l_orderkey % 3000 = 0) " +
        "SELECT l_orderkey, l_partkey, ch FROM li JOIN q USING (ch)"),
    "w_skipping_read" ->
      "SELECT l_orderkey, l_partkey, round((l_quantity)*1e2)/1e2 AS l_quantity FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey <= 3000",
    "w_bucketed_join" ->
      "SELECT o_orderkey, round((o_totalprice)*1e2)/1e2 AS price, count(*) AS n_lines, round((sum(l_quantity))*1e2)/1e2 AS qty FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderkey, o_totalprice",
    "w_partitioned_prune" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    "w_sized_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    "w_zorder_roundtrip" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    "w_csv_roundtrip" -> ordersProj,
    "w_json_roundtrip" -> ordersProj,
    "w_orc_roundtrip" -> ordersProj)
}
