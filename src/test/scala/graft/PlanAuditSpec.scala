package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Relational

/** Physical-plan audits: the 100-TB design assertions, checked
  * programmatically so a regression in plan shape fails CI, not a
  * cluster bill. Each test pins the property that makes the operator
  * survive a 100× scale-up:
  *   - filters/projections must reach the parquet scan (pushdown,
  *     nested/column pruning);
  *   - dimension joins must broadcast (no shuffle of the fact side);
  *   - aggregations must have a map-side partial phase;
  *   - global top-k must be TakeOrderedAndProject (no full sort);
  *   - per-row operators must introduce no exchange at all.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("b3_filter: both predicates push into the parquet scan") {
    val p = plan(Relational.b3Filter(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_orderstatus)") ||
      p.contains("EqualTo(o_orderstatus,F)"), p)
    // toString truncates the PushedFilters list — match the prefix
    assert(p.contains("GreaterThan(o_total"), p)
  }

  test("b1_scan: column pruning reaches the scan (2 of 2 columns, none extra)") {
    val p = plan(Relational.b1Scan(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("r_regionkey") && readSchema.contains("r_name"), p)
  }

  test("b4_link_join: dimension side broadcasts — no exchange of the fact side") {
    val p = plan(Relational.b4LinkJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // the fact (orders) side must NOT hit a shuffle exchange
    assert(!p.contains("ShuffleExchange") || !p.contains("hashpartitioning(o_"), p)
  }

  test("c_shuffle_shards: ONE exchange, hash-partitioned on the shard id") {
    // the training-shard shuffle's whole scale claim: one
    // hashpartitioning(shard) exchange, each shard sorted locally —
    // a global sort (rangepartitioning) or a second exchange would
    // break the one-pass contract
    val p = plan(graft.operators.Corpus
      .shuffleShards(graft.sources.Tables.load(spark, sf, "documents"),
        org.apache.spark.sql.functions.col("doc_id"), 8))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q1_agg: two-phase aggregation (map-side partial before the exchange)") {
    val p = plan(Relational.q1Agg(spark, sf))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n$p")
    assert(p.contains("Exchange"), p)
  }

  test("q_topk: TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p)
  }

  test("sequence packing: every Window is bucket-partitioned — no single-task global scan") {
    val p = plan(graft.SparkEntry.queries("c_pack_sequences")(spark, sf))
    // an unbounded cumsum written naively is `Window [...] ORDER BY`
    // with NO partition spec → Spark funnels the whole corpus through
    // one task. The two-level prefix sum must leave only windows
    // partitioned by the hash-prefix bucket `_b`.
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w =>
      assert(w.contains("windowspecdefinition(_b#"),
        s"unpartitioned window in pack plan: $w"))
  }

  test("q_concurrency: the sweep's running sum windows by day — never one global task") {
    val p = plan(graft.SparkEntry.queries("q_concurrency")(spark, sf))
    // the naive sweep is `Window [sum(delta) ORDER BY t]` with no
    // partition spec — the whole corpus's session endpoints through
    // one task. The two-level form must leave only day-partitioned
    // windows (the session_window aggregation itself is exchange-keyed
    // by user and not a Window operator).
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w =>
      assert(w.contains("windowspecdefinition(day#"),
        s"unpartitioned window in concurrency plan: $w"))
  }

  test("per-row operators introduce no exchange: b2_project, text analysis, chunking") {
    val p1 = plan(Relational.b2Project(spark, sf))
    assert(!p1.contains("Exchange"), p1)
    val p2 = plan(graft.operators.TextAnalysis.queries("t_fingerprint")(spark, sf))
    assert(!p2.contains("Exchange"), p2)
    // chunking is generate+slice per row — any exchange would mean the
    // explode accidentally repartitioned
    val p3 = plan(graft.SparkEntry.queries("c_chunk_overlap")(spark, sf))
    assert(!p3.contains("Exchange"), p3)
    // CDC chunk fingerprinting is a pure scan-local kernel map
    val p4 = plan(graft.SparkEntry.queries("d_cdc_chunks")(spark, sf))
    assert(!p4.contains("Exchange"), p4)
  }

  test("mm_phash: banded discovery — equality band join, never a cartesian") {
    val p = plan(graft.SparkEntry.queries("mm_phash")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b2_project stays inside whole-stage codegen") {
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    val p = plan(Relational.b2Project(spark, sf))
    assert(p.contains("*(1)"), p)
  }

  test("wikidata traversal (B4): claims join broadcasts at fixture scale") {
    val t = graft.ingest.Load.run(spark, ReferenceFixtures("Entity.json"),
      java.nio.file.Files.createTempDirectory("plan-audit").toString)
    val traversed = graft.query.Paths.withClaims(t.entities, t.claims)
      .filter(col("label") === "Black Clover, season 1")
    val p = plan(traversed)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("contamination: probe shingles broadcast — corpus side never self-joins") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.Dedup.contamination(
      d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10)))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate: frequent-shingle set broadcasts back onto the corpus") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.Corpus.boilerplateSignals(d, col("text")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("stratified sample: class counts broadcast — corpus pass is scan + filter") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.Corpus.stratifiedSample(
      d, col("source"), col("doc_id"), cap = 8))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("anti-join delete (B14) compiles to a single join, no cartesian") {
    val p = plan(Relational.b14Delete(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("bucketed tables sort-merge join with NO shuffle exchange (co-location)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    graft.sources.Tables.load(spark, sf, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    graft.sources.Tables.load(spark, sf, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_b").join(spark.table("li_b"),
        col("o_orderkey") === col("l_orderkey"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS li_b")
    }
  }

  test("w_bucketed_join: registry gate runs join AND aggregate with zero Exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(graft.operators.Layout.bucketedJoin(spark, sf))
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed gate must be exchange-free end to end:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("x_tpch_q4: EXISTS compiles to a LEFT SEMI join — one row per order, no dedup") {
    val p = plan(graft.queries.Extended.qTpchQ4(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_tpch_q14: part dim broadcasts — the month slice never shuffles") {
    val p = plan(graft.queries.Extended.qTpchQ14(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(l_"), p)
  }

  test("x_tpch_q21: registered aggregate rewrite — ONE semi join, no anti self-join") {
    val p = plan(graft.queries.Extended.qTpchQ21(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("LeftAnti"),
      s"the rewrite must replace the anti self-join with the per-order aggregate:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // global top-20 must be TakeOrderedAndProject, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x_tpch_q21 textbook variant: EXISTS/NOT-EXISTS compiles to one semi + one anti join") {
    val p = plan(graft.queries.Extended.qTpchQ21SemiAnti(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_tpch_q13: zero-order customers survive via LEFT OUTER; filter stays on the orders side") {
    val p = plan(graft.queries.Extended.qTpchQ13(spark, sf))
    assert(p.contains("LeftOuter"), p)
    // the priority predicate must reach the orders scan, not a
    // post-join filter over the (much wider) joined stream
    assert(p.contains("1-URGENT"), p)
    val scanLine = p.linesIterator
      .find(l => l.contains("PushedFilters") && l.contains("orderpriority"))
    assert(scanLine.isDefined, p)
  }

  test("x_tpch_q19: part broadcasts and the disjunction never shuffles lineitem") {
    val p = plan(graft.queries.Extended.qTpchQ19(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(l_"), p)
  }

  test("x_tpch_q22: no-orders test is a LEFT ANTI join; the avg is a broadcast scalar") {
    val p = plan(graft.queries.Extended.qTpchQ22(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_gap_fill: calendar fill and ffill window all partition by user — no single-partition stage") {
    val p = plan(graft.queries.Temporal.gapFillPerUser(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      s"per-user gap fill must never funnel through one partition:\n$p")
  }

  test("k_rank_skewfree: rank windows partition by (group, bucket) — never the 3-value group alone") {
    val p = plan(graft.operators.Skew.rankSkewFree(
      graft.sources.Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
      "l_returnflag", "l_quantity"))
    val winLine = p.linesIterator.find(_.contains("windowspecdefinition"))
      .getOrElse("")
    assert(winLine.contains("_b"),
      s"window must include the range bucket in its partition keys:\n$p")
    assert(p.contains("BroadcastHashJoin"), p) // offset model broadcasts
  }

  test("sketch kernels are codegen-native: the projection stays inside WholeStageCodegen") {
    graft.functions.HashExpressions.register(spark)
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .select(split(col("text"), " ").as("toks"))
    val p = plan(d.select(
      call_function("simhash64", col("toks")).as("h"),
      element_at(call_function("minhash_signature", col("toks")), 1).as("m")))
    val line = p.linesIterator.find(_.contains("simhash64")).getOrElse("")
    // '*(n)' prefixes codegen'd operators; a CodegenFallback kernel
    // would leave this Project un-starred (interpreted projection)
    assert(line.trim.startsWith("*"),
      s"sketch projection fell out of WholeStageCodegen:\n$p")
  }

  test("incremental dedup probe: index side joins with NO exchange (bucketed layout)") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    graft.operators.Dedup.initLshIndex(
      d.filter(col("doc_id") % 5 =!= 0), "graft_audit_idx")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = graft.operators.Dedup.bandKeys(graft.operators.Dedup
          .signatures(d.filter(col("doc_id") % 5 === 0)))
        .select(col("doc_id").as("new_id"), col("bucket"))
      val guarded = spark.table("graft_audit_idx_bands")
        .withColumn("bcnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))))
        .filter(col("bcnt") <= 64)
      val p = plan(guarded.join(probe, "bucket"))
      // exactly one hashpartitioning exchange: the (small) probe side.
      // The index scan feeds its window AND the join shuffle-free.
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"index side must not shuffle:\n$p")
      assert(p.contains("SortMergeJoin"), p)
      // the full probe path additionally pre-filters the index scan
      // with a bloom over the probe's bucket set — the predicate must
      // sit on the index side BEFORE the window count
      val full = plan(graft.operators.Dedup.dedupAgainstIndex(
        spark, d.filter(col("doc_id") % 5 === 0), "graft_audit_idx"))
      assert(full.contains("bloom_might_contain_long"),
        s"bloom pre-filter missing from probe plan:\n$full")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_audit_idx_bands")
      spark.sql("DROP TABLE IF EXISTS graft_audit_idx_sigs")
    }
  }

  test("as-of join: exactly ONE shuffle (union-sort formulation)") {
    val p = plan(graft.queries.Temporal.asofPurchaseSignup(spark, sf))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected a single key shuffle, found $exchanges:\n$p")
  }

  test("q_range_join (bucketed): an equi-join on (user_id, bk), never a cross product") {
    val p = plan(graft.queries.Temporal.rangePairsBucketed(spark, sf))
    // the bounded-fan-out plan joins on BOTH keys — the time bucket
    // rides the shuffle/broadcast key, so per-task fan-out is capped
    // at two buckets regardless of a hot user's history length
    assert(p.contains("bk"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bigram LM score: model tables broadcast onto the per-doc bigram stream") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.TextAnalysis.bigramLmScore(d, col("text")))
    // the count tables are vocabulary-sized → broadcast; the corpus's
    // bigram stream must not hit a sort-merge join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("similarity top-k: bounded aggregate with a partial phase, no per-query window sort") {
    // the former row_number window shuffled EVERY scored candidate
    // into |queries| partitions and sorted each in one task; the
    // TopKByScore aggregate must plan as partial+final ObjectHashAggregate
    // (map-side k-bounded heaps), with no Window/Sort over the
    // candidate stream in any of the three search paths
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    for ((name, df) <- Seq(
        "exact" -> graft.operators.Similarity.cosineTopK(emb, 5, 3),
        "lsh" -> graft.operators.Similarity.lshCosineTopK(emb, 5, 3),
        "ivf" -> graft.operators.Similarity.ivfCosineTopK(emb, 5, 3))) {
      val p = plan(df)
      assert(!p.contains("Window"), s"$name: window rank survived:\n$p")
      assert(p.contains("top_k_by_score"), s"$name: aggregate missing:\n$p")
      assert(p.linesIterator.exists(l =>
        l.contains("ObjectHashAggregate") && l.contains("partial_top_k_by_score")),
        s"$name: no map-side partial top-k phase:\n$p")
    }
  }

  test("hard negatives: broadcast query side + bounded top-k, corpus never shuffled") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val p = plan(graft.operators.Similarity.hardNegatives(emb, 5, 3))
    // the labeled query set rides a broadcast (nested-loop for the
    // label-filtered cross); scoring stays scan-local
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("Window"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial_top_k_by_score")),
      s"no map-side partial top-k phase:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("weighted sample: global top-n is a partial heap — no global sort; winners broadcast back") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.Corpus.weightedSample(
      d, col("doc_id"), col("n_chars"), 50))
    assert(!p.contains("rangepartitioning"), s"global sort crept in:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial_top_k_by_score")),
      s"no map-side partial heap phase:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("winsorize: percentile bounds broadcast back — the corpus is never re-shuffled") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val p = plan(graft.operators.Corpus.winsorize(
      d, col("lang"), col("n_chars"), 0.05, 0.95))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("hashpartitioning(doc_id"), p)
  }

  test("MMR rerank: no cartesian product, no global sort — all windows are per-query") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val p = plan(graft.operators.Similarity.mmrTopK(emb, 5, 3, nCand = 6))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), s"global sort crept in:\n$p")
  }

  test("IVF assignment and probe are scan-local: no crossJoin, no exchange before the candidate join") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val p = plan(graft.operators.Similarity.ivfCosineTopK(emb, 5, 3))
    assert(!p.contains("CartesianProduct"), p)
    // exactly the candidate broadcast + the top-k partial/final pair —
    // nearest-cell assignment must NOT appear as a join + window rank
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("persisted IVF probe reads ONLY the probed cell directories") {
    // the claim behind the on-disk layout: a search touches nProbe of
    // nCells partition directories and partition pruning keeps the
    // rest off the scan's file list entirely. inputFiles is the
    // ground truth (the actual files the executed scan would read),
    // stronger than matching PartitionFilters text.
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val path = java.nio.file.Files
      .createTempDirectory("ivf_prune_audit").toString
    graft.operators.Similarity.writeIvfIndex(emb, path, nCells = 16,
      refineIters = 2)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val search = graft.operators.Similarity
      .searchIvfIndex(spark, path, q, 3, nProbe = 2)
    search.collect() // populate the scan's driver-side metrics
    // walk INTO AQE stages: executedPlan is AdaptiveSparkPlanExec and
    // TreeNode.collect does not descend through query stages
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val cellScans = scans(search.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains(path)))
    assert(cellScans.nonEmpty, "no cells scan in the executed plan")
    // "number of partitions read" is the post-pruning directory count
    val partsRead = cellScans.map(_.metrics("numPartitions").value).sum
    assert(partsRead <= 2,
      s"1 query x nProbe=2 must touch <= 2 cell dirs, read $partsRead")
    val onDisk = new java.io.File(s"$path/cells").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(partsRead < onDisk,
      s"probe read all $onDisk cell dirs - no pruning")
  }

  test("bm25: term filter precedes every exchange, stats broadcast, top-k is TakeOrderedAndProject") {
    val p = plan(graft.SparkEntry.queries("t_bm25")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // corpus stats + per-term dfs come back as broadcasts, never a
    // shuffle of the postings stream against them
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    // the IN-set restriction to query terms sits below the tf
    // aggregation (only query-term postings enter the exchange)
    assert(p.contains("INSET") || p.contains(" IN "), p)
  }

  test("span dedup: both window passes filter short docs before generating; counts aggregate partially") {
    val p = plan(graft.SparkEntry.queries("d_span_dedup")(spark, sf))
    // Catalyst prunes the count pass to `text` only — two narrow
    // generate passes, each behind the >= L-token filter
    assert(p.linesIterator.count(_.contains("Generate explode")) >= 2, p)
    assert(p.linesIterator.count(l =>
      l.contains("Filter") && l.contains("size(split(lower(text")) >= 2, p)
    assert(p.contains("partial_count"), p)
  }

  test("pagerank iterations scan the edge snapshot — the base join never re-executes") {
    val orders = graft.sources.Tables.load(spark, sf, "orders")
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    // forcing `Small` pins the DISTRIBUTED plan shape — at this sf
    // the graph would otherwise take the driver-side tiny-graph path
    val p = plan(graft.operators.Graph.powerIteration(
      graft.operators.Graph.customerSupplierEdgesNum(orders, li), None, 5,
      0.85, 0.0, Some(graft.operators.Regime.Small)))
    assert(p.contains("pr_edges"), p)
    // orders ⋈ lineitem must have run ONCE into the snapshots at
    // call time — the returned iteration plan never touches the base
    // tables again (5 copies of that join was the first shape's cost)
    assert(!p.contains("orders.parquet") && !p.contains("lineitem.parquet"), p)
  }

  test("ppr iterations scan the annotated edge snapshot — seed flags ride its write") {
    val orders = graft.sources.Tables.load(spark, sf, "orders")
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val seeds = graft.sources.Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") < 25).select((col("c_custkey") * 2).as("node"))
    // forced `Small`, as the g_pagerank pin above
    val p = plan(graft.operators.Graph.powerIteration(
      graft.operators.Graph.customerSupplierEdgesNum(orders, li), Some(seeds), 5,
      0.85, 0.0, Some(graft.operators.Regime.Small)))
    assert(p.contains("ppr_edges"), p)
    // the edge join and the seed list ran once into the snapshot: the
    // loop never re-reads a base table, and there is no node snapshot
    assert(!p.contains("orders.parquet") && !p.contains("lineitem.parquet"), p)
    assert(!p.contains("customer.parquet"), p)
    assert(!p.contains("ppr_nodes"), p)
  }

  test("PQ: code assignment is one scan-local kernel call; no window sort anywhere") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val p = plan(graft.operators.Similarity.pqCosineTopK(emb, 5, 3))
    assert(p.contains("pq_codes"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("nb quality model: scoring is a pure projection — no join, no exchange") {
    // r15: the bounded model (≤ ~3×30 (value, class-count) rows)
    // collects once and scores as driver-computed map LITERALS — the
    // former shape (3 broadcast model joins + a tot cross-join) had
    // 3 broadcast builds and their query-stage jobs where a lookup
    // projection suffices. The scoring pass over the feature snapshot
    // must now contain NO join and NO exchange at all.
    val p = plan(graft.SparkEntry.queries("c_quality_model")(spark, sf))
    assert(p.contains("element_at(map("), s"expected map-literal model:\n$p")
    assert(!p.contains("Join"), s"expected join-free scoring pass:\n$p")
    assert(!p.contains("Exchange"), s"expected exchange-free scoring pass:\n$p")
  }

  test("vocab top-k: partial count before the exchange, top-k without global sort") {
    val p = plan(graft.SparkEntry.queries("t_vocab_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final count:\n$p")
  }

  test("tfidf similarity: candidate pairs come from an equi-join on the feature, no cartesian") {
    val p = plan(graft.SparkEntry.queries("t_tfidf_sim")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the pair join keys on the shared feature — an equi-join, never
    // a nested-loop over documents (the only nested-loop allowed is
    // the 1-row n_docs scalar broadcast, which is a Cross build)
    assert(p.contains("Join [f#") || p.contains("Join [coalesce(f#") ||
      p.linesIterator.exists(l => l.contains("HashJoin [f#")), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.forall(_.contains("Cross")), p)
  }

  test("temperature mix: quota is a map literal; one rank window per class") {
    // r15: per-source quotas (model-sized) collect once and apply as a
    // driver-computed map literal — the data pass is the class-keyed
    // rank window plus a lookup filter, no quota join at all
    val p = plan(graft.SparkEntry.queries("c_temperature_mix")(spark, sf))
    assert(p.contains("element_at(map("), s"expected map-literal quotas:\n$p")
    assert(!p.contains("Join"), s"expected join-free mix pass:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("row_number")), p)
    // exactly the one rank-window exchange on the class column
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
  }

  test("event transitions: probability window partitions on prev_type over the aggregated matrix") {
    val p = plan(graft.SparkEntry.queries("q_event_transitions")(spark, sf))
    // the lag window shuffles on user_id; the normalization window
    // shuffles on prev_type and consumes the COUNTED matrix (its
    // exchange sits above the aggregate), never raw events
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.contains("hashpartitioning(prev_type"), p)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final transition count:\n$p")
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the 100-TB join pattern: fact partitioned on the join key's
    // date/dim column, dimension filtered at query time — Spark
    // injects a runtime subquery filter into the fact scan so only
    // matching partitions are read (no static predicate exists)
    val dir = java.nio.file.Files.createTempDirectory("dpp_spec").toString
    import org.apache.spark.sql.functions.{col, date_format}
    graft.sources.Tables.load(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // a dim table on disk with a selective flag: DPP requires a real
    // filtered build side (a bare local relation is not considered
    // selective by the PartitionPruning rule)
    import org.apache.spark.sql.functions.row_number
    import org.apache.spark.sql.expressions.Window
    fact.select(col("day")).distinct()
      .withColumn("flag",
        (row_number().over(Window.orderBy(col("day"))) <= 2).cast("int"))
      .withColumnRenamed("day", "d")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("flag") === 1)
    val q = fact.join(dim, col("day") === col("d"))
      .groupBy(col("day")).count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected runtime partition pruning in:\n$p")
  }

  test("AQE splits a skewed shuffle join at runtime — the built-in complement of the salting kit") {
    // the Skew operators handle key-level pathologies the optimizer
    // can't see; PARTITION-level skew is AQE's job, and this pins
    // that the engine configuration actually lets it fire. Cloned
    // session with test-scale thresholds (the detection logic is
    // identical at 100 TB; only the byte thresholds differ).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    // 80% of the big side lands on key 0, padded so the skewed
    // shuffle partition is MBs while the median is far below the 64KB
    // threshold even after compression
    val big = s2.range(0, 400000)
      .select(when(col("id") < 320000, 0L).otherwise(col("id")).as("k"),
        concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("v"))
    val small = s2.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 2).as("w"))
    // keep EVERY column: a narrowing select would let column pruning
    // strip the padding before the exchange and deflate the skew
    val j = big.join(small, "k")
    // execute THIS dataset — collect reuses its QueryExecution, so the
    // adaptive plan finalizes in place (count()/foreach() build their
    // own executions and leave this one isFinalPlan=false)
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$p")
  }

  test("runtime bloom filter prunes the fact scan of a selective shuffle join") {
    // row-level runtime filtering: a selective dimension predicate is
    // turned into a bloom filter applied ON THE FACT SCAN before the
    // shuffle — at 100 TB this is the difference between shuffling
    // the whole fact table and shuffling the ~matching slice. Pinned
    // here so a conf regression (it's threshold-gated) fails CI.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val li = s2.read.parquet(s"$sf/lineitem.parquet")
    val o = s2.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_totalprice") > 400000.0) // selective creation side
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).count()
    val p = j.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("bloomfilter"),
      s"no runtime bloom filter injected:\n$p")
  }

  test("GraftExtensions applies cleanly (function injection smoke)") {
    new graft.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("normalize: one from_json (the line parse), no lambda, one flatten_claims call") {
    // a file scan: over a local relation the optimizer folds the parse
    val dump = java.nio.file.Files.createTempFile("normalize", ".json")
    java.nio.file.Files.writeString(dump, """{"type":"item","id":"Q1","claims":{}}""")
    val n = graft.ingest.Transform.normalize(
      graft.ingest.WikidataSource.read(spark, dump.toString))
    val p = plan(n)
    def count(s: String) = p.sliding(s.length).count(_ == s)
    assert(count("from_json(") === 1, p)
    assert(!p.toLowerCase.contains("lambdafunction"), p)
    assert(count("flatten_claims(") === 1, p)
    // a session built with the extension resolves the kernel by name
    val ext = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions).create()
    assert(ext.sql("SELECT flatten_claims(CAST(NULL AS " +
      "MAP<STRING, ARRAY<STRUCT<mainsnak: STRUCT<snaktype: STRING, " +
      "property: STRING, datatype: STRING, datavalue: STRUCT<value: STRING, " +
      "type: STRING>>, type: STRING, qualifiers: MAP<STRING, ARRAY<STRUCT<" +
      "snaktype: STRING, property: STRING, datatype: STRING, datavalue: " +
      "STRUCT<value: STRING, type: STRING>>>>, rank: STRING>>>)) AS c")
      .head().getSeq[Any](0).isEmpty)
  }

  test("multi-language projection behind keepAllLanguages flag") {
    val raw = graft.ingest.WikidataSource.read(spark,
      ReferenceFixtures("Entity.json"))
    val n = graft.ingest.Transform.normalize(raw, "en", keepAllLanguages = true)
    val row = n.filter(col("id.id") === 70331950L)
      .select(element_at(col("labels_all"), "ja")).collect()(0)
    assert(row.getString(0) === "ブラッククローバー")
    // parity default drops the maps
    val n2 = graft.ingest.Transform.normalize(raw, "en")
    assert(!n2.columns.contains("labels_all"))
  }

  test("partitioned roundtrip: status predicate prunes at the directory level") {
    val p = plan(graft.operators.Layout.partitionedRoundTrip(spark, sf))
    assert(p.contains("PartitionFilters"), p)
    // the predicate must live in PartitionFilters, not a residual
    // post-scan Filter over the partition column
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderstatus"), p)
  }

  test("tpch q6: all four predicates push into the scan; agg is two-phase") {
    val p = plan(graft.queries.Extended.qTpchQ6(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    // toString truncates the PushedFilters list — match the prefix
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    // three-column projection only
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("triangles: oriented wedge join — no cartesian, no window, closing edge is an equi-join") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val p = plan(graft.operators.Graph.trianglesPerNode(
      graft.operators.Graph.coPurchaseEdges(li)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("rrf hybrid: fusion windows run over k-bounded lists, corpus work stays in the retrievers") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val p = plan(graft.operators.Similarity.rrfHybrid(docs, emb,
      Seq("dup", "merge", "scan")))
    assert(!p.contains("CartesianProduct"), p)
    // the dense retriever's bounded heap aggregate is present — the
    // fusion didn't degrade it to a corpus-wide window sort
    assert(p.contains("top_k_by_score") || p.contains("topkbyscore"),
      p.take(4000))
  }

  test("t_substring_search: zero exchanges — prefilter + verify are scan-local") {
    graft.functions.HashExpressions.register(spark)
    val p = plan(graft.operators.TextAnalysis.substringSearch(
      graft.sources.Tables.load(spark, sf, "documents"),
      col("text"), "merge batch"))
    assert(!p.contains("Exchange"), p)
  }

  test("k_bloom_join: the bloom filter lands in the fact scan's filter, before any exchange") {
    val o = graft.sources.Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(graft.operators.Skew
      .bloomFilteredJoin(li, o, "l_orderkey", "o_orderkey"))
    // the pre-filter must sit BELOW the first exchange/broadcast in
    // the fact branch: textually, might_contain appears in a Filter
    // whose subtree is the lineitem scan (no Exchange between them)
    val filterIdx = p.indexOf("bloom_might_contain_long")
    assert(filterIdx >= 0, p.take(4000))
    val below = p.substring(filterIdx,
      math.min(p.length, filterIdx + 600))
    assert(below.contains("lineitem"), // scan directly under the filter
      below)
  }

  test("c_universe_sample: the key-hash predicate filters BOTH scans before the join") {
    val p = plan(graft.operators.Corpus.queries("c_universe_sample")(
      spark, sf))
    // two Filter-over-scan sites, one per side (conv(substring(md5..)))
    val n = p.sliding("conv(substring(md5".length)
      .count(_ == "conv(substring(md5")
    assert(n >= 2, s"expected the sample predicate on both scans:\n${p.take(4000)}")
  }
}
