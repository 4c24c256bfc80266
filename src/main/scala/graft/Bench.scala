package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import graft.obs.Counters

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and
  * total wall seconds. Each query is forced with .count() (full plan
  * execution, no result materialization on the driver). Build and
  * action are BOTH inside the timed region, so eager operators can't
  * hide work.
  *
  * READING THE NUMBERS: driver-window runs (`BENCH_r{N}.json`) share
  * the machine with round machinery and wobble ±10–25% per query;
  * the round-over-round comparable is the clean-window run
  * (`BENCH_builder_r{N}.json`) — see README "Benchmark protocol".
  *
  * Stall-resilience (BENCH_r05 was rc=124/parsed:null — one rep stalled
  * in a host contention window and blew the driver's whole timeout):
  *  - every timed run executes in its own Spark job group with a
  *    watchdog thread that cancelJobGroup()s it at a wall-clock cap;
  *    a capped run records the cap as its time instead of hanging
  *  - bench_out.json is re-written ATOMICALLY after the ETL marker and
  *    after EVERY query, so even a killed process leaves numbers plus
  *    the host-speed calibration context needed to read them
  *  - the ETL calibration marker is measured and flushed FIRST
  *  - rep 2 always runs inside the sweep budget, wall-capped relative
  *    to rep 1 (~1.25×, floor 6 s): a cold-compile rep 1 gets its
  *    warm rep 2 (r14 measurement fix) while a stall-window rep 2
  *    can waste at most about one extra rep 1
  *
  * The JSON line is (a) written to `bench_out.json` in the working
  * directory and (b) printed AFTER `spark.stop()` as the genuinely
  * last stdout line, so no sbt/log epilogue can trail it and break
  * the driver's line parser.
  */
object Bench {
  /** per-run wall cap — ~20x the slowest clean per-query best */
  private val QueryCapSec = 60
  /** once sweep elapsed passes this, run single-rep */
  private val SingleRepAfterSec = 420.0
  /** once sweep elapsed passes this, tighten the per-run cap (late
    * deep-stall runaway protection; clean queries finish well under) */
  private val LateBudgetSec = 600.0
  private val LateCapSec = 15

  /** Run `body` under a dedicated job group; a daemon watchdog cancels
    * the group's jobs at `capSec`. Returns elapsed seconds (`capSec`
    * when the watchdog fired, -1 on genuine (pre-cap) failure) and the
    * group, under which [[Counters]] holds the run's jobs.
    *
    * The cancel REPEATS every 200 ms until the body exits:
    * cancelJobGroup is a one-shot cancel of the jobs running at that
    * instant, so a query shaped as MANY short jobs (the CC loop) can
    * slip through a single cancel fired between two of them and run
    * arbitrarily far past the cap (observed: 84.8 s past a 60 s cap
    * in a stall window). */
  private def runCapped(spark: SparkSession, tag: String, capSec: Int)
                       (body: => Unit): (Double, String) = {
    val sc = spark.sparkContext
    val group = s"bench-$tag-${System.nanoTime()}"
    val done = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    sc.setJobGroup(group, tag, interruptOnCancel = true)
    val watchdog = new Thread(() => {
      val deadline = System.nanoTime() + capSec * 1000000000L
      while (!done.get() && System.nanoTime() < deadline) Thread.sleep(100)
      while (!done.get()) {
        fired.set(true); sc.cancelJobGroup(group); Thread.sleep(200)
      }
    }, s"bench-watchdog-$tag")
    watchdog.setDaemon(true)
    watchdog.start()
    val t0 = System.nanoTime()
    val sec =
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch {
        case _: Throwable => if (fired.get()) capSec.toDouble else -1.0
      } finally { done.set(true); sc.clearJobGroup() }
    (sec, group)
  }

  /** 4-decimal (0.1 ms) formatting keeps the 100+-query JSON line
    * ~2 KB so the driver's bounded tail capture parses it whole —
    * BENCH_r04's full-precision doubles front-truncated the line.
    * ONLY the exact -1.0 failure sentinel renders as -1; non-finite
    * values (which would make BigDecimal throw mid-write) also
    * degrade to -1 rather than aborting the bench artifact. */
  private def fmt(v: Double): String =
    if (v == -1.0 || v.isNaN || v.isInfinite) "-1"
    else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional subset (SPARK_GRAFT_QUERIES, see SparkEntry.selection) —
    // scale rehearsals and per-query timing run only the named
    // queries; absent → full sweep (the driver contract). The subset
    // is recorded IN the artifact ("subset":[...]) so a partial sweep
    // can never be mistaken for the contract total (a stale env var
    // used to be invisible).
    val subset = SparkEntry.selection()
    val spark = LocalSession(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per query: the job group of the rep that gave its recorded time
    val groups = scala.collection.mutable.Map[String, String]()
    val counters = new Counters()
    var etlEps = -1.0
    // jobs and executor CPU seconds of the load that gave etlEps: the
    // marker's path changes with the ETL code (a Bulk load ran 4 jobs
    // before the one-pass load, 2 after), and these say when it did
    var etlJobs = -1L
    var etlCpuS = -1.0
    // end-of-sweep re-run of the SAME calibration marker (r15, VERDICT
    // r14 #1): the marker is measured first, so a host-speed swing
    // DURING the sweep was invisible in the artifact and every
    // round-over-round comparison needed manual archaeology (PERF_r14
    // read as a 2× regression until the untouched-code ETL drift was
    // dug out by hand). start≈end ⇒ the window was stable; start≫end
    // (or ≪) ⇒ per-query numbers drifted with the host and the
    // comparison must deflate by the marker ratio.
    var etlEpsEnd = -1.0
    // queries recorded from a SINGLE rep (rep 2 suppressed by the
    // late-sweep cutoff or failed): their entries carry cold
    // first-execution cost and are NOT comparable to warm best-of-2
    // numbers — the r14 driver window's worst "regressions" were all
    // in this class, indistinguishable in the artifact until now.
    val singleRep = scala.collection.mutable.ListBuffer[String]()
    var complete = false

    // window-quality fields shared by the full and compact envelopes:
    // the end-of-sweep marker re-run and the single-rep (cold-record)
    // query names — ADDED fields only, nothing removed or renamed
    def windowFields(): String = {
      val endField =
        if (etlEpsEnd < 0) "" else s""","etl_eps_end":${fmt(etlEpsEnd)}"""
      val srField =
        if (singleRep.isEmpty) ""
        else singleRep.map("\"" + _ + "\"")
          .mkString(""","single_rep":[""", ",", "]")
      endField + srField
    }

    // atomic re-publish of the artifact after every measurement: a
    // killed/timed-out process still leaves a parseable file
    def buildJson(): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = results.valuesIterator.filter(_ >= 0).sum
      val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      val failedField =
        if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
      val subsetField = subset match {
        case Some(s) =>
          s.toSeq.sorted.map("\"" + _ + "\"")
            .mkString(""","subset":[""", ",", "]")
        case None => ""
      }
      val partialField = if (complete) "" else ""","partial":true"""
      // window-immune counters of each recorded rep (full artifact only)
      def perQuery(of: Counters.Acc => Long): String =
        results.keys.map(k => "\"" + k + "\":" + of(counters.group(groups(k))))
          .mkString("{", ",", "}")
      val etlCounters =
        if (etlJobs < 0) "" else s""","etl_jobs":$etlJobs,"etl_cpu_s":${fmt(etlCpuS)}"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"best_of_2","queries":$qs,"jobs":${perQuery(_.jobs)},"shuffle_bytes":${perQuery(_.shuffleWriteBytes)},"sf":"$sfDir","etl_entities_per_sec":${fmt(etlEps)},"etl_baseline_eps":568$etlCounters${windowFields()}$subsetField$failedField$partialField}"""
    }

    /** The round driver records only the LAST ~2000 chars of output and
      * parses the last line as JSON; the full artifact line overflows
      * that window once the registry passed ~90 queries (r7: 2379 chars
      * → truncated mid-line → parsed:null despite rc 0). This builds a
      * line guaranteed to fit: same envelope, queries trimmed
      * slowest-first to `maxLen`, elision count marked. The FULL map
      * is always in bench_out.json and in the full line printed just
      * before it. */
    def buildCompactJson(maxLen: Int): String = {
      def envelope(qs: String, elided: Int): String = {
        val total = results.valuesIterator.filter(_ >= 0).sum
        val nFailed = results.valuesIterator.count(_ < 0)
        val elidedField =
          if (elided == 0) "" else s""","queries_elided":$elided"""
        val failedField =
          if (nFailed == 0) "" else s""","failed_count":$nFailed"""
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","timing":"best_of_2","queries":$qs,"sf":"$sfDir","etl_entities_per_sec":${fmt(etlEps)},"etl_baseline_eps":568${windowFields()}$elidedField$failedField}"""
      }
      val slowestFirst = results.toSeq.sortBy { case (_, v) => -v }
      val kept = scala.collection.mutable.ListBuffer[String]()
      var used = envelope("{}", results.size).length
      var elided = results.size
      for ((k, v) <- slowestFirst) {
        val entry = "\"" + k + "\":" + fmt(v)
        if (used + entry.length + 1 <= maxLen) {
          kept += entry; used += entry.length + 1; elided -= 1
        }
      }
      envelope(kept.mkString("{", ",", "}"), elided)
    }
    def flush(): Unit = {
      val tmp = Paths.get("bench_out.json.tmp")
      Files.write(tmp,
        (buildJson() + "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get("bench_out.json"),
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    flush() // artifact exists from t=0

    // JVM/codegen warm-up outside the timed region (otherwise the
    // alphabetically-first query pays all JIT + first-scan cost)
    runCapped(spark, "warmup", QueryCapSec) {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("b1_scan").foreach(fn => fn(spark, sfDir).count())
    }

    // ETL throughput vs BASELINE.md's headline 568 entities/s (the
    // reference's only published number): 150k-entity synthetic dump
    // through the full load pipeline. Measured and FLUSHED before the
    // query sweep — (a) a session that has run 100 queries carries
    // cached relations and GC residue that understated this 4x, and
    // (b) a sweep the driver later kills still records the host-speed
    // calibration marker needed to interpret its partial numbers.
    // best-of-2: the recorded number must survive host contention
    // (round-2's driver run hit a 5-28x noise window on identical
    // code) — throughput takes the max over however many runs succeed.
    def etlOnce(): Option[graft.tools.EtlBench.Timed] = {
      var timed: Option[graft.tools.EtlBench.Timed] = None
      val (r, _) = runCapped(spark, "etl", 3 * QueryCapSec) {
        timed = Some(graft.tools.EtlBench.timedLoad(spark, 150000,
          "/tmp/graft_bench_dump.json", "/tmp/graft_bench_etl"))
      }
      timed.filter(t => r >= 0 && t.eps >= 0)
    }
    def record(t: Option[graft.tools.EtlBench.Timed]): Unit =
      t.filter(_.eps > etlEps).foreach { t =>
        etlEps = t.eps; etlJobs = t.jobs; etlCpuS = t.cpuS
      }
    // subset runs (scale rehearsals) skip the ETL benchmark
    if (subset.isEmpty) {
      record(etlOnce())
      flush()
      record(etlOnce())
      flush()
    }

    // per-query best-of-2: a contention spike during either run cannot
    // inflate the recorded time. Semantics note ("timing":"best_of_2"):
    // these are BEST-case times — run 2 rides run 1's page cache — and
    // side-effecting registry queries (index builds, versioned merges)
    // execute twice per sweep. Every such query builds its state under
    // a fresh createTempDirectory/Overwrite per invocation, so
    // back-to-back runs are idempotent by construction; versions
    // published by run 1 are unreachable garbage, not input to run 2.
    val sweepStart = System.nanoTime()
    def sweepElapsed(): Double = (System.nanoTime() - sweepStart) / 1e9
    // listener events trail the runs: the artifact written during the
    // sweep may undercount its last query; the final one is settled
    counters.during(spark) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => subset.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          val cap = if (sweepElapsed() > LateBudgetSec) LateCapSec
                    else QueryCapSec
          val (r1, g1) = runCapped(spark, name, cap) { fn(spark, sfDir).count() }
          // MEASUREMENT FIX (r14, documented in OPTIMIZATION_r14.md):
          // the old rule skipped rep 2 whenever rep 1 exceeded 5 s — on
          // a slow/contended host that records rep 1's FIRST-EXECUTION
          // cost (codegen/JIT compile, ensure-fixture builds) as the
          // query's time, mismeasuring by 3–10× exactly for the
          // heavyweight queries (measured: d_exact_norm recorded 9.6 s
          // cold vs 0.5 s warm in the r14 baseline sweep). Rep 2 now
          // always runs inside the sweep budget, with its wall cap tied
          // to rep 1 (≤ ~1.25×rep1, floor 6 s): a genuine stall window
          // wastes at most about one extra rep1, while a cold-compile
          // rep 1 gets its warm rep 2 and best-of-2 means what it says.
          // A rep-2 watchdog fire returns the cap and loses to rep 1.
          val (best, group) =
            if (r1 >= 0 && sweepElapsed() <= SingleRepAfterSec) {
              val cap2 = math.min(cap, math.max(6, math.ceil(r1 * 1.25).toInt))
              val (r2, g2) = runCapped(spark, name, cap2) { fn(spark, sfDir).count() }
              if (r2 < 0) singleRep += name // rep 2 failed → cold record
              if (r2 >= 0 && r2 < r1) (r2, g2) else (r1, g1)
            } else {
              // late-sweep single-rep regime: the recorded time is a cold
              // first execution — mark it so the artifact says so (r15)
              if (r1 >= 0) singleRep += name
              (r1, g1)
            }
          groups(name) = group
          results(name) = best
          flush()
        }
      counters.settle()
    }

    // re-measure the calibration marker at sweep END (r15): untouched
    // code, so start-vs-end drift is host speed — the one number that
    // makes a slow-window sweep machine-detectable. One run (not
    // best-of-2): this is a window gauge, not a throughput claim.
    // Session hygiene first (measured r15): after 223 queries the
    // session's cached relations/heap residue alone depressed the end
    // marker ~15× (2.4 k e/s vs 36 k at start, reproduced twice) —
    // the same in-process effect the start-first rule exists for.
    // Without the sweep, start-vs-end would gauge session residue,
    // not the host.
    if (subset.isEmpty) {
      spark.catalog.clearCache()
      System.gc()
      etlEpsEnd = etlOnce().fold(-1.0)(_.eps)
      flush()
    }

    complete = true
    flush()
    val json = buildJson()
    println(json)
    spark.stop()
    // the driver parses the LAST output line. Plain stdout already ends
    // with the re-print below, but a combined stdout+stderr capture
    // would see Spark's JVM-shutdown-hook logging (ShutdownHookManager
    // "Deleting directory ..." at INFO, emitted AFTER main returns)
    // trail it — silence all logging for the remainder of the JVM.
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    // last line must survive the driver's 2000-char tail window intact:
    // full line if it fits, otherwise the slowest-first compact form
    // (the full line is one line up, and in bench_out.json)
    println(if (json.length <= 1500) json else buildCompactJson(1500))
  }
}
