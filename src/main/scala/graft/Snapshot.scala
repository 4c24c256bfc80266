package graft

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, count, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.sources.{Dfs, LocalFs}

/** Write-and-readback snapshot of a SMALL intermediate (candidate
  * pairs, shard signatures, loop frontiers): the DAG above it runs
  * exactly once and nothing lingers in storage memory after the
  * returned plan is consumed — unlike persist(), whose blocks a
  * lazily-returned DataFrame can never safely release. At 100 TB this
  * is the same move as checkpointing a candidate list to the lake
  * between the discovery and verify stages.
  *
  * `df` reads the files back through the writing session; [[in]]
  * rebinds them into another one (an AQE-off clone, or the caller's
  * session after a loop ran in the clone). Both pin the written
  * schema: an empty snapshot round-trips and a re-read costs zero jobs. */
final class Snapshot private (dir: String, schema: StructType, writer: SparkSession) {
  def in(s: SparkSession): DataFrame = s.read.schema(schema).parquet(dir)
  val df: DataFrame = in(writer)
}

/** The one owner of every snapshot ([[apply]], [[counted]]), observed
  * metric ([[observe]]) and scoped cache ([[cached]]) in `src/main`. */
object Snapshot {

  /** Default per-JVM snapshot root (local[*] runs): a temp directory
    * deleted at JVM exit. On a REAL cluster a driver-local path is
    * invisible to executors — set `spark.graft.snapshotDir` to a
    * shared-filesystem location (hdfs://, s3a://…) and every snapshot
    * write/read/delete rides [[graft.sources.Dfs]] there instead; the
    * per-site previous-snapshot deletion keeps that location bounded
    * at ~one live snapshot per call site. */
  private lazy val localBase: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_snapshots_")
    sys.addShutdownHook(LocalFs.deleteRecursively(p.toFile))
    p
  }

  /** Shared-FS snapshot roots are RUN-SCOPED (`run_<uuid>` subdir per
    * JVM, deleted through the Dfs seam at exit) so consecutive runs
    * never collide and a healthy run leaves nothing behind; a crashed
    * run's directory is inert garbage a periodic `run_*` sweep of the
    * configured location reclaims. */
  private val sharedRunDirs = new ConcurrentHashMap[String, String]()
  private def root(s: SparkSession): String =
    s.conf.getOption("spark.graft.snapshotDir") match {
      case None => localBase.toString
      case Some(base) =>
        sharedRunDirs.computeIfAbsent(base, { b =>
          val dir = s"${b.stripSuffix("/")}/run_${java.util.UUID.randomUUID()}"
          sys.addShutdownHook(Dfs.default.delete(dir))
          dir
        })
    }

  private val seq = new AtomicLong(0L)
  private val last = new ConcurrentHashMap[String, String]()

  /** Write `df` and read it back. Every call gets a UNIQUE directory (a
    * monotonic counter — two calls from one site/thread never alias),
    * and the PREVIOUS snapshot of the same (site, thread) is deleted
    * only after the new one is fully written: disk stays bounded at
    * ~one live snapshot per site while a concurrently-consumed earlier
    * result is never ripped out from under a running job mid-write.
    * (Results are consumed promptly by every in-repo call site; a
    * caller holding a returned plan across a LATER same-site call on
    * the same thread must collect it first.) */
  private[graft] def apply(df: DataFrame, site: String): Snapshot = {
    val key = s"${site}_t${Thread.currentThread().getId}"
    val dir = s"${root(df.sparkSession)}/${key}_c${seq.incrementAndGet()}"
    // lighter commit for snapshot-sized intermediates (r15, VERDICT r14
    // #4): skip the _SUCCESS marker (nothing in-repo reads it — Merge's
    // CompleteMarker exists precisely because clusters disable it) and
    // skip the compression codec — snapshots here are hash/id/label
    // tables (signatures, band keys, frontiers, candidate pairs), high-
    // entropy bytes a general codec barely shrinks, while parquet's
    // dictionary/RLE encoding still applies. Both are per-write options:
    // published outputs (Layout/Merge) keep their own settings.
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "none")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir)
    Option(last.put(key, dir)).foreach(Dfs.default.delete)
    new Snapshot(dir, df.schema, df.sparkSession)
  }

  /** How long an [[observe]] reader waits for its metric, which
    * reaches the driver through the listener bus once the action that
    * ran the observed frame ends; past it the frame never ran. */
  val ObserveWait: FiniteDuration = 30.seconds

  /** `df` with one aggregate `metric` observed on whichever action
    * runs it (zero extra jobs, also as a subtree of a larger plan),
    * and its reader, which fails naming `site` when [[observeOption]]'s
    * reader has no value. */
  private[graft] def observe[T](df: DataFrame, site: String,
                                metric: Column): (DataFrame, () => T) = {
    val (observed, read) = observeOption[T](df, metric)
    (observed, () => read().getOrElse(throw new IllegalStateException(
      s"$site: observed metric did not arrive within $ObserveWait " +
        "(or the first action over the frame never ran its rows)")))
  }

  /** [[observe]] for a metric that may never be computed. The reader
    * returns None when the first action over `df` completed without
    * running its rows (Spark planned them away, e.g. under `limit(0)`:
    * the observation then completes empty, at once), or when no action
    * over `df` completed within [[ObserveWait]]. */
  private[graft] def observeOption[T](df: DataFrame,
                                      metric: Column): (DataFrame, () => Option[T]) = {
    val obs = Observation()
    (df.observe(obs, metric), () =>
      try Some(Await.result(obs.future, ObserveWait)).filter(_.size > 0).map(_.getAs[T](0))
      catch { case _: TimeoutException => None })
  }

  /** Row count as an observable metric (0, not null, on no rows). */
  private[graft] val rowCount: Column = coalesce(count(lit(1)), lit(0L)).as("n")

  /** Snapshot with its row count observed on the write — for
    * iterative loops whose stop test is "is the frontier empty", which
    * otherwise pay a whole extra count/limit job per round. */
  private[graft] def counted(df: DataFrame, site: String): (Snapshot, Long) = {
    val (observed, n) = observe[Long](df, site, rowCount)
    (apply(observed, site), n()) // the write runs first, then the read
  }

  /** Scoped cache loan: `df` persisted (MEMORY_AND_DISK) while `body`
    * runs, released (non-blocking) when it ends or throws. A frame
    * `body` returns that still plans over the cache is pinned
    * (`localCheckpoint`) before the release; local results (scalars,
    * driver-built frames, checkpoints) pass through. `enabled = false`
    * runs `body` on `df` uncached. */
  private[graft] def cached[T](df: DataFrame, enabled: Boolean = true)(
      body: DataFrame => T): T =
    if (!enabled) body(df)
    else {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      try body(c) match {
        case out: Dataset[_] if !out.queryExecution.logical.collectLeaves()
            .forall(l => l.isInstanceOf[LocalRelation] || l.isInstanceOf[LogicalRDD]) =>
          out.localCheckpoint().asInstanceOf[T]
        case out => out
      } finally { c.unpersist(blocking = false); () }
    }
}
