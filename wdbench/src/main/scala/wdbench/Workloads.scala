package wdbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ingest.{Load, Transform, WikidataSource}
import graft.query.{Ops, Paths, SurrealQL}

/** The workloads. Each runs its set-up, then its operations
  * closed-loop (one starts when the previous one ends) for about the
  * configured seconds, and returns what the checks and metrics need
  * beyond what [[Recorder]] keeps. */
object Workloads {

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `unit` (one op, one query cycle or one registry pass) until
    * the loop's time is nearest to `seconds` at a unit boundary: another
    * unit starts only if at least half of it would fall before
    * `seconds`. So a run measures a whole number of units, and that
    * number does not flip when a unit takes about `seconds`. Returns
    * the loop's wall time. */
  private def loop(seconds: Double, minUnits: Int = 1)(unit: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minUnits || elapsed(t0) * (1 + 0.5 / n) < seconds) {
      unit(n)
      n += 1
    }
    elapsed(t0)
  }

  /** Force every row of a plan without writing it anywhere. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Committed parquet files and bytes under a sink directory. */
  private def parquetFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(dir))
  }

  /** What a loaded sink holds, for the checks: entities per table,
    * claims rows, flattened claims, the P1113 sum, and its size. */
  private def observeSink(spark: SparkSession, dir: String): Map[String, Any] = {
    val t = Load.open(spark, dir)
    val byTb = t.entities.groupBy(col("id.tb")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val c = t.claims.agg(count(lit(1)), sum(size(col("claims"))),
      sum(Paths.quantityAmount(col("claims"), 1113))).head()
    val files = parquetFiles(dir)
    Map("entities" -> byTb, "claims_rows" -> c.getLong(0),
      "claims" -> (if (c.isNullAt(1)) 0L else c.getLong(1)),
      "p1113_sum" -> (if (c.isNullAt(2)) 0.0 else c.getDouble(2)),
      "bytes" -> files.map(_.length).sum, "files" -> files.size)
  }

  // ---------------------------------------------------------- ETL //

  /** `etl_json_bulk` and `etl_bz2_filter`: every op is one `Load.run`
    * of the whole dump into a fresh sink directory.
    *
    * Keys: dump, format, filter_script (null for Bulk),
    * max_partition_bytes (null for Spark's default), out_root,
    * warmup_loads, min_ops, seconds, and in a traced run queries (the
    * read mix, as for `surql_read`).
    *
    * A traced op first forces each lazy layer on its own (noop writes
    * after `WikidataSource.read` and after `Transform.normalize`; for
    * the filter workload also an unfiltered `Load.run`), then runs the
    * same `Load.run` an untraced op runs. Traced and untraced ops
    * alternate, so the tracing overhead is measured in the same run.
    * After the loop a traced run also measures the read layers: the
    * read mix runs over the first traced op's unfiltered sink, once to
    * warm up and once traced. */
  def etl(spark: SparkSession, conf: Conf, rec: Recorder): Map[String, Any] = {
    val dump = conf.str("dump")
    val fmt = conf.str("format")
    val script = conf.opt("filter_script").map(_.toString)
    val mode: Load.LoadMode = script.map(Load.BulkFilterScript).getOrElse(Load.Bulk)
    conf.opt("max_partition_bytes").foreach(v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v.toString))
    val out = conf.str("out_root")
    rec.setupStep("warmup_s") {
      (1 to conf.int("warmup_loads"))
        .foreach(k => Load.run(spark, dump, s"$out/warmup-$k", fmt, mode = mode))
    }

    val measureWall = loop(conf.double("seconds"), conf.int("min_ops")) { i =>
      val dir = s"$out/load-$i"
      val traced = rec.traced && i % 2 == 0
      rec.op("load", traced, Map("out" -> dir)) { _ =>
        if (traced) {
          rec.span("WikidataSource.read") {
            noop(WikidataSource.read(spark, dump, fmt))
          }
          rec.span("Transform.normalize") {
            noop(Transform.normalize(WikidataSource.read(spark, dump, fmt)))
          }
          if (script.isDefined) rec.span("Load.run.unfiltered") {
            Load.run(spark, dump, s"$dir-unfiltered", fmt)
          }
          rec.span("Load.run") { Load.run(spark, dump, dir, fmt, mode = mode) }
        } else Load.run(spark, dump, dir, fmt, mode = mode)
        Map.empty
      }
    }

    spark.sparkContext.setJobGroup("checks", "checks", interruptOnCancel = false)
    val sinks = rec.opsSoFar.map(o => o("id") -> observeSink(spark, o("out").toString)).toMap
    val layers: Map[String, Any] = if (!rec.traced) Map.empty else {
      val read = WikidataSource.read(spark, dump, fmt)
      Map(
        "input_bytes" -> new File(dump).length,
        "lines_in" -> WikidataSource.fromLines(spark.read.text(dump)).count(),
        "entities_out" -> read.count(),
        "claims_out" -> Transform.normalize(read)
          .agg(sum(size(col("claims_arr")))).head().getLong(0))
    }
    spark.sparkContext.clearJobGroup()

    if (rec.traced) conf.opt("queries").foreach { _ =>
      val first = s"$out/load-0"
      val tables = Load.open(spark, if (script.isDefined) s"$first-unfiltered" else first)
      val queries = conf.list("queries")
      queries.foreach(q => query(tables, q, rec, traced = false))
      readCycle(tables, queries, rec, _ => true)
    }
    Map("measure_wall_s" -> measureWall, "sinks" -> sinks, "layers" -> layers)
  }

  // --------------------------------------------------- SurrealQL //

  /** Spark rows → JSON-ready values (structs and arrays as lists). */
  private def value(v: Any): Any = v match {
    case r: Row => r.toSeq.map(value)
    case s: scala.collection.Seq[_] => s.map(value)
    case other => other
  }

  /** One read query: compile (the library call that returns a plan),
    * then execute (collect). Kinds:
    *   - `script`: `SurrealQL.run`, the returned result;
    *   - `media_ddl`: `SurrealQL.run` of the Media view DDL, then a
    *     SELECT over the view: the seasons of one series;
    *   - `media_ops`: the same SELECT over `Ops.mediaView`. */
  private def query(tables: Load.WikiTables, q: Map[String, Object],
                    rec: Recorder, traced: Boolean): Map[String, Any] = {
    def phase[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = if (traced) rec.span(name)(body) else body
      (v, elapsed(t0))
    }
    val kind = q("kind").toString
    val compileName = if (kind == "media_ops") "Ops.mediaView" else "SurrealQL.run"
    val (df, compileS) = phase(compileName) {
      kind match {
        case "media_ops" => seasons(Ops.mediaView(tables), q)
        case "media_ddl" =>
          seasons(SurrealQL.run(tables, q("script").toString).views("Media"), q)
        case _ => SurrealQL.run(tables, q("script").toString).returned.get
      }
    }
    val (rows, executeS) = phase("execute")(df.collect())
    Map("compile_s" -> compileS, "execute_s" -> executeS,
      "rows" -> rows.toSeq.map(value))
  }

  /** One cycle of the read mix, each query one op; `traced(k)` says
    * whether the k-th query records spans. */
  private def readCycle(tables: Load.WikiTables, queries: Seq[Map[String, Object]],
                        rec: Recorder, traced: Int => Boolean): Unit =
    queries.zipWithIndex.foreach { case (q, k) =>
      rec.op(q("name").toString, traced(k), Map("query" -> k)) { _ =>
        query(tables, q, rec, traced(k))
      }
    }

  private def seasons(media: DataFrame, q: Map[String, Object]): DataFrame =
    media.filter(col("parent.id") === q("parent").asInstanceOf[Number].longValue)
      .agg(count(lit(1)).as("n"), sum(col("episodes")).as("total"))

  /** `surql_read`: set-up loads the dump, then runs the query list
    * `warmup_cycles` times to warm up; the measured loop cycles it, in
    * whole cycles.
    *
    * Keys: dump, tables_dir, queries [{name, kind, script, parent}],
    * warmup_cycles, min_cycles, seconds. */
  def surqlRead(spark: SparkSession, conf: Conf, rec: Recorder): Map[String, Any] = {
    val dir = conf.str("tables_dir")
    rec.setupStep("load_s") { Load.run(spark, conf.str("dump"), dir) }
    val files = parquetFiles(dir)
    val tables = Load.open(spark, dir)
    val queries = conf.list("queries")
    rec.setupStep("warmup_s") {
      for (_ <- 1 to conf.int("warmup_cycles"); q <- queries)
        query(tables, q, rec, traced = false)
    }

    // whole cycles only, so every run measures the same query mix;
    // traced and untraced alternate, shifted by one each cycle
    val measureWall = loop(conf.double("seconds"), conf.int("min_cycles")) { cycle =>
      readCycle(tables, queries, rec, k => rec.traced && (k + cycle) % 2 == 0)
    }
    Map("measure_wall_s" -> measureWall,
      "sink" -> Map("bytes" -> files.map(_.length).sum, "files" -> files.size))
  }

  // ----------------------------------------------------- registry //

  /** `registry_ops`: a fixed list of `SparkEntry.queries`. Set-up runs
    * one pass that writes each result (for the oracle check), then
    * `warmup_passes` untimed passes of `count()`; the timed passes force
    * each query with `count()`.
    *
    * Keys: tables_dir, queries (in seeded order), results_dir,
    * warmup_passes, seconds, min_passes. */
  def registry(spark: SparkSession, conf: Conf, rec: Recorder): Map[String, Any] = {
    val dir = conf.str("tables_dir")
    val results = conf.str("results_dir")
    val names = conf.strings("queries")
    val all = SparkEntry.queries
    val firstPass = rec.setupStep("first_pass_s") {
      names.map { q =>
        q -> (try {
          all(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) })
      }.toMap
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$results/oracle_sql.json", oracle)
    rec.setupStep("warmup_s") {
      for (_ <- 1 to conf.int("warmup_passes"); q <- names) all(q)(spark, dir).count()
    }

    val measureWall = loop(conf.double("seconds"), conf.int("min_passes")) { pass =>
      names.zipWithIndex.foreach { case (q, k) =>
        val traced = rec.traced && (k + pass) % 2 == 0
        rec.op(q, traced, Map("pass" -> pass)) { _ =>
          val n =
            if (traced) {
              val df = rec.span("build")(all(q)(spark, dir))
              rec.span("count")(df.count())
            } else all(q)(spark, dir).count()
          Map("count" -> n)
        }
      }
    }
    Map("measure_wall_s" -> measureWall, "first_pass_errors" -> firstPass)
  }
}
