package graft.tools

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import graft.LocalSession
import graft.ingest.Load

/** ETL throughput benchmark against the reference's headline number:
  * ~568 entities/s for the full-dump load (BASELINE.md — 112.5 M
  * entities in ~55 h on 4 cores).
  *
  * {{{ runMain graft.tools.EtlBench [nEntities] [outJson|outBz2] }}}
  *
  * Generates a deterministic synthetic dump shaped like the real one
  * (bare entity lines inside a top-level array, trailing commas,
  * multi-datatype claims, qualifiers, multi-language labels), then
  * times the full pipeline: text scan → parse → normalize →
  * tb-partitioned parquet write. Prints one JSON line.
  */
object EtlBench {

  /** One synthetic dump entity (line body, no comma/newline) —
    * shared with [[Bz2Probe]]'s parallel multistream writer. */
  private[tools] def entityJson(i: Int): String = {
    val qid = 1000000 + i
    val kind = i % 20 // 1 property page per 20 items
    val sb = new StringBuilder(1024)
    if (kind == 19) {
      sb.append(s"""{"type":"property","id":"P${i / 20 + 100}","labels":{"en":{"language":"en","value":"prop ${i / 20}"},"de":{"language":"de","value":"eigenschaft ${i / 20}"}},"descriptions":{"en":{"language":"en","value":"synthetic property"}},"claims":{}}""")
    } else {
      sb.append(s"""{"type":"item","id":"Q$qid","labels":{"en":{"language":"en","value":"item $i"},"ja":{"language":"ja","value":"アイテム$i"},"de":{"language":"de","value":"artikel $i"}},"descriptions":{"en":{"language":"en","value":"synthetic item $i"}},"claims":{""")
      sb.append(s""""P31":[{"mainsnak":{"snaktype":"value","property":"P31","datavalue":{"value":{"entity-type":"item","numeric-id":${qid % 9973},"id":"Q${qid % 9973}"},"type":"wikibase-entityid"},"datatype":"wikibase-item"},"type":"statement","rank":"normal"}],""")
      sb.append(s""""P1113":[{"mainsnak":{"snaktype":"value","property":"P1113","datavalue":{"value":{"amount":"+${i % 500}","unit":"1"},"type":"quantity"},"datatype":"quantity"},"type":"statement","qualifiers":{"P1545":[{"snaktype":"value","property":"P1545","datavalue":{"value":"${i % 50}","type":"string"},"datatype":"string"}]},"rank":"normal"}],""")
      sb.append(s""""P1476":[{"mainsnak":{"snaktype":"value","property":"P1476","datavalue":{"value":{"text":"title $i","language":"en"},"type":"monolingualtext"},"datatype":"monolingualtext"},"type":"statement","rank":"normal"}],""")
      sb.append(s""""P856":[{"mainsnak":{"snaktype":"value","property":"P856","datavalue":{"value":"https://example.org/$i","type":"string"},"datatype":"url"},"type":"statement","rank":"normal"}],""")
      sb.append(s""""P580":[{"mainsnak":{"snaktype":"value","property":"P580","datavalue":{"value":{"time":"+20${10 + i % 15}-01-01T00:00:00Z","timezone":0,"before":0,"after":0,"precision":11,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"},"type":"time"},"datatype":"time"},"type":"statement","rank":"normal"}]""")
      sb.append("}}")
    }
    sb.toString
  }

  def writeDump(path: String, n: Int): Unit = {
    val sink: java.io.OutputStream =
      if (path.endsWith(".bz2")) {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(new org.apache.hadoop.conf.Configuration())
        codec.createOutputStream(new FileOutputStream(path))
      } else new FileOutputStream(path)
    val w = new BufferedWriter(new OutputStreamWriter(
      sink, StandardCharsets.UTF_8), 1 << 20)
    w.write("[\n")
    var i = 0
    while (i < n) {
      w.write(entityJson(i))
      if (i < n - 1) w.write(",")
      w.write("\n")
      i += 1
    }
    w.write("]\n")
    w.close()
  }

  /** One timed load: entities/s, and the Spark jobs and executor CPU
    * seconds of its `Load.run` (the counters do not move with the host
    * the way seconds do). */
  final case class Timed(eps: Double, jobs: Long, cpuS: Double)

  /** Shared timing path (Bench reuses it so both tools measure under
    * one split-sizing policy): generate n entities, load, return
    * entities/sec with the load's counters. Split size fans a small
    * bench file out the way a multi-GB dump would; the session's own
    * setting is back in place when this returns, so later scans split
    * normally. */
  def timedLoad(spark: SparkSession, n: Int, dump: String,
                outDir: String): Timed = {
    writeDump(dump, n)
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getAll.get(splitKey)
    spark.conf.set(splitKey, if (dump.endsWith(".bz2")) "4m" else "8m")
    try {
      // untimed warm-up load: JIT + codegen cost is not the pipeline's
      // steady-state throughput (measured 4.4k cold vs 16k warm e/s)
      writeDump("/tmp/etl_warmup.json", 5000)
      Load.run(spark, "/tmp/etl_warmup.json", "/tmp/etl_warmup_out")
        .entities.count()
      val t0 = System.nanoTime()
      // A17: the reference's progress bar equivalent — live task-metric
      // reporting while the timed load runs (listener overhead is noise)
      // the progress counters settle before withProgress returns
      val (t, progress) = graft.ingest.EtlProgress.withProgress(spark, Some(n.toLong)) {
        p => (Load.run(spark, dump, outDir,
          format = if (dump.endsWith(".bz2")) "bz2" else "json"), p)
      }
      val entities = t.entities.count()
      val c = progress.counters.total
      Timed(entities / ((System.nanoTime() - t0) / 1e9), c.jobs, c.cpuNs / 1e9)
    } finally prior.fold(spark.conf.unset(splitKey))(spark.conf.set(splitKey, _))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val dump = if (args.length > 1) args(1) else "/tmp/etl_bench_dump.json"
    val spark = LocalSession()

    val timed = timedLoad(spark, n, dump, "/tmp/etl_bench_out")
    val eps = timed.eps

    // query-surface timing over the loaded tables: the flagship
    // traversal (B4-B7) and the Media view materialization (B16) at
    // this entity count — the reference publishes no query numbers,
    // so these establish ours on its own data model
    val t = Load.open(spark, "/tmp/etl_bench_out")
    val tq0 = System.nanoTime()
    val traversed = graft.query.Ops.mediaView(t)
      .filter(org.apache.spark.sql.functions.col("episodes").isNotNull)
      .count()
    val querySec = (System.nanoTime() - tq0) / 1e9

    println(s"""{"metric":"etl_throughput","value":$eps,"unit":"entities_per_sec","entities":$n,"baseline_eps":568,"speedup_vs_baseline":${eps / 568.0},"jobs":${timed.jobs},"cpu_s":${timed.cpuS},"media_view_sec":$querySec,"media_view_rows":$traversed}""")
    spark.stop()
  }
}
