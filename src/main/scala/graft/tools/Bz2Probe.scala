package graft.tools

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.LocalSession

/** A2 split-claim probe (VERDICT r10 #7): the ETL source reads `.bz2`
  * dumps through Hadoop's splittable BZip2 codec, parallelizing what
  * the reference decompresses on ONE thread (`init_reader.rs:26`,
  * `MultiBzDecoder` feeding a serial line iterator). That claim was
  * spec-tested on a KB fixture but never measured at dump scale —
  * this probe generates a multi-GB multistream bz2 (the wikimedia
  * dump format: independently-compressed streams concatenated into
  * one file; Hadoop splits both between streams AND at the 900k
  * block marks inside each) plus the identical data as plain JSON,
  * then times the full load pipeline over each and records the scan
  * parallelism actually achieved over the SINGLE file.
  *
  * {{{ runMain graft.tools.Bz2Probe [nEntities] [workDir] [streams] }}}
  *
  * Generation itself is parallel (one writer thread per stream, byte
  * concatenation after) — bz2 compression is ~10 MB/s/core in the
  * pure-Java codec, so a single-threaded writer would spend longer
  * making the fixture than the measurement needs.
  */
object Bz2Probe {

  /** 512 hex chars of deterministic splitmix64 noise. The bench
    * dump's templated JSON bz2-compresses 76x (unrealistic — the
    * real multilingual dump runs ~10x), which would make a "multi-GB
    * compressed" fixture need 150+ GB raw. An entropy payload per
    * entity brings the ratio to a realistic ~6-8x, so the compressed
    * file is genuinely multi-GB and the decompress work per split is
    * honest. */
  private def entropyHex(i: Int): String = {
    val sb = new java.lang.StringBuilder(512)
    var x = i.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    var j = 0
    while (j < 32) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      sb.append(f"$x%016x")
      j += 1
    }
    sb.toString
  }

  /** One probe dump line: the bench entity plus a top-level entropy
    * field (unknown keys are ignored by the explicit-schema parse —
    * pinned by the smoke `require(cnt == n)` below). */
  private def line(i: Int): String =
    "{\"entropy\":\"" + entropyHex(i) + "\"," + EtlBench.entityJson(i).tail

  private def writeJson(path: String, n: Int): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    w.write("[\n")
    var i = 0
    while (i < n) {
      w.write(line(i))
      if (i < n - 1) w.write(",")
      w.write("\n")
      i += 1
    }
    w.write("]\n")
    w.close()
  }

  /** Parallel multistream bz2 writer: `streams` workers each compress
    * their entity range as an independent bz2 stream; concatenating
    * the streams in order is a valid multistream file (bzip2 readers
    * and Hadoop's codec both consume stream sequences). */
  def writeMultistreamBz2(path: String, n: Int, streams: Int): Unit = {
    val bounds = (0 to streams).map(k => (n.toLong * k / streams).toInt)
    val parts = (0 until streams).map(k => s"$path.part$k")
    val threads = (0 until streams).map { k =>
      val t = new Thread(() => {
        val codec = new org.apache.hadoop.io.compress.BZip2Codec()
        codec.setConf(new org.apache.hadoop.conf.Configuration())
        val w = new BufferedWriter(new OutputStreamWriter(
          codec.createOutputStream(new FileOutputStream(parts(k))),
          StandardCharsets.UTF_8), 1 << 20)
        if (k == 0) w.write("[\n")
        var i = bounds(k)
        while (i < bounds(k + 1)) {
          w.write(line(i))
          if (i < n - 1) w.write(",")
          w.write("\n")
          i += 1
        }
        if (k == streams - 1) w.write("]\n")
        w.close()
      }, s"bz2gen-$k")
      t.start(); t
    }
    threads.foreach(_.join())
    val out = Files.newOutputStream(Paths.get(path),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    parts.foreach { p =>
      Files.copy(Paths.get(p), out)
      Files.delete(Paths.get(p))
    }
    out.close()
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000000
    val dir = if (args.length > 1) args(1) else "/tmp/bz2probe"
    val streams = if (args.length > 2) args(2).toInt else 30
    Files.createDirectories(Paths.get(dir))
    val spark = LocalSession()

    val jsonPath = s"$dir/dump.json"
    val bz2Path = s"$dir/dump.json.bz2"

    def timed[A](what: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bz2probe] $what: $s%.1f s")
      (a, s)
    }

    timed(s"gen json n=$n")(writeJson(jsonPath, n))
    timed(s"gen bz2 n=$n streams=$streams")(
      writeMultistreamBz2(bz2Path, n, streams))
    val jsonBytes = Files.size(Paths.get(jsonPath))
    val bz2Bytes = Files.size(Paths.get(bz2Path))

    // untimed warm-up: JIT + codegen cost out of the measured region
    EtlBench.writeDump(s"$dir/warmup.json", 5000)
    graft.ingest.Load.run(spark, s"$dir/warmup.json", s"$dir/warmup_out")
      .entities.count()

    // 32m splits ≈ 2 waves on 32 cores for the ~1.5 GB compressed
    // file (splits are COMPRESSED byte ranges; each holds ~10x raw)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32m")

    // split evidence: partitions of the text scan over the ONE file —
    // the reference's serial MultiBzDecoder is 1 by construction
    val jsonTasks = spark.read.text(jsonPath).rdd.getNumPartitions
    val bz2Tasks = spark.read.text(bz2Path).rdd.getNumPartitions

    def load(path: String, fmt: String, out: String): Double = {
      val (cnt, sec) = timed(s"load $fmt") {
        graft.ingest.Load.run(spark, path, out, format = fmt)
          .entities.count()
      }
      require(cnt == n, s"unexpected entity count $cnt (expected $n)")
      cnt / sec
    }
    val bz2Eps = load(bz2Path, "bz2", s"$dir/out_bz2")
    val jsonEps = load(jsonPath, "json", s"$dir/out_json")

    println(s"""{"metric":"bz2_split","entities":$n,"json_bytes":$jsonBytes,"bz2_bytes":$bz2Bytes,"json_scan_tasks":$jsonTasks,"bz2_scan_tasks":$bz2Tasks,"json_eps":${jsonEps.toInt},"bz2_eps":${bz2Eps.toInt},"baseline_eps":568,"bz2_speedup_vs_baseline":${(bz2Eps / 568.0 * 10).round / 10.0}}""")
    spark.stop()
  }
}
