package wdbench

import java.io.File
import java.nio.file.{Files, Paths => JPaths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, run one workload's
  * operations closed-loop with a single client for the configured
  * seconds, then write everything measured to a JSON file that
  * `run.py` turns into metrics and checks.
  *
  * {{{ Harness <config.json> }}}
  *
  * The config is written by `run.py`; see `Workloads` for the keys each
  * workload reads. Only calls into the library's public functions are
  * timed. Output checks run after the measured loop.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val conf = Conf(Json.read(args(0)))
    val work = conf.str("work")
    val cores = conf.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("wdbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val rec = new Recorder(spark, conf.int("trace") == 1)
    rec.setup("session_s", conf.double("jvm_start_epoch_s"))

    val extra = conf.str("workload") match {
      case "etl_json_bulk" | "etl_bz2_filter" => Workloads.etl(spark, conf, rec)
      case "surql_read" => Workloads.surqlRead(spark, conf, rec)
      case "registry_ops" => Workloads.registry(spark, conf, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    org.apache.spark.WdbenchBus.drain(spark.sparkContext)
    val out = rec.result ++ extra ++ Map(
      "groups" -> counters.snapshot,
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    Json.write(conf.str("result"), out)
  }

  /** Peak resident memory of this JVM (VmHWM), in MiB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Typed access to the JSON config. */
final case class Conf(m: Map[String, Object]) {
  def str(k: String): String = m(k).toString
  def int(k: String): Int = m(k).asInstanceOf[Number].intValue
  def double(k: String): Double = m(k).asInstanceOf[Number].doubleValue
  def opt(k: String): Option[Object] = m.get(k).filter(_ != null)
  def list(k: String): Seq[Map[String, Object]] =
    m(k).asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.map(_.asScala.toMap).toSeq
  def strings(k: String): Seq[String] =
    m(k).asInstanceOf[java.util.List[String]].asScala.toSeq
}

/** Records setup phases, operations and (traced runs only) spans.
  *
  * Every operation and span runs under its own Spark job group,
  * `op-<n>` and `op-<n>/<span>`, so [[Counters]] can attribute work to
  * it. A span holds name, start, end, parent and operation id; spans
  * stay in memory and are written with the result. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val epochAtStart = System.currentTimeMillis() / 1e3
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  private val setupPhases = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val spans = ArrayBuffer[Map[String, Any]]()
  private var firstOpEpoch = -1.0
  private var seq = 0
  private var current: String = null

  /** Record a setup phase that ended now and began at `startEpochS`. */
  def setup(name: String, startEpochS: Double): Unit =
    setupPhases(name) = epochNow - startEpochS

  def epochNow: Double = epochAtStart + now

  /** Time an untimed-by-the-loop setup step. */
  def setupStep[T](name: String)(body: => T): T = {
    val s = epochNow
    try body finally setup(name, s)
  }

  /** One timed operation. `body` gets the op id and returns what the
    * checks need; an exception is recorded as the op's error. */
  def op(kind: String, traced: Boolean, info: Map[String, Any] = Map.empty)
        (body: String => Map[String, Any]): Map[String, Any] = {
    seq += 1
    val id = s"op-$seq"
    if (firstOpEpoch < 0) firstOpEpoch = epochNow
    current = id
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val start = now
    var observed: Map[String, Any] = Map.empty
    var error: String = null
    try observed = body(id)
    catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    val wall = now - start
    sc.clearJobGroup()
    current = null
    val rec = info ++ Map("id" -> id, "kind" -> kind, "traced" -> traced,
      "start_s" -> start, "wall_s" -> wall, "error" -> error, "observed" -> observed)
    ops += rec
    rec
  }

  /** A named span inside the current op. Only traced operations open
    * spans, so an untraced run records none. */
  def span[T](name: String, parent: String = null)(body: => T): T = {
    val opId = current
    val group = s"$opId/$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val start = now
    try body
    finally {
      spans += Map("name" -> name, "start_s" -> start, "end_s" -> now,
        "parent" -> Option(parent).getOrElse(opId), "op" -> opId)
      sc.setJobGroup(opId, name, interruptOnCancel = false)
    }
  }

  def opsSoFar: Seq[Map[String, Any]] = ops.toSeq

  def result: Map[String, Any] = Map(
    "first_op_epoch_s" -> firstOpEpoch,
    "setup" -> setupPhases.toMap,
    "ops" -> ops.toSeq,
    "spans" -> spans.toSeq)
}

/** JSON files in and out, via the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): Map[String, Object] =
    mapper.readValue(new File(path), classOf[java.util.Map[String, Object]]).asScala.toMap

  def write(path: String, v: Any): Unit =
    Files.writeString(JPaths.get(path), mapper.writeValueAsString(toJava(v)))

  /** Scala values → Jackson-serializable Java collections. */
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
