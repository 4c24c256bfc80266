package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `SPARK_GRAFT_QUERIES=name1,name2` restricts both to those names
  * (see [[SparkEntry.selection]]); the driver never sets it, so its
  * runs dump all. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val names = SparkEntry.selection()
    val spark = LocalSession()
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }

  /** Writes `<outDir>/<name>/` parquet for every selected query (all
    * when `names` is None) and their oracle SQL to
    * `<outDir>/oracle_sql.json`. Leaves the session running. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    // submit queries concurrently (4-way): each writes its own dir,
    // Spark's scheduler overlaps their stages — the gate's wall time
    // is not the sum of 67 sequential jobs. View/function
    // registrations inside query builders are idempotent.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def selected(name: String): Boolean = names.forall(_.contains(name))
    val futures = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .map { case (name, fn) =>
        scala.concurrent.Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
