package graft

import org.apache.spark.sql.SparkSession

/** The one way every main in this project builds its session:
  * `local[N]` with N shuffle partitions, UTC session time zone, no UI.
  * N comes from `SPARK_GRAFT_CPUS`, or all available processors when
  * it is unset. Per-main settings ride in as extra conf pairs. */
object LocalSession {

  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(extraConf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
