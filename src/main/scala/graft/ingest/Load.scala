package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot

/** Load pipeline (SURVEY §2.A A12-A13, A20): source → normalize →
  * optional pre-write filter → partitioned parquet.
  *
  * The reference's `CREATE_VERSION` enum (Bulk | BulkFilter,
  * `src/main.rs:39`, README.md:60-68) maps to [[LoadMode]]. BulkFilter
  * staged each 100-line chunk into an embedded SurrealDB, ran a user
  * `filter.surql`, exported and re-imported (`src/utils.rs:168-200`) —
  * in Spark the filter is just a DataFrame→DataFrame function applied
  * before the write: same per-batch semantics (a Spark partition ≈ the
  * reference's chunk), no staging engine, and the filter may also be
  * global (a strict superset of the reference's per-chunk scope,
  * SURVEY §7.4).
  *
  * Sink layout (replaces the 4 SurrealDB tables):
  *   outDir/entities/tb={Entity,Property,Lexeme}/  — partitioned write
  *   outDir/claims/                                — keyed (src_tb, id)
  * Partitioning by `tb` makes the three logical tables directory-
  * prunable: `WHERE tb = 'Property'` never touches Entity files. The
  * write itself is exactly-once via Spark's output commit protocol —
  * superseding the reference's at-least-once retry loop (A15).
  */
object Load {

  sealed trait LoadMode
  case object Bulk extends LoadMode
  /** Pre-write filter over (entities, claims) — the BulkFilter hook. */
  final case class BulkFilter(
      f: (DataFrame, DataFrame) => (DataFrame, DataFrame)) extends LoadMode
  /** BulkFilter from a LITERAL `filter.surql` script — the
    * reference's FILTER_PATH workflow (`src/utils.rs:168-200`): the
    * user's existing SurrealQL filter runs verbatim through
    * [[graft.query.SurrealQL]] before the write. */
  final case class BulkFilterScript(script: String) extends LoadMode

  final case class WikiTables(entities: DataFrame, claims: DataFrame)

  /** Run the full ETL: dump file → normalized tables on disk.
    * Returns the table DataFrames re-read from the sink. */
  def run(spark: SparkSession, path: String, outDir: String,
          format: String = "json", lang: String = "en",
          mode: LoadMode = Bulk): WikiTables = {
    // cache: entities and claims are two write ACTIONS off one
    // normalize — without it the full text scan + from_json parse
    // (the dominant ETL cost) runs twice
    Snapshot.cached(Transform.normalize(
        WikidataSource.read(spark, path, format), lang)) { normalized =>
      var entities = Transform.entityMini(normalized)
      var claims = Transform.claimsRows(normalized)
      mode match {
        case Bulk =>
        case BulkFilter(f) =>
          val (e2, c2) = f(entities, claims)
          entities = e2; claims = c2
        case BulkFilterScript(script) =>
          val out = graft.query.SurrealQL.run(
            WikiTables(entities, claims), script)
          entities = out.tables.entities; claims = out.tables.claims
      }

      entities
        .withColumn("tb", col("id.tb"))
        .write.mode(SaveMode.Overwrite).partitionBy("tb")
        .parquet(s"$outDir/entities")
      claims
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/claims")
    }
    open(spark, outDir)
  }

  /** Open a sink directory written by [[run]]. */
  def open(spark: SparkSession, outDir: String): WikiTables = WikiTables(
    entities = spark.read.parquet(s"$outDir/entities").drop("tb"),
    claims = spark.read.parquet(s"$outDir/claims"))

  /** One logical table (Entity / Property / Lexeme) — directory-pruned
    * scan thanks to the partitioned layout. */
  def table(spark: SparkSession, outDir: String, tb: String): DataFrame =
    spark.read.parquet(s"$outDir/entities")
      .filter(col("tb") === tb).drop("tb")
}
