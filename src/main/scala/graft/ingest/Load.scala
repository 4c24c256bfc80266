package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Snapshot
import graft.query.SurrealQL

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
  * A `filter.surql` that only deletes row selections (the reference's
  * `test_filter.surql` shape, [[SurrealQL.rowKeep]]) needs no join:
  * entity and claims rows are projections of one normalized row, so
  * the script folds to one keep-predicate per side and the load writes
  * both tables in one pass over the kept rows. The fold is exact when
  * each (tb, id) occurs once in the dump, as in every Wikidata dump. A
  * dump that repeats an id keeps each of its rows on that row's own
  * predicate, where [[SurrealQL.run]] would delete every row of the
  * key once any of them matched. Any other script runs through
  * [[SurrealQL.run]] over the normalized tables.
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

  /** What [[run]] wrote: the sink's tables, and the dump lines it
    * rejected ([[WikidataSource.rejected]]: malformed, or no Q/P/L
    * entity). The count is the one observed by the first action over
    * the normalize: the first write, unless a [[BulkFilter]] runs an
    * action before it (a partial one, `first` or `take`, counts only
    * the lines it read). It is None when no action read the dump: a
    * [[BulkFilter]] whose output Spark computes without its input
    * (`limit(0)`, a constant-false filter) writes its empty tables and
    * reports no count; so does one whose output is not built from its
    * input at all, after [[graft.Snapshot.ObserveWait]]. The tables
    * never depend on the count. */
  final case class Loaded(tables: WikiTables, rejectedLines: Option[Long]) {
    def entities: DataFrame = tables.entities
    def claims: DataFrame = tables.claims
  }

  /** Run the full ETL: dump file → normalized tables on disk.
    * Returns the tables read back from the sink with the schemas just
    * written (no schema inference), and the rejected-line count. */
  def run(spark: SparkSession, path: String, outDir: String,
          format: String = "json", lang: String = "en",
          mode: LoadMode = Bulk): Loaded = {
    val (rows, rejected) = WikidataSource.readCounted(spark, path, format)
    val normalized = Transform.normalize(rows, lang)
    val fold = mode match {
      case BulkFilterScript(script) => SurrealQL.rowKeep(script)
      case _ => None
    }
    val (entitySchema, claimsSchema) = fold match {
      case Some(keep) =>
        // cache only the rows either side keeps, each marked once
        val marked = normalized
          .select(col("*"), keep.entities.as("_keep_e"), keep.claims.as("_keep_c"))
          .filter(col("_keep_e") || col("_keep_c"))
        Snapshot.cached(marked) { m =>
          // rebalance: the filtered rows have no shuffle of their own
          // ahead of the write, and without one every input split
          // writes its own small files; AQE sizes the rebalanced ones
          write(outDir,
            Transform.entityMini(m.filter(col("_keep_e"))).hint("rebalance"),
            Transform.claimsRows(m.filter(col("_keep_c"))).hint("rebalance"))
        }
      case None =>
        // cache: entities and claims are two write ACTIONS off one
        // normalize — without it the full text scan + from_json parse
        // (the dominant ETL cost) runs twice
        Snapshot.cached(normalized) { n =>
          val entities = Transform.entityMini(n)
          val claims = Transform.claimsRows(n)
          val (e, c) = mode match {
            case BulkFilter(f) => f(entities, claims)
            case BulkFilterScript(script) =>
              val out = SurrealQL.run(WikiTables(entities, claims), script)
              (out.tables.entities, out.tables.claims)
            case Bulk => (entities, claims)
          }
          write(outDir, e, c)
        }
    }
    Loaded(WikiTables(
      entities = spark.read.schema(entitySchema)
        .parquet(s"$outDir/entities").drop("tb"),
      claims = spark.read.schema(claimsSchema).parquet(s"$outDir/claims")),
      rejected())
  }

  /** Write both tables of a sink; returns their written schemas. */
  private def write(outDir: String, entities: DataFrame,
                    claims: DataFrame): (StructType, StructType) = {
    val e = entities.withColumn("tb", col("id.tb"))
    e.write.mode(SaveMode.Overwrite).partitionBy("tb")
      .parquet(s"$outDir/entities")
    claims.write.mode(SaveMode.Overwrite).parquet(s"$outDir/claims")
    (e.schema, claims.schema)
  }

  /** Open a sink directory written by [[run]]. Infers the schema from
    * the files: a [[BulkFilter]] may have widened it. */
  def open(spark: SparkSession, outDir: String): WikiTables = WikiTables(
    entities = spark.read.parquet(s"$outDir/entities").drop("tb"),
    claims = spark.read.parquet(s"$outDir/claims"))

  /** One logical table (Entity / Property / Lexeme) — directory-pruned
    * scan thanks to the partitioned layout. */
  def table(spark: SparkSession, outDir: String, tb: String): DataFrame =
    spark.read.parquet(s"$outDir/entities")
      .filter(col("tb") === tb).drop("tb")
}
