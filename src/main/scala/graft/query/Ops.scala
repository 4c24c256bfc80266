package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ingest.Load.WikiTables

/** Mutation + view operators over the wiki tables (SURVEY §2.B
  * B12-B16, B18): DELETE / UPDATE as filtered rewrites (parquet is
  * immutable), the Media materialized view, and the reference's
  * `filter.surql` semantics as a first-class filter.
  *
  * LET-variable binding (B12) and RETURN (B13) need no machinery in
  * the DataFrame surface — a `val` IS the LET, an action IS the
  * RETURN — so this object only carries the operators with real
  * dataflow.
  */
object Ops {

  /** Delete by computed id-set (the `$del` form): ids is a DF with a
    * `id: Thing` column. */
  def deleteIds(t: WikiTables, ids: DataFrame): WikiTables = {
    val del = ids.select(col("id.tb").as("_d_tb"), col("id.id").as("_d_id"))
    val entities = t.entities.join(del,
      t.entities("id.tb") === col("_d_tb") &&
        t.entities("id.id") === col("_d_id"),
      "left_anti")
    val claims = t.claims.join(del,
      t.claims("src_tb") === col("_d_tb") &&
        t.claims("id.id") === col("_d_id"),
      "left_anti")
    WikiTables(entities, claims)
  }

  /** The `test_filter.surql` program (B18 + A13): delete every Entity
    * lacking property `pid`, along with its Claims row. Golden assert:
    * 3 survivors on the bench fixture (`tests/integration.rs:73`). */
  def filterLacksProperty(pid: Long)(entities: DataFrame, claims: DataFrame): (DataFrame, DataFrame) = {
    val t = WikiTables(entities, claims)
    val doomedIds = Paths.withClaims(
      entities.filter(col("id.tb") === "Entity"), claims)
      .filter(Paths.lacksProperty(col("claims_arr"), pid))
      .select(col("id"))
    val out = deleteIds(t, doomedIds)
    (out.entities, out.claims)
  }

  /** B15: `UPDATE <tb> SET <field> = <value> WHERE <pred>` as a
    * schema-widening rewrite — non-matching rows KEEP their current
    * value (null for a brand-new field), mirroring SurrealQL SET:
    * an UPDATE must never null out rows its WHERE didn't select. */
  def update(df: DataFrame, pred: Column, field: String, value: Column): DataFrame = {
    val prev: Column =
      if (df.columns.contains(field)) col(field) else lit(null)
    df.withColumn(field, when(pred, value).otherwise(prev))
  }

  /** B16: the Media materialized view (`Useful queries.md:16-25`) —
    * episodes (P1113 quantity), parent (P179 Thing), children (P527
    * Things) computed once over Entity. Write with
    * `.write.parquet(...)` to materialize; the computation is one
    * broadcast-able join + per-row array ops. */
  def mediaView(t: WikiTables): DataFrame = {
    val e = Paths.withClaims(
      t.entities.filter(col("id.tb") === "Entity"), t.claims)
    e.select(
      col("id"), col("label"), col("claims"), col("description"),
      Paths.quantityAmount(col("claims_arr"), 1113).as("episodes"),
      Paths.thing(col("claims_arr"), 179).as("parent"),
      Paths.things(col("claims_arr"), 527).as("children"))
  }
}
