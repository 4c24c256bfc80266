package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftRegistry

/** The core normalize/project transform (SURVEY §2.A A8-A11) — the
  * Spark re-expression of `EntityMini::from_entity`
  * (reference `src/utils/tables.rs:59-130`).
  *
  * One entity row → one EntityMini row + one Claims row:
  *   - ID routing: Q→Entity, P→Property, L→Lexeme (A11);
  *   - language projection: single WIKIDATA_LANG label/description,
  *     `""` default, all other languages/aliases/sitelinks dropped;
  *   - claims flattening: each statement contributes its main claim
  *     plus its qualifiers, concatenated into ONE array; qualifiers
  *     are tagged `id.tb == "Claims"` (quirk preserved,
  *     `tables.rs:90`); ranks/references/statement-ids dropped;
  *   - FK normalization (A9): item/property/lexeme-valued claims
  *     become `Thing` record links; everything else fills its branch
  *     of the serde-shaped `ClaimValueData` union.
  *
  * Everything is per-row column expressions — no shuffle, the whole
  * pipeline stays in one map stage regardless of scale. The claims
  * side is one compiled kernel call, `flatten_claims`
  * ([[graft.functions.FlattenClaims]]): the only
  * `from_json` in the plan is the line parse, and no lambda runs
  * interpreted (`transform`/`filter` lambdas are codegen fallbacks in
  * Spark, evaluated one element at a time).
  */
object Transform {

  /** "P1113" → 1113 (also Q/L ids). */
  private def idNum(c: Column): Column = substring(c, 2, 20).cast(LongType)

  /** Q/P/L prefix → table name; null for anything else. */
  private def idTable(c: Column): Column =
    when(c.startsWith("Q"), "Entity")
      .when(c.startsWith("P"), "Property")
      .when(c.startsWith("L"), "Lexeme")

  private def thingCol(tb: Column, id: Column): Column =
    struct(tb.as("tb"), id.as("id"))

  /** Full normalize: entity rows (WikidataSource.read) → one DF with
    * both the EntityMini and the Claims-row payloads. Split with
    * `entityMini` / `claimsRows` below. `lang` is the WIKIDATA_LANG
    * projection (reference `tables.rs:9-15`, default "" when the
    * translation is missing). Registers graft's kernels on the
    * frame's session. */
  def normalize(raw: DataFrame, lang: String = "en",
                keepAllLanguages: Boolean = false): DataFrame = {
    GraftRegistry.register(raw.sparkSession)
    val base = Seq(
      thingCol(idTable(col("id")), idNum(col("id"))).as("id"),
      coalesce(element_at(col("labels"), lang).getField("value"),
        element_at(col("lemmas"), lang).getField("value"), lit(""))
        .as("label"),
      coalesce(element_at(col("descriptions"), lang).getField("value"), lit(""))
        .as("description"),
      // A9 + A10: one kernel call per entity (graft.functions.Claims)
      call_function("flatten_claims", col("claims")).as("claims_arr"))
    // SURVEY §7.4: the reference DROPS all non-WIKIDATA_LANG
    // translations (parity default); the full maps stay available
    // behind this flag for pipelines that need them
    val extra = if (keepAllLanguages) Seq(
      transform_values(coalesce(col("labels"), col("lemmas")),
        (_, v) => v.getField("value")).as("labels_all"),
      transform_values(col("descriptions"),
        (_, v) => v.getField("value")).as("descriptions_all"))
    else Seq.empty
    raw.select(base ++ extra: _*)
  }

  /** The EntityMini side: id, label, claims FK, description. The FK
    * carries ("Claims", owner-num); the owner table lives in id.tb —
    * joins must use BOTH (the (src_tb, id) keying that fixes the
    * reference's Q42/P42 collision, SURVEY §1.2). */
  def entityMini(normalized: DataFrame): DataFrame =
    normalized.select(
      col("id"),
      col("label"),
      thingCol(lit("Claims"), col("id.id")).as("claims"),
      col("description"))

  /** The Claims-table side, keyed (src_tb, id). */
  def claimsRows(normalized: DataFrame): DataFrame =
    normalized.select(
      thingCol(lit("Claims"), col("id.id")).as("id"),
      col("id.tb").as("src_tb"),
      col("claims_arr").as("claims"))
}
