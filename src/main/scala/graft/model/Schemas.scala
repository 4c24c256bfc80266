package graft.model

import org.apache.spark.sql.types._

/** Schemas for the Wikidata pipeline (SURVEY.md §1).
  *
  * Two layers:
  *   1. the RAW dump schema — an explicit StructType for
  *      `spark.read.schema(...).json` so production never pays schema
  *      inference over a >1 TB dump, and nested-schema pruning can
  *      push column selection into the scan;
  *   2. the MODEL schema — the four-table record-linked layout
  *      (`Entity`/`Property`/`Lexeme` + `Claims`) with the
  *      serde-shaped claim-value union, so every documented query path
  *      (`value.ClaimValueData.Quantity.amount`, `value.Thing`)
  *      translates 1:1 (reference: `src/utils/tables.rs:17-56`).
  *
  * The claim-value `datavalue.value` field varies by datatype (bare
  * JSON string vs object). The raw schema captures it as StringType —
  * Spark's JSON parser renders any non-string token as its raw JSON
  * text when the expected type is string — and the `flatten_claims`
  * kernel ([[graft.functions.Claims]]) parses an object payload once,
  * by its datatype. This keeps the scan schema fixed while supporting
  * the full value union.
  */
object Schemas {

  // ------------------------------------------------------------ raw //

  /** `{"language": "en", "value": "Black Clover"}` */
  val langValue: StructType = StructType(Seq(
    StructField("language", StringType),
    StructField("value", StringType)))

  /** One snak (main or qualifier). `datavalue.value` is the raw JSON
    * capture (see class doc). */
  val snak: StructType = StructType(Seq(
    StructField("snaktype", StringType), // value | somevalue | novalue
    StructField("property", StringType), // "P1113"
    StructField("datatype", StringType), // "quantity" | "wikibase-item" | ...
    StructField("datavalue", StructType(Seq(
      StructField("value", StringType), // raw JSON (string or object)
      StructField("type", StringType))))))

  /** One statement: main snak + qualifier map. rank/references/id are
    * carried in the raw schema but dropped by the transform, matching
    * the reference (`tables.rs:59-103` reads only .data/.qualifiers). */
  val statement: StructType = StructType(Seq(
    StructField("mainsnak", snak),
    StructField("type", StringType),
    StructField("qualifiers", MapType(StringType, ArrayType(snak))),
    StructField("rank", StringType)))

  /** A bare dump line: one entity object. Lexeme lines carry `lemmas`
    * where items/properties carry `labels` — the transform coalesces
    * them for the label projection. */
  val rawEntity: StructType = StructType(Seq(
    StructField("type", StringType), // item | property | lexeme
    StructField("id", StringType),   // "Q42" | "P31" | "L99"
    StructField("datatype", StringType), // property pages only
    StructField("labels", MapType(StringType, langValue)),
    StructField("lemmas", MapType(StringType, langValue)), // lexemes
    StructField("descriptions", MapType(StringType, langValue)),
    StructField("claims", MapType(StringType, ArrayType(statement)))))

  /** The Linked-Data-Interface envelope used by the reference fixtures:
    * `{"entities": {"<ID>": {...entity...}}}`. Real dump lines are bare
    * entities — the source reads both (FIXTURES.md §1.1). */
  val rawWrapped: StructType = StructType(Seq(
    StructField("entities", MapType(StringType, rawEntity))))

  /** Superset line schema: a bare entity's fields plus the wrapper's
    * `entities` key, so ONE schema parses both line forms in a single
    * pass (the transform coalesces: wrapped beats bare). */
  val rawLine: StructType = StructType(rawWrapped.fields ++ rawEntity.fields)

  // ---------------------------------------------------------- model //

  /** Typed record id / FK — `Thing{table, id}` (`tables.rs:26-30`). */
  val thing: StructType = StructType(Seq(
    StructField("tb", StringType),
    StructField("id", LongType)))

  /** The serde-shaped claim value union (`tables.rs:17-34` +
    * wikidata crate `ClaimValueData`). Exactly one branch is non-null
    * per claim. Paths mirror the reference's serialized layout:
    * `value.Thing`, `value.ClaimValueData.Quantity.amount`, ... */
  val claimValue: StructType = StructType(Seq(
    StructField("Thing", thing),
    StructField("ClaimValueData", StructType(Seq(
      StructField("String", StringType),
      StructField("ExternalID", StringType),
      StructField("Url", StringType),
      StructField("CommonsMedia", StringType),
      StructField("MathExpr", StringType),
      StructField("GeoShape", StringType),
      StructField("MusicNotation", StringType),
      StructField("TabularData", StringType),
      StructField("MonolingualText", StructType(Seq(
        StructField("text", StringType),
        StructField("lang", StringType)))),
      StructField("MultilingualText", ArrayType(StructType(Seq(
        StructField("text", StringType),
        StructField("lang", StringType))))),
      StructField("Quantity", StructType(Seq(
        StructField("amount", DoubleType),
        StructField("lower_bound", DoubleType),
        StructField("upper_bound", DoubleType),
        StructField("unit", StringType)))),
      StructField("DateTime", StructType(Seq(
        StructField("date_time", StringType), // raw "+2017-10-03T00:00:00Z"
        StructField("precision", IntegerType)))),
      StructField("GlobeCoordinate", StructType(Seq(
        StructField("lat", DoubleType),
        StructField("lon", DoubleType),
        StructField("precision", DoubleType),
        StructField("globe", StringType)))),
      StructField("Form", StringType),  // "L123-F2" — kept verbatim
      StructField("Sense", StringType), // "L123-S1"
      StructField("NoValue", BooleanType),
      StructField("UnknownValue", BooleanType))))))

  /** One flattened claim: property/qualifier ref + value. Qualifiers
    * are tagged by `id.tb == "Claims"` (reference quirk preserved,
    * `tables.rs:90`); main claims use `id.tb == "Property"`. */
  val claim: StructType = StructType(Seq(
    StructField("id", thing),
    StructField("value", claimValue)))

  /** Entity/Property/Lexeme row — `EntityMini` (`tables.rs:48-56`). */
  val entityMini: StructType = StructType(Seq(
    StructField("id", thing),
    StructField("label", StringType),
    StructField("claims", thing), // FK → Claims
    StructField("description", StringType)))

  /** Claims row. `src_tb` disambiguates Q42/P42/L42 owners — the
    * reference collides them (`tables.rs:60`, SURVEY §1.2); we key by
    * (src_tb, id) and document the divergence. Queries that only
    * traverse `Entity.claims` are unaffected. */
  val claimsRow: StructType = StructType(Seq(
    StructField("id", thing), // ("Claims", <owner numeric id>)
    StructField("src_tb", StringType), // owner's table
    StructField("claims", ArrayType(claim))))
}
