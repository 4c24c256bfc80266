package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas

/** The claims normalize as higher-order column expressions: the
  * formulation `Transform.normalize` ran before the `flatten_claims`
  * kernel. Kept as the differential reference the kernel must equal
  * row for row (`TransformProps`); nothing in `src/main` uses it.
  *
  * It runs interpreted (`transform`/`flatten` lambdas are codegen
  * fallbacks) and re-parses an object payload once per `getField`
  * (Catalyst prunes each `from_json(...).field` to its own one-field
  * parse). Its ANSI casts throw on a payload that is not its
  * datatype's JSON shape, where the kernel gives null fields, so the
  * two are compared on well-formed payloads only.
  */
object ClaimsReference {

  private def idNum(c: Column): Column = substring(c, 2, 20).cast(LongType)

  private def thingCol(tb: Column, id: Column): Column =
    struct(tb.as("tb"), id.as("id"))

  /** Union of every object-shaped `datavalue.value` layout. */
  private val mergedValueSchema = StructType(Seq(
    StructField("entity-type", StringType),
    StructField("numeric-id", LongType),
    StructField("id", StringType),
    StructField("amount", StringType),
    StructField("lowerBound", StringType),
    StructField("upperBound", StringType),
    StructField("unit", StringType),
    StructField("text", StringType),
    StructField("language", StringType),
    StructField("time", StringType),
    StructField("precision", DoubleType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("globe", StringType)))

  private val multiTextSchema = ArrayType(StructType(Seq(
    StructField("text", StringType),
    StructField("language", StringType))))

  /** FK normalization + value-union fill for one snak column. */
  def valueUnion(sn: Column): Column = {
    val st = sn.getField("snaktype")
    val dt = sn.getField("datatype")
    val raw = sn.getField("datavalue").getField("value")
    val isVal = st === "value"

    val pv = from_json(raw, mergedValueSchema)
    val refNum = coalesce(pv.getField("numeric-id"),
      idNum(pv.getField("id")))

    val thing = when(isVal && dt === "wikibase-item",
      thingCol(lit("Entity"), refNum))
      .when(isVal && dt === "wikibase-property", thingCol(lit("Property"), refNum))
      .when(isVal && dt === "wikibase-lexeme", thingCol(lit("Lexeme"), refNum))

    def strBranch(datatype: String): Column =
      when(isVal && dt === datatype, raw)

    val cvd = struct(
      strBranch("string").as("String"),
      strBranch("external-id").as("ExternalID"),
      strBranch("url").as("Url"),
      strBranch("commonsMedia").as("CommonsMedia"),
      strBranch("math").as("MathExpr"),
      strBranch("geo-shape").as("GeoShape"),
      strBranch("musical-notation").as("MusicNotation"),
      strBranch("tabular-data").as("TabularData"),
      when(isVal && dt === "monolingualtext",
        struct(pv.getField("text").as("text"),
          pv.getField("language").as("lang"))).as("MonolingualText"),
      when(isVal && dt === "multilingualtext",
        transform(from_json(raw, multiTextSchema), v =>
          struct(v.getField("text").as("text"),
            v.getField("language").as("lang")))).as("MultilingualText"),
      when(isVal && dt === "quantity", struct(
        pv.getField("amount").cast(DoubleType).as("amount"),
        pv.getField("lowerBound").cast(DoubleType).as("lower_bound"),
        pv.getField("upperBound").cast(DoubleType).as("upper_bound"),
        pv.getField("unit").as("unit"))).as("Quantity"),
      when(isVal && dt === "time", struct(
        pv.getField("time").as("date_time"),
        pv.getField("precision").cast(IntegerType).as("precision"))).as("DateTime"),
      when(isVal && dt === "globe-coordinate", struct(
        pv.getField("latitude").as("lat"),
        pv.getField("longitude").as("lon"),
        pv.getField("precision").as("precision"),
        pv.getField("globe").as("globe"))).as("GlobeCoordinate"),
      when(isVal && dt === "wikibase-form",
        pv.getField("id")).as("Form"),
      when(isVal && dt === "wikibase-sense",
        pv.getField("id")).as("Sense"),
      when(st === "novalue", lit(true)).as("NoValue"),
      when(st === "somevalue", lit(true)).as("UnknownValue"))

    struct(thing.as("Thing"), cvd.as("ClaimValueData"))
  }

  private def mainClaim(stmt: Column): Column = {
    val sn = stmt.getField("mainsnak")
    struct(
      thingCol(lit("Property"), idNum(sn.getField("property"))).as("id"),
      valueUnion(sn).as("value"))
  }

  private def qualifierClaims(stmt: Column): Column = {
    val quals = stmt.getField("qualifiers")
    when(quals.isNull, array().cast(ArrayType(Schemas.claim)))
      .otherwise(flatten(transform(map_values(quals), snaks =>
        transform(snaks, q => struct(
          thingCol(lit("Claims"), idNum(q.getField("property"))).as("id"),
          valueUnion(q).as("value"))))))
  }

  /** Claims map → one array: per statement its main claim, then its
    * qualifiers. */
  def flattenClaims(claimsMap: Column): Column = {
    val stmts = flatten(map_values(claimsMap))
    when(claimsMap.isNull, array().cast(ArrayType(Schemas.claim)))
      .otherwise(flatten(transform(stmts, stmt =>
        concat(array(mainClaim(stmt)), qualifierClaims(stmt)))))
  }

  /** `Transform.normalize`'s default columns, with the claims built by
    * [[flattenClaims]]. */
  def normalize(raw: DataFrame, lang: String = "en"): DataFrame =
    raw.select(
      thingCol(
        when(col("id").startsWith("Q"), "Entity")
          .when(col("id").startsWith("P"), "Property")
          .when(col("id").startsWith("L"), "Lexeme"),
        idNum(col("id"))).as("id"),
      coalesce(element_at(col("labels"), lang).getField("value"),
        element_at(col("lemmas"), lang).getField("value"), lit(""))
        .as("label"),
      coalesce(element_at(col("descriptions"), lang).getField("value"), lit(""))
        .as("description"),
      flattenClaims(col("claims")).as("claims_arr"))
}
