package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas

/** `flatten_claims(claims)`: an entity's parsed claims map
  * (`map<string, array<statement>>`, [[Schemas.statement]]) → its
  * claims array (`array<`[[Schemas.claim]]`>`), the A9 FK
  * normalization and A10 qualifier flatten of the reference's
  * `EntityMini::from_entity` (`tables.rs:59-130`).
  *
  * One eval per row walks the map once (body: [[Claims.flatten]]), so
  * no lambda runs interpreted and each object payload is parsed once.
  * Codegen-native: the generated code calls the static body, so the
  * normalize projection stays one WholeStageCodegen span.
  */
case class FlattenClaims(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(MapType(StringType, ArrayType(Schemas.statement)))
  override def dataType: DataType = ArrayType(Schemas.claim)
  override def nullable: Boolean = true
  // a null map is [], not null: evaluate without the null-in/null-out
  // shortcut of UnaryExpression
  override def eval(input: InternalRow): Any =
    Claims.flatten(child.eval(input).asInstanceOf[MapData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Claims.flatten(${c.isNull} ? null : ${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def withNewChildInternal(c: Expression): FlattenClaims = copy(c)
  override def prettyName: String = "flatten_claims"
}

/** Static body of [[FlattenClaims]] (no companion class, so generated
  * Java calls `graft.functions.Claims.flatten` directly, as with
  * [[Kernels]]).
  *
  * Semantics, field for field those of the column-expression
  * formulation it replaced:
  *   - order: statements in map order, then array order; each gives
  *     its main claim (id `("Property", pid)`), then its qualifiers in
  *     map and array order (id `("Claims", pid)`, `tables.rs:90`);
  *   - a claim id's number is `substring(pid, 2, 20)` as a long;
  *   - nulls: a null map gives `[]`; a null statement list or a null
  *     qualifier snak list makes the whole array null; a null
  *     statement or snak gives a claim with a null number and an
  *     all-null value union;
  *   - value union ([[Schemas.claimValue]]): `Thing` only for snaktype
  *     `value` (item → Entity, property → Property, lexeme → Lexeme;
  *     number = `numeric-id`, else the `id` suffix); the eight string
  *     branches carry the raw payload text; Quantity amounts and bounds
  *     are strings (or numbers) cast to double; DateTime's precision is
  *     an int; GlobeCoordinate's fields are doubles; MonolingualText is
  *     a non-null struct even when its fields are null;
  *     MultilingualText is built from the payload array; Form and Sense
  *     carry the payload `id`; NoValue/UnknownValue follow the
  *     snaktype whatever the datatype.
  *
  * One change: a payload that is not its datatype's JSON shape (broken
  * JSON, a non-numeric amount, an object where a string belongs) gives
  * null fields and never throws. The expression formulation's ANSI
  * casts failed the whole load there.
  */
object Claims {

  private val json = new JsonFactory()

  private val Property = UTF8String.fromString("Property")
  private val Qualifier = UTF8String.fromString("Claims")
  private val Entity = UTF8String.fromString("Entity")
  private val Lexeme = UTF8String.fromString("Lexeme")

  private val empty = new GenericArrayData(Array.empty[Any])

  // field ordinals of Schemas.statement, Schemas.snak and the union
  private final val StmtFields = 4
  private final val MainSnak = 0
  private final val Qualifiers = 2
  private final val SnakFields = 4
  private final val SnakType = 0
  private final val Pid = 1
  private final val DataTypeField = 2
  private final val DataValue = 3
  private final val UnionFields = 17

  def flatten(claims: MapData): ArrayData = {
    if (claims == null) return empty
    val lists = claims.valueArray()
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < lists.numElements()) {
      if (lists.isNullAt(i)) return null
      val stmts = lists.getArray(i)
      var j = 0
      while (j < stmts.numElements()) {
        if (stmts.isNullAt(j)) out.add(claim(Property, null))
        else {
          val stmt = stmts.getStruct(j, StmtFields)
          out.add(claim(Property,
            if (stmt.isNullAt(MainSnak)) null else stmt.getStruct(MainSnak, SnakFields)))
          if (!stmt.isNullAt(Qualifiers)) {
            val quals = stmt.getMap(Qualifiers).valueArray()
            var k = 0
            while (k < quals.numElements()) {
              if (quals.isNullAt(k)) return null
              val snaks = quals.getArray(k)
              var l = 0
              while (l < snaks.numElements()) {
                out.add(claim(Qualifier,
                  if (snaks.isNullAt(l)) null else snaks.getStruct(l, SnakFields)))
                l += 1
              }
              k += 1
            }
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def row(fields: Any*): InternalRow = new GenericInternalRow(fields.toArray)

  private def str(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i)

  /** `substring(s, 2, 20)` cast to long; null where the cast has no
    * value. */
  private def idNum(s: UTF8String): Any =
    if (s == null) null
    else try s.substringSQL(2, 20).toLongExact()
    catch { case _: NumberFormatException => null }

  private def claim(tb: UTF8String, snak: InternalRow): InternalRow =
    row(row(tb, if (snak == null) null else idNum(str(snak, Pid))), value(snak))

  private def value(snak: InternalRow): InternalRow = {
    val u = new Array[Any](UnionFields)
    var thing: InternalRow = null
    if (snak != null) {
      val st = str(snak, SnakType)
      val dt = str(snak, DataTypeField)
      val raw =
        if (snak.isNullAt(DataValue)) null
        else str(snak.getStruct(DataValue, 2), 0)
      val kind = if (st == null) "" else st.toString
      if (kind == "novalue") u(15) = true
      if (kind == "somevalue") u(16) = true
      if (kind == "value" && dt != null) {
        def ref(tb: UTF8String): InternalRow = {
          val p = Payload(raw)
          row(tb, if (p.numericId != null) p.numericId else idNum(p.id))
        }
        dt.toString match {
          case "wikibase-item" => thing = ref(Entity)
          case "wikibase-property" => thing = ref(Property)
          case "wikibase-lexeme" => thing = ref(Lexeme)
          case "string" => u(0) = raw
          case "external-id" => u(1) = raw
          case "url" => u(2) = raw
          case "commonsMedia" => u(3) = raw
          case "math" => u(4) = raw
          case "geo-shape" => u(5) = raw
          case "musical-notation" => u(6) = raw
          case "tabular-data" => u(7) = raw
          case "monolingualtext" =>
            val p = Payload(raw)
            u(8) = row(p.text, p.language)
          case "multilingualtext" => u(9) = texts(raw)
          case "quantity" =>
            val p = Payload(raw)
            u(10) = row(double(p.amount), double(p.lowerBound),
              double(p.upperBound), p.unit)
          case "time" =>
            val p = Payload(raw)
            u(11) = row(p.time, p.precision match {
              case d: java.lang.Double if !d.isNaN &&
                d >= Int.MinValue && d <= Int.MaxValue => d.intValue
              case _ => null
            })
          case "globe-coordinate" =>
            val p = Payload(raw)
            u(12) = row(p.latitude, p.longitude, p.precision, p.globe)
          case "wikibase-form" => u(13) = Payload(raw).id
          case "wikibase-sense" => u(14) = Payload(raw).id
          case _ =>
        }
      }
    }
    row(thing, new GenericInternalRow(u))
  }

  /** A string cast to double, as Spark's cast reads it; null where the
    * cast has no value. */
  private def double(s: UTF8String): Any =
    if (s == null) null
    else {
      val t = s.toString
      try java.lang.Double.parseDouble(t)
      catch {
        case _: NumberFormatException =>
          Cast.processFloatingPointSpecialLiterals(t, false)
      }
    }

  private def parser(raw: UTF8String): JsonParser = {
    val bb = raw.getByteBuffer
    if (bb.hasArray) json.createParser(bb.array, bb.arrayOffset + bb.position, bb.remaining)
    else json.createParser(raw.getBytes)
  }

  /** A scalar token's text (a number renders as its text, as the JSON
    * reader renders it into a string field); null for null, objects
    * and arrays. */
  private def text(p: JsonParser): UTF8String = p.currentToken match {
    case JsonToken.VALUE_STRING | JsonToken.VALUE_NUMBER_INT |
         JsonToken.VALUE_NUMBER_FLOAT | JsonToken.VALUE_TRUE |
         JsonToken.VALUE_FALSE => UTF8String.fromString(p.getText)
    case _ => p.skipChildren(); null
  }

  private def number(p: JsonParser): Any = p.currentToken match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case _ => p.skipChildren(); null
  }

  /** The fields of one object payload, parsed in one pass. */
  private final class Payload {
    var numericId: Any = null
    var id, amount, lowerBound, upperBound, unit: UTF8String = null
    var text, language, time, globe: UTF8String = null
    var precision, latitude, longitude: Any = null
  }

  private object Payload {
    private val none = new Payload

    def apply(raw: UTF8String): Payload =
      if (raw == null) none
      else try {
        val p = parser(raw)
        try {
          if (p.nextToken() != JsonToken.START_OBJECT) none
          else {
            val f = new Payload
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val name = p.currentName
              p.nextToken()
              name match {
                case "numeric-id" =>
                  f.numericId =
                    if (p.currentToken == JsonToken.VALUE_NUMBER_INT &&
                        p.getNumberType != NumberType.BIG_INTEGER) p.getLongValue
                    else { p.skipChildren(); null }
                case "id" => f.id = Claims.text(p)
                case "amount" => f.amount = Claims.text(p)
                case "lowerBound" => f.lowerBound = Claims.text(p)
                case "upperBound" => f.upperBound = Claims.text(p)
                case "unit" => f.unit = Claims.text(p)
                case "text" => f.text = Claims.text(p)
                case "language" => f.language = Claims.text(p)
                case "time" => f.time = Claims.text(p)
                case "globe" => f.globe = Claims.text(p)
                case "precision" => f.precision = number(p)
                case "latitude" => f.latitude = number(p)
                case "longitude" => f.longitude = number(p)
                case _ => p.skipChildren()
              }
            }
            f
          }
        } finally p.close()
      } catch { case _: java.io.IOException => none }
  }

  /** MultilingualText: `[{"text": …, "language": …}, …]` → its
    * `(text, lang)` rows; a JSON null element gives a row of nulls. */
  private def texts(raw: UTF8String): ArrayData =
    if (raw == null) null
    else try {
      val p = parser(raw)
      try {
        if (p.nextToken() != JsonToken.START_ARRAY) null
        else {
          val out = new java.util.ArrayList[Any]()
          var t = p.nextToken()
          var ok = true
          while (ok && t != JsonToken.END_ARRAY) {
            if (t == JsonToken.VALUE_NULL) out.add(row(null, null))
            else if (t != JsonToken.START_OBJECT) ok = false
            else {
              var txt, lang: UTF8String = null
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                val name = p.currentName
                p.nextToken()
                name match {
                  case "text" => txt = text(p)
                  case "language" => lang = text(p)
                  case _ => p.skipChildren()
                }
              }
              out.add(row(txt, lang))
            }
            if (ok) t = p.nextToken()
          }
          if (ok) new GenericArrayData(out.toArray) else null
        }
      } finally p.close()
    } catch { case _: java.io.IOException => null }
}
