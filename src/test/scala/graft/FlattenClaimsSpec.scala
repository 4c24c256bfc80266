package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Transform, WikidataSource}

/** The `flatten_claims` kernel on authored dump lines: one snak per
  * datatype with hand-written expected values, the null and order
  * rules, and payloads that are not their datatype's JSON shape.
  * `TransformProps` checks it against the expression formulation
  * (`ClaimsReference`) on generated dumps. */
class FlattenClaimsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def raw(lines: String*): DataFrame = {
    import spark.implicits._
    WikidataSource.entities(WikidataSource.fromLines(lines.toDF("value")))
  }

  private def claimsOf(line: String): Row =
    Transform.normalize(raw(line)).select(col("claims_arr")).head()

  private def item(claims: String): String =
    s"""{"type":"item","id":"Q1","claims":{$claims}}"""

  /** The value union of a main snak `{"property":"P5",<body>}`. */
  private def union(body: String): Row =
    claimsOf(item(s""""P5":[{"mainsnak":{"property":"P5",$body},"type":"statement"}]"""))
      .getSeq[Row](0).head.getAs[Row]("value")

  private def dv(value: String, datatype: String, st: String = "value") =
    s""""snaktype":"$st","datavalue":{"value":$value,"type":"x"},"datatype":"$datatype""""

  private val branches = Seq("String", "ExternalID", "Url", "CommonsMedia",
    "MathExpr", "GeoShape", "MusicNotation", "TabularData",
    "MonolingualText", "MultilingualText", "Quantity", "DateTime",
    "GlobeCoordinate", "Form", "Sense", "NoValue", "UnknownValue")

  /** Assert `u` fills exactly `thing` and the `set` branches. */
  private def check(u: Row, thing: Row, set: (String, Any)*): Unit = {
    assert(u.getAs[Row]("Thing") === thing)
    val cvd = u.getAs[Row]("ClaimValueData")
    val want = set.toMap
    branches.foreach { b =>
      assert(cvd.getAs[Any](b) === want.getOrElse(b, null), b)
    }
  }

  test("every datatype fills its branch with the payload's values") {
    Seq("string" -> "String", "external-id" -> "ExternalID", "url" -> "Url",
      "commonsMedia" -> "CommonsMedia", "math" -> "MathExpr",
      "geo-shape" -> "GeoShape", "musical-notation" -> "MusicNotation",
      "tabular-data" -> "TabularData").foreach { case (dt, branch) =>
      check(union(dv(""""a b/\"c\""""", dt)), null, branch -> "a b/\"c\"")
    }
    check(union(dv("""{"text":"titel","language":"de"}""", "monolingualtext")),
      null, "MonolingualText" -> Row("titel", "de"))
    check(union(dv("""[{"text":"a","language":"en"},{"text":"b","language":"fr"}]""",
      "multilingualtext")),
      null, "MultilingualText" -> Seq(Row("a", "en"), Row("b", "fr")))
    check(union(dv("""{"amount":"+51","unit":"1","upperBound":"+52.5","lowerBound":"-50"}""",
      "quantity")), null, "Quantity" -> Row(51.0, -50.0, 52.5, "1"))
    // a numeric amount token reads as its text, then casts
    check(union(dv("""{"amount":7.25,"unit":"http://www.wikidata.org/entity/Q11573"}""",
      "quantity")), null,
      "Quantity" -> Row(7.25, null, null, "http://www.wikidata.org/entity/Q11573"))
    check(union(dv("""{"time":"+2017-10-03T00:00:00Z","timezone":0,"before":0,"after":0,"precision":11,"calendarmodel":"Q1985727"}""",
      "time")), null, "DateTime" -> Row("+2017-10-03T00:00:00Z", 11))
    check(union(dv("""{"latitude":52.5,"longitude":13,"altitude":null,"precision":0.0001,"globe":"Q2"}""",
      "globe-coordinate")), null, "GlobeCoordinate" -> Row(52.5, 13.0, 0.0001, "Q2"))
    check(union(dv("""{"entity-type":"item","numeric-id":42,"id":"Q99"}""",
      "wikibase-item")), Row("Entity", 42L))
    // no numeric-id: the number is the id's suffix
    check(union(dv("""{"entity-type":"item","id":"Q43"}""", "wikibase-item")),
      Row("Entity", 43L))
    check(union(dv("""{"entity-type":"property","numeric-id":31,"id":"P31"}""",
      "wikibase-property")), Row("Property", 31L))
    check(union(dv("""{"entity-type":"lexeme","id":"L7"}""", "wikibase-lexeme")),
      Row("Lexeme", 7L))
    check(union(dv("""{"entity-type":"form","id":"L7-F2"}""", "wikibase-form")),
      null, "Form" -> "L7-F2")
    check(union(dv("""{"entity-type":"sense","id":"L7-S1"}""", "wikibase-sense")),
      null, "Sense" -> "L7-S1")
    // novalue/somevalue follow the snaktype whatever the datatype
    check(union(""""snaktype":"novalue","datatype":"quantity""""), null, "NoValue" -> true)
    check(union(""""snaktype":"somevalue","datatype":"wikibase-item""""),
      null, "UnknownValue" -> true)
    // a value snak without a datavalue still gets its (empty) struct
    check(union(""""snaktype":"value","datatype":"monolingualtext""""),
      null, "MonolingualText" -> Row(null, null))
  }

  test("order: statements in map order, each main claim then its qualifiers") {
    val q = """{"snaktype":"novalue","property":"P%d","datatype":"string"}"""
    val line = item(
      s""""P10":[{"mainsnak":${q.format(10)},"qualifiers":{"P30":[${q.format(30)},${q.format(31)}],"P20":[${q.format(20)}]}},""" +
        s"""{"mainsnak":${q.format(11)}}],"P5":[{"mainsnak":${q.format(5)},"qualifiers":null}]""")
    val ids = claimsOf(line).getSeq[Row](0).map(_.getAs[Row]("id"))
    assert(ids === Seq(Row("Property", 10L), Row("Claims", 30L), Row("Claims", 31L),
      Row("Claims", 20L), Row("Property", 11L), Row("Property", 5L)))
  }

  test("nulls: absent claims, null lists and null statements") {
    assert(claimsOf("""{"type":"item","id":"Q1"}""").getSeq[Row](0) === Seq())
    assert(claimsOf(item(""""P1":null""")).isNullAt(0))
    assert(claimsOf(item(
      """"P1":[{"mainsnak":{"snaktype":"novalue","property":"P1"},"qualifiers":{"P2":null}}]"""))
      .isNullAt(0))
    val nullStmt = claimsOf(item(""""P1":[null]""")).getSeq[Row](0)
    assert(nullStmt.size === 1)
    assert(nullStmt.head.getAs[Row]("id") === Row("Property", null))
    check(nullStmt.head.getAs[Row]("value"), null)
  }

  test("a payload off its datatype's shape gives null fields and never throws") {
    check(union(dv("""{"amount":"many","unit":"1"}""", "quantity")),
      null, "Quantity" -> Row(null, null, null, "1"))
    check(union(dv(""""not an object"""", "quantity")),
      null, "Quantity" -> Row(null, null, null, null))
    check(union(dv("""{"time":"+2017-00-00T00:00:00Z","precision":"day"}""", "time")),
      null, "DateTime" -> Row("+2017-00-00T00:00:00Z", null))
    check(union(dv(""""Q5"""", "wikibase-item")), Row("Entity", null))
    check(union(dv("""{"text":{"nested":1},"language":"en"}""", "monolingualtext")),
      null, "MonolingualText" -> Row(null, "en"))
    check(union(dv("""{"text":"a"}""", "multilingualtext")), null)
    // the expression formulation's ANSI cast fails the whole query there
    intercept[Exception](ClaimsReference.normalize(raw(item(
      s""""P5":[{"mainsnak":{"property":"P5",${dv("""{"amount":"many"}""", "quantity")}}}]"""
    ))).collect())
  }
}
