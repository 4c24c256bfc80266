package graft

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Load, Transform, WikidataSource}
import graft.query.{Ops, Paths}

/** End-to-end Wikidata pipeline tests mirroring the reference's golden
  * integration tests (`tests/integration.rs`):
  *   - flagship: "Black Clover, season 1" has 51.0 episodes
  *     (`integration.rs:52`);
  *   - Property.json loads 2 properties (`integration.rs:98`);
  *   - BulkFilter keeps exactly the entities having P1113
  *     (`integration.rs:73`, fixture re-synthesized — the reference's
  *     bench.json blob is stripped from the snapshot).
  * Plus per-operator units the reference lacks (SURVEY §5).
  */
class WikidataPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-test").toString

  lazy val entityRaw = WikidataSource.read(spark, ReferenceFixtures("Entity.json"))
  lazy val entityTables = {
    val n = Transform.normalize(entityRaw, "en")
    Load.WikiTables(Transform.entityMini(n), Transform.claimsRows(n))
  }

  test("A1/A5/A7: Entity.json fixture reads 3 entities through the array envelope") {
    assert(entityRaw.count() === 3)
    assert(entityRaw.select("id").collect().map(_.getString(0)).toSet ===
      Set("Q70331950", "Q106589421", "Q60746544"))
  }

  test("A2: bz2 source reads the same 3 entities") {
    val dir = tmp()
    val bz2Path = s"$dir/Entity.json.bz2"
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(
      new java.io.FileOutputStream(bz2Path))
    Files.copy(JPaths.get(ReferenceFixtures("Entity.json")), out)
    out.close()
    assert(WikidataSource.read(spark, bz2Path, "bz2").count() === 3)
  }

  test("A3: unknown format fails fast") {
    intercept[IllegalArgumentException] {
      WikidataSource.read(spark, s"${ReferenceFixtures.dir}/Entity.json", "7z")
    }
  }

  test("A7: bare (unwrapped) dump lines and malformed lines") {
    val dir = tmp()
    // authored bare-form fixture: 1 valid entity w/ 1 qualifier, 1
    // malformed line (must skip silently), 1 unsupported E-id (skip)
    val bare =
      """[
        |{"type":"item","id":"Q7","labels":{"en":{"language":"en","value":"seven"}},"claims":{"P1":[{"mainsnak":{"snaktype":"value","property":"P1","datavalue":{"value":{"amount":"+7","unit":"1"},"type":"quantity"},"datatype":"quantity"},"type":"statement","qualifiers":{"P2":[{"snaktype":"value","property":"P2","datavalue":{"value":"q","type":"string"},"datatype":"string"}]},"rank":"normal"}]}},
        |this is not json at all,
        |{"type":"entity-schema","id":"E123","labels":{}},
        |]""".stripMargin
    Files.writeString(JPaths.get(s"$dir/bare.json"), bare)
    val df = WikidataSource.read(spark, s"$dir/bare.json")
    assert(df.count() === 1)
    val n = Transform.normalize(df, "en")
    val row = n.collect()(0)
    assert(row.getAs[org.apache.spark.sql.Row]("id").getString(0) === "Entity")
    // A10: 1 main + 1 qualifier
    assert(n.select(size(col("claims_arr"))).collect()(0).getInt(0) === 2)
    // qualifier tagged with tb="Claims" (reference quirk, tables.rs:90)
    val tags = n.select(expr("transform(claims_arr, c -> c.id.tb)"))
      .collect()(0).getSeq[String](0)
    assert(tags === Seq("Property", "Claims"))
  }

  test("A8/A10: qualifier flattening matches golden per-entity counts") {
    val n = Transform.normalize(entityRaw, "en")
    val counts = n.select(col("id.id"), size(col("claims_arr")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts === Map(70331950L -> 64, 106589421L -> 49, 60746544L -> 8))
  }

  test("A8: language projection defaults to empty string when missing") {
    val n = Transform.normalize(entityRaw, "xx-nope")
    assert(n.select("label").collect().map(_.getString(0)).toSet === Set(""))
  }

  test("A9: item-valued claims become Thing links (FK extraction)") {
    val n = Transform.normalize(entityRaw, "en")
    // Q70331950 P31 → Q63952888
    val p31 = n.filter(col("id.id") === 70331950L)
      .select(Paths.thing(col("claims_arr"), 31).as("t")).collect()(0)
      .getAs[org.apache.spark.sql.Row]("t")
    assert(p31.getString(0) === "Entity" && p31.getLong(1) === 63952888L)
  }

  test("flagship (integration.rs:25-53): Black Clover season 1 has 51.0 episodes") {
    val dir = tmp()
    val t = Load.run(spark, ReferenceFixtures("Entity.json"), dir, lang = "en")
    val episodes = Paths.withClaims(t.entities, t.claims)
      .filter(col("label") === "Black Clover, season 1")
      .select(Paths.quantityAmount(col("claims_arr"), 1113).as("episodes"))
      .collect()(0).getDouble(0)
    assert(episodes === 51.0)
  }

  test("property load (integration.rs:87-100): 2 properties with en labels") {
    val dir = tmp()
    val t = Load.run(spark, ReferenceFixtures("Property.json"), dir, lang = "en")
    val props = t.entities.filter(col("id.tb") === "Property")
    assert(props.count() === 2)
    assert(props.select("label").collect().map(_.getString(0)).toSet ===
      Set("title", "has part(s)"))
    // directory-pruned single-table scan
    assert(Load.table(spark, dir, "Property").count() === 2)
  }

  test("BulkFilter (integration.rs:56-75): only entities with P1113 survive") {
    val dir = tmp()
    // re-synthesized bench fixture: the 3 real entities (all have
    // P1113) + 2 authored ones without it
    val extra =
      """{"entities":{"Q900000001":{"type":"item","id":"Q900000001","labels":{"en":{"language":"en","value":"no episodes a"}},"claims":{"P31":[{"mainsnak":{"snaktype":"value","property":"P31","datavalue":{"value":{"entity-type":"item","numeric-id":5,"id":"Q5"},"type":"wikibase-entityid"},"datatype":"wikibase-item"},"type":"statement","rank":"normal"}]}}}},
        |{"entities":{"Q900000002":{"type":"item","id":"Q900000002","labels":{"en":{"language":"en","value":"no episodes b"}},"claims":{}}}}""".stripMargin
    val mixDir = tmp()
    Files.writeString(JPaths.get(s"$mixDir/extra.json"), extra)
    Files.copy(JPaths.get(ReferenceFixtures("Entity.json")),
      JPaths.get(s"$mixDir/Entity.json"))
    val t = Load.run(spark, mixDir, dir, lang = "en",
      mode = Load.BulkFilter(Ops.filterLacksProperty(1113)))
    assert(t.entities.count() === 3)
    assert(t.claims.count() === 3)
  }

  test("B7: value union branches — monolingualtext, novalue, quantity bounds") {
    val dir = tmp()
    val n = Transform.normalize(
      WikidataSource.read(spark, ReferenceFixtures("Property.json")), "en")
    // P527 carries a novalue snak on P3254 (qualifier of its claims)
    val hasNoValue = n.select(expr(
      "size(filter(claims_arr, c -> c.value.ClaimValueData.NoValue = true)) > 0")
      .as("nv")).collect().map(_.getBoolean(0))
    assert(hasNoValue.contains(true))
    // P1476 "title" P1629-ish claims include monolingualtext values
    val mono = n.select(expr(
      "size(filter(claims_arr, c -> c.value.ClaimValueData.MonolingualText is not null))")
      .as("m")).collect().map(_.getInt(0)).sum
    assert(mono > 0)
  }

  test("B7: MultilingualText union branch fills from an array-shaped value") {
    val dir = tmp()
    // authored fixture: one claim whose datavalue.value is an ARRAY of
    // Text objects — the wikidata crate's MultilingualText(Vec<Text>)
    // variant (SURVEY §1.1); absent from real dumps but a real branch
    // of the reference's value union
    val line =
      """[
        |{"type":"item","id":"Q8","labels":{"en":{"language":"en","value":"eight"}},"claims":{"P9":[{"mainsnak":{"snaktype":"value","property":"P9","datavalue":{"value":[{"text":"hello","language":"en"},{"text":"hallo","language":"de"}],"type":"multilingualtext"},"datatype":"multilingualtext"},"type":"statement","rank":"normal"}]}}
        |]""".stripMargin
    Files.writeString(JPaths.get(s"$dir/multi.json"), line)
    val n = Transform.normalize(
      WikidataSource.read(spark, s"$dir/multi.json"), "en")
    val texts = n.select(expr(
      "transform(claims_arr[0].value.ClaimValueData.MultilingualText, t -> t.lang || ':' || t.text)"))
      .collect()(0).getSeq[String](0)
    assert(texts === Seq("en:hello", "de:hallo"))
    // exactly one union branch non-null: Thing and MonolingualText stay null
    assert(n.select(expr("claims_arr[0].value.Thing")).collect()(0).isNullAt(0))
    assert(n.select(expr("claims_arr[0].value.ClaimValueData.MonolingualText"))
      .collect()(0).isNullAt(0))
  }

  test("B15: update widens schema with conditional column") {
    val updated = Ops.update(entityTables.entities,
      col("label") === "Black Clover, season 1",
      "number_of_episodes", lit(51.0))
    assert(updated.filter(col("number_of_episodes").isNotNull).count() === 1)
  }

  test("B16: media view exposes episodes/parent/children paths") {
    val view = Ops.mediaView(entityTables)
    val eps = view.select(col("id.id"), col("episodes")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(eps === Map(70331950L -> 170.0, 106589421L -> 24.0, 60746544L -> 51.0))
    // Q60746544 "part of the series" P179 → Q70331950
    val parent = view.filter(col("id.id") === 60746544L)
      .select("parent").collect()(0).getAs[org.apache.spark.sql.Row]("parent")
    assert(parent.getString(0) === "Entity" && parent.getLong(1) === 70331950L)
  }

  test("flagship in PURE SQL: the SurrealQL paths are expressible on the SQL surface") {
    entityTables.entities.createOrReplaceTempView("wd_entities")
    entityTables.claims.createOrReplaceTempView("wd_claims")
    val episodes = spark.sql(
      """SELECT try_element_at(
        |         transform(
        |           filter(c.claims, x -> x.id.tb = 'Property' AND x.id.id = 1113),
        |           x -> x.value.ClaimValueData.Quantity.amount),
        |         1) AS episodes
        |FROM wd_entities e
        |JOIN wd_claims c ON e.claims.id = c.id.id AND e.id.tb = c.src_tb
        |WHERE e.label = 'Black Clover, season 1'""".stripMargin)
      .collect()(0).getDouble(0)
    assert(episodes === 51.0)
  }

  test("B14: delete by id-set co-deletes claims rows") {
    val out = Ops.deleteIds(entityTables,
      entityTables.entities.filter(col("label") === "Banana Fish")
        .select(col("id")))
    assert(out.entities.count() === 2)
    assert(out.claims.count() === 2)
  }
}
