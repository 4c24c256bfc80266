package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.ingest.{Transform, WikidataSource}

/** Property tests over generated entities (SURVEY §5): the structural
  * invariants of the normalize transform hold for ARBITRARY dumps,
  * not just the fixtures. */
object TransformProps extends Properties("Transform") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- generators ------------------------------------------------ //

  private val word = Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8))

  /** One snak: `body` is everything after `"property":"P…",`. */
  private case class GenSnak(pid: Int, body: String)
  /** `qualifiers`: None renders no key, or `"qualifiers":null` when
    * `nullQuals`; Some(groups) one key per group. */
  private case class GenStmt(main: GenSnak, qualifiers: List[List[GenSnak]],
                             nullQuals: Boolean)
  private case class GenEntity(prefix: String, num: Long, lang: String,
                               label: String, stmts: Option[List[GenStmt]])

  private def dv(value: String, tpe: String, datatype: String) =
    s""""snaktype":"value","datavalue":{"value":$value,"type":"$tpe"},"datatype":"$datatype""""

  private val signed = Gen.choose(-100000, 100000).map(n => (if (n >= 0) "+" else "") + n)

  /** One payload of every datatype the value union fills, plus
    * novalue/somevalue snaks of any datatype. */
  private val snakBody: Gen[String] = Gen.oneOf(
    word.map(w => dv(s""""$w"""", "string", "string")),
    word.map(w => dv(s""""$w"""", "string", "external-id")),
    word.map(w => dv(s""""https://example.org/$w"""", "string", "url")),
    word.map(w => dv(s""""$w.jpg"""", "string", "commonsMedia")),
    word.map(w => dv(s""""x^2+$w"""", "string", "math")),
    word.map(w => dv(s""""Data:$w.map"""", "string", "geo-shape")),
    word.map(w => dv(s""""\\relative c' { $w }"""", "string", "musical-notation")),
    word.map(w => dv(s""""Data:$w.tab"""", "string", "tabular-data")),
    for (w <- word; l <- Gen.oneOf("en", "de", "ja"))
      yield dv(s"""{"text":"$w","language":"$l"}""", "monolingualtext", "monolingualtext"),
    Gen.listOf(word).map(ws => dv(ws.take(3).map(w => s"""{"text":"$w","language":"en"}""")
      .mkString("[", ",", "]"), "multilingualtext", "multilingualtext")),
    for (a <- signed; lo <- signed; numeric <- Gen.oneOf(true, false);
         bounds <- Gen.oneOf(true, false))
      yield {
        val amount = if (numeric) a.stripPrefix("+") else s""""$a""""
        val b = if (bounds) s""","lowerBound":"$lo","upperBound":"+${a.stripPrefix("+").toLong.abs + 1}.5"""" else ""
        dv(s"""{"amount":$amount,"unit":"http://www.wikidata.org/entity/Q11573"$b}""", "quantity", "quantity")
      },
    for (y <- Gen.choose(1000, 2030); p <- Gen.choose(0, 14))
      yield dv(s"""{"time":"+$y-01-01T00:00:00Z","timezone":0,"before":0,"after":0,"precision":$p,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"}""", "time", "time"),
    for (lat <- Gen.choose(-90.0, 90.0); lon <- Gen.choose(-180.0, 180.0);
         prec <- Gen.oneOf("0.0001", "1", "null"))
      yield dv(s"""{"latitude":$lat,"longitude":$lon,"altitude":null,"precision":$prec,"globe":"http://www.wikidata.org/entity/Q2"}""", "globecoordinate", "globe-coordinate"),
    for (q <- Gen.choose(1L, 999999L); withNum <- Gen.oneOf(true, false))
      yield dv((if (withNum) s"""{"entity-type":"item","numeric-id":$q,"id":"Q$q"}"""
                else s"""{"entity-type":"item","id":"Q$q"}"""),
        "wikibase-entityid", "wikibase-item"),
    Gen.choose(1L, 9999L).map(q =>
      dv(s"""{"entity-type":"property","numeric-id":$q,"id":"P$q"}""", "wikibase-entityid", "wikibase-property")),
    Gen.choose(1L, 9999L).map(q =>
      dv(s"""{"entity-type":"lexeme","id":"L$q"}""", "wikibase-entityid", "wikibase-lexeme")),
    Gen.choose(1L, 9999L).map(q =>
      dv(s"""{"entity-type":"form","id":"L$q-F2"}""", "wikibase-entityid", "wikibase-form")),
    Gen.choose(1L, 9999L).map(q =>
      dv(s"""{"entity-type":"sense","id":"L$q-S1"}""", "wikibase-entityid", "wikibase-sense")),
    for (st <- Gen.oneOf("novalue", "somevalue");
         dt <- Gen.oneOf("quantity", "wikibase-item", "string", "time"))
      yield s""""snaktype":"$st","datatype":"$dt"""")

  private val snakGen: Gen[GenSnak] = for {
    pid <- Gen.choose(1, 9999)
    body <- snakBody
  } yield GenSnak(pid, body)

  private val stmtGen: Gen[GenStmt] = for {
    main <- snakGen
    nKeys <- Gen.choose(0, 3)
    quals <- Gen.listOfN(nKeys, Gen.choose(1, 2).flatMap(Gen.listOfN(_, snakGen)))
    nullQuals <- Gen.oneOf(true, false)
  } yield GenStmt(main, quals, nullQuals)

  private val entityGen: Gen[GenEntity] = for {
    prefix <- Gen.oneOf("Q", "P", "L")
    num <- Gen.choose(1L, 100000000L)
    lang <- Gen.oneOf("en", "de", "xx")
    label <- word
    nStmts <- Gen.choose(0, 4)
    stmts <- Gen.listOfN(nStmts, stmtGen)
    absent <- Gen.frequency(1 -> true, 5 -> false)
  } yield GenEntity(prefix, num, lang, label, if (absent) None else Some(stmts))

  private def nQualifiers(st: GenStmt): Int = st.qualifiers.map(_.size).sum

  private def render(e: GenEntity): String = {
    def snakJson(s: GenSnak) = s"""{"property":"P${s.pid}",${s.body}}"""
    val claims = e.stmts.fold("") { stmts =>
      stmts.zipWithIndex.map { case (st, i) =>
        val quals =
          if (st.qualifiers.nonEmpty)
            st.qualifiers.zipWithIndex.map { case (snaks, j) =>
              s""""P${9000 + j}":${snaks.map(snakJson).mkString("[", ",", "]")}"""
            }.mkString(""","qualifiers":{""", ",", "}")
          else if (st.nullQuals) ""","qualifiers":null"""
          else ""
        s""""P${100 + i}":[{"mainsnak":${snakJson(st.main)},"type":"statement"$quals,"rank":"normal"}]"""
      }.mkString(""","claims":{""", ",", "}")
    }
    val tpe = e.prefix match {
      case "Q" => "item"; case "P" => "property"; case _ => "lexeme"
    }
    s"""{"type":"$tpe","id":"${e.prefix}${e.num}","labels":{"${e.lang}":{"language":"${e.lang}","value":"${e.label}"}}$claims}"""
  }

  private def raw(entities: List[GenEntity]) = {
    import spark.implicits._
    WikidataSource.entities(WikidataSource.fromLines(
      spark.createDataset(entities.map(render)).toDF("value")))
  }

  private def normalize(entities: List[GenEntity]) =
    Transform.normalize(raw(entities), "en")

  private val batchGen = Gen.listOfN(10, entityGen)
    .suchThat(l => l.map(e => (e.prefix, e.num)).distinct.size == l.size)

  // ---- properties ------------------------------------------------ //

  property("claims count = Σ(1 + |qualifiers|) per entity") =
    forAllNoShrink(batchGen) { entities =>
      val got = normalize(entities)
        .select(col("id.tb"), col("id.id"), size(col("claims_arr")))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      entities.forall { e =>
        val tb = e.prefix match {
          case "Q" => "Entity"; case "P" => "Property"; case _ => "Lexeme"
        }
        got((tb, e.num)) == e.stmts.fold(0)(_.map(1 + nQualifiers(_)).sum)
      }
    }

  property("ID routing: Q→Entity, P→Property, L→Lexeme; ids preserved") =
    forAllNoShrink(batchGen) { entities =>
      val got = normalize(entities)
        .select(col("id.tb"), col("id.id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      got == entities.map { e =>
        val tb = e.prefix match {
          case "Q" => "Entity"; case "P" => "Property"; case _ => "Lexeme"
        }
        (tb, e.num)
      }.toSet
    }

  property("label = WIKIDATA_LANG translation or empty string") =
    forAllNoShrink(batchGen) { entities =>
      val got = normalize(entities)
        .select(col("id.id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      entities.forall { e =>
        got(e.num) == (if (e.lang == "en") e.label else "")
      }
    }

  property("qualifier claims tagged tb=Claims, main claims tb=Property") =
    forAllNoShrink(batchGen) { entities =>
      val got = normalize(entities)
        .select(col("id.id"),
          expr("size(filter(claims_arr, c -> c.id.tb = 'Property'))"),
          expr("size(filter(claims_arr, c -> c.id.tb = 'Claims'))"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      entities.forall { e =>
        got(e.num) == e.stmts.fold((0, 0))(ss => (ss.size, ss.map(nQualifiers).sum))
      }
    }

  property("flatten_claims kernel = the expression formulation, row for row") =
    forAllNoShrink(batchGen) { entities =>
      val r = raw(entities)
      val got = Transform.normalize(r, "en")
      val want = ClaimsReference.normalize(r, "en")
      got.schema == want.schema &&
        got.collect().toSeq == want.collect().toSeq
    }

  property("Porter2: alpha in → nonempty alpha out, bounded growth") =
    forAllNoShrink(word) { w =>
      val s = graft.functions.Porter2.stem(w)
      s.nonEmpty && s.forall(_.isLetter) && s.length <= w.length + 1
    }
}
