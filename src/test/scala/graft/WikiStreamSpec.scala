package graft

import java.nio.file.{Files, Paths => JPaths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.WikiStream

/** Streaming ingest + incremental Media-view maintenance. */
class WikiStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("wikistream").toString

  private def entityLine(qid: Long, label: String, episodes: Int): String =
    s"""{"type":"item","id":"Q$qid","labels":{"en":{"language":"en","value":"$label"}},"claims":{"P1113":[{"mainsnak":{"snaktype":"value","property":"P1113","datavalue":{"value":{"amount":"+$episodes","unit":"1"},"type":"quantity"},"datatype":"quantity"},"type":"statement","rank":"normal"}]}}"""

  test("dump files stream through the batch transform unchanged") {
    val dumpDir = tmp()
    Files.copy(JPaths.get(ReferenceFixtures("Entity.json")),
      JPaths.get(s"$dumpDir/part1.json"))
    val q = WikiStream.normalizedStream(spark, dumpDir).writeStream
      .outputMode("append").format("memory").queryName("wiki_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("wiki_stream")
    assert(got.count() === 3)
    assert(got.filter(col("label") === "Black Clover, season 1").count() === 1)
  }

  test("authored dump files stream to the same rows as the batch normalize") {
    val dumpDir = tmp()
    val q = """{"snaktype":"value","property":"P1545","datavalue":{"value":"7","type":"string"},"datatype":"string"}"""
    val lines = Seq(
      entityLine(1, "show a", 10),
      s"""{"type":"item","id":"Q2","labels":{"de":{"language":"de","value":"b"}},"claims":{"P31":[{"mainsnak":{"snaktype":"value","property":"P31","datavalue":{"value":{"entity-type":"item","numeric-id":5,"id":"Q5"},"type":"wikibase-entityid"},"datatype":"wikibase-item"},"type":"statement","qualifiers":{"P1545":[$q]}}],"P580":[{"mainsnak":{"snaktype":"somevalue","property":"P580","datatype":"time"}}]}}""",
      """{"type":"property","id":"P31","labels":{"en":{"language":"en","value":"instance of"}}}""",
      """{"type":"lexeme","id":"L9","lemmas":{"en":{"language":"en","value":"run"}},"claims":{"P5185":[{"mainsnak":{"snaktype":"value","property":"P5185","datavalue":{"value":{"entity-type":"form","id":"L9-F1"},"type":"wikibase-entityid"},"datatype":"wikibase-form"}}]}}""")
    Files.writeString(JPaths.get(s"$dumpDir/f1.json"),
      lines.take(2).mkString("[\n", ",\n", ",\n"))
    Files.writeString(JPaths.get(s"$dumpDir/f2.json"),
      lines.drop(2).mkString("", ",\n", "\n]\n"))
    val q1 = WikiStream.normalizedStream(spark, dumpDir).writeStream
      .outputMode("append").format("memory").queryName("wiki_stream_authored").start()
    q1.processAllAvailable(); q1.stop()
    val streamed = spark.table("wiki_stream_authored")
    val batch = graft.ingest.Transform.normalize(
      graft.ingest.WikidataSource.read(spark, dumpDir))
    assert(streamed.schema === batch.schema)
    assert(streamed.count() === 4)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental media view: append then upsert across micro-batches") {
    val dumpDir = tmp(); val viewDir = tmp() + "/view"; val cp = tmp()
    Files.writeString(JPaths.get(s"$dumpDir/f1.json"),
      entityLine(1, "show a", 10) + "\n" + entityLine(2, "show b", 20))
    val q = WikiStream.incrementalMediaView(spark, dumpDir, viewDir, cp)
    q.processAllAvailable()
    val v1 = spark.read.parquet(viewDir)
      .select(col("id.id"), col("episodes")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v1 === Map(1L -> 10.0, 2L -> 20.0))

    // second file: new entity + UPDATE of entity 2 (30 episodes)
    Files.writeString(JPaths.get(s"$dumpDir/f2.json"),
      entityLine(3, "show c", 5) + "\n" + entityLine(2, "show b", 30))
    q.processAllAvailable(); q.stop()
    val v2 = spark.read.parquet(viewDir)
      .select(col("id.id"), col("episodes")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v2 === Map(1L -> 10.0, 2L -> 30.0, 3L -> 5.0))

    // bootstrap detection is OUR marker, not Spark's _SUCCESS: on
    // object-store configs that disable marksuccessfuljobs the
    // _SUCCESS file never exists, and the old check re-bootstrapped
    // (Overwrite!) every batch — the view would hold only the last
    // batch. The marker also persists nBuckets.
    val meta = JPaths.get(s"$viewDir/_GRAFT_VIEW_META")
    assert(Files.exists(meta), "view meta marker missing")
    assert(Files.readString(meta).trim === "nBuckets\t16")

    // restart with a DIFFERENT caller nBuckets: the recorded value
    // must win, so the merge prunes the on-disk _mb= bucketing and
    // upserts correctly instead of splitting keys across bucketings
    Files.writeString(JPaths.get(s"$dumpDir/f3.json"),
      entityLine(2, "show b", 40))
    val q2 = WikiStream.incrementalMediaView(spark, dumpDir, viewDir,
      cp, nBuckets = 32)
    q2.processAllAvailable(); q2.stop()
    val v3 = spark.read.parquet(viewDir)
      .select(col("id.id"), col("episodes")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v3 === Map(1L -> 10.0, 2L -> 40.0, 3L -> 5.0))
    // one row per id — a wrong-bucketing merge would leave id 2 twice
    assert(spark.read.parquet(viewDir).count() === 3)
  }
}
