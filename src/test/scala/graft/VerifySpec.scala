package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The subset selector shared by Bench and Verify, and Verify's
  * subset dump. */
class VerifySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("selection: unset selects all, names parse, unknown names fail listed") {
    assert(SparkEntry.selection(None) === None)
    assert(SparkEntry.selection(Some(" q1_agg, b3_filter ,")) ===
      Some(Set("q1_agg", "b3_filter")))
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.selection(Some("q1_agg,q1_agq,zz_nope"))
    }
    assert(ex.getMessage.contains("q1_agq, zz_nope"), ex.getMessage)
    intercept[IllegalArgumentException](SparkEntry.selection(Some(" , ")))
  }

  test("Verify.dump of a subset writes only its results and oracle SQL") {
    val out = Files.createTempDirectory("verify_spec").toString
    Verify.dump(spark, "/root/testdata/sf0.001", out, Some(Set("q1_agg")))
    assert(new java.io.File(out).list().toSet === Set("q1_agg", "oracle_sql.json"))
    val oracle = spark.read.json(s"$out/oracle_sql.json")
    assert(oracle.columns.toSet === Set("q1_agg"))
    assert(oracle.head().getString(0) === SparkEntry.oracleSql("q1_agg"))
    assert(spark.read.parquet(s"$out/q1_agg").count() ===
      SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001").count())
  }
}
