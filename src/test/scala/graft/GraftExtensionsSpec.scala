package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftRegistry

/** The session-extension surface: one builder table feeds both the
  * live-session register() path and the `spark.sql.extensions`
  * injector, so these tests pin (a) the table covers every kernel,
  * (b) each injected builder constructs a correctly-evaluating
  * expression, and (c) the SQL names resolve end-to-end. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def b(name: String) = GraftRegistry.builders.toMap.apply(name)

  test("builder table covers the full kernel surface") {
    assert(GraftRegistry.builders.map(_._1).toSet === Set(
      "minhash_signature", "simhash64", "cosine_similarity",
      "sig_agreement", "word_ngrams_3", "word_ngrams_2",
      "z_order_16", "z_order_n", "srp_bucket", "ascii_fold",
      "snowball_stem", "top_k_by_score", "bloom_might_contain_long",
      "bloom_longs_agg", "kmv_longs_agg", "pq_codes", "pq_residual",
      "splitmix_unif", "misra_gries", "srp_pack", "hamming_dist",
      "cdc_chunks", "nearest_cell", "top_cells", "flatten_claims"))
  }

  test("every injected builder evaluates correctly on literal input") {
    val vec = Literal.create(Seq(1.0f, 2.0f, 3.0f), ArrayType(FloatType))
    assert(b("cosine_similarity")(Seq(vec, vec)).eval() === 1.0)
    // coarse-quantizer kernels: cell 0 is the vector itself (cos 1),
    // cell 1 its negation (cos -1) — argmax 0, probe order [0, 1]
    locally {
      val cells = Literal.create(Seq(0, 1), ArrayType(IntegerType))
      val cents = Literal.create(
        Seq(1.0f, 2.0f, 3.0f, -1.0f, -2.0f, -3.0f), ArrayType(FloatType))
      assert(b("nearest_cell")(Seq(vec, cells, cents)).eval() === 0)
      assert(b("top_cells")(Seq(vec, cells, cents, Literal(2)))
        .eval().asInstanceOf[ArrayData].toIntArray().toSeq === Seq(0, 1))
    }
    val toks = Literal.create(Seq("a", "b", "c", "d"), ArrayType(StringType))
    assert(b("word_ngrams_3")(Seq(toks)).eval()
      .asInstanceOf[ArrayData].numElements() === 2)
    assert(b("word_ngrams_2")(Seq(toks)).eval()
      .asInstanceOf[ArrayData].numElements() === 3)
    // hand-computed interleaves (same goldens as LayoutSpec)
    assert(b("z_order_16")(Seq(Literal(5L), Literal(3L))).eval() === 27L)
    assert(b("z_order_n")(
      Seq(Literal(1L), Literal(1L), Literal(1L))).eval() === 7L)
    assert(b("ascii_fold")(Seq(Literal("café"))).eval().toString === "cafe")
    // splitmix64(0) finalized then mapped to [-1, 1): the reference
    // generator value (same arithmetic as the OperatorsSpec
    // clusteredCorpus driver-side check)
    locally {
      var x = 0L + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^= (x >>> 31)
      val want = (x >>> 11).toDouble / (1L << 53) * 2 - 1
      assert(b("splitmix_unif")(Seq(Literal(0L))).eval() === want)
    }
    assert(b("snowball_stem")(Seq(Literal("running"))).eval().toString === "run")
    val sig = Literal.create(Seq(1L, 2L, 3L), ArrayType(LongType))
    assert(b("sig_agreement")(Seq(sig, sig)).eval() === 1.0)
    assert(b("minhash_signature")(Seq(toks)).eval()
      .asInstanceOf[ArrayData].numElements() === 64)
    assert(b("simhash64")(Seq(toks)).eval() ===
      b("simhash64")(Seq(toks)).eval())
    // 1-word BQ code of a vector vs itself: distance 0; static width
    locally {
      val code = b("srp_pack")(Seq(vec, Literal(1))).eval()
      assert(code.asInstanceOf[ArrayData].numElements() === 1)
      val lit = Literal.create(
        code.asInstanceOf[ArrayData].toLongArray().toSeq, ArrayType(LongType))
      assert(b("hamming_dist")(Seq(lit, lit)).eval() === 0)
    }
    // parameterized kernel: static args must be literals
    assert(b("srp_bucket")(Seq(vec, Literal(4), Literal(0))).eval() != null)
    intercept[IllegalArgumentException](
      b("srp_bucket")(Seq(vec, vec, Literal(0))))
    // pq_codes: 2 subspaces × 2 codes × 2 dims; vec (1,2,3,4) →
    // subspace 0 matches code 0 exactly, subspace 1 matches code 1
    val pqVec = Literal.create(Seq(1.0f, 2.0f, 3.0f, 4.0f),
      ArrayType(FloatType))
    val pqBooks = Literal.create(
      Seq(1.0f, 2.0f, 9.0f, 9.0f, /* m1: */ 9.0f, 9.0f, 3.0f, 4.0f),
      ArrayType(FloatType))
    val pqCodes = b("pq_codes")(Seq(pqVec, pqBooks, Literal(2), Literal(2)))
      .eval().asInstanceOf[ArrayData]
    assert(pqCodes.toIntArray().toSeq === Seq(0, 1))
    // dimension mismatch → null, not a crash
    assert(b("pq_codes")(Seq(vec, pqBooks, Literal(2), Literal(2)))
      .eval() === null)
    // pq_residual: same books — both subspaces of (1,2,3,4)
    // reconstruct exactly, residual 0. For (1,2,0,0) the nearest
    // m1 codeword is (3,4): sqrt(0 + 3²+4²) = 5
    assert(b("pq_residual")(Seq(pqVec, pqBooks, Literal(2), Literal(2)))
      .eval() === 0.0)
    val pqVecOff = Literal.create(Seq(1.0f, 2.0f, 0.0f, 0.0f),
      ArrayType(FloatType))
    assert(b("pq_residual")(Seq(pqVecOff, pqBooks, Literal(2), Literal(2)))
      .eval() === 5.0)
    assert(b("pq_residual")(Seq(vec, pqBooks, Literal(2), Literal(2)))
      .eval() === null)
  }

  test("SQL surface resolves every name after register") {
    GraftRegistry.register(spark)
    val r = spark.sql(
      """SELECT snowball_stem('running') AS s, ascii_fold('café') AS f,
        |  cosine_similarity(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c,
        |  z_order_n(1L, 1L, 1L) AS z,
        |  srp_bucket(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 4, 0) AS sb""".stripMargin)
      .collect().head
    assert(r.getString(0) === "run")
    assert(r.getString(1) === "cafe")
    assert(r.getDouble(2) === 1.0)
    assert(r.getLong(3) === 7L)
    // the aggregate kernel resolves through the analyzer's
    // AggregateFunction wrapping path, not the scalar path
    val mg = spark.sql(
      "SELECT misra_gries(g, 2) AS c FROM VALUES ('a'),('a'),('b'),('a') t(g)")
      .collect().head.getSeq[String](0)
    assert(mg.contains("a"))
  }

  test("SQL-friendly input coercion: INT literals and double arrays implicitly cast") {
    GraftRegistry.register(spark)
    // z_order_n(1, 2) — INT literals, the analyzer casts to BIGINT
    // instead of a ClassCastException inside an executor task
    val r = spark.sql(
      """SELECT z_order_n(1, 1, 1) AS z, z_order_16(5, 3) AS z2,
        |  cosine_similarity(array(1.0, 2.0), array(1.0, 2.0)) AS c""".stripMargin)
      .collect().head
    assert(r.getLong(0) === 7L)
    assert(r.getLong(1) === 27L)
    // sqrt(5)*sqrt(5) != 5 exactly — self-similarity is 1 ± 1 ulp
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("GraftExtensions injects the whole table at session-build time") {
    // the config path (spark.sql.extensions) can only apply to a
    // freshly-built session — here we pin that the injector accepts
    // every builder without error; name/semantics coverage is the
    // two tests above, which exercise the SAME table
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
  }
}
