package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The single catalog of graft's Catalyst kernels by SQL name.
  *
  * Both registration surfaces draw from this table, so the DataFrame
  * helpers, ad-hoc `register(spark)` calls, and the
  * [[graft.GraftExtensions]] session-extension injector can never
  * disagree about what a name means:
  *
  *   - [[register]] installs every kernel into a live session's
  *     function registry (what the query builders call);
  *   - `GraftExtensions` injects the same builders at session build
  *     time (`spark.sql.extensions=graft.GraftExtensions`), the
  *     deployment path for clusters where user code never gets a
  *     chance to call register() — SQL-only clients, Thrift server,
  *     notebook gateways.
  */
object GraftRegistry {

  import HashExpressions._
  import TextFunctions.{AsciiFold, SnowballStem}

  /** Evaluate a foldable argument to an Int at plan-build time (the
    * SQL surface of the parameterized kernels: static config args are
    * literals). */
  private def staticInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got: $other")
    }
  }

  private def staticBytes(e: Expression, what: String): Array[Byte] = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"$what must be a binary literal, got: $other")
    }
  }

  private def staticFloats(e: Expression, what: String): Array[Float] = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toFloatArray()
      case other => throw new IllegalArgumentException(
        s"$what must be a float-array literal, got: $other")
    }
  }

  private def staticInts(e: Expression, what: String): Array[Int] = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toIntArray()
      case other => throw new IllegalArgumentException(
        s"$what must be an int-array literal, got: $other")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> (es => MinHashSignature(es.head, 64)),
    "simhash64" -> (es => SimHash64(es.head)),
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "srp_pack" -> (es => SrpPack(es(0), staticInt(es(1), "srp_pack words"))),
    "hamming_dist" -> (es => HammingDist(es(0), es(1))),
    "cdc_chunks" -> (es => {
      val w = staticInt(es(1), "cdc_chunks window")
      val div = staticInt(es(2), "cdc_chunks divisor")
      // fail at analysis time like z_order_n: div=0 would throw
      // ArithmeticException per ROW at execution (acc % div), and
      // w<=0 silently declares a boundary at position 0, emitting a
      // spurious empty first chunk that breaks reassembly
      require(w >= 1, s"cdc_chunks window must be >= 1, got $w")
      require(div >= 1, s"cdc_chunks divisor must be >= 1, got $div")
      CdcChunks(es(0), w, div)
    }),
    "sig_agreement" -> (es => SigAgreement(es(0), es(1))),
    "word_ngrams_3" -> (es => WordNgrams(es.head, 3)),
    "word_ngrams_2" -> (es => WordNgrams(es.head, 2)),
    "z_order_16" -> (es => ZOrder2(es(0), es(1), 16)),
    // N-ary form: per-dimension width is the widest a long key admits.
    // Arity is checked HERE, at analysis time: beyond 63 columns
    // bits = 63/N would be 0 and every z-value would silently fold to
    // a constant (no interleave, no error); 1 column is not an
    // interleave at all (Layout.writeZOrderedN requires >= 2 too)
    "z_order_n" -> (es => {
      require(es.length >= 2 && es.length <= 63,
        s"z_order_n needs 2..63 columns, got ${es.length}")
      ZOrderN(es, 63 / es.length)
    }),
    // srp_bucket(vec, bits, table) — bits/table are static literals
    "splitmix_unif" -> (es => SplitMixUnif(es.head)),
    "srp_bucket" -> (es => SrpBucket(es(0),
      staticInt(es(1), "srp_bucket bits"),
      staticInt(es(2), "srp_bucket table"))),
    // top_k_by_score(score, id, k) — bounded-heap aggregate; the
    // analyzer wraps the returned AggregateFunction
    "top_k_by_score" -> (es => TopK.TopKByScore(es(0), es(1),
      staticInt(es(2), "top_k_by_score k"))),
    // misra_gries(item, capacity) — mergeable frequent-items sketch;
    // capacity is a static literal (it sizes the aggregation buffer)
    "misra_gries" -> (es => MisraGries.MisraGriesTokens(es(0),
      staticInt(es(1), "misra_gries capacity"))),
    // bloom_might_contain_long(key, filter_bytes) — filter is a
    // plan-time binary literal (a serialized sketch BloomFilter)
    "bloom_might_contain_long" -> (es => BloomMightContainLong(es(0),
      staticBytes(es(1), "bloom_might_contain_long filter"))),
    // bloom_longs_agg(array<long>, numBits) — distributed bloom build
    // (pairs with bloom_might_contain_long; numBits a static literal)
    "bloom_longs_agg" -> (es => BloomLongsAgg(es(0),
      staticInt(es(1), "bloom_longs_agg numBits"))),
    // kmv_longs_agg(hash, k) — k-minimum-values distinct sketch;
    // k is a static literal (it sizes the aggregation buffer)
    "kmv_longs_agg" -> (es => Kmv.KmvLongsAgg(es(0),
      staticInt(es(1), "kmv_longs_agg k"))),
    // pq_codes(vec, books, nSub, k) — codebook and shape are static
    // literals (the driver-trained model baked into the scan)
    "pq_codes" -> (es => {
      val nSub = staticInt(es(2), "pq_codes nSub")
      val k = staticInt(es(3), "pq_codes k")
      val books = staticFloats(es(1), "pq_codes books")
      require(nSub > 0 && k > 0 && books.length % (nSub * k) == 0,
        s"pq_codes books length ${books.length} not divisible by nSub*k")
      PqCodes(es(0), books, nSub, k)
    }),
    // pq_residual(vec, books, nSub, k) — reconstruction distance
    // under the same static codebook (margin-derived ADC shortlist)
    "pq_residual" -> (es => {
      val nSub = staticInt(es(2), "pq_residual nSub")
      val k = staticInt(es(3), "pq_residual k")
      val books = staticFloats(es(1), "pq_residual books")
      require(nSub > 0 && k > 0 && books.length % (nSub * k) == 0,
        s"pq_residual books length ${books.length} not divisible by nSub*k")
      PqResidual(es(0), books, nSub, k)
    }),
    // nearest_cell(vec, cells, centroids) / top_cells(vec, cells,
    // centroids, nProbe) — the IVF coarse quantizer; the model is a
    // pair of static array literals (cell ids ascending + flat
    // cell-major centroid matrix) carried into codegen as reference
    // objects, so generated-code size is constant in nCells
    "nearest_cell" -> (es => {
      val cells = staticInts(es(1), "nearest_cell cells")
      val cents = staticFloats(es(2), "nearest_cell centroids")
      require(cells.length > 0 && cents.length % cells.length == 0,
        s"nearest_cell centroid matrix length ${cents.length} not " +
          s"divisible by cell count ${cells.length}")
      NearestCell(es(0), cells, cents)
    }),
    "top_cells" -> (es => {
      val cells = staticInts(es(1), "top_cells cells")
      val cents = staticFloats(es(2), "top_cells centroids")
      val nProbe = staticInt(es(3), "top_cells nProbe")
      require(cells.length > 0 && cents.length % cells.length == 0 &&
        nProbe > 0,
        s"top_cells bad model shape (cells=${cells.length}, " +
          s"cents=${cents.length}, nProbe=$nProbe)")
      TopCells(es(0), cells, cents, nProbe)
    }),
    // flatten_claims(claims) — the Wikidata claims normalize
    "flatten_claims" -> (es => FlattenClaims(es.head)),
    "ascii_fold" -> (es => AsciiFold(es.head)),
    "snowball_stem" -> (es => SnowballStem(es.head)))

  /** Install every kernel on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
