package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.LocalSession

/** Deterministic N× scale-up of a testdata directory — the sf1 scale
  * rehearsal's data generator. Each replica k gets disjoint key
  * ranges (offset k·10⁹, which preserves `mod 5` shard splits and
  * md5-bucket assignments statistically), and content is made
  * replica-disjoint where identity would otherwise manufacture
  * cross-replica duplicates:
  *
  *   - documents: every token of replica k > 0 carries a one-char
  *     suffix, so shingle sets are DISJOINT across replicas — each
  *     replica keeps exactly the generator's internal near-dup
  *     structure and contributes zero cross-replica pairs (pair
  *     counts scale linearly, the honest workload for slope
  *     measurement). Mean token length shifts ~+1 char, far from the
  *     [2, 12] quality gates (corpus median ≈ 4.5).
  *   - embeddings: replicas get fresh xxhash-derived pseudo-random
  *     vectors in [-1, 1) — same near-random geometry as the
  *     generator's corpus, no duplicate vectors to blow up LSH
  *     buckets.
  *   - fact tables (orders/lineitem/events/...): FK columns shift by
  *     the same offset so per-replica join structure is identical;
  *     region/nation stay fixed (they are dimension constants).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor]
  */
object ScaleUp {

  private val K = 1000000000L // replica key offset; K % 5 == 0

  /** Replica `k`'s embedding for `vecId`: `dim` fresh deterministic
    * xxhash-derived components in [-1, 1) — the replica convention
    * shared by the ANN scale and state-growth probes. */
  private[tools] def replicaEmbedding(vecId: Column, k: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(vecId * lit(64L) + i.cast("long"), k),
        lit(2000000L)).cast("double") / lit(1000000.0) - lit(1.0))
        .cast("float"))

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // when events.ts is parquet TIMESTAMP(NANOS) (older testdata
    // generations): read it as a raw long and write it back as plain
    // INT64 nanos — Tables.load's schema-adaptive read (LongType →
    // `ts DIV 1000`) then works on the scaled dir exactly as on the
    // source dir. µs-generation data ignores this flag entirely and
    // round-trips as TIMESTAMP.
    val spark = LocalSession("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    def replicate(t: String, keyCols: Seq[String],
                  tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(t)
      val reps = (0 until factor).map { k =>
        val shifted = keyCols.foldLeft(base)((d, c) =>
          d.withColumn(c, col(c) + lit(k * K)))
        tweak(shifted, k)
      }
      write(reps.reduce(_ unionByName _), t)
    }

    // dimension constants: copy as-is
    write(read("region"), "region")
    write(read("nation"), "nation")

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))

    // documents: replica-tag every token (k > 0) so shingles are
    // disjoint across replicas; recompute n_chars. The suffix is a
    // FIXED-WIDTH two-letter base-26 string: pure letters keep it
    // out of the tokenizer gates' delimiter filters and engine-
    // divergent trim semantics (the r10 '|'/NBSP data artifacts),
    // and the fixed width makes the code prefix-free — the r11
    // variable-length form let base token 'x' + suffix 'aa'
    // (replica 27) collide with base token 'xa' + suffix 'a'
    // (replica 1), re-linking documents across replicas at the 100x
    // rehearsal (ADVICE r11). With exactly two suffix chars for
    // EVERY k, base+suffix equality forces same base AND same
    // replica. Byte change vs r11 for k <= 26 is accepted; the 10x
    // and 100x replica dirs and their CORRECTNESS artifacts are
    // regenerated this round.
    def letterSuffix(k: Int): String = {
      val n = k - 1
      require(n >= 0 && n < 26 * 26, s"replica $k out of suffix range")
      s"${('a' + n / 26).toChar}${('a' + n % 26).toChar}"
    }
    replicate("documents", Seq("doc_id"), (d, k) =>
      if (k == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            t => concat(t, lit(letterSuffix(k)))), " "))
        .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: fresh deterministic vectors per replica (k > 0)
    val dim = read("embeddings")
      .select(size(col("embedding"))).first().getInt(0)
    replicate("embeddings", Seq("vec_id"), (d, k) =>
      if (k == 0) d
      else d.withColumn("embedding",
        replicaEmbedding(col("vec_id"), lit(k), dim)))

    spark.stop()
  }
}
