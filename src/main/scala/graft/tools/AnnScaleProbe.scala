package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.operators.Similarity
import graft.sources.Tables

/** Three-decade ANN scale probe: IVF build + probed search over
  * replicated embedding corpora, against the brute-force cross join
  * as the honesty baseline. What it certifies, per factor F:
  *
  *   - build cost and the post-build FILE COUNT (must equal the cell
  *     count: the r13 cell-wise repartition caps the layout at one
  *     file per cell — a raw partitionBy emits tasks × cells files,
  *     the small-file class AnnStateGrowthProbe showed taxes every
  *     search);
  *   - warm probed-search latency vs warm brute-force latency for the
  *     same query batch — the cell-pruned scan reads nProbe/nCells of
  *     the corpus, so the gap must WIDEN with N;
  *   - the scanned fraction itself (nProbe/nCells), printed so the
  *     claimed pruning is arithmetic, not adjective.
  *
  * Cell count scales as √N (power-of-two), UNCAPPED since r14: the
  * centroid model rides the codegen references array as two flat
  * arrays (`nearest_cell` kernel), so generated-code size is constant
  * in nCells. The r13 unrolled-literal formulation bounded this probe
  * at 512 cells (1024 cells × dim 64 overflowed janino's method
  * limits → InternalCompilerException, interpreted fallback); the
  * probe session now sets codegen factoryMode=CODEGEN_ONLY and
  * fallback=false, so any regression to an uncompilable expression
  * FAILS the probe loudly instead of silently degrading. Replicas
  * use ScaleUp's embedding convention (fresh xxhash components,
  * disjoint key ranges), so every decade has the same geometry as the
  * base corpus rather than duplicated points.
  *
  * Usage: runMain graft.tools.AnnScaleProbe <sfDir> [factor ...]
  * (defaults: 10 100 1000). Prints one line per factor:
  * `ann_scale factor=F n=N cells=C files=FC build_s=B
  *  search_ms=S brute_ms=BR scan_frac=0.xxx speedup=X`.
  */
object AnnScaleProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(10, 100, 1000)
    // the probe's codegen assert: CODEGEN_ONLY forbids the
    // interpreted expression path, fallback=false makes a
    // whole-stage compile failure throw — a janino overflow
    // (the r13 512-cell ceiling) fails the run instead of
    // silently degrading to interpreted evaluation
    val spark = LocalSession(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")

    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    val root = Files.createTempDirectory("ann_scale").toString

    val baseN = base.count()

    // ONE range-based plan per factor, not a factor-way unionAll —
    // a 10,000-branch union spends many minutes in ANALYSIS alone
    // (measured: the driver pinned single-threaded before the first
    // job launched). Every replica, including k = 0, takes ScaleUp's
    // xxhash component formula; a latency probe needs the base
    // corpus's GEOMETRY (near-uniform pseudo-random components), not
    // its exact bytes.
    def corpusOf(f: Int) = spark.range(0, baseN * f)
      // `/` is DOUBLE division on Columns — cast back to long (floor
      // for the non-negative range) so vec_id stays an integer key
      .select(((col("id") % baseN) +
          (col("id") / baseN).cast("long") * lit(1000000000L)).as("vec_id"),
        (col("id") / baseN).cast("int").as("k"))
      .select(col("vec_id"),
        ScaleUp.replicaEmbedding(col("vec_id"), col("k"), dim).as("embedding"))

    factors.foreach { f =>
      val corpusPath = s"$root/corpus_$f"
      corpusOf(f)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(corpusPath)
      val corpus = spark.read.parquet(corpusPath)
      val n = corpus.count()
      val nCells =
        Integer.highestOneBit(math.max(16, math.sqrt(n.toDouble).toInt))
      val idx = s"$root/idx_$f"
      val t0 = System.nanoTime()
      Similarity.ensureIvfIndex(corpus, idx, nCells, refineIters = 1)
      val buildS = (System.nanoTime() - t0) / 1e9
      def walk(x: java.io.File): Int =
        if (x.isDirectory) x.listFiles().map(walk).sum
        else if (x.getName.endsWith(".parquet")) 1 else 0
      val files = walk(new java.io.File(s"$idx/cells"))
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def timedMs(run: => Long): Long = {
        run // warm: plan + codegen + page cache
        val s0 = System.nanoTime()
        run
        (System.nanoTime() - s0) / 1000000L
      }
      val searchMs = timedMs(
        Similarity.searchIvfIndex(spark, idx, queries, 10, nProbe = 8)
          .count())
      val bruteMs = timedMs(Similarity.cosineTopK(corpus, 10, 10).count())
      val frac = 8.0 / nCells
      println(f"ann_scale factor=$f n=$n cells=$nCells files=$files " +
        f"build_s=$buildS%.1f search_ms=$searchMs brute_ms=$bruteMs " +
        f"scan_frac=$frac%.4f speedup=${bruteMs.toDouble / searchMs}%.1f")
    }
  }
}
