package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Merge, Similarity}
import graft.sources.{Artifact, Dfs, LocalFs}

/** The restart-safe artifact protocol ([[Artifact]]): the meta byte
  * format, the single artifact root, and a crash-point sweep over
  * every delete/rename/publish of the IVF index's rebuild and its two
  * maintenance passes. */
class ArtifactSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.HashExpressions.register(s)
    s
  }

  private def vecs(lo: Int, hi: Int): DataFrame =
    Similarity.clusteredCorpus(spark, nClusters = 8, perCluster = 64,
        dim = 16)
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), col("embedding"))

  test("meta records keep the byte format existing layouts were written in") {
    val fp = Artifact.Fingerprint(3L, 588L, -7L)
    assert(Similarity.ivfMeta(16, 2, fp).render ===
      "version\t2\nnCells\t16\nrefineIters\t2\n" +
        "count\t3\nvecIdSum\t588\ncontentSig\t-7\n")
    // a PQ layout: the PQ shape after refineIters
    assert(Similarity.ivfMeta(16, 2, fp, Some(Similarity.Pq())).render ===
      "version\t2\nnCells\t16\nrefineIters\t2\n" +
        "nSub\t8\ncodesPerSub\t64\npqIters\t2\n" +
        "count\t3\nvecIdSum\t588\ncontentSig\t-7\n")
    val fixture = Artifact.Meta("lineage" -> "upsert-v2") ++ fp.meta("keySum")
    assert(fixture.render ===
      "lineage\tupsert-v2\ncount\t3\nkeySum\t588\ncontentSig\t-7\n")
    assert(Artifact.Meta.parse(fixture.render) === fixture)
    assert(Artifact.Fingerprint.from(fixture, "keySum") === fp)
    // the composition law: a disjoint union's fingerprint is the sum
    val a = vecs(0, 100); val b = vecs(100, 256)
    assert(Similarity.vectorFp(a) + Similarity.vectorFp(b) ===
      Similarity.vectorFp(vecs(0, 256)))
  }

  test("one artifact root: spark.graft.artifactDir holds every stable artifact") {
    val s = spark.newSession()
    def paths(dir: String) = Seq(Similarity.ivfIndexPath(s, dir),
      Similarity.ivfIndexPath(s, dir) + "_pq", Merge.fixturePath(s, dir, "cdc"))
    // unset: the per-kind temp-root defaults, keyed by md5(dir)
    val tmp = sys.props("java.io.tmpdir").stripSuffix("/")
    assert(paths("/data/sf0.01") === Seq(
      s"$tmp/graft_ivf_index/bce288cbc3ef",
      s"$tmp/graft_ivf_index/bce288cbc3ef_pq",
      s"$tmp/graft_merge_fixture/bce288cbc3ef/cdc"))
    s.conf.set("spark.graft.artifactDir", "/shared/artifacts/")
    val dirs = Seq("/data/sf0.01", "/data/sf0.1")
    dirs.foreach { d =>
      val ps = paths(d)
      ps.foreach(p => assert(p.startsWith("/shared/artifacts/graft_"), p))
      // three distinct subtrees: no artifact nests inside another
      for (p <- ps; q <- ps if p != q) assert(!q.startsWith(p + "/"), q)
    }
    assert(dirs.flatMap(paths).distinct.size === 6)
    assert(paths("/data/sf0.1")(0) ===
      "/shared/artifacts/graft_ivf_index/3aef36141d86")
  }

  test("one cell writer: partitionBy(\"cell\") appears in src/main exactly once") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
      if line.contains("partitionBy(\"cell\")")
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.size === 1, hits.mkString("\n"))
  }

  // ------------------------------------------------ crash-point sweep //

  private lazy val queries = vecs(0, 4)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq

  // through the library's reader, which names the files (a read of
  // the `_`-prefixed directory itself logs "All paths were ignored")
  private def tombstones(path: String): Set[Long] =
    Similarity.tombstoneIds(spark, path, Dfs.default)
      .fold(Set.empty[Long])(ids(_).toSet)

  /** Crash `op` before each of its mutating seam calls in turn, then
    * run one clean [[Similarity.ensureIvfIndex]] over the intended
    * corpus and check the recovered index against a reference that
    * ran `op` to completion. `prepare` builds the pre-`op` layout
    * once; every crash point starts from a copy of it. `intended`
    * gets the completed reference's path: the corpus a clean ensure
    * reuses after a completed `op`. */
  private def sweep(nCells: Int, prepare: String => Unit,
                    op: (String, Dfs) => Unit,
                    intended: String => DataFrame,
                    pq: Option[Similarity.Pq] = None): Int = {
    val template = Files.createTempDirectory("artifact_sweep")
    prepare(s"$template/idx")
    val deleted = tombstones(s"$template/idx")
    assert(deleted.nonEmpty, "the sweep needs an index holding tombstones")
    def run(): String = {
      val root = Files.createTempDirectory("artifact_run")
      copyTree(template, root)
      s"$root/idx"
    }
    def ensure(corpus: DataFrame, path: String): Boolean =
      Similarity.ensureIvfIndex(corpus, path, nCells = nCells, refineIters = 1,
        pq = pq)
    // every cell probed (and, for PQ, every candidate shortlisted), so
    // the answer is exact and must not depend on a rebuild's models
    def hits(path: String): Seq[String] = (pq match {
      case None => Similarity.searchIvfIndex(spark, path, queries, 5, nProbe = nCells)
      case Some(_) => Similarity.searchIvfPqIndex(spark, path, queries, 5,
        nProbe = nCells, shortlistFrac = 1.0)
    }).collect().map(_.toString).sorted.toSeq

    val ref = run()
    val refLog = new LoggingDfs(Dfs.default)
    op(ref, refLog)
    val corpus = intended(ref)
    assert(ensure(corpus, ref), "a completed op must leave a reusable index")
    val commitPoints = refLog.log.toSeq
    val refHits = hits(ref)
    val corpusIds = ids(corpus)

    commitPoints.indices.foreach { i =>
      val path = run()
      intercept[LoggingDfs.Crash](op(path, new LoggingDfs(Dfs.default, i + 1)))
      val reused = ensure(corpus, path)
      withClue(s"crash before ${commitPoints(i)} (reused = $reused): ") {
        assert(!Files.exists(Path.of(s"${path}_tombstones_keep")))
        // each intended row exactly once: a reuse over a torn layout
        // (half-swapped duplicates, a missing cell) cannot pass this
        val physical = ids(spark.read.parquet(s"$path/cells"))
        assert(physical === corpusIds)
        // the delete set over the rows present is unchanged: no
        // deleted vector comes back
        assert(tombstones(path).intersect(physical.toSet) ===
          deleted.intersect(physical.toSet))
        assert(hits(path) === refHits)
      }
      LocalFs.deleteRecursively(Path.of(path).getParent.toFile)
    }
    LocalFs.deleteRecursively(Path.of(ref).getParent.toFile)
    LocalFs.deleteRecursively(template.toFile)
    commitPoints.size
  }

  test("crash sweep: an ensureIvfIndex rebuild over a drifted corpus keeps its tombstones") {
    val n = sweep(nCells = 4,
      prepare = { p =>
        Similarity.ensureIvfIndex(vecs(0, 192), p, nCells = 4, refineIters = 1)
        Similarity.deleteFromIvfIndex(
          vecs(0, 192).filter(col("vec_id") % 16 === 5), p)
      },
      op = (p, fs) => assert(!Similarity.ensureIvfIndex(vecs(0, 256), p,
        nCells = 4, refineIters = 1, fs = fs)),
      intended = _ => vecs(0, 256))
    // stash, move out, delete, move back, publish
    assert(n === 5)
  }

  test("crash sweep: compactIvfSizeTiered") {
    val n = sweep(nCells = 4,
      prepare = { p =>
        Similarity.ensureIvfIndex(vecs(0, 128), p, nCells = 4, refineIters = 1)
        Similarity.appendIvfIndex(vecs(128, 192), p)
        Similarity.appendIvfIndex(vecs(192, 256), p)
        Similarity.deleteFromIvfIndex(
          vecs(0, 256).filter(col("vec_id") % 16 === 5), p)
      },
      op = (p, fs) => assert(Similarity.compactIvfSizeTiered(spark, p,
        minTierFiles = 2, minSizeBytes = 1L << 40, fs = fs).nonEmpty),
      intended = _ => vecs(0, 256))
    assert(n > 4)
  }

  test("crash sweep: compactIvfCells") {
    val n = sweep(nCells = 8,
      prepare = { p =>
        Similarity.ensureIvfIndex(vecs(0, 256), p, nCells = 8, refineIters = 1)
        // one whole cluster (its cell crosses minDeadFrac and is
        // rewritten) plus one id whose cell stays below it, so the
        // tombstone set shrinks but does not empty
        Similarity.deleteFromIvfIndex(
          vecs(0, 256).filter(col("vec_id") % 8 === 2 || col("vec_id") === 201),
          p)
      },
      op = (p, fs) => assert(Similarity.compactIvfCells(spark, p,
        minDeadFrac = 0.3, fs = fs).nonEmpty),
      // compaction reclaims rows physically; the corpus it leaves is
      // what the republished meta describes
      intended = { ref =>
        val kept = ids(spark.read.parquet(s"$ref/cells"))
        vecs(0, 256).filter(col("vec_id").isin(kept: _*))
      })
    assert(n > 4)
  }

  // the same maintenance passes over a layout built with a PQ shape:
  // appends PQ-encode, and every republished meta keeps the shape
  private val pq = Some(Similarity.Pq(nSub = 4, codesPerSub = 16, pqIters = 1))

  test("crash sweep: append + compactIvfSizeTiered on a PQ layout") {
    val n = sweep(nCells = 4,
      prepare = { p =>
        Similarity.ensureIvfIndex(vecs(0, 128), p, nCells = 4, refineIters = 1,
          pq = pq)
        Similarity.appendIvfIndex(vecs(128, 192), p)
        Similarity.appendIvfIndex(vecs(192, 256), p)
        Similarity.deleteFromIvfIndex(
          vecs(0, 256).filter(col("vec_id") % 16 === 5), p)
      },
      op = (p, fs) => assert(Similarity.compactIvfSizeTiered(spark, p,
        minTierFiles = 2, minSizeBytes = 1L << 40, fs = fs).nonEmpty),
      intended = _ => vecs(0, 256), pq = pq)
    assert(n > 4)
  }

  test("crash sweep: compactIvfCells on a PQ layout") {
    val n = sweep(nCells = 8,
      prepare = { p =>
        Similarity.ensureIvfIndex(vecs(0, 256), p, nCells = 8, refineIters = 1,
          pq = pq)
        Similarity.deleteFromIvfIndex(
          vecs(0, 256).filter(col("vec_id") % 8 === 2 || col("vec_id") === 201),
          p)
      },
      op = (p, fs) => assert(Similarity.compactIvfCells(spark, p,
        minDeadFrac = 0.3, fs = fs).nonEmpty),
      intended = { ref =>
        val kept = ids(spark.read.parquet(s"$ref/cells"))
        vecs(0, 256).filter(col("vec_id").isin(kept: _*))
      }, pq = pq)
    assert(n > 4)
  }
}
