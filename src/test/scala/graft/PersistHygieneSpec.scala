package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** No registry query may leave storage-memory blocks behind: in a
  * long-lived service session (or the 98-query bench sweep) a leaked
  * persist() accumulates for the life of the JVM. Operators either
  * cache inside a [[Snapshot.cached]] loan, released before it returns
  * (eager outputs), or use write-and-readback snapshots instead
  * (lazy outputs) — [[Snapshot]] is the one file allowed to persist.
  * This spec is the gate that keeps it that way.
  */
class PersistHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.HashExpressions.register(s)
    s
  }

  val sf = "/root/testdata/sf0.001"

  test("every registry query leaves zero persistent RDDs behind") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, sf).count()
      val leaked = spark.sparkContext.getPersistentRDDs
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persisted RDD(s): " +
          leaked.values.map(_.name).mkString(", "))
    }
  }

  test("a failing ETL filter releases the cached normalize") {
    val dump = java.nio.file.Files
      .createTempDirectory("hygiene_load").toString + "/dump.json"
    graft.tools.EtlBench.writeDump(dump, 50)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val boom = graft.ingest.Load.BulkFilter((entities, claims) =>
      (entities.filter(raise_error(lit("filter failed")).isNull), claims))
    val e = intercept[Exception] {
      graft.ingest.Load.run(spark, dump, s"${dump}_out", mode = boom)
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("filter failed")), e)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"Load.run left ${added.size} persisted RDD(s)")
  }

  test("persist, unpersist and Observation appear in src/main only in graft/Snapshot.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val owner = new java.io.File(root, "graft/Snapshot.scala").getCanonicalFile
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getCanonicalFile != owner
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
      token <- Seq(".persist(", "unpersist(", "Observation(") if line.contains(token)
    } yield s"${f.getPath}:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
