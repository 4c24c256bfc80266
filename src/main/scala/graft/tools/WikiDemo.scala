package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.ingest.Load
import graft.query.{Ops, Paths}

/** CLI driver for the Wikidata ETL + query surface:
  * {{{
  *   runMain graft.tools.WikiDemo <dumpPath> <outDir> [lang] [format] [filter.surql]
  * }}}
  * Loads the dump into the four-table layout — optionally through a
  * LITERAL SurrealQL filter script (the reference's FILTER_PATH
  * workflow) — and prints the flagship "episodes" traversal over the
  * result: the end-to-end slice of SURVEY §7.2 step 4.
  */
object WikiDemo {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val outDir = args(1)
    val lang = if (args.length > 2) args(2) else "en"
    val format = if (args.length > 3) args(3) else "json"
    val mode: Load.LoadMode =
      if (args.length > 4) Load.BulkFilterScript(
        java.nio.file.Files.readString(java.nio.file.Paths.get(args(4))))
      else Load.Bulk
    val spark = LocalSession()

    // A17: live progress (records/bytes/rate) from real task metrics
    // while the dump loads — the reference's ProgressBar, minus the
    // hardcoded 112.5M total (init_progress_bar.rs:4)
    val t = graft.ingest.EtlProgress.withProgress(spark) { _ =>
      Load.run(spark, path, outDir, format = format, lang = lang,
        mode = mode)
    }
    println(s"entities=${t.entities.count()} claims_rows=${t.claims.count()} " +
      s"rejected_lines=${t.rejectedLines.fold("unknown")(_.toString)}")

    val media = Ops.mediaView(t.tables)
    println("label -> episodes (P1113):")
    media.filter(col("episodes").isNotNull)
      .select(col("label"), col("episodes"))
      .collect().foreach(r => println(s"  ${r.getString(0)} -> ${r.getDouble(1)}"))
    spark.stop()
  }
}
