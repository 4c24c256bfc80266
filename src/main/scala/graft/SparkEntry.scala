package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextFunctions
import graft.operators.{Bpe, Corpus, Dedup, Fuzzy, Graph, Layout, Merge, Geo, Multimodal, Profile, Similarity, Sketch, Skew, TextAnalysis, Unigram, WordPiece}
import graft.queries.{Extended, Relational, Temporal, TpchSupply}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one name per implemented operator (SURVEY.md §2) to a
  * DataFrame program over the parquet tables in a scale-factor dir;
  * `oracleSql` holds the DuckDB-equivalent SQL the driver hash-compares
  * against. Column names/aliases match exactly on both sides.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 pricing summary) on sf0.001; the driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Extended.queries ++ TpchSupply.queries ++
      Temporal.queries ++
      TextAnalysis.queries ++ Dedup.queries ++ Similarity.queries ++
      Multimodal.queries ++ TextFunctions.queries ++ Skew.queries ++
      Merge.queries ++ Corpus.queries ++ Layout.queries ++ Graph.queries ++
      Fuzzy.queries ++ Bpe.queries ++ Unigram.queries ++ WordPiece.queries ++ Geo.queries ++ Profile.queries ++ Sketch.queries ++
      graft.query.Script.queries

  /** The registry names a subset run selects: `spec` (by default the
    * `SPARK_GRAFT_QUERIES` env var, comma-separated) parsed and checked
    * against [[queries]]. None means the whole registry. Shared by
    * [[Bench]] and [[Verify]]; fails listing every unknown name, so a
    * typo cannot silently run an empty or partial subset. */
  def selection(spec: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES"))
      : Option[Set[String]] = spec.map { s =>
    val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_QUERIES: unknown queries ${unknown.toSeq.sorted.mkString(", ")}")
    require(names.nonEmpty, "SPARK_GRAFT_QUERIES selects no queries")
    names
  }

  def oracleSql: Map[String, String] =
    Relational.oracle ++ Extended.oracle ++ TpchSupply.oracle ++
      Temporal.oracle ++
      TextAnalysis.oracle ++ Dedup.oracle ++ Similarity.oracle ++
      Multimodal.oracle ++ TextFunctions.oracle ++ Skew.oracle ++
      Merge.oracle ++ Corpus.oracle ++ Layout.oracle ++ Graph.oracle ++
      Fuzzy.oracle ++ Bpe.oracle ++ Unigram.oracle ++ WordPiece.oracle ++ Geo.oracle ++ Profile.oracle ++ Sketch.oracle ++
      graft.query.Script.oracle
}
