package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot
import graft.model.Schemas

/** File sources for Wikidata dumps (SURVEY §2.A A1-A7).
  *
  * The dump is newline-delimited JSON wrapped in a top-level array:
  * first line `[`, last line `]`, entity objects on interior lines with
  * trailing commas (reference: `src/utils.rs:125-129`,
  * `src/utils/init_reader.rs`). We read it as TEXT — splittable, and
  * for `.bz2` Hadoop streams + splits blocks, parallelizing what the
  * reference decompresses single-threaded — and `from_json` each line
  * as it is, with the explicit raw schema (no inference pass over a
  * >1 TB dump, no per-line cleanup pass).
  *
  * Both line forms parse in one pass: bare dump entities and the
  * `{"entities":{...}}` fixture envelope (FIXTURES.md §1.1).
  */
object WikidataSource {

  /** Supported input formats (A3 format dispatch). Spark decodes the
    * compression transparently from the file extension; the parameter
    * exists for reference parity and fails fast on unknown formats. */
  val formats: Set[String] = Set("json", "bz2")

  /** Read dump lines → one row per line: its text `value` and the
    * parsed `j` struct (raw schema). Malformed lines yield a null
    * struct and are dropped downstream (A7 skip-bad-records — the
    * reference skips silently; we keep the behavior and count them,
    * [[rejected]]). */
  def readRaw(spark: SparkSession, path: String, format: String = "json"): DataFrame = {
    require(formats.contains(format),
      s"unknown WIKIDATA_FILE_FORMAT '$format' (expected one of $formats)")
    fromLines(spark.read.text(path))
  }

  /** Parse over ANY lines DataFrame — batch or streaming
    * (`spark.readStream.text`): one per-row `from_json`, so the same
    * pipeline runs unchanged under Structured Streaming. No line
    * cleanup runs first (A5): the JSON parser stops at the object's
    * closing brace, so `{…},` and ` {…} ,` parse as `{…}`; the `[`,
    * `]` and blank lines parse to null rows, which [[entities]] drops
    * with the malformed lines. Keeps the line as `value` for
    * [[rejected]]; plans that do not read it prune it. */
  def fromLines(lines: DataFrame): DataFrame =
    lines.select(col("value"), from_json(col("value"), Schemas.rawLine).as("j"))

  /** A7: an entity this source keeps — a Q/P/L id. Lines that did not
    * parse into an entity shape, and ids outside Q/P/L (forms, senses,
    * E-entities), are skipped, never a panic (reference todo!()
    * hazard, SURVEY §7.4). */
  private def kept(e: Column): Column =
    e.getField("id").isNotNull && e.getField("id").rlike("^[QPL][0-9]+$")

  /** Rejected dump lines, as an aggregate over [[fromLines]] rows: the
    * lines that are not blank, `[` or `]` and yield no entity
    * [[entities]] keeps (malformed, or only non-Q/P/L ids). The line
    * text is looked at only for lines without a kept entity. */
  val rejected: Column = {
    val hasEntity = coalesce(
      when(col("j.entities").isNotNull,
        exists(map_values(col("j.entities")), kept))
        .otherwise(kept(col("j"))),
      lit(false))
    coalesce(sum(when(!hasEntity && !trim(col("value")).isin("", "[", "]"), 1L)),
      lit(0L)).as("rejected_lines")
  }

  /** Unwrap to one row per entity with the bare `rawEntity` schema,
    * accepting both line forms. A wrapped line may carry several
    * entities — all are kept (superset of the reference, which assumes
    * one). */
  def entities(raw: DataFrame): DataFrame = {
    val bareStruct = struct(
      col("j.type").as("type"), col("j.id").as("id"),
      col("j.datatype").as("datatype"), col("j.labels").as("labels"),
      col("j.lemmas").as("lemmas"),
      col("j.descriptions").as("descriptions"), col("j.claims").as("claims"))
    raw
      .select(explode(
        when(col("j.entities").isNotNull, map_values(col("j.entities")))
          .otherwise(array(bareStruct))).as("e"))
      .filter(kept(col("e")))
      .select(col("e.*"))
  }

  /** One-call source: path → entity rows. */
  def read(spark: SparkSession, path: String, format: String = "json"): DataFrame =
    entities(readRaw(spark, path, format))

  /** [[read]] plus the reader of its [[rejected]] line count, observed
    * on the first action over the rows (zero extra jobs); read it after
    * that action. None when that action never read the dump
    * ([[Snapshot.observeOption]]). */
  def readCounted(spark: SparkSession, path: String,
                  format: String = "json"): (DataFrame, () => Option[Long]) = {
    val (raw, count) = Snapshot.observeOption[Long](readRaw(spark, path, format), rejected)
    (entities(raw), count)
  }
}
