package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.{Transform, WikidataSource}
import graft.operators.Merge
import graft.query.Paths
import graft.sources.Artifact

/** Streaming Wikidata ingest + incremental materialized-view
  * maintenance (SURVEY §7 / B16's Structured-Streaming extension).
  *
  * The batch normalize pipeline is stateless per-row, so it runs
  * UNCHANGED over `readStream.text` of a dump directory — new dump
  * files stream in as they land. On top of it,
  * [[incrementalMediaView]] maintains the reference's Media view
  * (episodes/parent/children) incrementally: each micro-batch
  * computes view rows for the arriving entities only and upserts them
  * by id through [[graft.operators.Merge]] — the view is laid out in
  * hash buckets of the id, and each micro-batch reads and rewrites
  * ONLY the buckets its ids land in (partition-pruned MERGE, the
  * operation Delta/Iceberg automate), so the view stays fresh without
  * recomputing or rewriting history.
  */
object WikiStream {

  /** Streaming variant of WikidataSource.read + Transform.normalize:
    * one row per entity, same columns as the batch path. */
  def normalizedStream(spark: SparkSession, dumpDir: String,
                       lang: String = "en"): DataFrame =
    Transform.normalize(
      WikidataSource.entities(
        WikidataSource.fromLines(spark.readStream.text(dumpDir))),
      lang)

  /** Media-view rows for one micro-batch. No join: an arriving
    * entity carries its own claims array, so its view row derives
    * locally — the incremental path never touches the claims table
    * (the batch `Ops.mediaView` needs the join only because it reads
    * the already-split tables). */
  private def mediaRows(normalized: DataFrame): DataFrame =
    normalized.filter(col("id.tb") === "Entity").select(
      col("id"), col("label"),
      struct(lit("Claims").as("tb"), col("id.id").as("id")).as("claims"),
      col("description"),
      Paths.quantityAmount(col("claims_arr"), 1113).as("episodes"),
      Paths.thing(col("claims_arr"), 179).as("parent"),
      Paths.things(col("claims_arr"), 527).as("children"))

  /** Start the incremental view: dump files land in `dumpDir`, the
    * view materializes at `viewDir` as a [[graft.operators.Merge]]
    * bucketed target. Returns the running query;
    * `processAllAvailable()` to drain synchronously.
    *
    * Each micro-batch UPSERTs its view rows by entity id through the
    * partition-pruned merge: only buckets containing arriving ids are
    * read or rewritten — at 100 TB a micro-batch touches
    * O(batch + touched buckets), never the whole view (the earlier
    * formulation rewrote the full view per batch). Replays are
    * idempotent: re-merging the same rows upserts to the same state,
    * so a crash mid-swap converges on the checkpointed retry. */
  def incrementalMediaView(spark: SparkSession, dumpDir: String,
                           viewDir: String, checkpoint: String,
                           lang: String = "en",
                           nBuckets: Int = 16): StreamingQuery =
    normalizedStream(spark, dumpDir, lang).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one row per id within a batch (a dump can repeat an entity;
        // which copy wins is arbitrary, matching upsert semantics)
        val updates = mediaRows(batch).dropDuplicates("id")
        // our OWN marker, not Spark's _SUCCESS (absent when a cluster
        // disables marksuccessfuljobs — Merge's CompleteMarker makes
        // the same argument): depending on _SUCCESS meant every batch
        // re-bootstrapped with Overwrite on such configs, wiping the
        // accumulated view each trigger. The marker also PERSISTS
        // nBuckets, so a restart with a different caller value merges
        // with the on-disk bucketing instead of pruning the wrong
        // _mb= directories (code-review r10).
        val view = Artifact.view(viewDir)
        view.read match {
          case None =>
            Merge.writeTarget(updates, viewDir, "id", nBuckets)
            view.publish(Artifact.Meta("nBuckets" -> nBuckets))
          case Some(meta) =>
            Merge.into(batch.sparkSession, viewDir, updates, "id",
              meta("nBuckets").toInt)
        }
      }
      .start()
}
