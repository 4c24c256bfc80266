package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.kmv_longs_agg
import graft.operators.Sketch

/** Streaming distinct-user cardinality monitor: the production form
  * of [[graft.operators.Sketch.kmvByType]]. Each micro-batch folds
  * its events into per-type KMV register partials; the monitor then
  * re-aggregates the ACCUMULATED partials (the KMV monoid — union-
  * then-truncate is exact, see [[graft.functions.Kmv]]) and publishes
  * per-type registers + estimate after every batch: "how many
  * distinct users has each event type seen so far?", re-answered
  * continuously at O(k) state per (type, batch) — never a distinct
  * set, never document/user content.
  *
  * Because the sketch is an exact monoid, the published state after
  * the last batch is BIT-IDENTICAL to the batch operator run over the
  * whole table — the stream≡batch pin the spec enforces (the same
  * device as [[DriftStream]]'s accumulated-PSI pin, but exact rather
  * than merely value-stable).
  *
  * [[cardinalityStage]] is the `foreachBatch` body of a caller's
  * `writeStream` over the events stream.
  *
  * Replay safety (foreachBatch is at-least-once): a replayed batch
  * overwrites ITS OWN partial directory (`statePath/batch=<id>`) and
  * its own report directory (`outDir/batch=<id>`) — every effect
  * converges; identical protocol to the drift/curation streams. */
object CardinalityStream {

  /** One monitoring micro-batch: write this batch's per-type register
    * partial, then publish the accumulated per-type sketches. */
  def cardinalityStage(batch: DataFrame, batchId: Long,
                       statePath: String, outDir: String): Unit = {
    val s = batch.sparkSession
    graft.functions.HashExpressions.register(s)
    batch.filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(kmv_longs_agg(Sketch.h52(col("user_id")), Sketch.K).as("mins"))
      .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    val cum = s.read
      .schema("event_type STRING, mins ARRAY<BIGINT>") // empty-dir safe
      .parquet(statePath)
      .select(col("event_type"), explode(col("mins")).as("h"))
      .groupBy(col("event_type"))
      .agg(kmv_longs_agg(col("h"), Sketch.K).as("mins"))
    cum.select(col("event_type") +: Sketch.estimate(col("mins")): _*)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }
}
