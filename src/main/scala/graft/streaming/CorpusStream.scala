package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Snapshot
import graft.operators.Dedup

/** Online corpus deduplication: documents stream in, each micro-batch
  * is near-dup-filtered against EVERYTHING ingested before it, and the
  * survivors both land in the output corpus and fold into the
  * persisted LSH index ([[Dedup.initLshIndex]] layout) so the next
  * batch checks against them too.
  *
  * This is the streaming form of "dedup a daily shard against the
  * corpus": state is the bucketed band index (~16 B × bands per doc),
  * NOT the corpus text, so per-batch cost is O(batch + candidate
  * pairs) and the whole pipeline never recomputes history.
  *
  * Restart/replay safety (foreachBatch is at-least-once, so every
  * effect must be idempotent):
  *   - the index lives at an explicit `indexDir` (external tables —
  *     [[Dedup.ensureIndexRegistered]] re-creates the catalog entries
  *     after a process restart, so the accumulated index is never
  *     reinitialized);
  *   - the keep-set is DETERMINISTIC across replays: probing excludes
  *     same-id matches, so a batch whose bands already landed still
  *     computes the same survivors;
  *   - the corpus write overwrites a per-batchId directory (same
  *     batch ⇒ same directory ⇒ same rows), and the index append
  *     anti-joins ids already present — replaying any prefix of
  *     (write corpus, append index, commit checkpoint) converges.
  * Within a batch, near-dup clusters keep their smallest doc_id;
  * across batches, earlier-ingested docs win.
  */
object CorpusStream {

  /** One micro-batch of the streaming curation pipeline — the stream
    * twin of [[graft.operators.Corpus]]'s repetition / PII /
    * boilerplate stages. Exposed (not private) so the spec can drive
    * batches deterministically; [[curationStream]] wires it to
    * foreachBatch.
    *
    * Per-document signals (repetition, PII audit) are batch-local, so
    * they equal the batch operators verbatim. Boilerplate needs the
    * CORPUS-level shingle doc-frequency: the stream keeps it as
    * per-batch docfreq partials at `statePath/batch=<id>` — a doc's
    * shingles live in exactly one batch, so the summed partials equal
    * the batch-mode docfreq over everything ingested so far, and each
    * batch is scored against that accumulated set (early docs see
    * less state; that is the inherent streaming semantics, same as a
    * growing LSH index). Replay safety: a replayed batch overwrites
    * ITS OWN partial and output directory, so every effect converges
    * (same at-least-once protocol as [[onlineDedup]]). */
  def curationStage(batch: DataFrame, batchId: Long, statePath: String,
                    outDir: String, minDocs: Int = 5): Unit = {
    import graft.operators.Corpus
    val s = batch.sparkSession
    // the shingle set feeds the docfreq partial AND the scoring join —
    // cache for the stage's two actions, release before returning
    Snapshot.cached(Corpus.shingleSet(batch, col("text"))) { sh =>
      sh.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("df_part"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
      val boiler = s.read
        .schema("sh STRING, df_part BIGINT") // pinned: empty-dir safe
        .parquet(s"$statePath")
        .groupBy(col("sh")).agg(sum(col("df_part")).as("docfreq"))
        .filter(col("docfreq") >= minDocs)
      // anchor on piiAudit — it emits one row per INPUT doc. The
      // signal frames are sparse (a 1-token doc has no bigrams, a
      // <3-token doc no shingles), so inner joins silently dropped
      // short documents from the curated output entirely
      // (code-review r10); left joins keep every doc, with NULL for
      // the metrics that genuinely don't exist at that length.
      Corpus.piiAudit(batch, col("text"))
        .join(Corpus.repetitionSignals(batch, col("text")),
          Seq("doc_id"), "left")
        .join(Corpus.boilerplateScore(sh, boiler), Seq("doc_id"), "left")
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Start the curation stream: every micro-batch runs
    * [[curationStage]] — repetition + PII per doc, boilerplate vs the
    * accumulated docfreq state. */
  def curationStream(docsStream: DataFrame, statePath: String,
                     outDir: String, checkpoint: String,
                     minDocs: Int = 5): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationStage(batch, batchId, statePath, outDir, minDocs)
      }
      .start()

  /** Start the online-dedup stream over `docsStream` (doc_id, text).
    * Survivors append to `outDir`; the index lives at `indexDir`
    * under the `table` catalog names. */
  def onlineDedup(docsStream: DataFrame, table: String, indexDir: String,
                  outDir: String, checkpoint: String,
                  minEst: Double = 0.5): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // within-batch first: minhashPairs emits doc_a < doc_b, so
        // dropping every doc_b keeps exactly the cluster minima
        val intra = Dedup.minhashPairs(batch, minEst = minEst)
          .select(col("doc_b").as("doc_id")).distinct()
        Snapshot.cached(
            batch.join(intra, Seq("doc_id"), "left_anti")) { batchKept =>
          val keep =
            if (!Dedup.ensureIndexRegistered(s, table, indexDir)) batchKept
            else {
              // same-id matches are excluded inside dedupAgainstIndex,
              // so a replayed batch (own bands already indexed) still
              // derives the same keep-set
              val dupOfPrior = Dedup
                .dedupAgainstIndex(s, batchKept, table, minEst)
                .select(col("new_id").as("doc_id")).distinct()
              batchKept.join(dupOfPrior, Seq("doc_id"), "left_anti")
            }
          Snapshot.cached(keep) { k =>
            // idempotent corpus write: same batch ⇒ same directory
            k.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
            if (!s.catalog.tableExists(s"${table}_bands"))
              Dedup.initLshIndex(k, table, location = Some(indexDir))
            else {
              // index append guarded by ids already present
              val seen = s.table(s"${table}_sigs").select(col("doc_id"))
              Dedup.appendToLshIndex(
                k.join(seen, Seq("doc_id"), "left_anti"), table)
            }
          }
        }
      }
      .start()
}
