package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextDedup

/** Streaming twin of `operators.TextDedup.incrementalDedup`: an
  * incoming document stream is deduplicated against a STATIC corpus,
  * micro-batch by micro-batch.
  *
  * Shape: `foreachBatch` applies the batch operator verbatim to each
  * micro-batch — the equivalence with the batch verdicts is by
  * construction (spec-pinned across batch boundaries), and every scale
  * property of the batch operator (cross-table LSH probe, bounded
  * corpus buckets, no corpus×corpus work) carries over unchanged.
  * This is exactly the ingestion topology a production corpus runs:
  * the stream IS the daily batch, arriving continuously.
  *
  * Contract: each micro-batch dedups against the static corpus only —
  * two near-identical docs arriving in different micro-batches both
  * report their corpus verdict independently (intra-stream dedup is
  * StreamDedup's job, composable upstream). Growing the corpus index
  * as batches commit is the sink's concern: the verdict frame carries
  * everything needed to append `new` docs to the stored index.
  */
object StreamIncrementalDedup {

  /** Wire verdicts for each micro-batch into `sink`. The sink
    * receives (batchId, verdictFrame) where the frame has the batch
    * operator's exact schema: (doc_id, status, n_matches). */
  def start(docsStream: DataFrame, corpus: DataFrame,
      n: Int = 3, threshold: Double = 0.5, maxBucket: Int = 1000,
      triggerMs: Long = 1000L)(sink: (Long, DataFrame) => Unit): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batchId, TextDedup.incrementalDedup(
          batch, corpus, n = n, threshold = threshold, maxBucket = maxBucket))
      }
      .start()
}
