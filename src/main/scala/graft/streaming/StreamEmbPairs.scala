package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Similarity

/** Streaming twin of `operators.Similarity.incrementalPairs`: a stream
  * of newly embedded documents emits, micro-batch by micro-batch, the
  * near-dup edges it introduces against a STATIC corpus — the
  * continuously-ingested form of q183 (and the embedding counterpart
  * of StreamIncrementalDedup, same contract and caveats).
  *
  * Shape: `foreachBatch` applies the batch operator verbatim — every
  * scale property carries over (batch broadcast vs one corpus scan, no
  * corpus shuffle; intra-batch pairs via the blocked tile join). Each
  * micro-batch sees the static corpus only; edges BETWEEN two stream
  * batches are the index-append's concern (spec-pinned), exactly as in
  * the text twin.
  */
object StreamEmbPairs {

  /** Wire each micro-batch's edge increment into `sink` as
    * (batchId, edgeFrame) with the batch operator's exact schema
    * (id_a, id_b, cos). */
  def start(embStream: DataFrame, corpus: DataFrame,
      threshold: Double = 0.35, nBlocks: Int = 8,
      triggerMs: Long = 1000L)(sink: (Long, DataFrame) => Unit): StreamingQuery =
    embStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batchId, Similarity.incrementalPairs(
          batch, corpus, threshold, nBlocks = nBlocks))
      }
      .start()
}
