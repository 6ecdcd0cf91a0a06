package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.{Pin, Winnowing}

/** Streaming twin of `operators.Winnowing.probeAgainst`: each
  * micro-batch of an incoming document stream is fingerprinted and
  * probed against a STATIC corpus fingerprint index — the
  * substring-level (contiguous-run) complement to
  * [[StreamIncrementalDedup]]'s bag-of-shingles verdicts, on the same
  * ingestion topology.
  *
  * The index is built ONCE (`Winnowing.index`) and reused by every
  * micro-batch as a stream-static join side; the batch operator is
  * applied verbatim in `foreachBatch`, so streamed matches equal the
  * batch operator's by construction (spec-pinned across batch
  * boundaries) and the df-guarded bucket bound carries over. Stateless:
  * no watermark, no state store — cross-batch novelty accumulation is
  * the sink's concern (append matched pairs; `new` docs' fingerprints
  * can extend the stored index between runs).
  */
object StreamWinnow {

  /** Wire per-batch probe matches into `sink`: (batchId, frame) with
    * the batch operator's exact schema
    * (doc_id, corpus_doc, shared, overlap). */
  def start(docsStream: DataFrame, corpusIndex: DataFrame,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      triggerMs: Long = 1000L)(sink: (Long, DataFrame) => Unit): StreamingQuery =
    writer(docsStream, corpusIndex, k, w, minShared, triggerMs)(sink).start()

  private[streaming] def writer(docsStream: DataFrame, corpusIndex: DataFrame,
      k: Int, w: Int, minShared: Int, triggerMs: Long)(
      sink: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pin.scope(sink(batchId, Winnowing.probeAgainst(
          batch, corpusIndex, k = k, w = w, minShared = minShared)))
      }
}
