package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.LogisticGd

/** Deploy half of the train→deploy quality-classifier loop
  * (operators.LogisticGd trains offline; this scores at ingestion):
  * a STATELESS per-row enrichment — the weight vector rides the plan
  * as literals, the features are the same 8-decimal-snapped
  * expressions the trainer used, so a streamed document's score is
  * bit-equal to the batch score (spec-pinned).
  *
  * Being stateless it needs no watermark, no state store, and
  * composes anywhere in an ingestion topology (before StreamCuration's
  * gate, after `TextDedup.incrementalDedup`'s verdicts).
  *
  * Input: a document stream with a `text` column.
  */
object StreamScore {

  /** Append (score, pred) from a trained weight vector to a document
    * stream. */
  def scored(docsStream: DataFrame, weights: Seq[Double]): DataFrame = {
    val z = LogisticGd.linearScore(weights)
    LogisticGd.qualityFeatures(docsStream)
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-z)))
      .withColumn("pred", when(z >= 0, 1L).otherwise(0L))
      .drop((0 until weights.length).map(j => s"x$j"): _*)
  }
}
