package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.CurationPipeline

/** Streaming twin of the batch curation pipeline
  * (operators.CurationPipeline): the same scrub → quality gate →
  * dedup → split stages applied at ingestion time.
  *
  * Stages 1, 2 and 4 are stateless per-row transforms and map 1:1.
  * Exact dedup is the one stateful stage: the batch job's
  * min-doc_id-per-fingerprint becomes first-copy-wins within the
  * watermark horizon (`dropDuplicatesWithinWatermark`) — the only
  * bounded-state contract at 100 TB (see StreamDedup). On a stream
  * ordered by doc_id the two coincide exactly, which is what the
  * equivalence spec pins.
  *
  * Input: a document stream — `doc_id`, `lang`, `text`, and its
  * event time `ts`.
  */
object StreamCuration {

  /** Curate an incoming document stream. Emits the batch pipeline's
    * columns plus the event time. Precondition: a streaming input
    * already carries its event-time watermark on `ts`. */
  def curate(docsStream: DataFrame, minTokens: Int = 20): DataFrame =
    docsStream
      .select(col("doc_id"), col("lang"), col("ts"),
        CurationPipeline.scrubbed(col("text")).as("clean"))
      .withColumn("toks", size(TextFunctions.tokens(col("clean"))).cast("long"))
      .filter(col("toks") >= minTokens)
      .withColumn("fp", TextFunctions.fingerprint(col("clean")))
      .dropDuplicatesWithinWatermark("fp")
      .withColumn("split", TextFunctions.splitAssign(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("split"), col("toks"),
        col("clean"), col("ts"))
}
