package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Streaming content deduplication — the ingestion-time half of the
  * batch dedup tier (operators.TextDedup): documents arriving on a
  * stream are keyed by normalized-content fingerprint and only the
  * first copy within the watermark horizon passes.
  *
  * `dropDuplicatesWithinWatermark` bounds state by the watermark (keys
  * older than the horizon are evicted), which is the only sane
  * contract at 100 TB — unbounded exact streaming dedup would retain
  * every fingerprint ever seen. Full-history dedup belongs to the
  * batch pass (TextDedup.contentDedup) over the accumulated corpus.
  *
  * Input: a document stream with a `text` column.
  */
object StreamDedup {

  /** Keep the first document per content fingerprint within the
    * watermark horizon. Precondition: a streaming input already
    * carries its event-time watermark. */
  def contentDedup(docsStream: DataFrame): DataFrame =
    docsStream
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")
}
