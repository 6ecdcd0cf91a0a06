package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Streaming twin of the heavy-hitters operator
  * (operators.HeavyHitters): trending terms over event-time windows.
  *
  * The split mirrors how Structured Streaming wants rank queries
  * expressed: the per-(window, term) COUNT is the incremental part —
  * a watermarked streaming aggregation with partial (map-side)
  * combine, bounded state per open window — while the per-window
  * TOP-K rank is not incrementally maintainable and runs over each
  * emitted snapshot (`topK`, a plain batch transform usable inside
  * foreachBatch or on the sink table).
  *
  * 100 TB notes: state is (open windows × distinct terms in flight),
  * evicted at the watermark; for corpora whose in-flight vocabulary
  * outgrows state, the Misra–Gries aggregator (HeavyHitters.sketch)
  * drops in as the same groupBy(window) aggregation with O(cap)
  * state per window.
  *
  * Input: a document stream — `text` and its event time `ts`.
  */
object StreamTrending {

  /** Incremental per-(window, term) counts of a document stream.
    * Precondition: a streaming input already carries its event-time
    * watermark on `ts`. */
  def termCounts(docsStream: DataFrame,
      windowLen: String = "10 minutes"): DataFrame =
    docsStream
      .select(col("ts"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), windowLen), col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-window top-k by (count desc, term asc) — the non-incremental
    * rank step, applied per emitted batch/snapshot. */
  def topK(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("window"))
      .orderBy(col("cnt").desc, col("term"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("window"), col("rank"), col("term"), col("cnt"))
  }
}
