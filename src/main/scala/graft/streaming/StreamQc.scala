package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.queries.QcQueries

/** Streaming twin of the q101 expectation checks: the QC gate runs on
  * ingest, per micro-batch, instead of as an after-the-fact corpus
  * scan.
  *
  * Shape: `foreachBatch` applies the batch rule evaluation verbatim to
  * each micro-batch. Violation counts are pure sums, so the per-batch
  * reports are ADDITIVE: summing them over any batch decomposition
  * equals the batch report over the union (spec-pinned). That makes
  * the sink trivial — a metrics upsert that increments counters —
  * with no streaming state at all; the stream can run forever.
  *
  * The one rule that is NOT batch-decomposable is table-level
  * uniqueness (a duplicate pair split across micro-batches is
  * invisible to per-batch checks) — its per-batch row only counts
  * INTRA-batch duplicates, and the report renames it accordingly.
  * Cross-batch duplicate detection is exactly StreamDedup's watermark
  * machinery; compose it upstream when that gate is needed on ingest.
  */
object StreamQc {

  /** Per micro-batch: (batchId, report) where report has the q101
    * schema (rule, violations, checked) with `doc_id_unique` renamed
    * to `doc_id_unique_intra_batch`. */
  def start(docsStream: DataFrame, triggerMs: Long = 1000L)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        sink(batchId, QcQueries.expectationReport(batch)
          .withColumn("rule", when(col("rule") === "doc_id_unique",
            "doc_id_unique_intra_batch").otherwise(col("rule"))))
      }
      .start()

  /** Streaming twin of the q102 drift gate: each micro-batch is the
    * `cur` snapshot, measured against a STATIC reference corpus
    * (yesterday's accepted data) — the production alerting shape
    * "did today's ingest shift?". The reference side of the PSI is
    * recomputed per batch from `reference`; pin that DataFrame in
    * the caller if the source is expensive. Stateless — no watermark
    * or state store; per-batch PSI is a complete answer by itself. */
  def driftStart(docsStream: DataFrame, reference: DataFrame,
      triggerMs: Long = 1000L)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val tagged = reference.withColumn("snap", lit("ref"))
          .unionByName(batch.withColumn("snap", lit("cur")))
        sink(batchId, QcQueries.driftReport(tagged))
      }
      .start()

  /** KS twin of [[driftStart]]: per micro-batch, the exact numeric
    * EDF max-gap (q123) of the batch against the static reference —
    * the distribution-shape alert PSI's fixed buckets can miss (a
    * within-bucket shift moves KS but not bucketed PSI). Same
    * stateless foreachBatch shape; per-batch KS is complete by
    * itself. */
  def ksStart(docsStream: DataFrame, reference: DataFrame,
      triggerMs: Long = 1000L)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val tagged = reference.withColumn("snap", lit("ref"))
          .unionByName(batch.withColumn("snap", lit("cur")))
        sink(batchId, graft.queries.FeatureQueries.ksDrift(tagged))
      }
      .start()
}
