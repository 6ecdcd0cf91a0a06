package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.{FeatureQueries, QcQueries}

/** Streaming twin of the q101 expectation checks: the QC gate runs on
  * ingest, per micro-batch, instead of as an after-the-fact corpus
  * scan.
  *
  * Shape: each function here is the batch rule evaluation applied to
  * one micro-batch, run through [[MicroBatch]]. Violation counts are
  * pure sums, so the per-batch reports are ADDITIVE: summing them over
  * any batch decomposition equals the batch report over the union
  * (spec-pinned). That makes the sink trivial — a metrics upsert that
  * increments counters — with no streaming state at all; the stream
  * can run forever.
  *
  * The one rule that is NOT batch-decomposable is table-level
  * uniqueness (a duplicate pair split across micro-batches is
  * invisible to per-batch checks) — its per-batch row only counts
  * INTRA-batch duplicates, and the report renames it accordingly.
  * Cross-batch duplicate detection is exactly StreamDedup's watermark
  * machinery; compose it upstream when that gate is needed on ingest.
  */
object StreamQc {

  /** One micro-batch's report with the q101 schema
    * (rule, violations, checked), `doc_id_unique` renamed to
    * `doc_id_unique_intra_batch`. */
  def expectations(batch: DataFrame): DataFrame =
    QcQueries.expectationReport(batch)
      .withColumn("rule", when(col("rule") === "doc_id_unique",
        "doc_id_unique_intra_batch").otherwise(col("rule")))

  /** Streaming twin of the q102 drift gate: the micro-batch is the
    * `cur` snapshot, measured against a STATIC reference corpus
    * (yesterday's accepted data) — the production alerting shape
    * "did today's ingest shift?". The reference side of the PSI is
    * recomputed per batch from `reference`; pin that DataFrame in
    * the caller if the source is expensive. Per-batch PSI is a
    * complete answer by itself. */
  def drift(batch: DataFrame, reference: DataFrame): DataFrame =
    QcQueries.driftReport(snapshots(batch, reference))

  /** KS twin of [[drift]]: the exact numeric EDF max-gap (q123) of the
    * micro-batch against the static reference — the distribution-shape
    * alert PSI's fixed buckets can miss (a within-bucket shift moves KS
    * but not bucketed PSI). Per-batch KS is complete by itself. */
  def ksDrift(batch: DataFrame, reference: DataFrame): DataFrame =
    FeatureQueries.ksDrift(snapshots(batch, reference))

  /** The reference and the micro-batch as one frame tagged
    * `snap` ∈ {ref, cur}, the input shape of both drift reports. */
  private def snapshots(batch: DataFrame, reference: DataFrame): DataFrame =
    reference.withColumn("snap", lit("ref"))
      .unionByName(batch.withColumn("snap", lit("cur")))
}
