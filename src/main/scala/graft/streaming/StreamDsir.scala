package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.operators.{LanguageModel, Num}
import graft.operators.Pin._

/** Deploy half of the DSIR selection loop (q125 trains/ranks offline;
  * this weighs documents at ingestion): score each arriving micro-batch
  * against a FROZEN pair of bigram LMs — the target-domain model and
  * the raw-corpus model — and emit the per-doc importance weight
  *
  *   w = exp(nll_corpus − nll_target)
  *
  * with exactly q125's arithmetic (r4 nlls, r6-snapped exp, 1e-6
  * clamp), so a streamed document's weight is bit-equal to the batch
  * weight (spec-pinned). Downstream, a sampler keeps a doc with
  * probability ∝ w, or a router shunts high-w docs to the target-
  * domain training mix.
  *
  * Shape: stateless `foreachBatch` — the model tables ride the
  * stream-static scoring joins (broadcast while the vocabulary fits an
  * executor, `broadcastModel = false` for sort-merge beyond that — the
  * LanguageModel contract). Per-doc weights are complete per batch, so
  * there is no watermark and no state store; the stream runs forever
  * with bounded resources as long as the frozen model tables do not
  * grow.
  */
object StreamDsir {

  /** Frozen model pair from offline training ([[LanguageModel.train]]
    * over the target slice and the raw pool respectively).
    * [[trainModels]] pins the six tables — they are re-joined every
    * micro-batch. */
  final case class DsirModels(
      targetCab: DataFrame, targetCa: DataFrame, targetV: DataFrame,
      corpusCab: DataFrame, corpusCa: DataFrame, corpusV: DataFrame)

  /** Train both models: `target` is the curated slice whose
    * distribution we resample toward, `corpus` the raw pool. */
  def trainModels(target: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DsirModels = {
    val (tc, ta, tv) = LanguageModel.train(target, idCol, textCol)
    val (cc, ca, cv) = LanguageModel.train(corpus, idCol, textCol)
    DsirModels(tc.pin(Wide), ta.pin(Wide), tv.pin(Wide),
      cc.pin(Wide), ca.pin(Wide), cv.pin(Wide))
  }

  /** Per-doc (doc_id, nll_target, nll_corpus, w) for one batch — the
    * exact q125 weight arithmetic. Docs with fewer than two tokens
    * have no bigrams and are absent (they carry no LM evidence). */
  def weigh(batch: DataFrame, m: DsirModels,
      broadcastModel: Boolean = true): DataFrame = {
    val nt = LanguageModel.scoreAgainst(batch, m.targetCab, m.targetCa,
        m.targetV, broadcastModel = broadcastModel)
      .select(col("doc_id"), col("nll").as("nll_target"))
    val nc = LanguageModel.scoreAgainst(batch, m.corpusCab, m.corpusCa,
        m.corpusV, broadcastModel = broadcastModel)
      .select(col("doc_id"), col("nll").as("nll_corpus"))
    nc.join(nt, Seq("doc_id"))
      .withColumn("w", greatest(
        Num.r(exp(col("nll_corpus") - col("nll_target")), 6), lit(1e-6)))
  }

  /** `foreachBatch` is AT-LEAST-ONCE: on failure/recovery a batchId
    * can be re-delivered with the same rows, so a sink that blindly
    * appends double-counts weights — which biases any downstream
    * proportional sampler. The sink MUST be idempotent per `batchId`
    * (that's why the id is passed): dedupe on it, e.g. write to a
    * batchId-keyed path/partition or upsert on (batchId, doc_id) —
    * the standard foreachBatch contract. */
  def start(docsStream: DataFrame, m: DsirModels, triggerMs: Long = 1000L)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    writer(docsStream, m, triggerMs)(sink).start()

  private[streaming] def writer(docsStream: DataFrame, m: DsirModels,
      triggerMs: Long)(
      sink: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    docsStream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batchId, weigh(batch, m))
      }
}
