package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
  * Shape: [[weigh]] per micro-batch through [[MicroBatch]] — the
  * model tables ride the stream-static scoring joins, broadcast, so
  * both models must fit executor memory (the
  * [[LanguageModel.scoreAgainst]] precondition). Per-doc weights are
  * complete per batch, so there is no watermark and no state store;
  * the stream runs forever with bounded resources as long as the
  * frozen model tables do not grow.
  *
  * Input: a `documents` frame — `doc_id` and `text`.
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
  def trainModels(target: DataFrame, corpus: DataFrame): DsirModels = {
    val (tc, ta, tv) = LanguageModel.train(target)
    val (cc, ca, cv) = LanguageModel.train(corpus)
    DsirModels(tc.pin(Wide), ta.pin(Wide), tv.pin(Wide),
      cc.pin(Wide), ca.pin(Wide), cv.pin(Wide))
  }

  /** Per-doc (doc_id, nll_target, nll_corpus, w) for one batch — the
    * exact q125 weight arithmetic. Docs with fewer than two tokens
    * have no bigrams and are absent (they carry no LM evidence). */
  def weigh(batch: DataFrame, m: DsirModels): DataFrame = {
    val nt = LanguageModel.scoreAgainst(batch, m.targetCab, m.targetCa, m.targetV)
      .select(col("doc_id"), col("nll").as("nll_target"))
    val nc = LanguageModel.scoreAgainst(batch, m.corpusCab, m.corpusCa, m.corpusV)
      .select(col("doc_id"), col("nll").as("nll_corpus"))
    nc.join(nt, Seq("doc_id"))
      .withColumn("w", greatest(
        Num.r(exp(col("nll_corpus") - col("nll_target")), 6), lit(1e-6)))
  }
}
