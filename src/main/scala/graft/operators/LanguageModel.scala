package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Pin._

/** Corpus bigram language model with add-α (Laplace) smoothing, and
  * per-document cross-entropy scoring — the CCNet/Wikipedia-LM quality
  * signal: documents whose token transitions are improbable under a
  * model trained on the corpus itself (gibberish, boilerplate tables,
  * wrong-language text) score a high negative log-likelihood and are
  * filtered or bucketed by it.
  *
  *   P(b | a) = (c(a,b) + α) / (c(a,·) + α·V)
  *   nll(doc) = −(1/|bigrams|) Σ ln P(b | a)
  *
  * Scale design (100 TB): the regex tokenize is the expensive per-row
  * step, so each entry point materializes ONE pinned (doc_id, ts)
  * token table per scored/trained frame and derives everything —
  * bigram pairs, vocabulary size, model counts — from it. Training is
  * one (a, b)-keyed aggregation; scoring joins document bigrams
  * against the model on the same (a, b) key — the model table is
  * Zipf-shaped but far smaller than the corpus, and the history-count
  * table c(a,·) (vocabulary-sized) broadcasts. The vocabulary size V
  * is a single scalar carried as a broadcast one-row frame, never a
  * driver collect of data rows.
  */
object LanguageModel {

  /** Pinned (doc_id, ts) token table — the ONE tokenize pass every
    * derivation below reads. Checkpoint (per-invocation state, cleared
    * with the query) rather than a plan-keyed cache: a lazy cache is
    * raced by concurrently submitted consumer stages, and its warm
    * blocks would leak into re-invocations. Every consumer reads the
    * full `ts` column, so the checkpoint's full-row reads lose nothing
    * to columnar pruning. */
  def tokenTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("ts"))
      .pin(Narrow)

  /** (doc_id, a, b) adjacent-token pairs from a token table; documents
    * with fewer than two tokens contribute nothing. */
  private def bigramsFromTs(ts: DataFrame): DataFrame =
    ts
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("a"),
            element_at(col("ts"), i + 1).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** (doc_id, a, b) adjacent-token pairs; tokenizes in a projection
    * below the explode (the TextFunctions convention — an inline tree
    * would re-split per pair). Single-consumer convenience — multi-
    * consumer callers should go through [[tokenTable]]. */
  def docBigrams(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bigramsFromTs(docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("ts")))

  /** V counts distinct TOKENS (single-token docs contribute vocabulary
    * but no bigram, so it cannot be derived from the bigram table). */
  private def vocabFromTs(ts: DataFrame): DataFrame =
    ts.select(explode(col("ts")).as("t"))
      .agg(countDistinct(col("t")).as("v"))

  /** Model tables: bigram counts c(a,b), history counts c(a,·), and a
    * one-row vocabulary-size frame. One tokenize pass: bigrams AND the
    * vocabulary count both derive from the pinned token table. */
  def train(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame, DataFrame) =
    trainFromTokens(tokenTable(docs, idCol, textCol))

  /** [[train]] over a (doc_id, ts) token table — lets a caller that
    * already pinned the corpus tokens (e.g. DSIR training its target
    * model on a slice of the very frame it scores) derive the slice
    * with a join instead of a second regex tokenize pass. */
  def trainFromTokens(ts: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // cab feeds ca AND the caller's scoring join(s): materialize the
    // model-sized table once, or every consumer re-runs the explode +
    // (a,b) aggregation from the token table
    val cab = bigramsFromTs(ts).groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cab"))
      .pin(Narrow)
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    (cab, ca, vocabFromTs(ts))
  }

  /** Per-document (n_bigrams, nll) under the corpus model. The nll is
    * Num.r4-snapped (ln is libm — the q47 convention).
    *
    * `broadcastModel = true` (default) broadcasts the history-count
    * table c(a,·) — right whenever the vocabulary fits an executor. At
    * web-corpus scale (10⁸+ distinct tokens) set it false: the scoring
    * join then sort-merges on the `a` key (same result), instead of
    * shipping a vocabulary-sized table to every executor. */
  def scoreDocs(docs: DataFrame, alpha: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastModel: Boolean = true): DataFrame =
    scoreDocsFromTokens(tokenTable(docs, idCol, textCol), alpha,
      broadcastModel)

  /** [[scoreDocs]] over an ALREADY-PINNED (doc_id, ts) token table
    * from [[tokenTable]] — the shared-scan entry point for pipelines
    * (DSIR) that score the same frame under several models. */
  def scoreDocsFromTokens(ts: DataFrame, alpha: Double = 1.0,
      broadcastModel: Boolean = true): DataFrame = {
    // The bigram explode runs once per consumer (the model aggregation
    // and the scoring probe) — a shared explicit-count (a, b)
    // repartition was TRIED to merge them through exchange reuse and
    // REJECTED: column pruning projects different column sets below
    // the two consumers' exchanges ((a, b) vs (doc_id, a, b)), reuse
    // never fires, and the raw-bigram shuffle is paid per consumer on
    // top of the explodes (q120 CPU 10.6 → 25.7 s, q125 11.8 → 30.1
    // when tried).
    val bg = bigramsFromTs(ts)
    // cab deliberately NOT checkpointed here (contrast KneserNey's 4
    // consumers): it feeds only ca + the scoring join over the PINNED
    // token table, and the eager cut measurably flipped the scoring
    // join's strategy for the worse (q120 +0.35 s, q122 +1.0 s when
    // tried)
    val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val caJ = if (broadcastModel) broadcast(ca) else ca
    val lp: Column =
      log((col("cab") + lit(alpha)) / (col("ca") + lit(alpha) * col("v")))
    bg
      .join(cab, Seq("a", "b"))
      .join(caJ, Seq("a"))
      .crossJoin(broadcast(vocabFromTs(ts)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r4(-sum(lp) / count(lit(1))).as("nll"))
  }

  /** Per-document (n_bigrams, nll) under an interpolated Kneser–Ney
    * bigram model trained on these very docs (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form with a fixed discount D):
    *
    *   P(b|a) = max(c(a,b) − D, 0)/c(a,·)
    *          + (D · N1+(a·)/c(a,·)) · (N1+(·b)/NT)
    *
    * where N1+(a·) = distinct continuations of history a, N1+(·b) =
    * distinct histories preceding b (the CONTINUATION count that makes
    * KN beat add-α: a word seen often but only after one history gets
    * low novel-context mass), NT = distinct bigram types. Self-scoring
    * keeps every scored bigram in the model (c(a,b) ≥ 1, c(a,·) ≥ 1),
    * so the formula needs no unseen-event backoff here.
    *
    * Scale shape = [[scoreDocs]]: one pinned token table feeds the
    * counting aggregations and the scoring join; history/continuation
    * tables are vocabulary-sized a-/b-keyed joins (broadcast by
    * default, `broadcastModel=false` sort-merges at web-corpus
    * vocabulary); NT is a one-row frame. */
  def scoreDocsKneserNey(docs: DataFrame, discount: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastModel: Boolean = true): DataFrame = {
    val ts = tokenTable(docs, idCol, textCol)
    val bg = bigramsFromTs(ts)
    // cab feeds FOUR consumers (ha, hb, nt, the scoring join) —
    // materialize the model-sized table once instead of four
    // re-aggregations of the pinned token table
    val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .pin(Narrow)
    val ha = cab.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1a"))
    val hb = cab.groupBy(col("b")).agg(count(lit(1)).as("n1b"))
    val nt = cab.agg(count(lit(1)).as("nt"))
    val haJ = if (broadcastModel) broadcast(ha) else ha
    val hbJ = if (broadcastModel) broadcast(hb) else hb
    val p: Column =
      greatest(col("cab") - lit(discount), lit(0.0)) / col("ca") +
        lit(discount) * col("n1a") / col("ca") *
          (col("n1b").cast("double") / col("nt").cast("double"))
    bg
      .join(cab, Seq("a", "b"))
      .join(haJ, Seq("a"))
      .join(hbJ, Seq("b"))
      .crossJoin(broadcast(nt))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r4(-sum(log(p)) / count(lit(1))).as("nll"))
  }

  /** Per-document (n_bigrams, nll) of `docs` under an EXTERNAL model
    * `(cab, ca, vocab)` from [[train]] — the cross-domain scorer DSIR
    * needs (score the raw corpus under a target-domain LM). Unlike
    * [[scoreDocs]] — where the model is trained on the very docs being
    * scored, so every bigram is present — a foreign corpus hits
    * bigrams the model never saw. The add-α estimate already defines
    * their mass: c(a,b)=0 → α/(c(a,·)+αV), and an unseen history
    * c(a,·)=0 backs off to the uniform α/(αV) = 1/V — so the joins
    * become LEFT joins with zero-coalesced counts, nothing else
    * changes.
    *
    * Scale shape is scoreDocs' — EXCEPT that here `broadcastModel`
    * hints BOTH model joins, including the full bigram table `cab`.
    * `cab` grows with the distinct-bigram count (quadratic-ish in
    * vocabulary), so gate the flag on the BIGRAM-table size fitting an
    * executor, not the vocabulary: a target-domain model whose vocab
    * broadcasts fine can still blow the limit through `cab`. Set
    * `broadcastModel=false` to sort-merge both joins (identical
    * rows); AQE still converts a genuinely small `cab` to a broadcast
    * at runtime. */
  def scoreAgainst(docs: DataFrame, cab: DataFrame, ca: DataFrame,
      vocab: DataFrame, alpha: Double = 1.0, idCol: String = "doc_id",
      textCol: String = "text", broadcastModel: Boolean = true): DataFrame =
    scoreAgainstFromTokens(
      docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("ts")),
      cab, ca, vocab, alpha, broadcastModel)

  /** [[scoreAgainst]] over a (doc_id, ts) token table — pass a PINNED
    * table from [[tokenTable]] to share the tokenize pass with other
    * scorers of the same frame (no pin needed when this is the only
    * consumer: the bigram explode reads the table once). */
  def scoreAgainstFromTokens(ts: DataFrame, cab: DataFrame, ca: DataFrame,
      vocab: DataFrame, alpha: Double = 1.0,
      broadcastModel: Boolean = true): DataFrame = {
    val bg = bigramsFromTs(ts)
    val caJ = if (broadcastModel) broadcast(ca) else ca
    val cabJ = if (broadcastModel) broadcast(cab) else cab
    val lp: Column =
      log((coalesce(col("cab"), lit(0L)) + lit(alpha)) /
        (coalesce(col("ca"), lit(0L)) + lit(alpha) * col("v")))
    bg
      .join(cabJ, Seq("a", "b"), "left")
      .join(caJ, Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r4(-sum(lp) / count(lit(1))).as("nll"))
  }
}
