package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
  * window of `w` consecutive gram hashes over the document, and keep
  * the minimum hash of each window (rightmost minimum on ties). The
  * selected set is a position-aware fingerprint with two published
  * guarantees: any shared substring of at least w+k-1 tokens yields at
  * least one shared fingerprint, and expected density is 2/(w+1).
  *
  * Where MinHash answers "are these documents similar as BAGS of
  * shingles", winnowing answers "do they share CONTIGUOUS runs" — the
  * substring-level near-dup / contamination signal (the span form of
  * q71's exact dup-span scan, cheap enough to run corpus-wide).
  *
  * Scale shape: one projection (tokens → grams → hash60) and ONE
  * doc-partitioned window pass — no self-join, no explode beyond the
  * gram list, state per partition bounded by w rows of lookahead.
  * Selection is per-document, so the shuffle key is doc_id and skew is
  * bounded by document length. The cross-document pair query downstream
  * buckets by fingerprint hash with a document-frequency guard
  * (boilerplate hashes capped), the LSH-bucket discipline.
  */
object Winnowing {

  /** Per-document winnowed fingerprints: (doc_id, fp_hash, fp_pos),
    * distinct. `k` = tokens per gram, `w` = grams per window.
    * Documents with fewer than k tokens produce no fingerprints;
    * documents with fewer than w grams contribute the minimum of what
    * they have (the s=0 truncated window — MOSS's short-doc rule). */
  def fingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    selections(docs, k, w, idCol, textCol)
      .select(col("doc_id"), explode(col("ms")).as("m"))
      .select(col("doc_id"), col("m.h").as("fp_hash"),
        col("m.p").as("fp_pos"))

  /** Per-doc (doc_id, ms) winnow selections — the shared base of both
    * emit shapes. Selection runs IN-ARRAY, per document: the whole
    * document is one row, so the sliding minimum needs no cross-row
    * machinery — the old `min(struct) OVER (PARTITION BY doc_id)` +
    * `distinct()` form paid a full shuffle+sort of every gram
    * occurrence plus a second distinct exchange for something each row
    * can compute alone (guide §2.4). The selection itself is the fused
    * O(n) monotonic-deque expression [[graft.plans.WinnowMinEntries]]
    * — the composed per-start `array_min(slice(hp, s+1, w))` chain
    * re-allocated a w-element struct array per gram through the
    * interpreted HOF path and was the hottest stage of the winnow
    * family (4.9 of q148's ~7 task-CPU-s at sf0.1); bit-equality with
    * the composed form is spec-pinned. Window starts 0..max(n−w, 0):
    * just s=0 (a truncated window) for short docs — MOSS's short-doc
    * rule; gram-less docs yield an empty selection array and emit no
    * rows on explode.
    *
    * Projection discipline: tokenize → gram strings → hashes in
    * chained selects (the TextFunctions convention — a collapsed tree
    * would re-run the regex per reference). */
  private def selections(docs: DataFrame, k: Int, w: Int,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.shinglesFromTokens(
          TextFunctions.tokens(col(textCol)), k).as("sh"))
      .select(col("doc_id"),
        transform(col("sh"), g => TextFunctions.hash60(g)).as("hs"))
      .select(col("doc_id"),
        graft.plans.WinnowFunctions.winnow_min_entries(col("hs"), w).as("ms"))

  /** Distinct (doc_id, fp_hash) pairs — [[fingerprints]] with the
    * positions dropped and the hash set deduped IN-ARRAY before the
    * explode (position-distinct selections collapse to hash-distinct
    * per doc; cross-doc dups are impossible by keying), so consumers
    * that only need the hash set skip the post-explode `distinct()`
    * exchange entirely. The distinct runs over the already-selected
    * array (density 2/(w+1)), not the gram list.
    * Precondition: one row per id, unchecked (a guard costs a job per
    * call); a duplicated id gets each of its rows' hash sets, unmerged. */
  def fingerprintHashes(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    selections(docs, k, w, idCol, textCol)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(col("ms"), m => m.getField("h")))).as("fp_hash"))

  /** Corpus fingerprint INDEX for incremental probing: distinct
    * (doc_id, fp_hash) with hashes in more than `maxDf` corpus docs
    * dropped (boilerplate guard — bounds every probe bucket). Build
    * once, persist alongside the corpus, probe every ingest batch. */
  def index(corpus: DataFrame, k: Int = 3, w: Int = 4, maxDf: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = fingerprintHashes(corpus, k, w, idCol, textCol)
      .select(col("doc_id").as("corpus_doc"), col("fp_hash"))
    fp.join(
      fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      Seq("fp_hash"))
      .select(col("corpus_doc"), col("fp_hash"))
  }

  /** Probe a batch of documents against a prebuilt corpus [[index]]:
    * per (batch doc, corpus doc) pair sharing at least `minShared`
    * surviving fingerprints, the shared count and the overlap fraction
    * of the BATCH doc's fingerprint set (containment direction — "how
    * much of the new doc is already in the corpus").
    *
    * Scale shape: the batch fingerprints once (window pass over the
    * batch only), then ONE hash-keyed equi join against the index —
    * never batch×batch or corpus×corpus; bucket width is bounded by
    * the index's df guard. */
  def probeAgainst(batch: DataFrame, corpusIndex: DataFrame,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bfp = Pin(fingerprintHashes(batch, k, w, idCol, textCol), Pin.Wide)
    val sizes = bfp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    bfp.join(corpusIndex, Seq("fp_hash"))
      .groupBy(col("doc_id"), col("corpus_doc"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(broadcast(sizes), Seq("doc_id"))
      .select(col("doc_id"), col("corpus_doc"), col("shared"),
        graft.operators.Num.r4(
          col("shared").cast("double") / col("n_fp").cast("double")).as("overlap"))
  }
}
