package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Pin._

/** Unigram-LM tokenizer statistics (Kudo 2018, the SentencePiece
  * unigram model) — one HARD-EM round, fully declarative:
  *
  *  1. seed inventory: every substring of length ≤ `maxPiece` of every
  *     distinct corpus word, seed probability ∝ word-frequency-weighted
  *     occurrence count;
  *  2. E-step: Viterbi-segment each DISTINCT word under the seed
  *     probabilities — a per-word dynamic program expressed with the
  *     `aggregate`/`transform` higher-order functions over a
  *     (start,len)→logp map column (no UDF, no driver loop, no
  *     recursion: best[i] = min over j of best[j] + logp(piece(j,i)),
  *     carried as a (cost, path) struct whose min() gives the
  *     lexicographically-smallest path on exact cost ties);
  *  3. M-step: piece usage counts over the chosen segmentations,
  *     frequency-weighted, renormalized.
  *
  * Determinism contract (the oracle re-derives this in SQL by
  * ENUMERATING segmentations with a recursive CTE and taking the
  * (cost, path) minimum — mechanically independent of the DP): both
  * engines accumulate each path's cost in piece order, so a given
  * path's cost is bit-identical; IEEE addition is monotone, so the
  * DP's per-cell pruning agrees with global enumeration; exact cost
  * ties fall to the path-string tie-break, which prefix-extension
  * preserves (appending the same suffix never reorders two
  * non-prefix path strings).
  *
  * Scale shape: EVERYTHING here is bounded by the vocabulary, not the
  * corpus — one corpus scan builds the word-frequency table, and all
  * later joins/aggregations run per distinct word or per piece.
  * Words longer than `maxWordLen` chars are excluded from the model
  * (the SentencePiece max-sentencepiece-length discipline; documents
  * full of URLs would otherwise blow the per-word DP width).
  *
  * Input: a `documents` frame's `text` column.
  */
object UnigramLm {

  /** (word, f, n) distinct-word frequency table. */
  def wordTable(docs: DataFrame, maxWordLen: Int): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .withColumn("n", length(col("word")))
      .filter(col("n") <= maxWordLen)

  /** One hard-EM round: (piece, cnt, prob) after re-estimation,
    * ranked by (cnt desc, piece), top `topK`. Precondition: the
    * piece-probability table is broadcast and must fit executor
    * memory; past that Spark fails the query. */
  def emRound(docs: DataFrame, maxPiece: Int = 6, maxWordLen: Int = 16,
      topK: Int = 50): DataFrame = {
    val L = maxPiece
    val words = wordTable(docs, maxWordLen)

    // candidate pieces: all (start i, len l) substrings, l <= L.
    // Checkpointed — cand feeds BOTH the seed-probability aggregation
    // and the per-word piece-map join; lazy (cache) variants re-ran
    // the corpus word count + substring explode once per consumer
    // (the concurrent consumer stages race an unfilled cache). The
    // table is vocabulary-bounded (distinct words × O(len·L) pieces),
    // never corpus-sized.
    val cand = words
      .select(col("word"), col("f"), col("n"),
        explode(flatten(transform(
          sequence(lit(0), col("n") - 1),
          i => transform(
            sequence(lit(1), least(lit(L), col("n") - i)),
            l => struct(i.as("i"), l.as("l")))))).as("c"))
      .select(col("word"), col("f"), col("n"),
        col("c.i").as("i"), col("c.l").as("l"),
        col("word").substr(col("c.i") + 1, col("c.l")).as("piece"))
      .pin(Narrow)

    // seed probabilities from frequency-weighted occurrence counts
    val seed = cand.groupBy(col("piece")).agg(sum(col("f")).as("scnt"))
    val st = seed.agg(sum(col("scnt")).as("st"))
    val lpTable = seed.crossJoin(broadcast(st))
      .select(col("piece"), log(col("scnt") / col("st")).as("lp"))

    // per-word (i*32+l) -> logp map (l <= 31 by construction)
    val wm = cand.join(broadcast(lpTable), Seq("piece"))
      .groupBy(col("word"), col("f"), col("n"))
      .agg(map_from_entries(collect_list(
        struct((col("i") * 32 + col("l")).as("key"), col("lp").as("value")))).as("m"))

    // Viterbi DP: best[i] = min_j (cost, path) — min over the last-piece
    // start j in [i-L, i-1]; acc(1) is position 0.
    val dp: Column = aggregate(
      sequence(lit(1), col("n")),
      array(struct(lit(0.0).as("cost"), lit("").as("path"))),
      (acc, i) => concat(acc, array(array_min(transform(
        sequence(greatest(i - L, lit(0)), i - 1,
          lit(1)),
        j => struct(
          (element_at(acc, j + 1).getField("cost") +
            element_at(col("m"), j * 32 + (i - j))).as("cost"),
          concat(element_at(acc, j + 1).getField("path"), lit("|"),
            col("word").substr(j + 1, i - j)).as("path")))))),
      acc => element_at(acc, col("n") + 1))

    // M-step: frequency-weighted piece usage over the chosen paths
    val used = wm
      .select(col("word"), col("f"), dp.getField("path").as("path"))
      .select(col("f"),
        explode(filter(split(col("path"), "\\|"), t => t =!= "")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val mt = used.agg(sum(col("cnt")).as("t"))
    import org.apache.spark.sql.expressions.Window
    used.crossJoin(broadcast(mt))
      // the ranking window runs over the PIECE table (vocabulary-
      // bounded, post-aggregation), never the corpus
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("piece"))))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("piece"), col("cnt"),
        Num.r(col("cnt").cast("double") / col("t").cast("double"), 8).as("prob"))
      .orderBy(col("rank"))
  }
}
