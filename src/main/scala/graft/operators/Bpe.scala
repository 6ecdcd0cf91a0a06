package graft.operators

import graft.operators.Pin._
import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative
  * half of the tokenizer story (q21b applies a BPE-ish split; this
  * LEARNS the merges): repeatedly count adjacent token pairs over the
  * corpus, pick the most frequent (count desc, pair asc — fully
  * deterministic), and fuse its occurrences left-to-right.
  *
  * The merge application is a narrow per-row transform: the token
  * array is space-joined, occurrences of "a b" (whole-token matches,
  * via lookaround) are fused with a joiner byte that cannot appear in
  * tokens, and the string re-split. Java's regexp_replace scans
  * left-to-right non-overlapping — exactly BPE's greedy merge order.
  *
  * 100 TB notes: each merge iteration is one pair-count aggregation
  * (map-side combined, shuffles only distinct pairs) + one narrow
  * map; the driver holds just the learned (a, b) list — the same
  * driver-coordination shape as ClusterDedup's rounds. Production
  * trainers batch many disjoint merges per pass; the per-iteration
  * plan is identical, so the operator's shape holds.
  */
object Bpe {

  /** Fused-pair joiner; U+0001 never appears in corpus tokens. */
  val Joiner = "\u0001"

  /** Adjacent-pair counts of a token-array column, one row per
    * (a, b) pair with its corpus frequency. */
  def pairCounts(toks: DataFrame, tokCol: String = "toks"): DataFrame =
    toks
      // guard: sequence(1, 0) would generate DESCENDING [1, 0] for a
      // one-token row and index 0 errors under ANSI
      .filter(size(col(tokCol)) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col(tokCol)) - 1),
        i => struct(element_at(col(tokCol), i).as("a"),
          element_at(col(tokCol), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** The next merge: most frequent pair, ties by (a asc, b asc). */
  def topPair(toks: DataFrame, tokCol: String = "toks"): Option[(String, String)] =
    Pin.record(pairCounts(toks, tokCol)
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)).collect().headOption
      .map(r => (r.getString(0), r.getString(1)))

  /** Apply one learned merge to a token-array column: whole-token
    * occurrences of (a, b) fuse into a single token a⊕b, greedy
    * left-to-right (non-overlapping, BPE semantics). */
  def applyMerge(toks: Column, a: String, b: String): Column = {
    val pat = s"(?<=^| )${Pattern.quote(a)} ${Pattern.quote(b)}(?= |$$)"
    // empty-array guard: split(concat_ws(" ", []), " ") would yield [""]
    when(size(toks) < 2, toks).otherwise(
      split(regexp_replace(concat_ws(" ", toks), pat,
        java.util.regex.Matcher.quoteReplacement(a + Joiner + b)), " "))
  }

  /** Learn `numMerges` merges over the corpus; returns the merge list
    * in learned order plus the corpus with all merges applied. */
  def train(toks: DataFrame, numMerges: Int,
      tokCol: String = "toks"): (Seq[(String, String)], DataFrame) = {
    var cur = toks
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var continue = true
    while (i < numMerges && continue) {
      topPair(cur, tokCol) match {
        case Some((a, b)) =>
          merges += ((a, b))
          cur = cur.withColumn(tokCol, applyMerge(col(tokCol), a, b))
            // each iteration re-reads the previous — truncate lineage
            // so iteration N doesn't replay N-1 regex passes
            .pin(Narrow)
        case None => continue = false
      }
      i += 1
    }
    (merges.result(), cur)
  }

  /** Decode: a merged token stream maps back to the original tokens
    * (the joiner is the inverse of the merge). */
  def decode(toks: Column): Column =
    when(size(toks) === 0, toks).otherwise(
      split(regexp_replace(concat_ws(" ", toks), Joiner, " "), " "))
}
