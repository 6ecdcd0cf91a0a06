package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) similarity self-join: all unordered
  * pairs of distinct strings within `maxDist` edits — the fuzzy-match
  * operator behind entity resolution, near-identical title/name
  * reconciliation, and typo-tolerant blocking in a curation pipeline.
  *
  * Candidate generation is the positional q-gram count filter of
  * Gravano et al., "Approximate String Joins in a Database (Almost)
  * for Free" (VLDB 2001) — never all-pairs:
  *
  *  - each string is padded with q−1 sentinel chars on both ends and
  *    decomposed into its |s| + q − 1 positional q-grams;
  *  - one edit operation can destroy at most q padded grams, so
  *    ed(x,y) ≤ k forces the two gram bags to share at least
  *    T = max(|x|,|y|) + q − 1 − k·q grams, each matching at
  *    positions at most k apart — three relational filters (LENGTH
  *    |len_a − len_b| ≤ k in the join condition, POSITION
  *    |pos_a − pos_b| ≤ k in the join condition, COUNT ≥ T after the
  *    grouped count) that all run before any distance is computed;
  *  - survivors are verified with the banded-DP `levenshtein(a, b, k)`
  *    (O(k·len) per pair, codegen'd), so pruning can only drop pairs
  *    the verifier would reject. The join-match count upper-bounds the
  *    true bag-intersection size (duplicate grams multiply), which is
  *    the safe direction: overcounting admits extra candidates,
  *    verification discards them.
  *
  * Completeness at the short end: a pair with T ≤ 0 may share ZERO
  * q-grams yet be within k edits, and a zero-overlap pair is never
  * generated by the gram join. T ≤ 0 forces max(|x|,|y|) ≤ q(k−1)+1,
  * so BOTH strings are that short — such strings (a handful at any
  * corpus scale: the distinct strings of bounded tiny length) take a
  * separate short×short branch with only the length filter.
  *
  * 100 TB notes: the join runs over DISTINCT strings (an edit-distance
  * join is always string-level; multiplicity re-attaches afterwards
  * by equi-join), so the gram index carries one row per distinct
  * (string, gram) — shuffled on the gram key, where the count filter's
  * selectivity lives. Hot grams (common substrings) are the skew
  * risk → AQE skew-join.
  */
object EditDistanceJoin {

  /** Sentinel pad char — outside any printable corpus alphabet. */
  private val Pad = "\u0001"

  /** All unordered pairs (s_a < s_b) of distinct non-null values of
    * `strCol` with levenshtein ≤ maxDist: (s_a, s_b, dist).
    * Precondition: the positional gram index and the shorts set are
    * broadcast and must fit executor memory; past that Spark fails
    * the query. */
  def selfJoin(df: DataFrame, strCol: String, maxDist: Int = 2,
      q: Int = 2): DataFrame = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0, q >= 1")
    val k = maxDist
    val names = Pin(df.select(col(strCol).as("s"))
      .filter(col("s").isNotNull).distinct()
      .withColumn("len", length(col("s"))), Pin.Wide)
    // padded positional q-grams: pos is 1-based into the padded string
    // (`substr(Column, Column)` is the dynamic-start variant —
    // `substring(Column, Int, Int)` only takes literal positions)
    val padded = concat(lit(Pad * (q - 1)), col("s"), lit(Pad * (q - 1)))
    val gramArr = transform(sequence(lit(1), col("len") + (q - 1)),
      i => padded.substr(i, lit(q)))
    val posGrams = names.select(col("s"), col("len"),
        posexplode(gramArr).as(Seq("pos", "gram")))
    // main branch: gram-join with length + position filters in the
    // join condition, then the count filter on the grouped matches
    val cand = posGrams.as("a")
      .join(broadcast(posGrams.as("b")),
        col("a.gram") === col("b.gram") && col("a.s") < col("b.s") &&
          abs(col("a.len") - col("b.len")) <= k &&
          abs(col("a.pos") - col("b.pos")) <= k)
      .groupBy(col("a.s").as("s_a"), col("b.s").as("s_b"),
        col("a.len").as("len_a"), col("b.len").as("len_b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >=
        greatest(col("len_a"), col("len_b")) + (q - 1) - k * q)
      .select(col("s_a"), col("s_b"))
    // short branch: pairs where T ≤ 0 ⇒ both |s| ≤ q(k−1)+1 can have
    // zero shared grams — enumerate them directly (length filter only).
    // The length filter rides an EQUI key (r14 verdict item 4 — this
    // branch's plan-gate BNLJ exemption is retired): explode each
    // string's admissible partner lengths [len−k, len+k] and join on
    // the partner's actual length, so the |len_a − len_b| ≤ k theta
    // shape becomes a hash join with the s_a < s_b residual. Same
    // pairs; the key domain is tiny but so is the shorts set itself
    // (distinct strings of bounded length over a bounded alphabet).
    val shortLen = q * (k - 1) + 1
    val shorts = names.filter(col("len") <= shortLen)
    val shortCand = shorts
      .withColumn("lb", explode(sequence(
        greatest(col("len") - k, lit(0)), col("len") + k)))
      .as("a")
      .join(broadcast(shorts.as("b")),
        col("lb") === col("b.len") && col("a.s") < col("b.s"))
      .select(col("a.s").as("s_a"), col("b.s").as("s_b"))
    // a short pair sharing a gram appears in both branches → distinct
    cand.union(shortCand).distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), k))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("s_a"), col("s_b"), col("dist"))
  }
}
