package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequent-items (heavy-hitters) sketch — the streaming/skew-analysis
  * sibling of Count-Min (operators.Sketches): where CMS answers point
  * queries over all items, Misra–Gries keeps the candidate heavy
  * items themselves in O(cap) state.
  *
  * Guarantee (spec-pinned): for every item x with true count f(x),
  * the summary's estimate g(x) satisfies f(x) − N/(cap+1) ≤ g(x) ≤
  * f(x); in particular every x with f(x) > N/(cap+1) is present. The
  * summaries are MERGEABLE (Agarwal et al., "Mergeable summaries",
  * PODS'12): combine counts, subtract the (cap+1)-th largest, drop
  * non-positives — so the aggregate runs as map-side partials + a
  * fixed-size merge, nothing keyed ever shuffles.
  *
  * 100 TB notes: the exact alternative (groupBy(term).count) shuffles
  * every distinct term; the sketch ships ≤ cap (term, count) pairs per
  * partition. `exactTopK` uses the sketch as pass 1 of the standard
  * two-pass exact top-k: sketch → candidate set (superset of every
  * f > N/(cap+1) item) → exact recount of candidates only. The
  * recount's filter prunes at the scan, so pass 2 shuffles only
  * candidate rows. This is also the skew-diagnosis tool: hot join keys
  * ARE heavy hitters (operators.SkewJoin consumes such a list).
  */
object HeavyHitters {

  final class MisraGries(cap: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(cap > 0)

    override def zero: Map[String, Long] = Map.empty

    override def reduce(buf: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) buf
      else buf.get(v) match {
        case Some(c) => buf.updated(v, c + 1)
        case None if buf.size < cap => buf.updated(v, 1L)
        // full and v absent: decrement every counter (v's implicit
        // counter cancels against them), drop zeros
        case None => buf.collect { case (k, c) if c > 1 => k -> (c - 1) }
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val m = b.foldLeft(a) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c)
      }
      if (m.size <= cap) m
      else {
        // subtract the (cap+1)-th largest count from everything; at
        // most cap counts can exceed it, so ≤ cap survivors
        val cut = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(cap)
        m.collect { case (k, c) if c > cut => k -> (c - cut) }
      }
    }

    override def finish(buf: Map[String, Long]): Map[String, Long] = buf

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Column form: the Misra–Gries summary (item → estimate) of a
    * string column. */
  def sketch(c: Column, cap: Int): Column =
    udaf(new MisraGries(cap), Encoders.STRING).apply(c)

  /** Driver-side candidate set from a one-row sketch aggregation. */
  def candidates(df: DataFrame, c: Column, cap: Int): Seq[String] =
    df.agg(sketch(c, cap).as("mg")).head()
      .getMap[String, Long](0).keys.toSeq.sorted

  /** Two-pass exact top-k: sketch pass finds the candidate superset,
    * recount pass counts ONLY candidates exactly and ranks
    * (count desc, item asc). Exact whenever the true top-k all exceed
    * N/(cap+1) — size `cap` ≫ k for flat distributions.
    *
    * The exactness precondition is VALIDATED at runtime, not assumed:
    * an item absent from the candidate set can have true count up to
    * ⌊N/(cap+1)⌋, so the sketch path is certainly exact iff either (a)
    * the candidates cover every row (Σ candidate counts = N — true when
    * distinct items ≤ cap), or (b) the k-th exact candidate count
    * strictly exceeds N/(cap+1). When NEITHER holds — the distribution
    * is too flat for cap-bounded state to separate a top-k at all —
    * this falls back to the direct exact aggregation instead of
    * returning the sketch's maybe-wrong ranking: one keyed shuffle of
    * (item, partial-count) pairs with map-side combine, the canonical
    * wordcount shape, linear in input and scale-safe (just without the
    * sketch's tail-pruning win). The result is exact and deterministic
    * (count desc, item asc) on EITHER path; the sketch is an
    * optimization for skewed corpora, not a correctness dependency.
    * (Through r16 the uncertified case threw instead — defensible when
    * the alternative was a silently wrong ranking, but it turned a
    * data-distribution property into a job failure; the r17 bijected
    * corpus, whose per-copy vocabularies keep term counts flat while N
    * grows, hit exactly that.)
    */
  def exactTopK(df: DataFrame, c: Column, k: Int, cap: Int): DataFrame =
    exactTopKInfo(df, c, k, cap)._1

  /** As [[exactTopK]], plus whether the sketch pass certified
    * (false = the direct-aggregation fallback produced the result) —
    * spec-pinned so both paths stay observable. */
  private[graft] def exactTopKInfo(
      df: DataFrame, c: Column, k: Int, cap: Int): (DataFrame, Boolean) = {
    val head = df.agg(sketch(c, cap).as("mg"), count(c).as("n")).head()
    val cands = head.getMap[String, Long](0).keys.toSeq.sorted
    val n = head.getLong(1)
    // the recount has <= cap rows: collect it whole, so it runs once
    // and the certified top-k is a local table
    val recount = df.filter(c.isin(cands: _*))
      .groupBy(c.as("item"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
    val rows = Pin.record(recount).collect()
    val counts = rows.map(_.getLong(1))
    val covered = counts.sum == n
    val certified = covered ||
      (counts.length >= k && counts(k - 1) * (cap + 1).toLong > n)
    if (certified) {
      (df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows.take(k).toSeq: _*), recount.schema), true)
    } else {
      System.err.println(
        s"[heavyhitters] exactTopK(k=$k, cap=$cap) sketch uncertified " +
          s"(k-th candidate count ${if (counts.length >= k) counts(k - 1).toString else "<missing>"} " +
          s"<= N/(cap+1) = ${n / (cap + 1)}, coverage ${counts.sum}/$n) — " +
          "falling back to the direct exact aggregation")
      val full = df.groupBy(c.as("item"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
        .limit(k)
      (Pin.record(full), false)
    }
  }
}
