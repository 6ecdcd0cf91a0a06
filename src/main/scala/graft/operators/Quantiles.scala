package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated per-group quantiles (quantile_cont semantics —
  * identical interpolation to Spark's `percentile` and DuckDB's
  * `quantile_cont`, spec-pinned) without buffering groups.
  *
  * Spark's built-in `percentile` aggregate materializes EVERY value of
  * a group in one task's memory and sorts it at finish — a single
  * reducer per group, an OOM at 100 TB group sizes, and measured 5 s
  * on 600 k rows × 3 groups at sf0.1 (17× this formulation).
  *
  * Shape here: (1) compress to distinct (group, value) rows with
  * counts — a parallel map-side-combined shuffle that collapses a
  * 10¹¹-row group to its value domain (prices, durations, sizes are
  * domain-bounded in practice); (2) a cumulative-count window over the
  * compressed rows gives each distinct value its global rank interval
  * [lo+1, hi] within the group; (3) each requested percentile p needs
  * ranks k=⌊(n−1)p⌋+1 and k+1, picked out by conditional aggregation —
  * no second sort, no per-group buffering anywhere.
  *
  * The remaining per-group serial step is the window over DISTINCT
  * values. The next escalation — two-pass rank over range partitions
  * with broadcast offsets — was built and measured strictly slower at
  * test scale (see the note in [[exactQuantiles]]); it applies only to
  * counts (integer sums), never to [[weightedQuantiles]], whose
  * double running sums must keep the oracle's serial ascending-v
  * addition order.
  */
object Quantiles {

  /** One row per group: n plus an interpolated quantile column per
    * requested percentile, named by `names` (parallel to `ps`).
    * Output values are raw (callers apply their own snapping).
    * NULL values of `valueCol` are ignored — the `percentile` /
    * `quantile_cont` convention — and `n` counts NON-NULL rows only.
    * Caveat vs full GROUP BY semantics: a group whose values are ALL
    * NULL emits no row here, whereas `GROUP BY g` with
    * `quantile_cont(v)` emits the group with NULL quantiles (and a
    * `count(*)` would count its rows). Callers pairing this with a
    * GROUP BY oracle must either have no all-NULL groups (true of
    * every current caller) or outer-join the group list back in. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    val g = col(groupCol)
    val v = col(valueCol).cast("double")
    // NULLs must not enter the count table: they sort first in the
    // cumulative window and would shift every rank (and poison n)
    val cnts = df.select(g.as("g"), v.as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    // Cumulative ranks via the per-group window over the COMPRESSED
    // rows. A fully parallel two-pass form (range-partition by (g, v),
    // local cumsum, broadcast per-(partition, group) offsets — the
    // GlobalOrder idiom, bit-identical here because counts are
    // integers) was BUILT AND REJECTED on measurement: the range
    // exchange's boundary-sampling job, the _pid checkpoint and the
    // extra (pid, g) exchange cost more wall than the serialized
    // window saved, on every consumer (q37 1.55 vs 1.35 s; the
    // broadcast-fence consumers pay it inside their build: q110 1.71
    // → 2.5, q116 1.35 → 2.9 at sf0.1). It remains the documented
    // escalation when one group's distinct-value domain outgrows a
    // task — flip to it when profiles show the rank stage serialized
    // on real data, not before.
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val cum = cnts
      .withColumn("hi", sum(col("c")).over(w))
      .withColumn("lo", col("hi") - col("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    // rank targets: h = (n−1)·p, lower rank k = ⌊h⌋+1 (1-indexed),
    // upper rank k+1 (only consulted when frac > 0, i.e. k < n)
    def h(p: Double): Column = (col("n") - 1) * lit(p)
    def k(p: Double): Column = floor(h(p)) + 1
    val picks = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        max(when(col("lo") < k(p) && k(p) <= col("hi"), col("v"))).as(s"_lo$i"),
        max(when(col("lo") < k(p) + 1 && k(p) + 1 <= col("hi"), col("v"))).as(s"_hi$i"))
    }
    val aggCols = max(col("n")).as("n") +: picks
    val agged = cum.groupBy(col("g"))
      .agg(aggCols.head, aggCols.tail: _*)
    val outs = ps.zipWithIndex.map { case (p, i) =>
      val hh = (col("n") - 1) * lit(p)
      val frac = hh - floor(hh)
      // Spark Percentile / DuckDB quantile_cont interpolation:
      // lower + (higher − lower) · frac; when k = n the upper pick is
      // null and frac = 0, so the lower value stands alone
      (when(frac > 0,
        col(s"_lo$i") + (col(s"_hi$i") - col(s"_lo$i")) * frac)
        .otherwise(col(s"_lo$i"))).as(names(i))
    }
    agged.select(col("g").as(groupCol) +: col("n").as("n") +: outs: _*)
  }

  /** Exact per-group WEIGHTED quantiles (lower / type-1 convention:
    * the smallest value v whose cumulative weight reaches p·W). The
    * frequency-weighted generalization neither Spark's `percentile`
    * (whose frequency argument must be integral) nor `quantile_cont`
    * exposes — the shape a training-mix pipeline needs for "median
    * document length weighted by sampling epochs".
    *
    * Same scale skeleton as [[exactQuantiles]]: compress to distinct
    * (group, value) rows with summed weights, one cumulative window
    * over the compressed domain, conditional-aggregation rank pick.
    * Per-(g,v) weight sums are snapped r6 so partial-aggregation
    * order can't perturb the cumulative sums (the window itself adds
    * in ascending-v order in every engine — deterministic given
    * identical inputs). NULL values and NULL/non-positive weights are
    * ignored; `w_total` reports the group's snapped total weight. */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[Double], names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    val cnts = df.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"),
        col(weightCol).cast("double").as("w"))
      .filter(col("v").isNotNull && col("w").isNotNull && col("w") > 0)
      .groupBy(col("g"), col("v"))
      .agg(Num.r(sum(col("w")), 6).as("w"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    // wt is the FINAL cumulative weight (max of cw), not an
    // independent unordered sum over the partition: an unordered
    // frame is free to add in any intra-partition order, which can
    // differ from the oracle's serial ascending-v running total in
    // the last ulp and flip the unsnapped `cw >= wt*p` pick when a
    // cumulative weight lands exactly on a rank boundary (likely
    // with integral weights). max(cw) is order-independent AND
    // bit-identical to the ascending-order total by construction.
    val cum = cnts
      .withColumn("cw", sum(col("w")).over(w))
      .withColumn("wt", max(col("cw")).over(Window.partitionBy(col("g"))))
    val picks = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("cw") >= col("wt") * lit(p), col("v"))).as(names(i))
    }
    val aggCols = Num.r(max(col("wt")), 6).as("w_total") +: picks
    cum.groupBy(col("g")).agg(aggCols.head, aggCols.tail: _*)
      .withColumnRenamed("g", groupCol)
  }
}
