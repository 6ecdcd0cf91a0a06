package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ridge regression by distributed normal equations, split into its
  * two scale-relevant halves:
  *
  *  - [[sums]]: the Gram matrix X'X and moment vector X'y as exact
  *    integer sufficient statistics — ONE grouped aggregation with
  *    map-side partials over integer-measure rows (g, x1, x2, y).
  *    Order-independent by construction (64-bit integer sums), so the
  *    same call runs batch OR streaming (update-mode agg state is
  *    exactly these sums, and they are ADDITIVE across micro-batches,
  *    so a counter-upsert sink needs no further state); [[solve]] on
  *    any snapshot of the maintained sums gives the batch
  *    coefficients of all data seen so far.
  *  - [[solve]]: the 3×3 ridge system (X'X + λI)β = X'y closed-form by
  *    Cramer's rule as a fixed expression tree over the (exactly
  *    double-representable) sums, written with the identical
  *    association in both engines so the solve is bit-equal before
  *    the final r6 snap.
  *
  * This is how linear models train at 100 TB: the model never sees a
  * row twice, and nothing but d² partial sums crosses the network
  * (LogisticGd is the iterative complement; q108 the single-feature
  * special case).
  */
object Ridge {

  val Lambda = 10.0

  /** det of [[a,b,c],[d,e,f],[g,h,i]] — SAME association as the SQL
    * twin [[det3s]]. */
  private def det3c(a: Column, b: Column, c: Column, d: Column, e: Column,
      f: Column, g: Column, h: Column, i: Column): Column =
    a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

  def det3s(a: String, b: String, c: String, d: String, e: String,
      f: String, g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g)" +
      s" + $c * ($d * $h - $e * $g))"

  /** The 9 sufficient-sum aggregate expressions over integer columns
    * (x1, x2, y). */
  private def sumExprs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
    sum(col("x1") * col("x1")).as("s11"),
    sum(col("x1") * col("x2")).as("s12"),
    sum(col("x2") * col("x2")).as("s22"),
    sum(col("y")).as("sy"),
    sum(col("x1") * col("y")).as("s1y"),
    sum(col("x2") * col("y")).as("s2y"))

  /** `rows` needs columns (g, x1, x2, y) with integer x/y. */
  def sums(rows: DataFrame): DataFrame =
    rows.groupBy(col("g")).agg(sumExprs.head, sumExprs.tail: _*)

  /** Closed-form ridge solve over a sufficient-sums frame (one row
    * per group; bounded — runs anywhere, including on a snapshot of
    * streaming state). λ excludes the intercept (the standard
    * convention). */
  def solve(s: DataFrame, lambda: Double = Lambda): DataFrame = {
    def d(name: String) = col(name).cast("double")
    val (nn, s1, s2) = (d("n"), d("s1"), d("s2"))
    val (a11, a12) = (d("s11") + lambda, d("s12"))
    val a22 = d("s22") + lambda
    val (sy, s1y, s2y) = (d("sy"), d("s1y"), d("s2y"))
    val dd = det3c(nn, s1, s2, s1, a11, a12, s2, a12, a22)
    val d0 = det3c(sy, s1, s2, s1y, a11, a12, s2y, a12, a22)
    val d1 = det3c(nn, sy, s2, s1, s1y, a12, s2, s2y, a22)
    val d2 = det3c(nn, s1, sy, s1, a11, s1y, s2, a12, s2y)
    s.select(col("g"), col("n"),
        Num.r(d0 / dd, 6).as("beta0"),
        Num.r(d1 / dd, 6).as("beta1"),
        Num.r(d2 / dd, 6).as("beta2"))
      .orderBy(col("g"))
  }
}
