package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed binary logistic regression by full-batch gradient
  * descent — the corpus quality-classifier trainer (the CCNet/FineWeb
  * recipe: label a seed set, train a cheap linear classifier on
  * document features, filter the whole corpus by its score).
  *
  * Round r:  p_i = σ(w·x_i),  g = (1/n)·Σ (p_i − y_i)·x_i,
  *           w ← snap8(w − η·g)
  *
  * Determinism contract (the operators.KMeans / q81 unrolled-oracle
  * convention): features arrive 8-decimal-snapped, each round's
  * weights snap to 8 decimals before feeding the next round, and the
  * dot product is a fixed left-to-right expression tree — so an
  * unrolled SQL twin computes bit-equal rounds from identical inputs
  * (the snap swallows summation-order and libm-ulp noise, which is
  * orders of magnitude below 1e-8 for corpus-scale averages).
  *
  * Scale: one aggregation job per round with map-side partials and d
  * doubles of aggregate state; the weight vector is bounded model
  * state on the driver (d ≪ data), exactly like KMeans' centroids.
  * The feature frame is pinned once — rounds rescan memory, never the
  * corpus.
  */
object LogisticGd {

  /** JVM twin of Num.r(c, 8) for driver-side model-state updates —
    * the same two-stage floor snap, bit-identical. */
  def snap8(x: Double): Double = {
    val s = math.floor(x * 1e12 + 0.5) / 1e12
    math.floor(s * 1e8 + 0.5) / 1e8
  }

  /** σ(w·x) linear score as a fixed left-to-right expression over
    * columns x0..x{d-1} — the exact tree the SQL twin writes. */
  def linearScore(w: Seq[Double]): Column =
    w.zipWithIndex.map { case (wj, j) => lit(wj) * col(s"x$j") }
      .reduce(_ + _)

  /** The standard document-quality feature set x0..x4 appended to
    * `df` (intercept, capped token count, alpha ratio, stopword
    * ratio, scaled mean word length) — 8-decimal-snapped so any
    * SQL twin trains on bit-identical inputs. Shared by the batch
    * trainer queries and the streaming scoring twin. Reads `df`'s
    * `text` column (a `documents` frame or stream). */
  def qualityFeatures(df: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val t = col("text")
    val tc = TF.tokenCount(t).cast("double")
    df
      .withColumn("x0", lit(1.0))
      .withColumn("x1", Num.r(least(tc / 100, lit(1.0)), 8))
      .withColumn("x2", Num.r(TF.alphaRatio(t), 8))
      .withColumn("x3", Num.r(TF.stopwordRatio(t), 8))
      .withColumn("x4", Num.r(TF.meanWordLen(t) / 10, 8))
  }

  /** Feature count of [[qualityFeatures]]. */
  val QualityDim = 5

  /** Train on feature columns x0..x{d-1} (include a lit(1.0)
    * intercept column; pre-snap real-valued features to 8 decimals
    * for cross-engine parity) against a {0.0, 1.0} label column. */
  def fit(feat: DataFrame, d: Int, yCol: String = "y",
      iters: Int = 4, lr: Double = 2.0): Array[Double] = Pin.scope {
    val f = Pin(feat, Pin.Wide)
    var w = Array.fill(d)(0.0)
    for (_ <- 1 to iters) {
      val z = linearScore(w.toSeq)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val gs = (0 until d).map(j => avg((p - col(yCol)) * col(s"x$j")).as(s"g$j"))
      val row = f.agg(gs.head, gs.tail: _*).head()
      w = Array.tabulate(d)(j => snap8(w(j) - lr * row.getDouble(j)))
    }
    w
  }
}
