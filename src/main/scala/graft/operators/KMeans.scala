package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed k-means over an embedding column — the
  * training loop whose two halves already exist as single queries:
  * assignment is the IVF cell step (argmin distance to broadcast
  * centroid literals, a narrow map), update is the centroid reduce
  * (one partial-aggregated shuffle keyed by (cell, dim)).
  *
  * Determinism: init takes the first k vectors by id; distances are
  * rounded (Num.r4) before the argmin with a cell-index tie-break, so
  * near-ties cannot flip on last-ulp float differences; and the
  * per-(cell, dim) means are ALSO Num.r4-snapped before they become
  * the next iteration's centroid literals — avg() partial aggregation
  * order depends on partition layout, so unrounded means (and every
  * assignment derived from them) would only reproduce on a fixed
  * partitioning.
  *
  * 100 TB notes: per iteration the corpus is touched twice (assign +
  * update), both as narrow scans; the only driver-side data is the
  * k×dim centroid matrix (model state, bytes). Lineage does not grow
  * with iterations — each round's assignment reads the raw corpus
  * against literal centroids. Empty cells keep their previous
  * centroid.
  *
  * Input: an `embeddings` frame — `vec_id` and `embedding`
  * (array<float>).
  */
object KMeans {

  /** Squared L2 distance between a vector column and a literal
    * centroid, computed as Σ(xᵢ-cᵢ)² left-to-right — the exact
    * formulation the DuckDB oracle uses, so results are bit-equal. */
  def sqDist(v: Column, centroid: Array[Double]): Column =
    aggregate(
      zip_with(v.cast("array<double>"), typedLit(centroid),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** (rounded distance, cell) structs for every centroid; argmin =
    * array_min with cell tie-break. */
  private def distArr(v: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(Num.r4(sqDist(v, c)).as("dist"), lit(i).as("cell"))
    }: _*)

  /** Deterministic init: the first k vectors by id (also the IVF
    * coarse centroids and the PQ codebook seed). */
  def initCentroids(emb: DataFrame, k: Int): Array[Array[Double]] =
    Pin.record(emb.orderBy(col("vec_id")).limit(k).select(col("embedding"))).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Cell assignment under the given centroids. The argmin struct is
    * evaluated ONCE and its fields projected in a separate select —
    * inlining `array_min(distArr(..))` per output column costs two
    * evaluations of the k×dim distance array unless codegen CSE
    * rescues it (it does not for the higher-order aggregate/zip_with
    * chain inside sqDist). CollapseProject keeps the split: the alias
    * is referenced twice and the expression is not cheap. */
  def assign(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        array_min(distArr(col("embedding"), centroids)).as("m"))
      .select(col("id"), col("v"),
        col("m").getField("cell").as("cell"),
        col("m").getField("dist").as("dist"))

  /** One update step: per-cell mean vectors (empty cells keep the old
    * centroid), plus the iteration's inertia (Σ assigned dist). Two
    * corpus passes (inertia + means) — training loops that do not
    * consume the inertia should call [[update]] instead (one pass). */
  def step(emb: DataFrame, centroids: Array[Array[Double]]):
      (Array[Array[Double]], Double) = {
    val assigned = assign(emb, centroids)
    val inertia = Pin.record(assigned.agg(sum(col("dist")))).collect()(0).getDouble(0)
    (update(emb, centroids), inertia)
  }

  /** Means-only update: the next round's centroids in ONE corpus pass.
    * [[step]] additionally collects the iteration's inertia, which
    * costs a second full assignment pass — q81's training loop
    * discards it, so computing it was a wasted scan per round. */
  def update(emb: DataFrame, centroids: Array[Array[Double]]):
      Array[Array[Double]] = {
    val means = assign(emb, centroids)
      .select(col("cell"), posexplode(col("v").cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      // r4-snap the mean: partial-agg order is partition-dependent in
      // the last ulps, and these feed back as next-round literals
      .agg(Num.r4(avg(col("x"))).as("m"))
      .transform(Pin.record(_))
      .collect()
    val next = centroids.map(_.clone())
    means.foreach(r => next(r.getAs[Int]("cell"))(r.getAs[Int]("dim")) =
      r.getAs[Double]("m"))
    next
  }

  /** Full training loop: k cells, maxIter update rounds. Returns the
    * final assignment frame, centroids, and the inertia trace. */
  def fit(emb: DataFrame, k: Int, maxIter: Int):
      (DataFrame, Array[Array[Double]], Seq[Double]) = {
    var centroids = initCentroids(emb, k)
    val trace = Seq.newBuilder[Double]
    var i = 0
    while (i < maxIter) {
      val (next, inertia) = step(emb, centroids)
      trace += inertia
      centroids = next
      i += 1
    }
    (assign(emb, centroids), centroids, trace.result())
  }
}
