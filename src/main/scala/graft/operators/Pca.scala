package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Principal-component analysis over an embedding column — the
  * dimensionality-reduction step ahead of clustering/SemDeDup/ANN
  * (project 64-dim vectors to the top-k variance directions, cheaper
  * distance computations downstream at equal recall).
  *
  * Split of labor (the KMeans/LogisticGd convention):
  *  - The DATA pass is one typed-Aggregator aggregation computing the
  *    (n, Σx, Σxxᵀ) sufficient statistics with map-side partials —
  *    d(d+3)/2 doubles of aggregate state, one job, no shuffle of
  *    vectors. At 100 TB this is the only corpus-sized step.
  *  - The d×d eigen-decomposition is bounded model state solved on the
  *    driver (cyclic Jacobi — deterministic sweep order, no pivoting
  *    races), exactly like k-means centroids or GD weights. d ≪ data;
  *    a 64×64 Jacobi solve is microseconds.
  *
  * Covariance here is the population form E[xxᵀ] − μμᵀ (divide by n),
  * matching the SQL twin `avg(xi*xj) − avg(xi)*avg(xj)` exactly.
  *
  * Input: an `embeddings` frame's `embedding` column; [[project]]
  * appends the projection as `pca`.
  */
object Pca {

  /** (count, sums[d], upper-triangle product sums[d(d+1)/2]). */
  final case class CovBuf(n: Long, s: Array[Double], p: Array[Double])

  final class CovarianceAggregator(d: Int)
      extends Aggregator[Seq[Float], CovBuf, CovBuf] {
    private val tri = d * (d + 1) / 2

    override def zero: CovBuf =
      CovBuf(0L, Array.fill(d)(0.0), Array.fill(tri)(0.0))

    override def reduce(b: CovBuf, x: Seq[Float]): CovBuf = {
      val s = b.s; val p = b.p
      var i = 0; var k = 0
      while (i < d) {
        val xi = x(i).toDouble
        s(i) += xi
        var j = i
        while (j < d) { p(k) += xi * x(j).toDouble; j += 1; k += 1 }
        i += 1
      }
      CovBuf(b.n + 1, s, p)
    }

    override def merge(a: CovBuf, b: CovBuf): CovBuf = {
      var i = 0
      while (i < d) { a.s(i) += b.s(i); i += 1 }
      var k = 0
      while (k < tri) { a.p(k) += b.p(k); k += 1 }
      CovBuf(a.n + b.n, a.s, a.p)
    }

    override def finish(r: CovBuf): CovBuf = r
    override def bufferEncoder: Encoder[CovBuf] = ExpressionEncoder[CovBuf]()
    override def outputEncoder: Encoder[CovBuf] = ExpressionEncoder[CovBuf]()
  }

  /** Full d×d population covariance matrix from one aggregation job. */
  def covariance(df: DataFrame, d: Int): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val buf = df.select(col("embedding").cast("array<float>")).as[Seq[Float]]
      .select(new CovarianceAggregator(d).toColumn)
      .head()
    val n = buf.n.toDouble
    val cov = Array.ofDim[Double](d, d)
    var i = 0; var k = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = buf.p(k) / n - (buf.s(i) / n) * (buf.s(j) / n)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; k += 1
      }
      i += 1
    }
    cov
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi —
    * deterministic sweep order, returns (eigenvalues desc, row-major
    * eigenvectors aligned to them). Driver-side model math, d ≪ data. */
  def jacobiEigen(m: Array[Array[Double]],
      sweeps: Int = 32, tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > tol) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 → t = 1
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map(i => (0 until d).map(r => v(r)(i)).toArray).toArray
    (evals, evecs)
  }

  /** Project the embedding column onto the top-k principal components
    * (a narrow per-row transform — the components ride the plan as one
    * reference-object literal via the fused LSH-keys pattern). */
  def project(df: DataFrame, components: Array[Array[Double]]): DataFrame = {
    val comps = components.map(_.toIndexedSeq).toIndexedSeq
    val proj = array(comps.map { c =>
      graft.plans.VectorFunctions.vec_dot(col("embedding"),
        typedLit(c.map(_.toFloat)))
    }: _*)
    df.withColumn("pca", proj)
  }
}
