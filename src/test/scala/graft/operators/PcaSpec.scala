package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pca: the covariance aggregator matches direct computation, Jacobi
  * reconstructs the matrix with orthonormal eigenvectors in
  * descending eigenvalue order, and projection concentrates variance
  * on the leading component. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  // anisotropic 4-d data: x0 dominates variance, x1 correlates with it
  private def sample(): Seq[Float] = {
    val a = rnd.nextGaussian() * 3.0
    val b = a * 0.5 + rnd.nextGaussian() * 0.5
    Seq(a.toFloat, b.toFloat, (rnd.nextGaussian() * 0.3).toFloat,
      (rnd.nextGaussian() * 0.1).toFloat)
  }
  private lazy val data = (0 until 2000).map(_ => sample())

  test("covariance aggregator ≡ direct E[xixj] − E[xi]E[xj]") {
    val df = data.map(Tuple1(_)).toDF("embedding")
    val cov = Pca.covariance(df, 4)
    val n = data.length.toDouble
    for (i <- 0 until 4; j <- i until 4) {
      val pij = data.map(x => x(i).toDouble * x(j).toDouble).sum / n
      val mi = data.map(_(i).toDouble).sum / n
      val mj = data.map(_(j).toDouble).sum / n
      assert(math.abs(cov(i)(j) - (pij - mi * mj)) < 1e-9, s"($i,$j)")
      assert(cov(i)(j) == cov(j)(i))
    }
  }

  test("jacobi: descending eigenvalues, orthonormal vectors, exact reconstruction") {
    val df = data.map(Tuple1(_)).toDF("embedding")
    val cov = Pca.covariance(df, 4)
    val (evals, evecs) = Pca.jacobiEigen(cov)
    assert(evals.sliding(2).forall { case Array(a, b) => a >= b - 1e-12 })
    // orthonormality
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(k => evecs(i)(k) * evecs(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j)")
    }
    // reconstruction: Σ λ_k v_k v_kᵀ == cov
    for (i <- 0 until 4; j <- 0 until 4) {
      val r = (0 until 4).map(k => evals(k) * evecs(k)(i) * evecs(k)(j)).sum
      assert(math.abs(r - cov(i)(j)) < 1e-9, s"($i,$j)")
    }
    // trace preserved: total variance = Σ eigenvalues
    val trace = (0 until 4).map(i => cov(i)(i)).sum
    assert(math.abs(evals.sum - trace) < 1e-9)
  }

  test("projection concentrates variance on the leading component") {
    val df = data.map(Tuple1(_)).toDF("embedding")
    val cov = Pca.covariance(df, 4)
    val (evals, evecs) = Pca.jacobiEigen(cov)
    val proj = Pca.project(df, evecs.take(2))
    val stats = proj
      .select(col("pca")(0).as("p0"), col("pca")(1).as("p1"))
      .agg(var_pop(col("p0")), var_pop(col("p1")))
      .as[(Double, Double)].head()
    // component variances ≈ their eigenvalues (float projection noise)
    assert(math.abs(stats._1 - evals(0)) / evals(0) < 0.01)
    assert(math.abs(stats._2 - evals(1)) / evals(1) < 0.05)
    assert(stats._1 > stats._2)
  }
}
