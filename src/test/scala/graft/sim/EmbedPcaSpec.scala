package graft.sim

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** PCA contract: the Jacobi eigensolver is property-tested on random
  * symmetric matrices (residual, orthonormality, trace), and the gate
  * output carries the PCA invariants — variance ordered along
  * components, whitened variance ≈ 1, components uncorrelated. */
class EmbedPcaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("jacobi: A v = λ v, V orthonormal, Σλ = trace on random symmetric matrices") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val n = 2 + rnd.nextInt(9)
      val a = Array.ofDim[Double](n, n)
      for (i <- 0 until n; j <- i until n) {
        val x = rnd.nextGaussian()
        a(i)(j) = x; a(j)(i) = x
      }
      val (eig, v) = EmbedPca.jacobiEigen(a)
      // residual per eigenpair
      for (k <- 0 until n) {
        for (i <- 0 until n) {
          val av = (0 until n).map(j => a(i)(j) * v(j)(k)).sum
          assert(math.abs(av - eig(k) * v(i)(k)) < 1e-8,
            s"residual at ($i,$k)")
        }
      }
      // orthonormal columns
      for (k <- 0 until n; l <- k until n) {
        val d = (0 until n).map(i => v(i)(k) * v(i)(l)).sum
        val want = if (k == l) 1.0 else 0.0
        assert(math.abs(d - want) < 1e-8, s"V'V at ($k,$l)")
      }
      // trace preserved
      val tr = (0 until n).map(i => a(i)(i)).sum
      assert(math.abs(eig.sum - tr) < 1e-8, "trace")
    }
  }

  test("gate output: variance ordered, whitened variance ≈ 1, components uncorrelated") {
    val rows = EmbedPca.embedPca(spark, sf).collect()
    assert(rows.length > 100)
    val n = rows.length.toDouble
    def colVals(i: Int): Array[Double] = rows.map(_.getDouble(i))
    // p columns are 1,3,5,7; w columns 2,4,6,8
    val ps = (0 until EmbedPca.K).map(k => colVals(1 + 2 * k))
    val ws = (0 until EmbedPca.K).map(k => colVals(2 + 2 * k))
    def meanOf(a: Array[Double]) = a.sum / n
    def varOf(a: Array[Double]) = {
      val m = meanOf(a); a.map(x => (x - m) * (x - m)).sum / n
    }
    val vs = ps.map(varOf)
    for (k <- 1 until EmbedPca.K)
      assert(vs(k - 1) >= vs(k) - 1e-6,
        s"component variance not ordered at $k: ${vs.toSeq}")
    ws.map(varOf).zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(v - 1.0) < 0.05, s"whitened variance $v at $k")
    }
    // projections onto distinct eigenvectors are uncorrelated
    for (k <- 0 until EmbedPca.K; l <- k + 1 until EmbedPca.K) {
      val (ak, al) = (ps(k), ps(l))
      val (mk, ml) = (meanOf(ak), meanOf(al))
      val cov = ak.zip(al).map { case (x, y) => (x - mk) * (y - ml) }.sum / n
      val corr = cov / math.sqrt(varOf(ak) * varOf(al))
      assert(math.abs(corr) < 0.02, s"corr($k,$l) = $corr")
    }
  }

  test("model memo evicts on corpus switch and retrains deterministically") {
    val m1 = EmbedPca.model(spark, sf)
    val m2 = EmbedPca.model(spark, "/root/testdata/sf0.01")
    assert(!(m1.mean sameElements m2.mean), "different corpora, same mean?")
    EmbedPca.modelMemo.release()
    val m1b = EmbedPca.model(spark, sf)
    assert(m1.mean.toSeq == m1b.mean.toSeq &&
      m1.w.map(_.toSeq).toSeq == m1b.w.map(_.toSeq).toSeq,
      "retraining must be bit-deterministic (plan-lock literals)")
  }
}
