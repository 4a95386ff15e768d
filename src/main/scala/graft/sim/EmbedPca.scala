package graft.sim

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA / whitening over the embedding corpus — the projection pass a
  * retrieval or clustering pipeline runs before indexing (dimension
  * reduction, isotropy correction; cf. Jégou & Chum 2012 on PCA+
  * whitening for image retrieval, Su et al. 2021 "whitening sentence
  * representations"). Spark-first split, same contract as
  * [[graft.text.QualityClassifier]]'s normal-equation trainer:
  *
  *  1. '''Distributed moments, exact''': one corpus scan accumulates the
  *     d first-order and d(d+1)/2 second-order moment sums. Each
  *     coordinate is quantized `round(x·2²⁴)` ([[EmbeddingDrift.Q]] —
  *     exact on float inputs) and products are summed as
  *     `decimal(38,0)` — integer addition is associative, so the
  *     moments are BIT-DETERMINISTIC under any partitioning (a naive
  *     float sum would make the trained matrix, and with it the
  *     plan-lock literals, run-dependent). Shuffle is dimension-
  *     bounded: partials ∝ partitions × (d + d(d+1)/2 + 1).
  *  2. '''Driver-side eigensolve''': covariance from the collected
  *     moments (a d×d=64×64 model, ~2 k doubles — the model-bounded
  *     collect contract), cyclic Jacobi rotations (deterministic sweep
  *     order, fixed tolerance), eigenpairs sorted (λ desc, index asc),
  *     sign fixed by making each vector's largest-|entry| coordinate
  *     positive.
  *  3. '''Distributed apply''': top-[[K]] projections + whitened
  *     coordinates (z_k/√λ_k) as a left-associated literal multiply-add
  *     chain over `embedding` — pure codegen projection, zero shuffle.
  *
  * The oracle is built post-training (Ivf/Bpe pattern): mean and
  * projection-matrix literals inlined into the SAME left-associated
  * chain in DuckDB, so both engines evaluate identical IEEE double
  * operations in identical order — exact hash equality, no tolerance.
  */
object EmbedPca {

  /** Components kept (projection + whitening columns per vector). */
  val K = 4

  final case class Model(
      dim: Int,
      mean: Array[Double],
      w: Array[Array[Double]], // dim × K, column k = component k
      eig: Array[Double]) {    // K population variances (eigenvalues)
    def whitenScale(k: Int): Double =
      if (eig(k) > 0) 1.0 / math.sqrt(eig(k)) else 0.0
  }

  def model(s: SparkSession, dir: String): Model = modelMemo(s, dir)._1

  // ONE memo holds the model AND its inlined-literal oracle SQL (the
  // QualityClassifier discipline — stale pairs impossible).
  private[graft] val modelMemo = Memo("embeddings") { (s, dir) =>
    val m = train(s, dir)
    (m, buildOracles(m))
  }

  private val Q = EmbeddingDrift.Q

  private def train(s: SparkSession, dir: String): Model = {
    val e = Tables.parallel(s, dir, "embeddings")
      .select(transform(col("embedding"),
        x => round(x.cast("double") * Q, 0).cast("long")).as("q"))
    val dims = e.agg(min(size(col("q"))), max(size(col("q")))).head()
    val d = dims.getInt(0)
    require(d == dims.getInt(1), s"ragged embedding dims: $d vs ${dims.getInt(1)}")

    // flattened exact-moment vector per row:
    //   idx < d          → q_idx                (first-order sums)
    //   idx >= d         → q_i · q_j, i <= j    (upper-triangle products)
    val prods = expr(
      s"""flatten(transform(sequence(0, ${d - 1}), i ->
         |  transform(sequence(i, ${d - 1}), j ->
         |    element_at(q, i + 1) * element_at(q, j + 1))))""".stripMargin)
    val rows = e
      .select(posexplode(concat(col("q"), prods)).as(Seq("idx", "v")))
      .groupBy("idx")
      .agg(sum(col("v").cast("decimal(38,0)")).as("sv"),
        count(lit(1)).as("n"))
      .collect()
    val n = rows.head.getLong(2)
    val sums = new Array[BigDecimal](d + d * (d + 1) / 2)
    rows.foreach(r => sums(r.getInt(0)) = BigDecimal(r.getDecimal(1)))

    val qd = Q.toDouble
    val mean = Array.tabulate(d)(i => (sums(i) / n).toDouble / qd)
    // index of (i, j), i <= j, in the row-major upper triangle
    def tri(i: Int, j: Int): Int = d + i * d - i * (i - 1) / 2 + (j - i)
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (sums(tri(a, b)) / n).toDouble / (qd * qd) - mean(i) * mean(j)
    }
    val (eig, vecs) = jacobiEigen(cov)
    // order by (λ desc, index asc); fix sign via largest-|entry| positive
    val order = (0 until d).sortBy(k => (-eig(k), k)).take(K)
    val w = Array.ofDim[Double](d, K)
    val topEig = new Array[Double](K)
    order.zipWithIndex.foreach { case (src, k) =>
      topEig(k) = eig(src)
      val colv = Array.tabulate(d)(i => vecs(i)(src))
      val pivot = (0 until d).maxBy(i => (math.abs(colv(i)), -i))
      val sgn = if (colv(pivot) < 0) -1.0 else 1.0
      (0 until d).foreach(i => w(i)(k) = colv(i) * sgn)
    }
    Model(d, mean, w, topEig)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * deterministic upper-triangle sweep order, fixed tolerance/sweep
    * cap. Returns (eigenvalues, eigenvector matrix V with V(i)(k) =
    * coordinate i of eigenvector k). */
  private[sim] def jacobiEigen(
      aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = aIn.length
    val a = Array.tabulate(n, n)((i, j) => aIn(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-22) {
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        val apq = a(p)(q)
        if (apq != 0.0) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
          val t =
            if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          val tau = s / (1.0 + c)
          val app = a(p)(p); val aqq = a(q)(q)
          a(p)(p) = app - t * apq
          a(q)(q) = aqq + t * apq
          a(p)(q) = 0.0; a(q)(p) = 0.0
          for (i <- 0 until n if i != p && i != q) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = aip - s * (aiq + tau * aip)
            a(p)(i) = a(i)(p)
            a(i)(q) = aiq + s * (aip - tau * aiq)
            a(q)(i) = a(i)(q)
          }
          for (i <- 0 until n) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = vip - s * (viq + tau * vip)
            v(i)(q) = viq + s * (vip - tau * viq)
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Left-associated projection chain for component k — the ONE
    * evaluation order both engines share. */
  private def zExpr(m: Model, k: Int): Column =
    (0 until m.dim).foldLeft(lit(0.0): Column) { (acc, i) =>
      acc + lit(m.w(i)(k)) *
        (element_at(col("embedding"), i + 1).cast("double") - lit(m.mean(i)))
    }

  /** The projection output columns for a frozen model — the single
    * definition the batch gate and the streaming twin
    * ([[graft.streaming.StreamPca]]) both select, so the scoring
    * arithmetic cannot drift between deployment shapes. */
  def projectionCols(m: Model): Seq[Column] =
    (0 until K).flatMap { k =>
      val z = zExpr(m, k)
      Seq(round(z, 4).as(s"p${k + 1}"),
        round(z * lit(m.whitenScale(k)), 4).as(s"w${k + 1}"))
    }

  /** Gate query: per-vector top-[[K]] principal coordinates and their
    * whitened twins — zero shuffle, pure literal-weighted projection. */
  def embedPca(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "embeddings")
      .select(col("vec_id") +: projectionCols(model(s, dir)): _*)

  private def fmtD(x: Double): String = java.lang.Double.toString(x)

  /** The projection output columns in SQL for a frozen model — the
    * literal twin of [[projectionCols]], shared with [[PcaModel]]'s
    * roundtrip oracle so the replayed SQL cannot drift from the
    * gate's. */
  private[sim] def projectionSqlCols(m: Model): Seq[String] = {
    def chain(k: Int): String =
      (0 until m.dim).foldLeft("0.0") { (acc, i) =>
        s"($acc + (${fmtD(m.w(i)(k))} * " +
          s"(CAST(embedding[${i + 1}] AS DOUBLE) - ${fmtD(m.mean(i))})))"
      }
    (0 until K).flatMap { k =>
      val z = chain(k)
      Seq(s"round($z, 4) AS p${k + 1}",
        s"round(($z) * ${fmtD(m.whitenScale(k))}, 4) AS w${k + 1}")
    }
  }

  private def buildOracles(m: Model): Map[String, String] =
    Map("embed_pca" ->
      s"""SELECT vec_id,
         |  ${projectionSqlCols(m).mkString(",\n  ")}
         |FROM embeddings""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca" -> embedPca)

  def oracles: Map[String, String] =
    modelMemo.current.map(_._2).getOrElse(Map.empty)
}
