package graft.text

import graft.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the FineWeb-Edu / DCLM discipline
  * (Penedo et al. 2024; Li et al. 2024): distill an expensive quality
  * signal into a cheap linear classifier and score every document with it.
  * Here the teacher signal is the engine's own Gopher rule set
  * ([[TextQueries.gopherFlags]], Rae et al. 2021) and the student is a
  * ridge-regression linear probe over five per-document features — the
  * same shape as fastText-style quality classifiers (a linear model over
  * cheap features), chosen because both training and scoring stay inside
  * exact SQL-expressible arithmetic.
  *
  * Training is CLOSED-FORM, not iterative: one aggregation pass computes
  * the 6×6 normal-equation moments (X'X, X'y), the driver solves
  * (X'X + λI)w = X'y by Gaussian elimination — a k²-bounded collect (28
  * doubles), never corpus-sized. Scoring is a pure projection with the
  * trained weights inlined as literals: zero shuffle at any scale, the
  * same frozen-model-broadcast family as `dsir_weights`/`quality_lm_score`.
  *
  * Cross-engine exactness: every feature is either an exact integer cast
  * or a single IEEE division rounded at 4 decimals BEFORE entering the
  * model, in both engines; the score is a left-associated multiply-add
  * chain over those identical doubles with the same literal weights
  * (shortest round-trip decimals, [[graft.sim.Ivf.fmtD]]'s construction),
  * so z — and the `z >= 0.5` decision — is bit-identical in Spark and
  * DuckDB. No sigmoid: a transcendental's last ulp is not portable, and
  * for filtering only the ranking/threshold matters (the regression-on-
  * {0,1} probe is the "linear probing" used in representation evaluation).
  *
  * Scale shape at 100 TB: the moment aggregation is one map-side-partial
  * pass (21+6+1 doubles per partition); scoring is embarrassingly
  * parallel. The oracle (built AFTER training, weights inlined — the
  * dynamic-oracle pattern of `ivf_topk`) replays feature build, score and
  * decision in DuckDB.
  */
object QualityClassifier {

  /** Ridge regularizer — conditions the 6×6 solve against collinear
    * features (alpha_frac is ≈1.0 corpus-wide); small enough to leave
    * well-determined weights unchanged at 4 decimals. */
  val Lambda = 1e-3

  /** Decision threshold on the regression score (labels are {0,1}). */
  val Threshold = 0.5

  private val stopArr = array(TextQueries.stopwords.map(lit): _*)

  /** Feature names in model order (after the intercept). */
  val FeatureNames: Seq[String] =
    Seq("f_words", "f_mlen", "f_alpha", "f_stop", "f_uniq")

  /** Per-document features + teacher label over any (doc_id, text)
    * relation. Ratios are rounded to 4 decimals HERE — model inputs, not
    * display — so both engines train/score on identical doubles. The
    * label is the exact Gopher verdict of [[TextQueries.gopherFlags]]
    * (thresholds shared, so the two gates cannot drift). */
  def featured(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("w", TextQueries.words(col("text")))
      .filter(size(col("w")) >= 1)
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("sum_len",
        aggregate(transform(col("w"), x => length(x).cast("long")),
          lit(0L), (a, x) => a + x))
      .withColumn("n_alpha",
        size(filter(col("w"), x => x.rlike("[a-z]"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("w"), x => array_contains(stopArr, x))).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("w"))).cast("long"))
    val meanLen = col("sum_len") / col("n_words")
    val alphaFrac = col("n_alpha") / col("n_words")
    val pass =
      col("n_words").between(TextQueries.GopherMinWords, TextQueries.GopherMaxWords) &&
        meanLen >= TextQueries.GopherMinMeanLen &&
        meanLen <= TextQueries.GopherMaxMeanLen &&
        alphaFrac >= TextQueries.GopherMinAlphaFrac &&
        col("n_stop") >= TextQueries.GopherMinStopHits
    d.select(col("doc_id"),
      col("n_words").cast("double").as("f_words"),
      round(meanLen, 4).as("f_mlen"),
      round(alphaFrac, 4).as("f_alpha"),
      col("n_stop").cast("double").as("f_stop"),
      round(col("n_uniq") / col("n_words"), 4).as("f_uniq"),
      pass.as("label"))
  }

  /** Solve A·w = b (A symmetric positive-definite after the ridge shift)
    * by Gaussian elimination with partial pivoting — driver-side, k=6,
    * deterministic. */
  private[text] def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val k = b.length
    val m = Array.tabulate(k, k + 1)((i, j) => if (j < k) a(i)(j) else b(i))
    for (c <- 0 until k) {
      val p = (c until k).maxBy(r => math.abs(m(r)(c)))
      val t = m(c); m(c) = m(p); m(p) = t
      require(math.abs(m(c)(c)) > 1e-12, s"singular normal equations at $c")
      for (r <- c + 1 until k) {
        val f = m(r)(c) / m(c)(c)
        for (j <- c to k) m(r)(j) -= f * m(c)(j)
      }
    }
    val w = new Array[Double](k)
    for (c <- k - 1 to 0 by -1) {
      var s = m(c)(k)
      for (j <- c + 1 until k) s -= m(c)(j) * w(j)
      w(c) = s / m(c)(c)
    }
    w
  }

  /** One-pass normal-equation moments then the driver-side solve.
    * x = (1, f_words, f_mlen, f_alpha, f_stop, f_uniq); returns the 6
    * weights (intercept first). */
  private def train(feats: DataFrame): Array[Double] = {
    val k = FeatureNames.length + 1
    val xs: Seq[Column] = lit(1.0) +: FeatureNames.map(col)
    val y = col("label").cast("double")
    val moments: Seq[Column] =
      (for (i <- 0 until k; j <- i until k) yield
        sum(xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
        (0 until k).map(i => sum(xs(i) * y).as(s"xy_$i"))
    val row = feats.agg(moments.head, moments.tail: _*).head()
    val a = Array.ofDim[Double](k, k)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      a(i)(j) = row.getDouble(idx); a(j)(i) = a(i)(j); idx += 1
    }
    val b = (0 until k).map(i => row.getDouble(idx + i)).toArray
    for (i <- 0 until k) a(i)(i) += Lambda
    solve(a, b)
  }

  /** Trained weights for a corpus dir (memoized; `classifier_eval` and the
    * streaming twin reuse the gate's model instead of re-training). */
  def weights(s: SparkSession, dir: String): Array[Double] =
    modelMemo(s, dir)._1

  // ONE memo holds weights AND their inlined-literal oracle SQL: the
  // oracles served are always the ones generated from the weights
  // currently memoized, never a stale pair from an earlier corpus.
  private[graft] val modelMemo = Memo("documents") { (s, dir) =>
    val w = train(featured(Tables.parallel(s, dir, "documents")))
    (w, buildOracles(w))
  }

  /** Left-associated multiply-add score chain — the one evaluation order
    * both engines share: ((((w0 + w1·f1) + w2·f2) + …). */
  private def zExpr(w: Array[Double]): Column =
    FeatureNames.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (f, i)) => acc + lit(w(i + 1)) * col(f)
    }

  /** Score any (doc_id, text) relation with frozen weights — shared by
    * the gate query and the streaming twin so the scoring arithmetic
    * cannot drift between deployment shapes. */
  def scoreWith(docs: DataFrame, w: Array[Double]): DataFrame =
    featured(docs)
      .withColumn("z", zExpr(w))
      .select(col("doc_id"), col("label"),
        round(col("z"), 4).as("score"),
        (col("z") >= Threshold).as("pred"))

  /** Per-document classifier score + decision vs the teacher label. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    scoreWith(Tables.parallel(s, dir, "documents"), weights(s, dir))

  /** Teacher/student confusion counts — the first table a pipeline
    * reads before trusting the cheap classifier as its filter. */
  def classifierEval(s: SparkSession, dir: String): DataFrame = {
    val w = weights(s, dir)
    featured(Tables.parallel(s, dir, "documents"))
      .withColumn("pred", zExpr(w) >= Threshold)
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n"))
  }

  /** Reliability diagram — score-decile buckets vs observed teacher pass
    * rate. A calibrated probe shows pass_rate rising monotonically with
    * the bucket; a flat diagram means the score carries no signal and
    * the threshold is meaningless. Buckets are `floor(z·10)` on the
    * exact shared z (unclamped — the tails are informative), so the
    * bucketing is bit-identical cross-engine. */
  def classifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val w = weights(s, dir)
    featured(Tables.parallel(s, dir, "documents"))
      .withColumn("bucket", floor(zExpr(w) * lit(10.0)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("label").cast("long")).as("n_pass"))
      .select(col("bucket"), col("n"), col("n_pass"),
        round(col("n_pass") / col("n"), 4).as("pass_rate"))
  }

  private def fmtD(d: Double): String = java.lang.Double.toString(d)

  /** The feature-build + score CTE chain for a frozen weight vector,
    * ending in CTE `s(doc_id, label, z)` — shared with
    * [[QualityModel]]'s roundtrip oracle so the replayed SQL cannot
    * drift from the gate's. */
  private[text] def scoredCtes(w: Array[Double]): String = {
    val z = FeatureNames.zipWithIndex.foldLeft(s"${fmtD(w(0))}") {
      case (acc, (f, i)) => s"($acc + (${fmtD(w(i + 1))} * $f))"
    }
      s"""WITH ${TextQueries.wordsCte},
         |c AS (SELECT doc_id, len(w) AS n_words,
         |  list_sum(list_transform(w, x -> length(x))) AS sum_len,
         |  len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         |  len(list_filter(w, x -> x IN (${TextQueries.stopListSql}))) AS n_stop,
         |  len(list_distinct(w)) AS n_uniq
         |  FROM w WHERE len(w) >= 1),
         |f AS (SELECT doc_id,
         |  n_words * 1.0 AS f_words,
         |  round(sum_len * 1.0 / n_words, 4) AS f_mlen,
         |  round(n_alpha * 1.0 / n_words, 4) AS f_alpha,
         |  n_stop * 1.0 AS f_stop,
         |  round(n_uniq * 1.0 / n_words, 4) AS f_uniq,
         |  ((n_words BETWEEN ${TextQueries.GopherMinWords}
         |      AND ${TextQueries.GopherMaxWords})
         |   AND sum_len * 1.0 / n_words >= ${TextQueries.GopherMinMeanLen}
         |   AND sum_len * 1.0 / n_words <= ${TextQueries.GopherMaxMeanLen}
         |   AND n_alpha * 1.0 / n_words >= ${TextQueries.GopherMinAlphaFrac}
         |   AND n_stop >= ${TextQueries.GopherMinStopHits}) AS label
         |  FROM c),
         |s AS (SELECT doc_id, label, $z AS z FROM f)""".stripMargin
  }

  // oracles exist only once the model is trained (weights are inlined as
  // literals); Verify runs queries before dumping SQL — same contract as
  // graft.sim.Ivf's dynamic oracle. Built inside the weights memo slot.
  private def buildOracles(w: Array[Double]): Map[String, String] = {
    val scored = scoredCtes(w)
    Map(
      "quality_classifier" ->
        (scored + s"""
           |SELECT doc_id, label, round(z, 4) AS score,
           |  (z >= $Threshold) AS pred FROM s""".stripMargin),
      "classifier_eval" ->
        (scored + s"""
           |SELECT label, (z >= $Threshold) AS pred, count(*) AS n
           |FROM s GROUP BY label, pred""".stripMargin),
      "classifier_calibration" ->
        (scored + """
           |SELECT floor(z * 10.0)::BIGINT AS bucket, count(*) AS n,
           |  sum(label::BIGINT)::BIGINT AS n_pass,
           |  round(sum(label::BIGINT) * 1.0 / count(*), 4) AS pass_rate
           |FROM s GROUP BY bucket""".stripMargin))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_classifier" -> qualityClassifier,
    "classifier_eval" -> classifierEval,
    "classifier_calibration" -> classifierCalibration)

  def oracles: Map[String, String] =
    modelMemo.current.map(_._2).getOrElse(Map.empty)
}
