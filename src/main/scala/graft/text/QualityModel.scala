package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Quality-classifier weight persistence — the fourth leg of the
  * model-artifact lifecycle ([[graft.sim.IvfModel]] centroids,
  * [[graft.sim.PqModel]] codebooks, [[BpeModel]] merges): through round
  * 10 the distilled quality probe's weights lived only in the
  * in-session memo, so a scoring fleet could not exist without
  * retraining per session. The gate writes the 6 ridge weights
  * (intercept first) as an index-keyed parquet artifact beside a
  * checksummed manifest (feature count, the training λ and decision
  * threshold — the hyperparameters a scorer must agree on — and the
  * sha over the shortest-round-trip decimal serialization), reloads the
  * newest committed valid version ([[graft.sources.ModelStore]]), and
  * re-scores the corpus with the RELOADED weights against an oracle
  * built from the TRAINED ones — hash-green ⇔ the storage round trip
  * preserved every weight to the ulp (the score is a multiply-add chain
  * over those exact doubles; one lost bit moves a z past the rounding
  * or the threshold somewhere in the corpus).
  *
  * Scale: the artifact is 6 doubles + a manifest row — the cheapest
  * possible ship-to-1000-executors payload; scoring is the standard
  * zero-shuffle literal projection. */
object QualityModel extends graft.sources.ModelCodec[Array[Double]] {

  val family = "quality_model"
  val partDir = "weights"

  /** Index-keyed shortest-round-trip decimal checksum — any corrupted
    * coefficient, reorder, or dropped row changes the string. */
  def weightsSha(w: Array[Double]): String =
    sha256Hex(w.zipWithIndex.map { case (x, i) => s"$i:$x" }.mkString(";"))

  def rows(s: SparkSession, w: Array[Double]): DataFrame = {
    import s.implicits._
    w.zipWithIndex.map { case (x, i) => (i, x) }.toSeq.toDF("i", "w")
  }

  def manifest(s: SparkSession, w: Array[Double]): DataFrame = {
    import s.implicits._
    Seq((w.length, QualityClassifier.Lambda, QualityClassifier.Threshold,
        weightsSha(w)))
      .toDF("n_weights", "lambda", "threshold", "weights_sha")
  }

  /** Weights, intercept first. */
  def decode(parts: Array[Row], mf: Row): Array[Double] =
    parts.map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)

  /** Gate: train (memoized) → versioned write → reload latest valid →
    * re-score the corpus from the RELOADED weights, oracled against the
    * trained ones. */
  def qualityModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val trained = QualityClassifier.weights(s, dir)
    val reloaded = roundtrip(s, dir, trained)
    synchronized {
      lastOracle = Some(
        s"""${QualityClassifier.scoredCtes(trained)}
          |SELECT doc_id, label, round(z, 4) AS score,
          |  (z >= ${QualityClassifier.Threshold}) AS pred,
          |  ${trained.length}::BIGINT AS n_weights, TRUE AS manifest_ok
          |FROM s""".stripMargin)
    }
    QualityClassifier.scoreWith(Tables.parallel(s, dir, "documents"), reloaded)
      .withColumn("n_weights", lit(reloaded.length.toLong))
      .withColumn("manifest_ok", lit(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_model_roundtrip" -> qualityModelRoundtrip)

  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = synchronized(lastOracle) match {
    case Some(sql) => Map("quality_model_roundtrip" -> sql)
    case None => Map.empty
  }
}
