package graft.sim

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** PCA projection-model persistence — the fifth leg of the
  * model-artifact lifecycle ([[IvfModel]], [[PqModel]],
  * [[graft.text.BpeModel]], [[graft.text.QualityModel]]): the trained
  * mean vector, the dim×K projection matrix and the K eigenvalues are
  * what a projection fleet ships; through round 10 they lived only in
  * the in-session memo. The artifact is a part-keyed parquet relation
  * (`("mean", 0)`, `("w", k)` per component column, `("eig", 0)`)
  * beside a checksummed manifest (shape + sha over the part/index-keyed
  * shortest-round-trip decimal serialization). The gate reloads the
  * newest committed valid version ([[graft.sources.ModelStore]]) and
  * re-projects the corpus with the RELOADED model against an oracle
  * built from the TRAINED one — hash-green ⇔ the round trip preserved
  * every coefficient to the ulp (the projection is a dim-long
  * multiply-add chain per component; one lost bit moves some rounded
  * coordinate).
  *
  * Scale: artifact ∝ dim×K doubles (KBs at production dims), reload is
  * a model-bounded collect, the replayed projection is the standard
  * zero-shuffle literal chain. */
object PcaModel extends graft.sources.ModelCodec[EmbedPca.Model] {

  val family = "pca_model"
  val partDir = "parts"

  /** Part/index-keyed canonical checksum over mean, the K projection
    * columns, and the eigenvalues. */
  def modelSha(m: EmbedPca.Model): String = {
    val wCols = (0 until EmbedPca.K).map { k =>
      s"w:$k:" + (0 until m.dim).map(i => m.w(i)(k)).mkString(",")
    }
    sha256Hex((s"dim:${m.dim}" +: s"mean:${m.mean.mkString(",")}" +:
      wCols :+ s"eig:${m.eig.mkString(",")}").mkString(";"))
  }

  def rows(s: SparkSession, m: EmbedPca.Model): DataFrame = {
    import s.implicits._
    (Seq(("mean", 0, m.mean.toSeq)) ++
      (0 until EmbedPca.K).map(k =>
        ("w", k, (0 until m.dim).map(i => m.w(i)(k)))) ++
      Seq(("eig", 0, m.eig.toSeq))).toDF("part", "k", "v")
  }

  def manifest(s: SparkSession, m: EmbedPca.Model): DataFrame = {
    import s.implicits._
    Seq((m.dim, EmbedPca.K, modelSha(m)))
      .toDF("dim", "n_components", "model_sha")
  }

  /** Shaped by the stored manifest; a projection column of another
    * length than `dim` fails the decode (its tail would escape the sha). */
  def decode(parts: Array[Row], mf: Row): EmbedPca.Model = {
    val byPart = parts
      .map(r => ((r.getString(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val dim = mf.getAs[Int]("dim")
    val kk = mf.getAs[Int]("n_components")
    require((0 until kk).forall(k => byPart(("w", k)).length == dim),
      "projection column length differs from the manifest's dim")
    val w = Array.tabulate(dim, kk)((i, k) => byPart(("w", k))(i))
    EmbedPca.Model(dim, byPart(("mean", 0)), w, byPart(("eig", 0)))
  }

  /** Gate: train (memoized) → versioned write → reload latest valid →
    * re-project the corpus from the RELOADED model, oracled against the
    * trained one. */
  def pcaModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val trained = EmbedPca.model(s, dir)
    val reloaded = roundtrip(s, dir, trained)
    synchronized {
      lastOracle = Some(
        s"""SELECT vec_id,
          |  ${EmbedPca.projectionSqlCols(trained).mkString(",\n  ")},
          |  ${trained.dim}::BIGINT AS dim,
          |  ${EmbedPca.K}::BIGINT AS n_components, TRUE AS manifest_ok
          |FROM embeddings""".stripMargin)
    }
    Tables.parallel(s, dir, "embeddings")
      .select(col("vec_id") +: EmbedPca.projectionCols(reloaded): _*)
      .withColumn("dim", lit(reloaded.dim.toLong))
      .withColumn("n_components", lit(EmbedPca.K.toLong))
      .withColumn("manifest_ok", lit(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pca_model_roundtrip" -> pcaModelRoundtrip)

  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = synchronized(lastOracle) match {
    case Some(sql) => Map("pca_model_roundtrip" -> sql)
    case None => Map.empty
  }
}
