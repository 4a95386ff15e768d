package graft.sim

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** PQ codebook persistence — the second leg of the model-artifact
  * lifecycle ([[IvfModel]] is the coarse quantizer's): the product
  * codebook ([[Pq.M]]×[[Pq.Ks]]×[[Pq.Ds]] doubles) written as a
  * versioned parquet artifact with a checksummed manifest, reloaded,
  * and the FULL pipeline — per-subspace argmin encode, ADC lookup
  * table, candidate scan, exact re-rank — replayed from the reloaded
  * coefficients against an oracle built from the TRAINED ones.
  * Hash-green ⇔ the storage round trip is bit-exact end to end (a lost
  * ulp flips a 4-bit code or an ADC score). At 100 TB the codebook is
  * a few KB shipped to every executor; the ENCODED corpus (4 B/vector)
  * is the big artifact, and its bytes are a pure function of this
  * codebook — which is why the codebook must be storage-stable first.
  */
object PqModel extends graft.sources.ModelCodec[Array[Array[Array[Double]]]] {

  val family = "pq_model"
  val partDir = "codebook"

  /** Canonical codebook checksum: (m, k)-keyed shortest-round-trip
    * decimal serialization. */
  def codebookSha(cb: Array[Array[Array[Double]]]): String =
    sha256Hex((for (m <- cb.indices; k <- cb(m).indices) yield
      s"$m:$k:" + cb(m)(k).mkString(",")).mkString(";"))

  def rows(s: SparkSession, cb: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    (for (m <- cb.indices; k <- cb(m).indices)
      yield (m, k, cb(m)(k).toSeq)).toDF("m", "k", "c")
  }

  def manifest(s: SparkSession, cb: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    Seq((cb.length, cb(0).length, cb(0)(0).length, codebookSha(cb)))
      .toDF("m", "ks", "ds", "codebook_sha")
  }

  def decode(parts: Array[Row], mf: Row): Array[Array[Array[Double]]] =
    parts.map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .groupBy(_._1._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._1._2).map(_._2)).toArray

  /** Gate: write → reload → verify → encode + ADC query from the
    * RELOADED codebook, oracled against the trained one. */
  def pqModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (_, trained) = Pq.encoded(s, dir) // train (memoized)
    val reloaded = roundtrip(s, dir, trained)

    // re-ENCODE the corpus and replay the query, reloaded-only
    val enc = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("pq_code", Pq.packedCode(reloaded))
    val qnd = Pq.queryVec(s, enc)
    val lut = Pq.lutFor(reloaded, qnd)

    synchronized {
      lastOracle = Some(
        s"""SELECT vec_id, label, adc, cosine,
          |  ${Pq.M}::BIGINT AS m, ${Pq.Ks}::BIGINT AS ks,
          |  TRUE AS manifest_ok
          |FROM (${Pq.topkOracleSql(trained, Pq.lutFor(trained, qnd))})"""
          .stripMargin)
    }
    Pq.adcQuery(enc, lut)
      .withColumn("m", lit(Pq.M.toLong))
      .withColumn("ks", lit(Pq.Ks.toLong))
      .withColumn("manifest_ok", lit(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pq_model_roundtrip" -> pqModelRoundtrip)

  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = synchronized(lastOracle) match {
    case Some(sql) => Map("pq_model_roundtrip" -> sql)
    case None => Map.empty
  }
}
