package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer-merge persistence — the third leg of the model-artifact
  * lifecycle ([[graft.sim.IvfModel]] centroids, [[graft.sim.PqModel]]
  * codebooks): the ordered BPE merge list is THE tokenizer — every
  * downstream token count, budget and pack depends on it byte for
  * byte, and production trains it once and ships it versioned. The
  * gate writes the merges as a rank-keyed parquet artifact beside a
  * checksummed manifest, reloads them, and re-encodes the corpus with
  * the RELOADED list against an oracle built from the TRAINED one —
  * hash-green ⇔ the round trip preserved every merge, its pair bytes,
  * AND its rank (BPE application is order-sensitive: merges apply in
  * training order, so a swapped rank changes tokenizations even with
  * the same pair set — the checksum is rank-keyed for exactly that
  * reason, and the spec proves a rank swap reds it).
  *
  * Scale: the artifact is ∝ vocabulary merges (a few 10⁴ rows in
  * production — KBs), the re-encode is the standard vocab-bounded
  * apply. */
object BpeModel extends graft.sources.ModelCodec[Seq[(String, String)]] {

  val family = "bpe_model"
  val partDir = "merges"

  /** Rank-keyed, length-prefixed canonical serialization (tokens may
    * contain any corpus byte, so delimiters alone cannot be trusted). */
  def mergesSha(merges: Seq[(String, String)]): String =
    sha256Hex(merges.zipWithIndex.map { case ((a, b), i) =>
      s"$i:${a.length}:$a:${b.length}:$b"
    }.mkString(";"))

  def rows(s: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b")
  }

  def manifest(s: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    Seq((merges.size, mergesSha(merges))).toDF("k", "merges_sha")
  }

  /** Merges in rank order. */
  def decode(parts: Array[Row], mf: Row): Seq[(String, String)] =
    parts.map(r => (r.getInt(0), (r.getString(1), r.getString(2))))
      .sortBy(_._1).map(_._2).toSeq

  /** Gate: train → write → reload → verify → encode the corpus with
    * the RELOADED merge list, oracled against the trained one. */
  def bpeModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val trained = Bpe.trainedMerges(s, dir) // memoized, deterministic
    val reloaded = roundtrip(s, dir, trained)
    synchronized {
      lastOracle = Some(
        s"""SELECT source, n_words, chars_before, tokens_after,
          |  ${Bpe.KMerges}::BIGINT AS k, TRUE AS manifest_ok
          |FROM (${Bpe.encodeOracleSql(trained)})""".stripMargin)
    }
    Bpe.encodeWith(docs, reloaded)
      .withColumn("k", lit(Bpe.KMerges.toLong))
      .withColumn("manifest_ok", lit(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_model_roundtrip" -> bpeModelRoundtrip)

  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = synchronized(lastOracle) match {
    case Some(sql) => Map("bpe_model_roundtrip" -> sql)
    case None => Map.empty
  }
}
