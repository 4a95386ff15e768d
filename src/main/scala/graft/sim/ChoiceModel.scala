package graft.sim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The dial table, rows sorted by language, and the sha of the
  * quantizer it was certified against ([[IvfModel.centroidSha]] of the
  * centers the certification sweep actually probed). A dial table is
  * only meaningful for the index it was tuned on, so the sha rides the
  * manifest and the bound reader refuses versions certified on a
  * different (e.g. since-retrained) quantizer. */
case class ChoiceDials(rows: Seq[(String, Long, Double, Boolean)],
                       quantizerSha: String)

/** Per-language mining-dial persistence — the sixth leg of the
  * model-artifact lifecycle ([[IvfModel]] centroids, [[PqModel]]
  * codebooks, [[graft.text.BpeModel]] merges, [[graft.text
  * .QualityModel]] weights, [[PcaModel]] moments): the probe-depth and
  * margin-threshold tables ([[BitextMine.bitextProbeChoice]] /
  * [[BitextMine.bitextThresholdChoice]]) are exactly the per-language
  * configuration a production miner ships NEXT TO the quantizer
  * (CCMatrix tunes both per pair), so they get the same versioned,
  * checksummed, rollback-proven treatment. The gate derives both dials,
  * writes them as one index-keyed parquet artifact beside a checksummed
  * manifest (language count, the recall target the depths were chosen
  * against, the sweep thresholds, and a sha over the canonical
  * serialization), reloads the newest committed valid version
  * ([[graft.sources.ModelStore]]), and emits the RELOADED table against
  * an oracle that re-derives both dials from scratch — hash-green ⇔ the
  * storage round trip preserved every depth and threshold exactly.
  *
  * Scale: the artifact is languages × one row (strings + a long + a
  * double + a bool) — trivially broadcast to any fleet; deriving the
  * dials rides the memoized certification relations. */
object ChoiceModel extends graft.sources.ModelCodec[ChoiceDials] {

  val family = "bitext_choice"
  val partDir = "dials"

  /** Language-keyed canonical checksum — any corrupted depth, flipped
    * threshold, dropped language, or toggled calibration flag changes
    * the string. */
  def choiceSha(rows: Seq[(String, Long, Double, Boolean)]): String =
    sha256Hex(rows.sortBy(_._1)
      .map { case (l, p, t, m) => s"$l:$p:$t:$m" }.mkString(";"))

  def rows(s: SparkSession, d: ChoiceDials): DataFrame = {
    import s.implicits._
    d.rows.toDF("tgt_lang", "chosen_probe", "chosen_threshold", "met_target")
  }

  /** Language count, the recall target the depths were chosen against,
    * the sweep thresholds, the dial sha and the quantizer binding. */
  def manifest(s: SparkSession, d: ChoiceDials): DataFrame = {
    import s.implicits._
    Seq((d.rows.length,
        BitextMine.RecallTargetNum, BitextMine.RecallTargetDen,
        BitextMine.CurveThresholds.mkString(","), choiceSha(d.rows),
        d.quantizerSha))
      .toDF("n_langs", "recall_num", "recall_den", "sweep", "choice_sha",
        "quantizer_sha")
  }

  /** Decoded by NAME, not position — a column reorder in a future writer
    * must fail validation, never silently swap fields into the wrong
    * dial. */
  def decode(parts: Array[Row], mf: Row): ChoiceDials =
    ChoiceDials(parts.map(r => (r.getAs[String]("tgt_lang"),
        r.getAs[Long]("chosen_probe"), r.getAs[Double]("chosen_threshold"),
        r.getAs[Boolean]("met_target"))).sortBy(_._1).toSeq,
      mf.getAs[String]("quantizer_sha"))

  /** Newest valid version certified against `quantizerSha`. A dial
    * artifact that predates a quantizer retrain is stale (its depths and
    * thresholds were swept on another geometry) and silently mis-probes
    * the new index, so the walk skips it exactly like a torn write: an
    * OLDER matching version keeps serving, and if none matches the
    * reload fails loudly (re-certify before mining). */
  def readLatestValid(s: SparkSession, base: String,
                      quantizerSha: String): (Int, ChoiceDials) =
    findLatestValid(s, base, _.quantizerSha == quantizerSha)
      .getOrElse(sys.error(s"no valid committed model under $base " +
        s"certified against quantizer $quantizerSha — re-run the " +
        "certification sweep against the current index"))

  /** Gate: derive both dials (memo-riding) → versioned write → reload
    * latest valid → emit the RELOADED table, oracled against a from-
    * scratch re-derivation of both dials. */
  def bitextChoiceRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trained = BitextMine.bitextProbeChoice(s, dir)
      .select(col("tgt_lang"), col("chosen_probe"))
      .join(BitextMine.bitextThresholdChoice(s, dir)
        .select(col("tgt_lang"), col("chosen_threshold"),
          col("met_target")), "tgt_lang")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
      .sortBy(_._1).toSeq
    // the quantizer the certification sweep actually probed (set by the
    // memoized assignment join the probe-choice derivation rides) —
    // bound into the manifest and demanded back at reload, so a dial
    // version certified on a since-retrained index can never serve
    val qsha = IvfModel.centroidSha(BitextMine.centersNow.getOrElse(
      sys.error("choice derivation did not train a quantizer")))
    val reloaded =
      roundtrip(s, dir, ChoiceDials(trained, qsha), _.quantizerSha == qsha)
    synchronized {
      lastOracle = Some(BitextMine.dialsSql(BitextMine.centersNow.get))
    }
    rows(s, reloaded).withColumn("manifest_ok", lit(true))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bitext_choice_roundtrip" -> bitextChoiceRoundtrip)

  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = synchronized(lastOracle) match {
    case Some(sql) => Map("bitext_choice_roundtrip" -> sql)
    case None => Map.empty
  }
}
