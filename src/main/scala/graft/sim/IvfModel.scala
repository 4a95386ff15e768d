package graft.sim

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Trained-model ARTIFACT persistence — the index lifecycle story: in
  * production the coarse quantizer is trained once (a batch job),
  * shipped as a versioned artifact, and every query fleet loads it from
  * storage; nothing re-trains per session. Through round 9 the engine's
  * IVF centroids lived only in an in-memory memo. This gate applies the
  * [[graft.sources.CorpusManifest]] pattern to the model:
  *
  *  1. train (the shared memoized quantizer), WRITE the centroids as a
  *     parquet artifact next to a one-row manifest
  *     (n_lists, dim, training-sample modulus, centroid checksum);
  *  2. RELOAD the artifact (driver-side collect — nLists × dim doubles,
  *     model-bounded at any corpus size);
  *  3. verify the manifest: the checksum is recomputed FROM THE
  *     RELOADED coefficients (canonical shortest-round-trip decimal
  *     serialization, cell-index keyed), so one flipped byte anywhere
  *     in the artifact invalidates the version and the reader skips it;
  *  4. re-run the full IVF query path — cell assignment, centroid
  *     ranking, probe, exact-cosine re-rank — ENTIRELY from the
  *     reloaded model.
  *
  * The oracle is built from the TRAINED centroids (the `ivf_topk`
  * dynamic-oracle pattern), while the query runs from the RELOADED
  * ones — hash-green therefore proves the round trip is bit-exact end
  * to end: a write/read that loses one ulp changes an assignment score
  * or a cosine and reds the hash, independently of the manifest check.
  *
  * Scale: artifact write/read is ∝ nLists × dim (the model, never the
  * corpus); the replayed query is the standard IVF probe (broadcast-
  * side law). At production nLists (10⁴–10⁵ cells) the reload is still
  * megabytes — the artifact is the thing you ship to 1000 executors,
  * which is exactly why it must be storage-stable and checksummed.
  */
object IvfModel extends graft.sources.ModelCodec[Array[Array[Double]]] {

  val family = "ivf_model"
  val partDir = "centroids"

  /** Canonical centroid checksum: sha256 over the cell-index-keyed,
    * shortest-round-trip decimal serialization. Any representation the
    * storage layer could corrupt (a coefficient, an index, a missing
    * cell) changes the string. */
  def centroidSha(centers: Array[Array[Double]]): String =
    sha256Hex(centers.zipWithIndex
      .map { case (c, j) => s"$j:" + c.mkString(",") }.mkString(";"))

  /** One row per cell, array<double> coefficients. */
  def rows(s: SparkSession, centers: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    centers.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("j", "c")
  }

  /** Shape, the training-sample modulus, the checksum. */
  def manifest(s: SparkSession, centers: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    Seq((centers.length, centers.headOption.map(_.length).getOrElse(0),
        Ivf.SampleMod, centroidSha(centers)))
      .toDF("n_lists", "dim", "sample_mod", "centroid_sha")
  }

  /** Centers sorted by cell index. */
  def decode(parts: Array[Row], mf: Row): Array[Array[Double]] =
    parts.map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** Gate: versioned write → reload latest committed valid → verify →
    * query from the RELOADED model. */
  def ivfModelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, trained) = Ivf.assignments(s, dir) // train (memoized)
    val reloaded = roundtrip(s, dir, trained)
    val dim = reloaded(0).length

    // the full query path, from the reloaded coefficients only
    val assigned = Tables(s, dir, "embeddings")
      .withColumn("cell", Ivf.cellExpr(reloaded))
    val qEmb = assigned.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head().map(_.toDouble)
    val probes = Ivf.rankCellsFor(qEmb, reloaded).take(Ivf.NProbe).toArray

    // oracle from the TRAINED model: hash-green ⇔ reload is bit-exact
    synchronized {
      lastOracle = Some(
        s"""SELECT vec_id, label, cell, cosine,
          |  ${Ivf.NLists}::BIGINT AS n_lists, ${dim}::BIGINT AS dim,
          |  TRUE AS manifest_ok
          |FROM (${Ivf.ivfOracleSql(trained,
                 Ivf.rankCellsFor(qEmb, trained).take(Ivf.NProbe).toArray)})"""
          .stripMargin)
    }
    Ivf.topkFrom(assigned, probes)
      .withColumn("n_lists", lit(reloaded.length.toLong))
      .withColumn("dim", lit(dim.toLong))
      .withColumn("manifest_ok", lit(true))
  }

  /** Gate: the artifact's INGEST face — a new batch of vectors
    * (`vec_id % BatchMod`, the engine-wide snapshot convention) is
    * assigned with the RELOADED quantizer, no retraining, and the gate
    * reports per-cell new-batch occupancy — the skew readout an index
    * owner watches on every ingest (a cell absorbing the whole batch
    * means the shipped model no longer fits the data). Oracle = the
    * TRAINED-literal argmin over the batch slice, so hash-green again
    * certifies artifact fidelity through a second, independent query
    * shape. Scale: batch-slice projection + cell-bounded rollup. */
  def ivfAssignDelta(s: SparkSession, dir: String): DataFrame = {
    val (_, trained) = Ivf.assignments(s, dir)
    val reloaded = roundtrip(s, dir, trained)
    val batchMod = graft.dedup.SnapshotDedup.BatchMod
    synchronized {
      lastDeltaOracle = Some(
        s"""SELECT cell, count(*)::BIGINT AS n_new,
          |  min(vec_id) AS first_vec, max(vec_id) AS last_vec,
          |  TRUE AS manifest_ok
          |FROM (${assignOracleSql(trained)})
          |WHERE vec_id % $batchMod = 0
          |GROUP BY cell""".stripMargin)
    }
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") % batchMod === 0)
      .withColumn("cell", Ivf.cellExpr(reloaded))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_new"),
        min("vec_id").as("first_vec"), max("vec_id").as("last_vec"))
      .withColumn("manifest_ok", lit(true))
  }

  /** (vec_id, cell) via the literal-centroid argmin — the `ivf_topk`
    * oracle's assignment sub-query, factored for the delta gate. */
  private def assignOracleSql(centers: Array[Array[Double]]): String = {
    val rows = centers.zipWithIndex.map { case (c, j) =>
      s"($j, ${Ivf.fmtD(c.map(x => x * x).sum)}, " +
        s"[${c.map(Ivf.fmtD).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    s"""SELECT vec_id, cell FROM (
       |  SELECT vec_id, j AS cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score ASC, j ASC) AS rn
       |  FROM (
       |    SELECT e.vec_id, c.j,
       |      c.c2 - 2 * (${SimilarityQueries.sqlDot("e.embedding", "c.c")})
       |        / sqrt(${SimilarityQueries.sqlDot("e.embedding", "e.embedding")})
       |        AS score
       |    FROM embeddings e CROSS JOIN (VALUES
       |    $rows) AS c(j, c2, c)))
       |WHERE rn = 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivf_model_roundtrip" -> ivfModelRoundtrip,
    "ivf_model_assign_delta" -> ivfAssignDelta)

  private var lastDeltaOracle: Option[String] = None

  // dynamic oracle (trained-model literals) — the ivf_topk pattern:
  // Verify runs every query before dumping oracle SQL
  private var lastOracle: Option[String] = None

  def oracles: Map[String, String] = {
    val a = synchronized(lastOracle) match {
      case Some(sql) => Map("ivf_model_roundtrip" -> sql)
      case None => Map.empty[String, String]
    }
    synchronized(lastDeltaOracle) match {
      case Some(sql) => a + ("ivf_model_assign_delta" -> sql)
      case None => a
    }
  }
}
