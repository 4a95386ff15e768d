package graft.streaming

import graft.SparkTestSession
import graft.sim.BitextMine
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave ≡ batch for streaming bitext mining: each micro-batch of source
  * docs, mined through the shared pipeline against the static candidate
  * corpus, must equal the batch-mode mineWave over exactly that wave. */
class StreamBitextSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("each streamed wave mines exactly as its batch-mode run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val dv = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(graft.Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val candidates = dv.filter(col("lang") =!= BitextMine.SrcLang)
      .localCheckpoint(true)
    // two waves of en queries: the gate's own batch slice, split in two
    val batchDocs = dv.filter(col("lang") === BitextMine.SrcLang &&
        col("doc_id") % BitextMine.QMod === 0)
      .as[(Long, String, Array[Float])].collect().sortBy(_._1)
    val (w0, w1) = batchDocs.splitAt(batchDocs.length / 2)
    assert(w0.nonEmpty && w1.nonEmpty)

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bitext-stream-ckpt").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft-bitext-stream").toString
    val mem = MemoryStream[(Long, String, Array[Float])]
    val q = StreamBitext.mineWaves(
      mem.toDS().toDF("doc_id", "lang", "embedding"),
      candidates, base, ckpt)
    try {
      mem.addData(w0.toIndexedSeq); q.processAllAvailable()
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(base).collect()
      .groupBy(_.getAs[Int]("wave").toLong)
      .view.mapValues(_.map(r => (r.getAs[Long]("src_id"),
        r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet)
      .toMap
    assert(got.keySet == Set(0L, 1L))

    def batchMode(wave: Array[(Long, String, Array[Float])]) =
      BitextMine.mineWave(
          wave.toSeq.toDF("doc_id", "lang", "embedding"), candidates,
          useCell = false)
        .filter(col("margin") >= BitextMine.MarginThresh)
        .collect().map(r => (r.getAs[Long]("src_id"),
          r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
          r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet

    assert(got(0L) == batchMode(w0), "wave 0 must equal its batch run")
    assert(got(1L) == batchMode(w1), "wave 1 must equal its batch run")
    assert(got(0L).nonEmpty && got(1L).nonEmpty)
    // waves are margin-relative to THEIR batch: the two waves' unions
    // need not equal one big-batch mining run — that is the documented
    // batched-mining semantics, not drift
  }

  test("pruned waves mine exactly as their batch-mode multiprobe run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val (assigned, centers) = graft.sim.Ivf.assignments(spark, dir)
    val dv = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(graft.Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val candidates = dv.filter(col("lang") =!= BitextMine.SrcLang)
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")),
        "doc_id")
      .localCheckpoint(true)
    val batchDocs = dv.filter(col("lang") === BitextMine.SrcLang &&
        col("doc_id") % BitextMine.QMod === 0)
      .as[(Long, String, Array[Float])].collect().sortBy(_._1)
    val (w0, w1) = batchDocs.splitAt(batchDocs.length / 2)

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bitext-mp-ckpt").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft-bitext-mp").toString
    val mem = MemoryStream[(Long, String, Array[Float])]
    val q = StreamBitext.mineWavesPruned(
      mem.toDS().toDF("doc_id", "lang", "embedding"),
      candidates, centers, BitextMine.MineNProbe, base, ckpt)
    try {
      mem.addData(w0.toIndexedSeq); q.processAllAvailable()
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(base).collect()
      .groupBy(_.getAs[Int]("wave").toLong)
      .view.mapValues(_.map(r => (r.getAs[Long]("src_id"),
        r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet)
      .toMap
    assert(got.keySet == Set(0L, 1L))

    def batchMode(wave: Array[(Long, String, Array[Float])]) =
      BitextMine.mineWavePruned(
          wave.toSeq.toDF("doc_id", "lang", "embedding"), candidates,
          centers, BitextMine.MineNProbe)
        .filter(col("margin") >= BitextMine.MarginThresh)
        .collect().map(r => (r.getAs[Long]("src_id"),
          r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
          r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet

    assert(got(0L) == batchMode(w0), "pruned wave 0 must equal batch")
    assert(got(1L) == batchMode(w1), "pruned wave 1 must equal batch")
    assert(got(0L).nonEmpty || got(1L).nonEmpty,
      "the pruned waves must mine something at sf0.001")
  }

  test("tuned waves consume the choice table and mine exactly as their " +
    "batch-mode tuned run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val (assigned, centers) = graft.sim.Ivf.assignments(spark, dir)
    val dv = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(graft.Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val candidates = dv.filter(col("lang") =!= BitextMine.SrcLang)
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")),
        "doc_id")
      .localCheckpoint(true)
    // the certified per-language depth table, exactly what production
    // ships next to the quantizer artifact
    val choice = BitextMine.bitextProbeChoice(spark, dir)
      .select(col("tgt_lang").as("lang"), col("chosen_probe").as("nprobe"))
      .localCheckpoint(true)
    assert(choice.select("nprobe").distinct().count() > 1,
      "fixture languages must not all choose the same depth, or the " +
        "tuned/uniform regimes are indistinguishable here")
    val batchDocs = dv.filter(col("lang") === BitextMine.SrcLang &&
        col("doc_id") % BitextMine.QMod === 0)
      .as[(Long, String, Array[Float])].collect().sortBy(_._1)
    val (w0, w1) = batchDocs.splitAt(batchDocs.length / 2)

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bitext-tn-ckpt").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft-bitext-tn").toString
    val mem = MemoryStream[(Long, String, Array[Float])]
    val q = StreamBitext.mineWavesTuned(
      mem.toDS().toDF("doc_id", "lang", "embedding"),
      candidates, centers, choice, base, ckpt)
    try {
      mem.addData(w0.toIndexedSeq); q.processAllAvailable()
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(base).collect()
      .groupBy(_.getAs[Int]("wave").toLong)
      .view.mapValues(_.map(r => (r.getAs[Long]("src_id"),
        r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet)
      .toMap
    assert(got.keySet == Set(0L, 1L))

    def batchMode(wave: Array[(Long, String, Array[Float])]) =
      BitextMine.mineWaveChosen(
          wave.toSeq.toDF("doc_id", "lang", "embedding"), candidates,
          centers, choice)
        .filter(col("margin") >= BitextMine.MarginThresh)
        .collect().map(r => (r.getAs[Long]("src_id"),
          r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
          r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet

    assert(got(0L) == batchMode(w0), "tuned wave 0 must equal batch")
    assert(got(1L) == batchMode(w1), "tuned wave 1 must equal batch")
    assert(got(0L).nonEmpty || got(1L).nonEmpty,
      "the tuned waves must mine something at sf0.001")
  }

  test("calibrated waves consume the SHIPPED dial artifact and mine " +
    "exactly as the calibrated batch cut") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val (assigned, centers) = graft.sim.Ivf.assignments(spark, dir)
    val dv = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(graft.Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val candidates = dv.filter(col("lang") =!= BitextMine.SrcLang)
      .join(assigned.select(col("vec_id").as("doc_id"), col("cell")),
        "doc_id")
      .localCheckpoint(true)
    // the artifact path a production fleet actually reads: run the
    // roundtrip gate (derive → versioned write → reload) and take the
    // RELOADED dial table
    graft.sim.ChoiceModel.bitextChoiceRoundtrip(spark, dir).collect()
    // reload DEMANDING the quantizer actually in use — the staleness
    // binding a mining fleet runs with (ChoiceModelSpec proves the
    // reject path; here the happy path must serve)
    val qsha = graft.sim.IvfModel.centroidSha(
      graft.sim.BitextMine.centersNow.get)
    val (_, shipped) = graft.sim.ChoiceModel.readLatestValid(
      spark, graft.sim.ChoiceModel.modelDir(dir), qsha)
    val dials = shipped.rows
      .toDF("tgt_lang", "chosen_probe", "chosen_threshold", "met_target")
      .localCheckpoint(true)
    val batchDocs = dv.filter(col("lang") === BitextMine.SrcLang &&
        col("doc_id") % BitextMine.QMod === 0)
      .as[(Long, String, Array[Float])].collect().sortBy(_._1)
    val (w0, w1) = batchDocs.splitAt(batchDocs.length / 2)

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bitext-cal-ckpt").toString
    val base = java.nio.file.Files
      .createTempDirectory("graft-bitext-cal").toString
    val mem = MemoryStream[(Long, String, Array[Float])]
    val q = StreamBitext.mineWavesCalibrated(
      mem.toDS().toDF("doc_id", "lang", "embedding"),
      candidates, centers, dials, base, ckpt)
    try {
      mem.addData(w0.toIndexedSeq); q.processAllAvailable()
      mem.addData(w1.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(base).collect()
      .groupBy(_.getAs[Int]("wave").toLong)
      .view.mapValues(_.map(r => (r.getAs[Long]("src_id"),
        r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet)
      .toMap
    assert(got.keySet == Set(0L, 1L))

    def batchMode(wave: Array[(Long, String, Array[Float])]) =
      BitextMine.mineWaveChosen(
          wave.toSeq.toDF("doc_id", "lang", "embedding"), candidates,
          centers, dials.select(col("tgt_lang").as("lang"),
            col("chosen_probe").as("nprobe")))
        .join(dials.select(col("tgt_lang"), col("chosen_threshold")),
          "tgt_lang")
        .filter(col("margin") >= col("chosen_threshold"))
        .collect().map(r => (r.getAs[Long]("src_id"),
          r.getAs[String]("tgt_lang"), r.getAs[Long]("tgt_id"),
          r.getAs[Double]("margin"), r.getAs[Boolean]("mutual"))).toSet

    assert(got(0L) == batchMode(w0), "calibrated wave 0 must equal batch")
    assert(got(1L) == batchMode(w1), "calibrated wave 1 must equal batch")
    assert(got(0L).nonEmpty || got(1L).nonEmpty,
      "the calibrated waves must mine something at sf0.001")
  }
}
