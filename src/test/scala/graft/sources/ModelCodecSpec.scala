package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import graft.sim.{ChoiceDials, ChoiceModel, EmbedPca, Ivf, IvfModel, PcaModel,
  PqModel}
import graft.text.{BpeModel, QualityClassifier, QualityModel}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one validity rule of [[ModelCodec]], run over all six model
  * families: a version whose parts changed under an intact manifest is
  * skipped and the previous version serves bit-exactly, and a manifest
  * that differs from the reader's only in a hyperparameter is rejected. */
class ModelCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpBase(): String =
    Files.createTempDirectory("graft-modelcodec").toString + "/model"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** `good` and `bad` differ in their parts; `key` compares two values
    * bit for bit. */
  private case class Family[T](codec: ModelCodec[T], good: T, bad: T,
                               key: T => Any)

  private val ivf = Family[Array[Array[Double]]](IvfModel,
    Array(Array(1.0, 2.0), Array(3.0, 4.0)),
    Array(Array(9.0, 9.0), Array(3.0, 4.0)),
    _.map(_.map(bits).toSeq).toSeq)
  private val pq = Family[Array[Array[Array[Double]]]](PqModel,
    Array(Array(Array(0.1, 0.2), Array(0.3, 0.4)),
      Array(Array(0.5, 0.6), Array(0.7, 0.8))),
    Array(Array(Array(0.1, 0.2), Array(0.3, 0.4)),
      Array(Array(0.5, 0.6), Array(0.7, 0.8 + 1e-13))),
    _.map(_.map(_.map(bits).toSeq).toSeq).toSeq)
  private val pca = Family[EmbedPca.Model](PcaModel,
    EmbedPca.Model(2, Array(0.5, -0.5),
      Array.tabulate(2, EmbedPca.K)((i, k) => 1.0 / (1 + i + k)),
      Array.tabulate(EmbedPca.K)(k => 2.0 / (1 + k))),
    EmbedPca.Model(2, Array(0.5, -0.5 + 1e-13),
      Array.tabulate(2, EmbedPca.K)((i, k) => 1.0 / (1 + i + k)),
      Array.tabulate(EmbedPca.K)(k => 2.0 / (1 + k))),
    m => (m.dim, m.mean.map(bits).toSeq, m.w.map(_.map(bits).toSeq).toSeq,
      m.eig.map(bits).toSeq))
  private val bpe = Family[Seq[(String, String)]](BpeModel,
    Seq(("a", "b"), ("ab", "c"), ("c", "d")),
    Seq(("ab", "c"), ("a", "b"), ("c", "d")),
    identity)
  private val quality = Family[Array[Double]](QualityModel,
    Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6),
    Array(0.1, 0.2, 0.3, 0.4 + 1e-13, 0.5, 0.6),
    _.map(bits).toSeq)
  private val choice = Family[ChoiceDials](ChoiceModel,
    ChoiceDials(Seq(("de", 4L, 1.15, true), ("fr", 2L, 1.05, true)), "q1"),
    ChoiceDials(Seq(("de", 8L, 1.15, true), ("fr", 2L, 1.05, true)), "q1"),
    d => (d.rows.map { case (l, p, t, m) => (l, p, bits(t), m) },
      d.quantizerSha))

  private def rollback[T](f: Family[T]): Unit = {
    val base = tmpBase()
    ModelStore.write(base, p => f.codec.writeModel(spark, p, f.good))
    // v2: the parts of `bad` under the manifest of `good`
    ModelStore.write(base, { p =>
      f.codec.writeModel(spark, p, f.bad)
      f.codec.manifest(spark, f.good)
        .write.mode("overwrite").parquet(s"$p/manifest")
    })
    assert(ModelStore.committedVersions(base) == Seq(1, 2))
    assert(!f.codec.readModel(spark, ModelStore.versionPath(base, 2))._2)
    val (v, got) = f.codec.readLatestValid(spark, base)
    assert(v == 1, "the reader must roll back to the valid version")
    assert(f.key(got) == f.key(f.good), "rolled-back value must be bit-exact")
  }

  Seq(ivf, pq, pca, bpe, quality, choice).foreach { f =>
    test(s"${f.codec.family}: parts changed under an intact manifest roll " +
      "back to the previous version") {
      rollback(f)
    }
  }

  /** Good v1, then v2 = the same parts under a manifest whose `field`
    * holds `value`: the reader rejects v2 and serves v1. */
  private def hyperparameter[T](f: Family[T], field: String,
                                value: Any): Unit = {
    val base = tmpBase()
    ModelStore.write(base, p => f.codec.writeModel(spark, p, f.good))
    ModelStore.write(base, { p =>
      f.codec.writeModel(spark, p, f.good)
      f.codec.manifest(spark, f.good).withColumn(field, lit(value))
        .write.mode("overwrite").parquet(s"$p/manifest")
    })
    assert(!f.codec.readModel(spark, ModelStore.versionPath(base, 2))._2,
      s"a manifest with another $field must be rejected")
    val (v, got) = f.codec.readLatestValid(spark, base)
    assert(v == 1 && f.key(got) == f.key(f.good))
  }

  test("ivf_model: a manifest with another sample_mod is rejected") {
    hyperparameter(ivf, "sample_mod", Ivf.SampleMod + 1)
  }

  test("quality_model: a manifest with another lambda is rejected") {
    hyperparameter(quality, "lambda", QualityClassifier.Lambda * 2)
  }

  test("bitext_choice: a manifest with another sweep is rejected") {
    hyperparameter(choice, "sweep", "1.05,1.25")
  }

  test("the six model families reach ModelStore only through ModelCodec") {
    val modelFiles = Set("PqModel.scala", "IvfModel.scala", "PcaModel.scala",
      "BpeModel.scala", "QualityModel.scala", "ChoiceModel.scala")
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toList
    assert(sources.count(s => modelFiles(s._1)) == modelFiles.size)
    val storeCalls = Seq("ModelStore.latestValid(", "ModelStore.write(")
    val bypass = sources.collect {
      case (name, text) if name != "ModelCodec.scala" &&
        storeCalls.exists(text.contains) => name
    }
    assert(bypass.isEmpty,
      s"write and read model versions through ModelCodec in: $bypass")
    val ownDigest = sources.collect {
      case (name, text) if modelFiles(name) &&
        text.contains("MessageDigest") => name
    }
    assert(ownDigest.isEmpty, s"use ModelCodec.sha256Hex in: $ownDigest")
  }
}
