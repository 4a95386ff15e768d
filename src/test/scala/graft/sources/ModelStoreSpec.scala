package graft.sources

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-artifact lifecycle laws: monotone version allocation with
  * a commit marker, retention, torn-write skip, and the ROLLBACK proof
  * the versioning exists for — after a bad write, the reader serves the
  * previous version's exact coefficients. */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpBase(): String =
    java.nio.file.Files.createTempDirectory("graft-modelstore").toString +
      "/model"

  test("versions allocate monotonically; retention keeps the newest Keep") {
    val base = tmpBase()
    val written = (1 to 5).map { i =>
      ModelStore.write(base, p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload.txt"), s"v$i"))
    }
    assert(written == (1 to 5), "version numbers must be 1..5 in order")
    assert(ModelStore.committedVersions(base) == Seq(3, 4, 5),
      s"retention must keep the newest ${ModelStore.Keep}")
    // pruned version directories are gone from disk
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ModelStore.versionPath(base, 1))))
  }

  test("concurrent writers: 8 threads x 5 writes race the claim loop — " +
    "every version number is unique, every commit's payload is its own " +
    "writer's, and retention converges") {
    val base = tmpBase()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).flatMap { t =>
        (1 to 5).map { i =>
          pool.submit(new java.util.concurrent.Callable[(String, Int)] {
            def call(): (String, Int) = {
              val tag = s"writer$t-$i"
              val v = ModelStore.write(base, p =>
                java.nio.file.Files.writeString(
                  java.nio.file.Paths.get(p, "payload.txt"), tag))
              (tag, v)
            }
          })
        }
      }
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // no version number was ever shared between two writers
      assert(got.map(_._2).distinct.size == 40,
        s"40 writes must claim 40 distinct versions, got ${got.map(_._2).sorted}")
      // retention converged to the newest Keep committed versions, and
      // each retained payload is exactly the bytes of the writer that
      // claimed that number — no interleaving
      val byVersion = got.map(_.swap).toMap
      val committed = ModelStore.committedVersions(base)
      assert(committed.size == ModelStore.Keep &&
        committed == got.map(_._2).sorted.takeRight(ModelStore.Keep),
        s"retention must keep the newest ${ModelStore.Keep}, got $committed")
      committed.foreach { v =>
        val payload = java.nio.file.Files.readString(java.nio.file.Paths
          .get(ModelStore.versionPath(base, v), "payload.txt"))
        assert(payload == byVersion(v),
          s"v=$v must hold its claiming writer's payload, got $payload")
      }
    } finally pool.shutdownNow()
  }

  test("a torn write (writer throws) leaves no committed version and " +
    "never recycles its number") {
    val base = tmpBase()
    ModelStore.write(base, p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "payload.txt"), "good"))
    intercept[RuntimeException] {
      ModelStore.write(base, _ => throw new RuntimeException("disk full"))
    }
    assert(ModelStore.committedVersions(base) == Seq(1),
      "the torn v2 must not be committed")
    val v3 = ModelStore.write(base, p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "payload.txt"), "good again"))
    assert(v3 == 3, "the torn version number must not be reused")
    // the torn v=2 dir is NOT swept while it sits inside the retained
    // committed window (it could be a concurrent writer mid-write)...
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(ModelStore.versionPath(base, 2))))
    // ...and IS swept once Keep newer committed versions age it out
    (4 to 6).foreach { _ =>
      ModelStore.write(base, p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload.txt"), "newer"))
    }
    assert(ModelStore.committedVersions(base) == Seq(4, 5, 6))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ModelStore.versionPath(base, 2))),
      "the torn dir must be swept once below the retained window")
  }

  test("commit guard: a claim swept mid-write fails the write loudly " +
    "instead of committing a possibly-partial artifact") {
    val base = tmpBase()
    ModelStore.write(base, p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "payload.txt"), "good"))
    val e = intercept[IllegalStateException] {
      ModelStore.write(base, { p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload.txt"), "partial")
        // simulate a concurrent prune sweeping the claimed dir mid-write
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(p, "_ALLOCATED"))
      })
    }
    assert(e.getMessage.contains("concurrent prune"))
    assert(ModelStore.committedVersions(base) == Seq(1),
      "the swept claim must never become a committed version")
  }

  test("commit guard: a claim whose alloc marker holds a FOREIGN token " +
    "(a second writer let through by a non-atomic create) fails loudly") {
    val base = tmpBase()
    val e = intercept[IllegalStateException] {
      ModelStore.write(base, { p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload.txt"), "mine")
        // simulate an object store whose create(overwrite=false) is
        // check+PUT: a second writer's token lands over ours, THROUGH
        // the Hadoop FS so the marker stays readable (a real foreign
        // writer's PUT is checksum-consistent)
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(new org.apache.hadoop.conf.Configuration())
        val out = fs.create(
          new org.apache.hadoop.fs.Path(p, "_ALLOCATED"), true)
        try out.write("foreign-token".getBytes("UTF-8")) finally out.close()
      })
    }
    assert(e.getMessage.contains("re-claimed"))
    assert(ModelStore.committedVersions(base).isEmpty,
      "the re-claimed version must never commit")
  }

  test("commit guard: a marker that exists but cannot be read back " +
    "(transient IO or half-landed foreign PUT) aborts WITHOUT asserting " +
    "a concurrency bug") {
    val base = tmpBase()
    val e = intercept[IllegalStateException] {
      ModelStore.write(base, { p =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "payload.txt"), "mine")
        // an out-of-band rewrite invalidates the checksummed local FS's
        // CRC — the marker exists but the read-back fails, exactly the
        // ambiguous state a transient read hiccup produces
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "_ALLOCATED"), "foreign-token")
      })
    }
    assert(e.getMessage.contains("could not be read back"),
      s"ambiguous marker state must be diagnosed as such: ${e.getMessage}")
    assert(!e.getMessage.contains("re-claimed"),
      "must not assert a definite foreign claim it cannot prove")
    assert(ModelStore.committedVersions(base).isEmpty,
      "the unverifiable claim must never commit")
  }

  test("latestValid skips a committed-but-invalid version") {
    val base = tmpBase()
    ModelStore.write(base, p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "payload.txt"), "valid"))
    ModelStore.write(base, p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "payload.txt"), "CORRUPT"))
    val got = ModelStore.latestValid(base, p =>
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(p, "payload.txt")) != "CORRUPT")
    assert(got.map(_._1).contains(1), s"must fall back to v1, got $got")
  }

  test("rollback: after a bad IVF model write, the reader reproduces the " +
    "previous version's exact centroids") {
    import graft.sim.IvfModel
    val base = tmpBase()
    val good = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val bad = Array(Array(9.0, 9.0), Array(3.0, 4.0))
    ModelStore.write(base, p => IvfModel.writeModel(spark, p, good))
    // a bad write: centroids from `bad` but the manifest of `good` — the
    // torn/corrupted-artifact shape the checksum exists to catch
    ModelStore.write(base, { p =>
      IvfModel.writeModel(spark, p, bad)
      import spark.implicits._
      Seq((good.length, 2, graft.sim.Ivf.SampleMod,
          IvfModel.centroidSha(good)))
        .toDF("n_lists", "dim", "sample_mod", "centroid_sha")
        .write.mode("overwrite").parquet(s"$p/manifest")
    })
    assert(ModelStore.committedVersions(base) == Seq(1, 2))
    val (v, centers) = IvfModel.readLatestValid(spark, base)
    assert(v == 1, "reader must roll back to the valid version")
    assert(centers.map(_.toSeq).toSeq == good.map(_.toSeq).toSeq,
      "rolled-back coefficients must be bit-exact")
  }

  test("the store works against an explicit file:/// URI base (the " +
    "Hadoop FileSystem path a cluster deployment resolves)") {
    import graft.sim.IvfModel
    val local = tmpBase()
    val base = "file://" + local // non-default URI scheme, same payload
    val good = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    val v1 = ModelStore.write(base, p => IvfModel.writeModel(spark, p, good))
    assert(v1 == 1)
    assert(ModelStore.committedVersions(base) == Seq(1))
    // the version landed where the local-path view expects it, with its
    // commit marker
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(local, "v=1", "_COMMITTED")))
    // retention + torn-write laws hold identically through the URI
    intercept[RuntimeException] {
      ModelStore.write(base, _ => throw new RuntimeException("torn"))
    }
    (3 to 6).foreach { _ =>
      ModelStore.write(base, p => IvfModel.writeModel(spark, p, good))
    }
    assert(ModelStore.committedVersions(base) == Seq(4, 5, 6))
    val got = ModelStore.latestValid(base,
      p => IvfModel.readModel(spark, p)._2)
    assert(got.map(_._1).contains(6), s"latestValid through the URI: $got")
    val centers = IvfModel.readModel(spark, got.get._2)._1
    assert(centers.map(_.toSeq).toSeq == good.map(_.toSeq).toSeq)
  }

  test("corrupt-a-byte: one flipped quality weight reds the manifest") {
    import graft.text.QualityModel
    val dir = java.nio.file.Files
      .createTempDirectory("graft-qmodel").toString
    val w = Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6)
    QualityModel.writeModel(spark, dir, w)
    assert(QualityModel.readModel(spark, dir)._2, "clean write must verify")
    // flip one coefficient but keep the manifest — sha must catch it
    import spark.implicits._
    val flipped = w.updated(3, w(3) + 1e-13)
    flipped.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
      .toDF("i", "w").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/weights")
    val (got, ok) = QualityModel.readModel(spark, dir)
    assert(!ok, "a flipped ulp must red manifest_ok")
    assert(got.toSeq == flipped.toSeq)
  }

  test("corrupt-a-byte: one flipped mining dial reds the choice manifest") {
    import graft.sim.ChoiceModel
    val dir = java.nio.file.Files
      .createTempDirectory("graft-choicemodel").toString
    val rows = Seq(("de", 4L, 1.15, true), ("fr", 2L, 1.05, true),
      ("zh", 8L, 1.25, false))
    ChoiceModel.writeModel(spark, dir,
      graft.sim.ChoiceDials(rows, "test-quantizer-sha"))
    val (got, ok) = ChoiceModel.readModel(spark, dir)
    assert(ok && got.rows == rows.sortBy(_._1), "clean write must verify")
    // rewrite the dials with one deeper probe, manifest untouched
    import spark.implicits._
    val flipped = rows.updated(0, ("de", 8L, 1.15, true))
    flipped.toDF("tgt_lang", "chosen_probe", "chosen_threshold",
        "met_target")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/dials")
    assert(!ChoiceModel.readModel(spark, dir)._2,
      "a flipped probe depth must red manifest_ok")
  }

  test("corrupt-a-byte: one flipped PCA coefficient reds the manifest") {
    import graft.sim.{EmbedPca, PcaModel}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pcamodel").toString
    val m = EmbedPca.Model(2, Array(0.5, -0.5),
      Array(Array(1.0, 0.0, 0.25, 0.125), Array(0.0, 1.0, -0.25, 0.0625)),
      Array(2.0, 1.0, 0.5, 0.25))
    PcaModel.writeModel(spark, dir, m)
    assert(PcaModel.readModel(spark, dir)._2, "clean write must verify")
    // rewrite the parts with one flipped matrix entry, manifest untouched
    val m2 = EmbedPca.Model(m.dim, m.mean,
      Array(m.w(0).updated(2, m.w(0)(2) + 1e-13), m.w(1)), m.eig)
    import spark.implicits._
    val rows =
      Seq(("mean", 0, m2.mean.toSeq)) ++
        (0 until EmbedPca.K).map(k =>
          ("w", k, (0 until m2.dim).map(i => m2.w(i)(k)))) ++
        Seq(("eig", 0, m2.eig.toSeq))
    rows.toDF("part", "k", "v").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/parts")
    assert(!PcaModel.readModel(spark, dir)._2,
      "a flipped ulp must red manifest_ok")
  }
}
