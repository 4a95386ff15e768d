package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The one-slot memo every engine artifact rides: stamp keying, release,
  * failed builds, the eviction rule and the registry. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def write(dir: Path, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def withCorpus[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("memo")
    try { write(dir, 3); f(dir) }
    finally
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
  }

  /** A memo over the temp corpus that counts its builds; each build's
    * plan carries its number, so no two builds share a cache entry. */
  private def counting(materialize: DataFrame => DataFrame) = {
    var builds = 0
    val m = Memo("documents") { (s, dir) =>
      builds += 1
      materialize(Tables(s, dir, "documents").withColumn("build", lit(builds)))
    }
    (m, () => builds)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  private def checkpointLevel(df: DataFrame): StorageLevel =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .get.getStorageLevel

  test("same key hands back the same instance; a rewrite rebuilds") {
    withCorpus { dir =>
      val (m, builds) = counting(_.localCheckpoint(true))
      val a = m(spark, dir.toString)
      assert(m(spark, dir.toString) eq a)
      assert(builds() == 1)
      write(dir, 5)
      val b = m(spark, dir.toString)
      assert(!(b eq a) && builds() == 2, "a rewritten table must rebuild")
      assert(ids(b) == Seq(0L, 1L, 2L, 3L, 4L))
    }
  }

  test("release rebuilds with equal rows") {
    withCorpus { dir =>
      val (m, builds) = counting(_.localCheckpoint(true))
      val a = m(spark, dir.toString)
      m.release()
      assert(m.current.isEmpty)
      val b = m(spark, dir.toString)
      assert(!(b eq a) && builds() == 2)
      assert(ids(b) == ids(a))
    }
  }

  test("a build that throws leaves the slot empty; the next call builds") {
    withCorpus { dir =>
      var fail = false
      var builds = 0
      val m = Memo("documents") { (s, d) =>
        builds += 1
        if (fail) throw new IllegalStateException("budget")
        Tables(s, d, "documents").count()
      }
      assert(m(spark, dir.toString) == 3L)
      write(dir, 4)
      fail = true
      intercept[IllegalStateException](m(spark, dir.toString))
      assert(m.current.isEmpty, "a failed rebuild must not keep the old value")
      fail = false
      assert(m(spark, dir.toString) == 4L)
      assert(builds == 3)
    }
  }

  test("cached values are unpersisted on replace and release") {
    withCorpus { dir =>
      val (m, _) = counting(_.cache())
      val a = m(spark, dir.toString)
      a.count()
      assert(a.storageLevel != StorageLevel.NONE)
      write(dir, 4)
      val b = m(spark, dir.toString)
      b.count()
      assert(a.storageLevel == StorageLevel.NONE, "replace must unpersist")
      assert(b.storageLevel != StorageLevel.NONE)
      m.release()
      assert(b.storageLevel == StorageLevel.NONE, "release must unpersist")
    }
  }

  test("checkpointed values stay readable after replace and release") {
    withCorpus { dir =>
      val (m, _) = counting(_.localCheckpoint(true))
      val a = m(spark, dir.toString)
      write(dir, 4)
      val b = m(spark, dir.toString)
      m.release()
      // a reader still holding an old DataFrame keeps its blocks
      assert(checkpointLevel(a) != StorageLevel.NONE)
      assert(checkpointLevel(b) != StorageLevel.NONE)
      assert(ids(a) == Seq(0L, 1L, 2L) && ids(b) == Seq(0L, 1L, 2L, 3L))
    }
  }

  test("releaseAll empties memos of different objects") {
    val sf = SparkTestSession.fixture("sf0.001")
    graft.dedup.DedupQueries.prunedShingles(spark, sf)
    graft.sim.EmbedPca.model(spark, sf)
    assert(graft.dedup.DedupQueries.prunedMemo.current.nonEmpty)
    assert(graft.sim.EmbedPca.modelMemo.current.nonEmpty)
    Memo.releaseAll()
    assert(graft.dedup.DedupQueries.prunedMemo.current.isEmpty)
    assert(graft.sim.EmbedPca.modelMemo.current.isEmpty)
  }

  test("no hand-rolled one-slot memo var in src/main") {
    // both slot styles the engine used: keyed on a (session, dir, stamp)
    // tuple or on an untyped `Any` key
    val slot =
      """private\s+var\s+\w+\s*:\s*Option\[\((\(SparkSession|Any\b)""".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => slot.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(hits.isEmpty, s"use graft.Memo instead of a slot var in: $hits")
  }
}
