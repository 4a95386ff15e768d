package graft.multimodal

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Scene-change detection: SAD over hand-built frames is exact, and on a
  * planted 3-byte clip (quadratic frame shifts 0,1,1,0) the transitions
  * come out [s, 0, s] with cuts [true, false, true] — both classes
  * exercised from real decoded PNG frames. */
class SceneChangeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("frameSads is the exact per-transition pixel SAD") {
    def img(v: Int) = MediaCodec.DecodedImage(8, 8, Array.fill(64)(v))
    val sads = Multimodal.frameSads(Seq(img(0), img(0), img(10)))
    assert(sads.toSeq == Seq(0L, 640L))
    assert(Multimodal.frameSads(Seq(img(5))).isEmpty)
  }

  test("planted clip: transitions [s,0,s], cuts [true,false,true]") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scene")
    try {
      // prefix-byte-sum 97+98+122 = 317 ≡ 2 (mod 3) → video; text "abz"
      // (n=3) → f = 4 frames with quadratic shifts k² % 3 = 0,1,1,0
      Seq((2L, "abz")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t = "abz".getBytes("UTF-8")
      val s = (0 until 64).map { i =>
        math.abs(t((i + 1) % 3) - t(i % 3))
      }.sum.toLong
      val rows = Multimodal.mediaSceneChanges(spark, dir.toString)
        .orderBy("frame_idx").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(rows.toSeq == Seq((0L, s, true), (1L, 0L, false), (2L, s, true)),
        s"rows: ${rows.toSeq}, expected s=$s")
    } finally {
      Multimodal.mediaMemo.release() // drop the memo pinned to the temp dir
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
