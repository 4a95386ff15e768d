package graft.dedup

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Containment pairs on a planted corpus: a short doc quoted verbatim
  * inside a much longer one is reported with containment 1.0 and the
  * short side as the removal candidate, even though the pair's Jaccard
  * is far below the symmetric near-dup threshold; unrelated docs and
  * below-minimum-size docs stay silent. */
class ContainmentSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("quote-inside-document is caught; Jaccard misses it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contain")
    try {
      val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val filler = (1 to 60).map(i => s"w$i").mkString(" ")
      val docs = Seq(
        (0L, quote),                    // 10 words → 8 shingles ≥ min 5
        (1L, s"$quote $filler"),        // the quote verbatim + 60 fillers
        (2L, "totally unrelated words one two three four five six seven"),
        (3L, "tiny pair text here"))    // < MinContainedShingles
        .map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Memo.releaseAll() // fresh memos for the temp corpus

      val got = DedupQueries.dedupContainment(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(5))).toMap
      assert(got.keySet == Set((0L, 1L)), s"pairs: ${got.keySet}")
      val (containedId, c) = got((0L, 1L))
      assert(containedId == 0L, "the SHORT side is the removal candidate")
      assert(c == 1.0, s"verbatim quote must have containment 1.0, got $c")

      val jacc = DedupQueries.dedupShingleJaccard(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!jacc.contains((0L, 1L)),
        "planted pair must be BELOW the symmetric Jaccard threshold")
    } finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
