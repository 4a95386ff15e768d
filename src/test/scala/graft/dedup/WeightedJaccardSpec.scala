package graft.dedup

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Weighted-Jaccard contract: equal weights collapse to plain Jaccard
  * exactly (the constant cancels), boilerplate-heavy overlap is
  * discounted below plain Jaccard, and the gate relation keys equal the
  * LSH pair relation's. */
class WeightedJaccardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("all-unique shingles (equal weights): weighted == plain exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wjacc")
    try {
      // two near-dup docs over globally UNIQUE tokens: every shingle has
      // df 1 except the shared ones (df 2) — make ALL shingles of the
      // pair's union share one df by using docs that are near-identical
      // (shared shingles df 2) plus NO other docs: union weights are NOT
      // equal then. Instead plant the equal-weight case directly: two
      // IDENTICAL docs — every union shingle has df 2, weight constant.
      val t = (1 to 12).map(i => s"tok$i").mkString(" ")
      Seq((0L, t), (1L, t))
        .map { case (id, x) => (id, x, "en", "fix", x.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Memo.releaseAll()
      val rows = DedupQueries.dedupWeightedJaccard(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      assert(rows.keySet == Set((0L, 1L)))
      val (j, wj) = rows((0L, 1L))
      assert(j == 1.0 && wj == 1.0, s"identical docs must score 1.0/1.0, got $j/$wj")
    } finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("boilerplate-shared shingles are discounted: weighted < plain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wjacc2")
    try {
      // docs 0 and 1: share a boilerplate run (also present in 30 other
      // docs → high df → low weight) plus each has unique content; their
      // plain Jaccard over shared boilerplate exceeds the weighted one
      val boiler = "common header words repeated across every document here"
      val docs =
        Seq((0L, s"$boiler alpha beta gamma delta epsilon"),
          (1L, s"$boiler zeta eta theta iota kappa")) ++
          (2L to 31L).map(i => (i, s"$boiler filler$i only$i stuff$i"))
      docs.map { case (id, x) => (id, x, "en", "fix", x.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Memo.releaseAll()
      val rows = DedupQueries.dedupWeightedJaccard(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      rows.get((0L, 1L)).foreach { case (j, wj) =>
        assert(wj < j, s"boilerplate overlap not discounted: $wj >= $j")
      }
      // every pair key must come from the LSH pair relation
      val lsh = DedupQueries.dedupMinhashLsh(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.keySet == lsh)
      assert(rows.nonEmpty)
    } finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
