package graft.dedup

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The shorter-side containment index must emit EXACTLY the exhaustive
  * containment join's relation — on a planted asymmetric corpus (where
  * a prefix×prefix join would miss the pair: the host's rarest-token
  * prefix need not touch the quote) AND on the real gate corpus, where
  * the candidate relation must also be strictly smaller than the
  * exhaustive co-occurrence pair relation (the point of the index). */
class ContainmentIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rel(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))).toSet

  test("planted quote-in-host: indexed equals exhaustive, host prefix misses the quote") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("containIdx")
    try {
      val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      // the host's own tokens are globally UNIQUE (df 1), so the host's
      // prefix is all-filler — prefix×prefix would never pair it with
      // the quote; the asymmetric probe must still find it
      val filler = (1 to 60).map(i => s"w$i").mkString(" ")
      val docs = Seq(
        (0L, quote),
        (1L, s"$quote $filler"),
        (2L, "totally unrelated words one two three four five six seven"),
        (3L, s"$quote omega psi chi phi"), // second host, overlapping group
        (4L, "tiny pair text here"))
        .map { case (id, t) => (id, t, "en", "fix", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Memo.releaseAll()

      val exhaustive = rel(DedupQueries.dedupContainment(spark, dir.toString))
      val indexed = rel(PrefixJoin.dedupContainmentIndexed(spark, dir.toString))
      assert(exhaustive.exists(p => p._1 == 0L && p._2 == 1L),
        "planted pair must qualify")
      assert(indexed == exhaustive,
        s"indexed ${indexed.size} vs exhaustive ${exhaustive.size}")
    } finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("sf0.001 corpus: indexed equals exhaustive; candidates < exhaustive pair relation") {
    val dir = "/root/testdata/sf0.001"
    graft.Memo.releaseAll()
    val exhaustive = rel(DedupQueries.dedupContainment(spark, dir))
    val indexed = rel(PrefixJoin.dedupContainmentIndexed(spark, dir))
    assert(exhaustive.nonEmpty, "gate corpus must have containment pairs")
    assert(indexed == exhaustive)

    import org.apache.spark.sql.functions._
    val sh = DedupQueries.prunedShingles(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val full = sh.join(sizes, "doc_id")
    val prefix = PrefixJoin.prefixTokens(sh, DedupQueries.ContainmentThreshold)
    val nCands =
      PrefixJoin.containmentCandidates(prefix, full).count()
    val nExhaustive = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nCands < nExhaustive,
      s"index buys nothing: $nCands candidates vs $nExhaustive exhaustive")
    assert(nCands >= exhaustive.size.toLong, "candidates must cover true pairs")
  }
}
