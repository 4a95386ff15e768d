package graft.dedup

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** b-bit minhash estimator contract: same pair relation as the full
  * LSH gate, identical signatures estimate 1.0 on both columns, and the
  * 1-bit estimate is the exact 2·p̂−1 rescale of the bit agreements. */
class BbitMinhashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("pair keys equal the full-minhash LSH gate's; estimates bounded") {
    val bbit = BbitMinhash.dedupBbitMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val lsh = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bbit.keySet == lsh, "pair relations diverge")
    assert(bbit.nonEmpty)
    bbit.values.foreach { case (j, full, one) =>
      assert(j >= 0.5 && j <= 1.0)
      assert(full >= 0.0 && full <= 1.0)
      assert(one >= -1.0 && one <= 1.0)
      // every full-value match is also a bit match: B >= F, i.e.
      // est_full <= (est_1bit + 1) / 2
      assert(full <= (one + 1) / 2 + 1e-9,
        s"impossible estimator pair full=$full one=$one")
    }
  }

  test("planted identical docs estimate 1.0 on both signature widths") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bbit")
    try {
      val t = (1 to 12).map(i => s"tok$i").mkString(" ")
      val other = (1 to 12).map(i => s"oth$i").mkString(" ")
      Seq((0L, t), (1L, t), (2L, other))
        .map { case (id, x) => (id, x, "en", "fix", x.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Memo.releaseAll()
      val rows = BbitMinhash.dedupBbitMinhash(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(rows.keySet == Set((0L, 1L)))
      assert(rows((0L, 1L)) == ((1.0, 1.0, 1.0)))
    } finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
