package graft.dedup

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** `dedup_minhash_lsh_grouped` — the collapse-first twin — must be
  * PAIR-IDENTICAL to the ungrouped pipeline, including on the corpus
  * shape it exists for: exact-duplicate mega-groups (which the shared
  * fixtures barely carry). Planted here: a 6-copy group (15 intra
  * pairs), a 3-copy group near-dup against a 2-copy group (6 cross
  * pairs carrying the representatives' scores), and a 2-word doc with
  * an exact copy that must emit NOTHING (below the 3-word shingle
  * floor, same as the ungrouped path). */
class GroupedLshSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val groupA = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  // differs from groupA in the final word only: 17 of 19 trigrams shared,
  // jaccard 17/21 ≈ 0.81 — a genuine near-dup across two distinct contents
  private val groupB = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau phi"

  private def megaCorpus(dir: String): Unit = {
    import spark.implicits._
    val rows =
      (0 until 6).map(i => (100L + i, groupA, "fix")) ++
        (0 until 3).map(i => (200L + i, groupB, "fix")) ++
        // unrelated singleton content
        Seq((300L, "completely different words about storms and rivers flowing", "fix")) ++
        // sub-shingle-floor exact pair: 2 words, must never pair
        Seq((400L, "too short", "fix"), (401L, "too short", "fix"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def withCorpus[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("groupedlsh")
    try f(dir.toString)
    finally {
      graft.Memo.releaseAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).toSet

  test("grouped == ungrouped on a mega-group corpus, short dups excluded") {
    withCorpus { dir =>
      megaCorpus(dir)
      val grouped = pairSet(DedupQueries.dedupMinhashLshGrouped(spark, dir))
      DedupQueries.lshMemo.release()
      val flat = pairSet(DedupQueries.dedupMinhashLsh(spark, dir))
      assert(grouped == flat,
        s"grouped minus flat: ${(grouped -- flat).take(5)}; " +
          s"flat minus grouped: ${(flat -- grouped).take(5)}")
      // 15 intra pairs in the 6-copy group, all exact (1.0, 1.0)
      val intraA = grouped.filter(p => p._1 >= 100 && p._2 < 106)
      assert(intraA.size == 15 && intraA.forall(p => p._3 == 1.0 && p._4 == 1.0))
      // 3 intra pairs in the 3-copy group
      assert(grouped.count(p => p._1 >= 200 && p._2 < 203) == 3)
      // the 6×3 cross pairs surface iff the rep pair collides in a band —
      // either way both pipelines must agree (asserted above); with these
      // fixed hashes they DO collide, so pin the expectation
      val cross = grouped.filter(p => p._1 < 106 && p._2 >= 200)
      assert(cross.size == 18, s"expected 18 cross pairs, got ${cross.size}")
      assert(cross.map(p => (p._3, p._4)).size == 1,
        "cross pairs must all carry the representatives' (est, jaccard)")
      // nothing from the sub-shingle-floor pair or the singleton
      assert(grouped.forall(p => p._1 < 400 && p._2 < 400))
      assert(!grouped.exists(p => p._1 == 300 || p._2 == 300))
    }
  }

  test("grouped == ungrouped on the shared fixture corpus") {
    val dir = "/root/testdata/sf0.001"
    val grouped = pairSet(DedupQueries.dedupMinhashLshGrouped(spark, dir))
    val flat = pairSet(DedupQueries.dedupMinhashLsh(spark, dir))
    assert(grouped == flat)
    assert(grouped.nonEmpty, "fixture corpus should carry near-dup pairs")
  }
}
