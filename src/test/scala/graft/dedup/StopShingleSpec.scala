package graft.dedup

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-corpus invariants for the bounded dedup pipeline:
  * a boilerplate shingle above the [[DedupQueries.MaxShingleDf]] cap is
  * pruned before any pairwise consumer (the 100 TB hot-key guard), the
  * cluster path inherits the LSH-bounded pair set rather than the
  * quadratic self-join, and no dedup query leaves storage pinned in the
  * session's cache manager after its action completes. */
class StopShingleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Corpus with one boilerplate trigram planted in MaxShingleDf + 2 docs
    * (each otherwise unique) plus one organic near-dup pair (9001, 9002)
    * that shares no boilerplate. */
  private def hotCorpus(dir: String): Unit = {
    import spark.implicits._
    val hot = (0 until DedupQueries.MaxShingleDf + 2).map { i =>
      (1000L + i, s"hot stop gram u${i}a u${i}b u${i}c", "fix")
    }
    val dup = Seq(
      (9001L, "organic pair text shared verbatim across two documents only", "fix"),
      (9002L, "organic pair text shared verbatim across two documents only", "fix"))
    (hot ++ dup).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def withHotCorpus[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("hotshingle")
    try f(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a shingle above MaxShingleDf is pruned from the pairwise relation") {
    withHotCorpus { dir =>
      hotCorpus(dir)
      val pruned = DedupQueries.prunedShingles(spark, dir)
      assert(pruned.filter(col("s") === "hot stop gram").count() == 0,
        "boilerplate shingle survived the stop-shingle cap")
      // everything under the cap is untouched
      assert(pruned.filter(col("doc_id") === 9001L).count() > 0)
    }
  }

  test("the exhaustive and LSH pair queries see only organic pairs") {
    withHotCorpus { dir =>
      hotCorpus(dir)
      // without the cap the hot shingle alone would contribute
      // (MaxShingleDf+2 choose 2) > 8000 candidate pairs
      val jac = DedupQueries.dedupShingleJaccard(spark, dir)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(jac.toSet == Set((9001L, 9002L)), s"got ${jac.mkString(",")}")
      val lsh = DedupQueries.dedupMinhashLsh(spark, dir)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(lsh.toSet == Set((9001L, 9002L)), s"got ${lsh.mkString(",")}")
    }
  }

  test("dedup_clusters inherits the LSH bound: one two-doc cluster") {
    withHotCorpus { dir =>
      hotCorpus(dir)
      val cl = ConnectedComponents.dedupClusters(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the boilerplate docs never reach pair generation, so the only
      // component is the organic pair — the quadratic self-join shape
      // would have clustered all MaxShingleDf+2 hot docs together
      assert(cl == Set((9001L, 9001L, 2L), (9002L, 9001L, 2L)), s"got $cl")
    }
  }

  test("dedup_apply tiers are disjoint and sum to the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedupapply")
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      Seq(
        1L -> base, // exact group keeper AND cluster keeper
        2L -> base, // exact duplicate of 1 -> removed at the exact tier
        4L -> "completely unrelated words with nothing shared at all here")
        .toDF("doc_id", "text").withColumn("source", lit("fix"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = ConnectedComponents.dedupApply(spark, dir.toString).head()
      // the identical pair is also an LSH cluster, but doc 2 is already
      // gone at the exact tier, so the near tier must NOT recount it
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((3L, 1L, 0L, 2L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("dedup_apply agrees with dedup_exact and dedup_clusters on sf0.001") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val r = ConnectedComponents.dedupApply(spark, sf).head()
    val (nDocs, nExact, nNear, nSurv) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nDocs == nExact + nNear + nSurv)
    // exact tier equals the independent content-hash rollup
    val exact = DedupQueries.dedupExact(spark, sf)
      .select("n_docs", "n_dup_docs").as[(Long, Long)].head()
    assert(nDocs == exact._1 && nExact == exact._2)
    // near tier is bounded by the clusters' non-keeper count and nonzero
    // on this corpus (near-dups beyond the exact groups are planted)
    val nonKeepers = ConnectedComponents.dedupClusters(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id")).count()
    assert(nNear <= nonKeepers)
    assert(nNear > 0, "expected near-dup removals beyond exact groups")
  }

  test("source_overlap is symmetric in shared counts and bounded in fractions") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val m = DedupQueries.sourceOverlap(spark, sf)
      .select("src_a", "src_b", "n_a", "n_shared")
      .as[(String, String, Long, Long)].collect()
    assert(m.nonEmpty)
    val shared = m.map(r => (r._1, r._2) -> r._4).toMap
    for (((a, b), n) <- shared)
      assert(shared((b, a)) == n, s"|A∩B| must be symmetric for ($a,$b)")
    assert(m.forall(r => r._4 <= r._3), "shared cannot exceed the source size")
  }

  test("memoized dedup results invalidate when data is rewritten in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memostale")
    try {
      def write(texts: Seq[(Long, String)]): Unit =
        texts.toDF("doc_id", "text").withColumn("source", lit("fix"))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val base = "the quick brown fox jumps over the lazy dog again"
      write(Seq(1L -> base, 2L -> base, 3L -> base, 4L -> base))
      val first = ConnectedComponents.dedupApply(spark, dir.toString).head()
      assert(first.getLong(1) == 3L, "three exact duplicates expected")
      // rewrite in place with four PAIRWISE-UNRELATED texts. The exact
      // tier is recomputed fresh every call, so the memoized state only
      // shows in the NEAR tier (column 2): stale cluster labels from the
      // all-duplicates corpus would report 3 near-dup removals (old
      // cluster non-keepers minus the now-empty exact tier), fresh labels
      // report 0.
      write(Seq.tabulate(4)(d =>
        (d + 1).toLong -> (1 to 12).map(i => s"u$d-$i").mkString(" ")))
      val second = ConnectedComponents.dedupApply(spark, dir.toString).head()
      assert(second.getLong(1) == 0L)
      assert(second.getLong(2) == 0L,
        "stale memoized cluster labels served after an in-place rewrite")
      assert(second.getLong(3) == 4L, "all rewritten docs must survive")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("dedup family pins nothing in the cache manager after running") {
    val sf = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupQueries.dedupShingleJaccard(spark, sf).collect()
    DedupQueries.dedupMinhashLsh(spark, sf).collect()
    DedupQueries.crossDocNgrams(spark, sf).collect()
    SubstringDedup.dedupSubstring(spark, sf).collect()
    ConnectedComponents.dedupClusters(spark, sf).collect()
    graft.text.TextQueries.termRarityTopk(spark, sf).collect()
    // drop the deliberate memos first: after release, EVERY
    // checkpointed relation must be unreferenced
    graft.Memo.releaseAll()
    // localCheckpoint materializations are reclaimed by the ContextCleaner
    // once unreferenced — a session-lifetime .cache() would never be. Poll
    // a few GC cycles for the cleaner to drain its reference queue.
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
    }
    assert(leaked.isEmpty,
      s"dedup queries left RDDs pinned after their actions: $leaked")
  }
}
