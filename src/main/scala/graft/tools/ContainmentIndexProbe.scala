package graft.tools

import graft.ShuffleByGroup
import graft.dedup.{DedupQueries, PrefixJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures what the shorter-side containment index buys over the
  * exhaustive pair relation (round-6 verdict #2 "done" criterion):
  * per corpus, the index's candidate count vs the exhaustive distinct
  * co-occurrence pair count, plus end-to-end wall + shuffle records of
  * the full `dedup_containment_indexed` query.
  *
  * `sbt "runMain graft.tools.ContainmentIndexProbe /root/testdata/sf0.1
  *   /tmp/graft_scale/x10 /tmp/graft_scale/x30"`
  */
object ContainmentIndexProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ContainmentIndexProbe <dir> ...")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shuffle = new ShuffleByGroup
    spark.sparkContext.addSparkListener(shuffle)

    args.foreach { dir =>
      val sh = DedupQueries.prunedShingles(spark, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val full = sh.join(sizes, "doc_id")
      val prefix =
        PrefixJoin.prefixTokens(sh, DedupQueries.ContainmentThreshold)
      val nCands =
        PrefixJoin.containmentCandidates(prefix, full).count()
      val nExhaustive = sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      val t0 = System.nanoTime()
      shuffle.measure(spark.sparkContext, s"$dir|indexed") {
        PrefixJoin.dedupContainmentIndexed(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      shuffle.drain()
      val wall = (System.nanoTime() - t0) / 1e9
      println(
        f"""{"dir":"$dir","candidates":$nCands,"exhaustive_pairs":$nExhaustive,""" +
          f""""indexed":{"sec":$wall%.2f,"shuffle_rec":${shuffle.recOf(s"$dir|indexed")}}}""")
    }
    spark.stop()
  }
}
