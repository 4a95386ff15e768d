package graft.tools

import graft.dedup.DedupQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-by-stage cardinality probe for the LSH dedup pipeline —
  * diagnoses WHERE pair volume grows when a scale run's shuffle departs
  * from the ∝docs law (used for SCALE_VALIDATION.md). */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-lsh-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      val sh = DedupQueries.prunedShingles(spark, dir)
      val mh = DedupQueries.minhashSignatures(sh).localCheckpoint(true)
      // the pipeline's own banding recipe — never a diverged copy
      val bands = DedupQueries.bands(mh).localCheckpoint(true)
      val bucketSizes = bands.groupBy("band", "bh").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).as("pairs"),
          max("count").as("max_bucket"), count(lit(1)).as("n_buckets"))
        .head()
      val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct().count()
      val verified = DedupQueries.dedupMinhashLsh(spark, dir).count()
      println(s"PROBE $dir shingles=${sh.count()} docs=${mh.count()} " +
        s"bucket_pairs=${bucketSizes.get(0)} max_bucket=${bucketSizes.get(1)} " +
        s"n_buckets=${bucketSizes.get(2)} cands=$cands verified=$verified")
    }
    spark.stop()
  }
}
