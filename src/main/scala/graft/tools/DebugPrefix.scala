package graft.tools

import graft.dedup.{DedupQueries, PrefixJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch diagnostic for the prefix-join candidate bound (not a gate
  * surface): per corpus dir, the shingle df profile, full vs prefix
  * pair expansion, and candidate counts. */
object DebugPrefix {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      val sh = DedupQueries.prunedShingles(spark, dir)
      val dfc = sh.groupBy("s").agg(count(lit(1)).as("df")).cache()
      val nSh = sh.count()
      val nDistinct = dfc.count()
      val maxDf = dfc.agg(max("df")).head.getLong(0)
      val fullExp = dfc.agg(sum(col("df") * (col("df") - 1) / 2).cast("long")).head.getLong(0)
      val prefix = PrefixJoin.prefixTokens(sh).cache()
      val nPref = prefix.count()
      val pc = prefix.groupBy("s").agg(count(lit(1)).as("p"))
      val prefExp = pc.agg(sum(col("p") * (col("p") - 1) / 2).cast("long")).head.getLong(0)
      val cands = PrefixJoin.candidatePairs(prefix).count()
      println(s"DBG dir=$dir sh=$nSh distinct=$nDistinct maxDf=$maxDf " +
        s"fullExp=$fullExp prefRows=$nPref prefExp=$prefExp cands=$cands")
      prefix.unpersist(); dfc.unpersist()
    }
    spark.stop()
  }
}
