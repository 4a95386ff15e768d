package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named gate queries to files — the
  * optimization-round evidence artifacts (`plans/r13/<q>_before.txt` /
  * `_after.txt`).
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> [q1,q2,…]
  * With no query list, dumps every declared query. Memo-backed queries are
  * dumped with the memos warm (the bench's steady-state shape). Queries
  * are built through `PlanDigest.planQueries`, so `storm_fixture` is
  * explained over the committed first record where the reference
  * fixture is absent.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val queries = graft.plans.PlanDigest.planQueries()
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq
      else queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = queries(name)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) =>
          s"EXPLAIN FAILED: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      System.err.println(s"[explain] $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
