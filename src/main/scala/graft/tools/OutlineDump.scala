package graft.tools

import org.apache.spark.sql.SparkSession

/** Print gate queries' normalized full plan strings in a fresh session
  * (exactly what PlanLockMain digests) — the drift-diffing companion to
  * [[PlanPeek]] (which prints the raw executed plan). Usage:
  * `sbt "runMain graft.tools.OutlineDump <query> [<query> ...]"`. */
object OutlineDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.plans.PlanDigest.planQueries()
    args.foreach { name =>
      val plan = graft.plans.PlanDigest.withFullPlanStrings(spark)(
        graft.plans.PlanDigest.normalize(
          queries(name)(
            spark, graft.plans.PlanDigest.LockSfDir)
            .queryExecution.sparkPlan.treeString))
      println(s"=== $name")
      println(plan)
    }
    spark.stop()
  }
}
