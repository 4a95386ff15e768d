package graft.storm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end demo/verification main: reproduce the reference's `genmock`
  * transform leg (cmd/genmock/main.go:96-172) on its 271-record golden
  * fixture, printing the spot-check values asserted by the reference's
  * integration tests (internal/integration/kafka_pipeline_test.go:248-285).
  *
  * Run: sbt "runMain graft.storm.FixtureDemo"
  */
object FixtureDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("storm-fixture-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fixture = args.headOption.getOrElse(StormQueries.FixturePath)

    // genmock injects RawEvent{Timestamp: 2024-04-26 00:00 UTC} and a fixed
    // clock of 2024-04-27 06:00 UTC (cmd/genmock/main.go:29,61-64).
    val raw = spark.read.option("multiLine", true)
      .schema(Model.rawSchema).json(fixture)
      .withColumn("kafka_timestamp",
        to_timestamp(lit("2024-04-26 00:00:00")))

    val enriched = Enrich.enrich(raw,
      processedAt = to_timestamp(lit("2024-04-27 06:00:00")))
    enriched.cache()

    println("== counts by event_type (expect hail=79 tornado=149 wind=43) ==")
    enriched.groupBy("event_type").count().orderBy("event_type").show()

    println("== golden: 8 ESE Chappel hail (expect mag=1.25 in moderate, " +
      "office SJT, name Chappel dir ESE dist 8.0, bucket 15:00Z) ==")
    enriched.filter(col("location_raw") === "8 ESE Chappel")
      .select("id", "event_type", "magnitude", "unit", "severity",
        "source_office", "location_name", "location_direction",
        "location_distance", "event_time", "time_bucket", "processed_at")
      .show(truncate = false)

    println("== golden: Pittsburg OK tornado (expect office TSA, " +
      "name Mcalester, bucket 12:00Z) ==")
    enriched.filter(col("county") === "Pittsburg" && col("event_type") === "tornado")
      .select("id", "event_type", "magnitude", "unit", "severity",
        "source_office", "location_name", "time_bucket")
      .show(truncate = false)

    println("== nested wire JSON (first record) ==")
    val nested = Enrich.nested(enriched)
    nested.select(Enrich.wireJson(struct(nested.columns.map(col): _*)).as("value"))
      .show(1, truncate = false)

    spark.stop()
  }
}
