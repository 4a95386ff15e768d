package graft.storm

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end genmock + validate equivalents over the reference's combined
  * fixture, split back into per-type NOAA-style CSVs. Golden numbers were
  * computed independently (outside Spark) from the fixture JSON with the
  * documented enrichment rules. */
class GenMockValidateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  private val tmp = Files.createTempDirectory("genmock").toString
  private lazy val built = {
    // Split the combined fixture into the three per-type CSVs genmock reads,
    // keeping only the columns each NOAA file carries (S5 shape).
    val combined = spark.read.option("multiLine", "true")
      .schema(Model.rawSchema)
      .json(StormQueries.FixturePath)
    for ((stem, t, magCol) <- GenMock.fileDefs) {
      val cols = Seq("Time", magCol, "Location", "County", "State", "Lat",
        "Lon", "Comments")
      combined.filter(col("EventType") === t)
        .select(cols.map(col): _*)
        .coalesce(1)
        .write.option("header", "true").mode("overwrite")
        .csv(s"$tmp/$stem")
      val part = new java.io.File(s"$tmp/$stem").listFiles()
        .find(_.getName.endsWith(".csv")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/$stem.csv"))
    }
    GenMock.build(spark, tmp)
  }

  /** [[built]], or the test is canceled where the reference fixture is
    * absent: every golden below depends on all 271 records. */
  private def fixtureBuilt = {
    assume(Files.exists(Paths.get(StormQueries.FixturePath)),
      s"the reference fixture ${StormQueries.FixturePath} is absent " +
        "(see FIXTURES.md); these goldens need all 271 records")
    built
  }

  test("genmock: per-type counts and stats match independent goldens") {
    val (_, enriched) = fixtureBuilt
    val s = GenMock.stats(enriched)
    assert(s.byType == Map("hail" -> 79L, "tornado" -> 149L, "wind" -> 43L))
    assert(s.withSeverity == 86L)
    assert(s.mag175plus == 29L)
    assert(s.maxHailMagnitude == 3.0)
    assert(s.top5States.head == ("NE", 100L))
    assert(s.tarrantCount == 4L)
    assert(s.severeHailTx == 3L)
    assert(s.hailPlusTornado == 228L)
    assert(s.nearFortWorth == 9L)
    assert(s.firstHailId.startsWith("hail-"))
  }

  test("genmock: fixture round-trip through JSON array sink/source (S6/S7)") {
    val (raw, _) = fixtureBuilt
    val path = s"$tmp/etl_fixture.json"
    GenMock.writeJsonArray(raw.drop("_row"), "EventType", path)
    val back = GenMock.readJsonArray(spark, path, Model.rawSchema)
    assert(back.count() == 271)
    assert(back.filter(col("EventType") === "hail").count() == 79)
  }

  test("json array sink refuses datasets above the fixture-scale cap") {
    // the sink collects to the driver by contract; the cap turns the
    // documented fixture-scale contract into an enforced one
    val big = spark.range(GenMock.FixtureMaxRows + 1)
      .withColumnRenamed("id", "EventType")
    val err = intercept[IllegalArgumentException] {
      GenMock.writeJsonArray(big, "EventType", s"$tmp/too_big.json")
    }
    assert(err.getMessage.contains("fixture"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/too_big.json")))
  }

  test("validate phase 1: row parity passes on identical sets, catches edits") {
    val (raw, _) = fixtureBuilt
    assert(StormValidate.rowParity(raw, raw, Seq("_row")).count() == 0)
    val edited = raw.withColumn("County",
      when(col("_row") === 5, "Nowhere").otherwise(col("County")))
    assert(StormValidate.rowParity(raw, edited, Seq("_row")).count() == 1)
  }

  test("validate phase 2: counts, anti-join cross-reference, exclusivity") {
    val (raw, _) = fixtureBuilt
    assert(StormValidate.countMismatches(raw, raw).count() == 0)
    assert(StormValidate.missingFromEtl(raw, raw).count() == 0)
    // drop 3 etl rows → 3 source rows miss the index
    val partial = raw.filter(col("_row") > 3)
    assert(StormValidate.countMismatches(raw, partial).count() > 0)
    assert(StormValidate.missingFromEtl(raw, partial).count() == 3)
    assert(StormValidate.columnExclusivity(raw).count() == 0)
    val polluted = raw.withColumn("Speed",
      when(col("EventType") === "hail" && col("_row") === 1, "99")
        .otherwise(col("Speed")))
    assert(StormValidate.columnExclusivity(polluted).count() == 1)
  }

  test("validate phase 3: re-transform + dedup + tolerant field compare") {
    val (raw, enriched) = fixtureBuilt
    assert(StormValidate.apiTransformCheck(raw, enriched).count() == 0)
    // corrupt one api magnitude beyond tolerance → exactly one violation
    val bad = enriched.withColumn("magnitude",
      when(col("_row") === 10, col("magnitude") + 0.5)
        .otherwise(col("magnitude")))
    val v = StormValidate.apiTransformCheck(raw, bad).collect()
    assert(v.count(_.getString(1) == "magnitude") >= 1)
  }

  test("phase 3 over a pre-enriched expected ≡ the raw-in contract") {
    // the round-14 gate path hands the checker its already-materialized
    // enrichment output; the two entries must agree row-for-row
    val (raw, enriched) = fixtureBuilt
    val bad = enriched.withColumn("magnitude",
      when(col("_row") === 10, col("magnitude") + 0.5)
        .otherwise(col("magnitude")))
    val expected = Enrich.enrich(
      raw.withColumn("kafka_timestamp",
        to_timestamp(lit("2024-04-26 00:00:00"))),
      processedAt = to_timestamp(lit("2024-04-27 06:00:00")))
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(StormValidate.apiTransformCheckOver(expected, bad)) ==
      rows(StormValidate.apiTransformCheck(raw, bad)))
  }

  test("validate phase 4: schema alignment clean on enriched, catches breaks") {
    val (_, enriched) = fixtureBuilt
    assert(StormValidate.schemaAlignment(enriched).count() == 0)
    val bad = enriched
      .withColumn("unit", when(col("_row") === 2, "furlongs").otherwise(col("unit")))
      .withColumn("state", when(col("_row") === 3, "TEX").otherwise(col("state")))
    val rules = StormValidate.schemaAlignment(bad).collect().map(_.getString(1))
    assert(rules.contains("unit_enum"))
    assert(rules.contains("state_two_chars"))
  }
}
