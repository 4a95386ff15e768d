package graft.storm

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkTestSession
import graft.streaming.StormStream
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Unit tables mirroring the reference's transform_test.go (see SURVEY.md §5
  * tier 1) plus the 271-record golden-fixture assertions (tier 4,
  * internal/integration/kafka_pipeline_test.go:248-285). */
class EnrichSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def evalStr(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).head.get(0)

  // -------------------------------------------------- severity boundaries
  // transform_test.go:365-409 — exact thresholds 0.75/1.5/2.5, 50/74/96,
  // tornado EF 1/2/4.
  test("severity thresholds (boundary-exact)") {
    val cases = Seq(
      ("hail", 0.0, null), ("hail", 0.74, "minor"), ("hail", 0.75, "moderate"),
      ("hail", 1.49, "moderate"), ("hail", 1.5, "severe"), ("hail", 2.49, "severe"),
      ("hail", 2.5, "extreme"),
      ("wind", 49.9, "minor"), ("wind", 50.0, "moderate"), ("wind", 73.9, "moderate"),
      ("wind", 74.0, "severe"), ("wind", 95.9, "severe"), ("wind", 96.0, "extreme"),
      ("tornado", 1.0, "minor"), ("tornado", 2.0, "moderate"),
      ("tornado", 3.0, "severe"), ("tornado", 4.0, "severe"),
      ("tornado", 5.0, "extreme"),
      ("other", 3.0, null))
    for ((t, m, want) <- cases)
      assert(evalStr(Enrich.severity(lit(t), lit(m))) == want,
        s"severity($t, $m)")
  }

  // -------------------------------------------------- magnitude dispatch
  // transform_test.go:166-190 — UNK, EF prefix, per-type column pick.
  test("magnitude dispatch and parse") {
    val cases = Seq(
      ("hail", "125", "", "", 125.0),
      ("tornado", "", "EF3", "", 3.0),
      ("tornado", "", "F2", "", 2.0),
      ("tornado", "", "UNK", "", 0.0),
      ("tornado", "", "unk", "", 0.0),
      ("wind", "", "", "65", 65.0),
      ("wind", "", "", "  61.5  ", 61.5),
      ("hail", "", "", "", 0.0),
      ("gust", "9", "9", "9", 0.0),
      ("hail", "bogus", "", "", 0.0))
    for ((t, sz, f, sp, want) <- cases)
      assert(evalStr(Enrich.magnitude(lit(t), lit(sz), lit(f), lit(sp))) == want,
        s"magnitude($t,$sz,$f,$sp)")
  }

  // -------------------------------------------------- unit + normalization
  test("unit defaults and hundredths normalization") {
    assert(evalStr(Enrich.normalizeUnit(lit("hail"), lit(""))) == "in")
    assert(evalStr(Enrich.normalizeUnit(lit("wind"), lit(""))) == "mph")
    assert(evalStr(Enrich.normalizeUnit(lit("tornado"), lit(""))) == "f_scale")
    assert(evalStr(Enrich.normalizeUnit(lit(""), lit(""))) == "")
    assert(evalStr(Enrich.normalizeUnit(lit("hail"), lit(" MPH "))) == "mph")
    // transform.go:200-208: hail/in >= 10 → ÷100; boundary 10.0 divides.
    assert(evalStr(Enrich.normalizeMagnitude(lit("hail"), lit(125.0), lit("in"))) == 1.25)
    assert(evalStr(Enrich.normalizeMagnitude(lit("hail"), lit(10.0), lit("in"))) == 0.1)
    assert(evalStr(Enrich.normalizeMagnitude(lit("hail"), lit(9.9), lit("in"))) == 9.9)
    assert(evalStr(Enrich.normalizeMagnitude(lit("wind"), lit(125.0), lit("mph"))) == 125.0)
    assert(evalStr(Enrich.normalizeMagnitude(lit("hail"), lit(0.0), lit("in"))) == 0.0)
  }

  // -------------------------------------------------- event type exact-match
  // transform_test.go:288-313 — case variants rejected.
  test("event type normalization is exact-match") {
    for (v <- Seq("hail", "wind", "tornado"))
      assert(evalStr(Enrich.normalizeEventType(lit(v))) == v)
    for (v <- Seq("HAIL", "Hail", " hail", "hail ", "gust", ""))
      assert(evalStr(Enrich.normalizeEventType(lit(v))) == "")
  }

  // -------------------------------------------------- HHMM / dual time parse
  // transform_test.go:118-164.
  test("hhmm and dual-format event time") {
    val base = to_timestamp(lit("2024-04-26 00:00:00"))
    def et(t: String): Any = evalStr(date_format(
      Enrich.eventTime(base, lit(t)), "yyyy-MM-dd HH:mm:ss"))
    val cases = Seq(
      "1510" -> "2024-04-26 15:10:00",
      "0000" -> "2024-04-26 00:00:00",
      "2359" -> "2024-04-26 23:59:00",
      "130" -> "2024-04-26 01:30:00", // 3-digit zero-pad
      "2567" -> "2024-04-26 00:00:00", // hour 25 invalid → base
      "1267" -> "2024-04-26 00:00:00", // minute 67 invalid → base
      "12" -> "2024-04-26 00:00:00", // too short → base
      "12345" -> "2024-04-26 00:00:00", // minutes 345 invalid → base
      "" -> "2024-04-26 00:00:00", // empty → kafka ts
      "2024-05-01T12:30:00Z" -> "2024-05-01 12:30:00", // RFC 3339
      "abcd" -> "2024-04-26 00:00:00")
    for ((t, want) <- cases) assert(et(t) == want, s"time '$t'")
  }

  // The ten-pattern RFC 3339 parse `eventTime` used before the two-pattern
  // form: one pattern per fraction length 1-9, tried on every string.
  private def tenPatternEventTime(kafkaTs: Column, timeStr: Column): Column = {
    val t = trim(timeStr)
    val patterns = "yyyy-MM-dd'T'HH:mm:ssXXX" +:
      (1 to 9).map(n => s"yyyy-MM-dd'T'HH:mm:ss.${"S" * n}XXX")
    val rfc3339 = coalesce(patterns.map(p => try_to_timestamp(t, lit(p))): _*)
    when(t === "", kafkaTs)
      .otherwise(coalesce(rfc3339, Enrich.hhmmTimestamp(kafkaTs, timeStr)))
  }

  test("two-pattern event time equals the ten-pattern parse") {
    val fractions = for {
      n <- 1 to 11
      zone <- Seq("Z", "-07:00")
    } yield s"2024-04-26T15:10:00.${"12345678901".take(n)}$zone"
    val inputs = fractions ++ Seq(
      "2024-04-26t15:10:00z", "2024-04-26t15:10:00.5Z",
      "2024-04-26T15:10:00+05:30", "2024-04-26T15:10:00.123+05:30",
      " 2024-04-26T15:10:00Z ", "", "1510", "510", "12345",
      "2024-04-26T15:10:00.Z", "2024-04-26 15:10:00Z",
      "+2024-04-26T15:10:00Z", "12024-04-26T15:10:00Z",
      "2024-02-30T15:10:00Z")
    assert(inputs.size == 36)
    // a scanned frame, not a local relation, so the generated code runs
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 2),
      new org.apache.spark.sql.types.StructType().add("t", "string"))
    val base = to_timestamp(lit("2024-04-26 00:00:00"))
    val now = Enrich.eventTime(base, col("t"))
    val out = df.select(col("t"),
      (tenPatternEventTime(base, col("t")) <=> now).as("same"),
      (now =!= base).as("parsed")).collect()
    val differ = out.filterNot(_.getBoolean(1)).map(_.getString(0))
    assert(differ.isEmpty, s"two-pattern parse differs on ${differ.mkString(", ")}")
    // not vacuous: fractions of 1-9 digits parse, 10-11 fall back to base
    val parsed = out.filter(_.getBoolean(2)).map(_.getString(0)).toSet
    assert(fractions.filter(parsed) == fractions.take(18))
  }

  // -------------------------------------------------- generated method sizes
  // HotSpot does not JIT-compile a method over 8,000 bytes of bytecode
  // (DontCompileHugeMethods is on by default): such a method runs in the
  // bytecode interpreter for every record.
  private val HugeMethodBytes = 8000

  private def maxMethodBytes(plan: SparkPlan): Int =
    org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      .map(_._3.maxMethodCodeSize).max

  private val kafkaTs = Timestamp.valueOf("2024-04-26 00:00:00")
  private val processedAt = Timestamp.valueOf("2024-04-27 06:00:00")

  /** An envelope shaped like the stream's file source: the `value` line
    * and the envelope `timestamp`, read from an RDD (a file source's
    * projection runs before the parse). */
  private def fileEnvelope(lines: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(Row(_, kafkaTs)), 2),
      new StructType().add("value", "string").add("timestamp", "timestamp"))

  /** What `runWithForeachBatch` runs per micro-batch over `env`. */
  private def staged(env: DataFrame): DataFrame =
    StormStream.staged(env, lit(processedAt))

  private val goodLine =
    """{"Time":"1510","Size":"125","Location":"8 ESE Chappel","County":"San Saba",""" +
      """"State":"TX","Lat":"31.02","Lon":"-98.44",""" +
      """"Comments":"1.25 inch hail reported. (SJT)","EventType":"hail"}"""

  /** The executed plans of the streaming stage over `env`, and of what
    * the batch function hands its two sinks. */
  private def streamBodyPlans(env: DataFrame): Map[String, SparkPlan] = {
    val batch = staged(env)
    var plans = Map("stage" -> batch.queryExecution.executedPlan)
    StormStream.processBatch(batch,
      g => plans += "wire" -> g.queryExecution.executedPlan,
      p => plans += "dead letter" -> p.queryExecution.executedPlan,
      metrics = None)
    plans
  }

  test("every generated method of the stream body is under the JIT limit") {
    val plans = streamBodyPlans(fileEnvelope(Seq(goodLine, "{not json")))
    assert(plans.keySet == Set("stage", "wire", "dead letter"))
    val sizes = plans.map { case (name, plan) => name -> maxMethodBytes(plan) }
    val huge = sizes.filter(_._2 >= HugeMethodBytes)
    assert(huge.isEmpty, s"generated methods at or over $HugeMethodBytes bytes: $huge")
  }

  test("the fused enrich method does not grow past its measured bytecode size") {
    // `transform` fuses parse and enrichment into one stage, so its largest
    // method is past the JIT limit; the guard is its measured size, so it
    // does not grow further unnoticed
    val maxFusedBytes = 8938
    val env = fileEnvelope(Seq(goodLine))
    val fused = maxMethodBytes(StormStream.transform(env).queryExecution.executedPlan)
    assert(fused <= maxFusedBytes,
      s"largest generated method of transform is $fused bytes (guard $maxFusedBytes)")
  }

  test("the split stream body equals the fused transform, record for record") {
    // golden record, then generated HHMM / RFC 3339 / UNK / legacy-hail
    // records and malformed lines
    val types = Seq("hail", "tornado", "wind", "", "gust")
    val times = Seq("1510", "130", "2567", "", "2024-04-26T15:33:00Z",
      "2024-04-26T15:33:00.25-05:00")
    val mags = Seq("125", "1.75", "EF2", "F1", "UNK", "unk", "65", "", "9.5")
    val generated = for (i <- 0 until 60) yield {
      val (t, tm, m) = (types(i % 5), times(i % 6), mags(i % 9))
      s"""{"EventType":"$t","Time":"$tm","Size":"$m","F_Scale":"$m",""" +
        s""""Speed":"$m","State":"${if (i % 7 == 0) "" else "TX"}",""" +
        s""""Lat":"${30 + i * 0.37}","Lon":"-${97 + i * 0.11}",""" +
        s""""Location":"${i % 4} NE Town$i","County":"C$i",""" +
        s""""Comments":"report $i (${if (i % 3 == 0) "OUN" else "oun"})"}"""
    }
    val malformed = Seq("{not json", "also-bad", """{"EventType":"hail",""")
    val lines = (goodLine +: generated) ++ malformed
    val env = fileEnvelope(lines)

    def wireRows(df: DataFrame): Seq[(Seq[Byte], String, Seq[(String, Seq[Byte])])] =
      df.collect().toSeq.map(r => (r.getAs[Array[Byte]]("key").toSeq,
        r.getAs[String]("value"),
        r.getSeq[Row](2).map(h => (h.getString(0), h.getAs[Array[Byte]](1).toSeq))))
        .sortBy(_._2)
    var good = Seq.empty[(Seq[Byte], String, Seq[(String, Seq[Byte])])]
    var poison = Seq.empty[Row]
    StormStream.processBatch(staged(env), g => good = wireRows(g),
      p => poison = p.collect().toSeq, metrics = None)

    val fused = wireRows(StormStream.toWire(
      StormStream.transform(env, processedAt = lit(processedAt))
        .filter(!col("parse_error"))))
    assert(good.size == lines.size - malformed.size)
    assert(good == fused)
    assert(good.exists(_._2.contains("\"id\":\"hail-5d91dda0f56ba124\"")))
    assert(poison.map(r => (r.getString(0), r.getTimestamp(1))).toSet ==
      malformed.map(_ -> kafkaTs).toSet)
    assert(poison.head.schema.fieldNames.toSeq == Seq("value", "timestamp"))
  }

  // -------------------------------------------------- office + location
  // transform_test.go:411-467.
  test("source office extraction") {
    val cases = Seq(
      "1.25 inch hail reported. (SJT)" -> "SJT",
      "(TSA)" -> "TSA",
      "trailing space (KTLX) " -> "KTLX",
      "two (ABC) then (DEF)" -> "DEF",
      "lowercase (abc)" -> "",
      "(TOOLONGG)" -> "",
      "(AB)" -> "",
      "no office" -> "",
      "" -> "")
    for ((c, want) <- cases)
      assert(evalStr(Enrich.sourceOffice(lit(c))) == want, s"comments '$c'")
  }

  test("location parsing") {
    def parts(l: String) = (
      evalStr(Enrich.locationName(lit(l))),
      evalStr(Enrich.locationDistance(lit(l))),
      evalStr(Enrich.locationDirection(lit(l))))
    assert(parts("8 ESE Chappel") == ("Chappel", 8.0, "ESE"))
    assert(parts("2.5 N Fort Worth") == ("Fort Worth", 2.5, "N"))
    assert(parts("Anthon") == ("Anthon", null, null))
    assert(parts("") == ("", null, null))
    assert(parts("8 XYZ Chappel") == ("8 XYZ Chappel", null, null))
    assert(parts("8 NNNN Chappel") == ("8 NNNN Chappel", null, null))
  }

  test("enrichment is reachable from SQL text via the registered view") {
    // the query reads one row and Enrich is row-local (projections only),
    // so the committed first record carries it where the fixture is absent
    val source =
      if (Files.exists(Paths.get(StormQueries.FixturePath))) StormQueries.FixturePath
      else StormQueries.FixtureFirstRecordPath
    spark.read.option("multiLine", true).schema(Model.rawSchema)
      .json(source)
      .withColumn("kafka_timestamp", to_timestamp(lit("2024-04-26 00:00:00")))
      .createOrReplaceTempView("raw_storm_v")
    Enrich.createEnrichedView(spark, "raw_storm_v", "enriched_storm_v",
      processedAt = to_timestamp(lit("2024-04-27 06:00:00")))
    val r = spark.sql(
      """SELECT id, magnitude, severity, source_office
        |FROM enriched_storm_v WHERE location_raw = '8 ESE Chappel'""".stripMargin)
      .head()
    assert(r.getString(0) == "hail-5d91dda0f56ba124")
    assert(r.getDouble(1) == 1.25)
    assert(r.getString(2) == "moderate")
    assert(r.getString(3) == "SJT")
  }

  // -------------------------------------------------- golden fixture (tier 4)
  test("271-record golden fixture enriches to reference expectations") {
    assume(Files.exists(Paths.get(StormQueries.FixturePath)),
      s"the reference fixture ${StormQueries.FixturePath} is absent " +
        "(see FIXTURES.md); these goldens need all 271 records")
    val df = StormQueries.stormFixture(spark, "/root/testdata/sf0.001").cache()
    val counts = df.groupBy("event_type").count().as[(String, Long)]
      .collect().toMap
    assert(counts == Map("hail" -> 79L, "tornado" -> 149L, "wind" -> 43L))

    // gate output is the flat scalar projection (hash-comparable); the
    // golden spot-checks read the flat columns directly
    // (kafka_pipeline_test.go:252-271)
    val chappel = df.filter($"location_raw" === "8 ESE Chappel").head()
    assert(chappel.getAs[String]("id") == "hail-5d91dda0f56ba124")
    assert(chappel.getAs[Double]("magnitude") == 1.25)
    assert(chappel.getAs[String]("unit") == "in")
    assert(chappel.getAs[String]("severity") == "moderate")
    assert(chappel.getAs[String]("source_office") == "SJT")
    assert(chappel.getAs[String]("location_name") == "Chappel")
    assert(chappel.getAs[String]("location_direction") == "ESE")
    assert(chappel.getAs[Double]("location_distance") == 8.0)
    assert(chappel.getAs[String]("time_bucket") == "2024-04-26 15:00:00")

    val pitts = df.filter($"county" === "Pittsburg" &&
      $"event_type" === "tornado").head()
    assert(pitts.getAs[String]("id") == "tornado-e42babad56fa20a7")
    assert(pitts.getAs[String]("source_office") == "TSA")
    assert(pitts.getAs[String]("location_name") == "Mcalester")
    assert(pitts.getAs[String]("time_bucket") == "2024-04-26 12:00:00")

    // the nested wire shape stays golden too (event.go:76-89 nesting)
    val nested = Enrich.nested(
      Enrich.enrich(
        spark.read.option("multiLine", true).schema(Model.rawSchema)
          .json(StormQueries.FixturePath)
          .withColumn("kafka_timestamp",
            to_timestamp(lit("2024-04-26 00:00:00"))),
        processedAt = to_timestamp(lit("2024-04-27 06:00:00"))))
      .filter($"location.raw" === "8 ESE Chappel").head()
    val meas = nested.getAs[Row]("measurement")
    assert(meas.getAs[Double]("magnitude") == 1.25)
    assert(meas.getAs[String]("severity") == "moderate")
    assert(nested.getAs[Row]("location").getAs[String]("name") == "Chappel")
    df.unpersist()
  }
}
