package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Streaming-semantics tests with MemoryStream (SURVEY.md §5 tier 3): the
  * observable outcomes of the reference's pipeline loop — happy path,
  * poison-pill skip, readiness flip — plus the watermarked-window and
  * mapGroupsWithState extensions. */
class StormStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val goodJson =
    """{"Time":"1510","Size":"125","Location":"8 ESE Chappel","County":"San Saba",
      |"State":"TX","Lat":"31.02","Lon":"-98.44",
      |"Comments":"1.25 inch hail reported. (SJT)","EventType":"hail"}"""
      .stripMargin.replace("\n", "")

  private def envelope(values: (String, String)*): DataFrame =
    values.toSeq.toDF("value", "tsStr")
      .select(col("value"), to_timestamp(col("tsStr")).as("timestamp"))

  test("streaming transform matches the batch enrichment (golden record)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val env = mem.toDF()
      .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00")))
    val out = StormStream.transform(env)
    val q = out.writeStream.format("memory").queryName("stream_enrich")
      .outputMode("append").start()
    try {
      mem.addData(goodJson)
      q.processAllAvailable()
      val rows = spark.table("stream_enrich").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("id") == "hail-5d91dda0f56ba124")
      assert(r.getAs[Double]("magnitude") == 1.25)
      assert(r.getAs[String]("severity") == "moderate")
      assert(r.getAs[String]("source_office") == "SJT")
      assert(!r.getAs[Boolean]("parse_error"))
    } finally q.stop()
  }

  test("poison pill routes to dead letter, good records continue (F1)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val env = mem.toDF()
      .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00")))
    var good = Seq.empty[Row]
    var poison = 0L
    val q = StormStream.runWithForeachBatch(
      env,
      StormStream.Config(checkpointDir =
        java.nio.file.Files.createTempDirectory("ckpt").toString),
      g => good = good ++ g.collect(),
      p => poison += p.count())
    try {
      mem.addData("{not json at all", goodJson, "also-bad")
      q.processAllAvailable()
      assert(poison == 2)
      assert(good.length == 1)
      val wire = good.head.getAs[String]("value")
      assert(wire.contains("\"id\":\"hail-5d91dda0f56ba124\""))
      assert(wire.contains("\"geo\":{\"lat\":31.02,\"lon\":-98.44}"))
      // headers: event_type + processed_at (S4 contract)
      val headers = good.head.getSeq[Row](2).map(_.getString(0))
      assert(headers == Seq("event_type", "processed_at"))
    } finally q.stop()
  }

  /** Runs `f` and returns the Java source of every class Spark's code
    * generator compiled meanwhile: its DEBUG log line carries the source. */
  private def compiledDuring(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("codegen-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    logger.addAppender(capture)
    logger.setAdditive(false)
    logger.setLevel(Level.DEBUG)
    try f
    finally {
      logger.setLevel(level)
      logger.setAdditive(additive)
      logger.removeAppender(capture)
      capture.stop()
    }
    seen.toArray(Array.empty[String]).toSeq.map(_.trim)
  }

  /** Feeds four micro-batches of one good and one bad record through the
    * query `start` builds over a MemoryStream envelope, and hands `check`
    * each batch's number, the query and the classes it compiled. */
  private def compilesPerBatch(start: DataFrame => StreamingQuery)(
      check: (Int, StreamingQuery, Seq[String]) => Unit): Unit = {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = start(mem.toDF()
      .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00"))))
    def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      for (i <- 1 to 4) {
        val before = compilations
        val compiled = compiledDuring {
          mem.addData(goodJson.replace("1510", s"151$i"), s"bad $i")
          q.processAllAvailable()
        }
        assert(compilations - before == compiled.size,
          s"batch $i: the log missed a compilation")
        check(i, q, compiled)
      }
    } finally q.stop()
  }

  /** Java source of each whole-stage-codegen class of the query's last
    * micro-batch (not of what a foreachBatch function runs over it). */
  private def wholeStages(q: StreamingQuery): Set[String] =
    org.apache.spark.sql.execution.debug.codegenStringSeq(q).map(_._2.trim).toSet

  test("Enrich compiles once: later micro-batches compile only the source stage") {
    compilesPerBatch(env => StormStream.runWithForeachBatch(env,
      StormStream.Config(checkpointDir =
        java.nio.file.Files.createTempDirectory("ckpt-codegen").toString,
        flushInterval = "0 milliseconds"),
      g => g.collect(), p => p.collect())) { (i, q, compiled) =>
      if (i > 1) {
        // The micro-batch timestamp is a literal in the streaming source
        // projection, so that stage compiles anew every batch (once on the
        // driver, once for the task threads' class loader). Everything the
        // batch function runs over it — parse, Enrich, the count, the
        // wire projection, the sinks — must hit the codegen cache.
        val other = compiled.filterNot(wholeStages(q))
        assert(other.isEmpty, s"batch $i compiled ${other.size} class(es) " +
          s"besides the source stage:\n${other.map(_.take(600)).mkString("\n---\n")}")
      }
    }
  }

  test("transform in a streaming query compiles its Enrich stage once") {
    // Spark evaluates the parse's projection outside whole-stage codegen
    // (from_json has no generated code), and the micro-batch timestamp
    // literal lands there; the whole-stage class that holds Enrich reads
    // `processed_at` as a column, so its source is the same in every batch.
    compilesPerBatch(env => StormStream.transform(env).writeStream
      .format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-transform").toString)
      .start()) { (i, q, compiled) =>
      val enrichStages = compiled.filter(wholeStages(q))
      if (i == 1) assert(enrichStages.nonEmpty, "batch 1 compiled no Enrich stage")
      else assert(enrichStages.isEmpty,
        s"batch $i compiled the Enrich stage ${enrichStages.size} time(s) again")
    }
  }

  test("a batch replayed after a restart is byte-identical on the wire (T2)") {
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("replay_in")
    val ckpt = Files.createTempDirectory("replay_ckpt").toString
    Files.writeString(in.resolve("part-0.json"), Seq(goodJson,
      goodJson.replace("\"1510\"", "\"2024-04-26T15:33:00.25-05:00\""),
      "{not json").mkString("\n"))
    def drain(): Seq[(Seq[Byte], String, Seq[(String, Seq[Byte])])] = {
      var out = Seq.empty[Row]
      val q = StormStream.runWithForeachBatch(
        spark.readStream.text(in.toString)
          .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00"))),
        StormStream.Config(checkpointDir = ckpt, flushInterval = "0 milliseconds"),
        g => out = out ++ g.collect(), _ => ())
      try q.processAllAvailable() finally q.stop()
      out.map(r => (r.getAs[Array[Byte]]("key").toSeq, r.getAs[String]("value"),
        r.getSeq[Row](2).map(h => (h.getString(0), h.getAs[Array[Byte]](1).toSeq))))
        .sortBy(_._2)
    }
    val first = drain()
    assert(first.size == 2)
    // un-commit batch 0: the restarted query runs it again from its offset
    // log entry; wait for the clock to pass a wire-format second first, so a
    // processed_at taken from the wall clock would show in the replay
    Files.delete(Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    Thread.sleep(1100)
    assert(drain() == first)
  }

  test("watermarked hourly severity counts (windowed stateful agg)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val env = mem.toDF()
      .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00")))
    val counts = StormStream.hourlySeverityCounts(
      StormStream.transform(env).filter(!col("parse_error")))
    val q = counts.writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      mem.addData(goodJson, goodJson.replace("1510", "1533"),
        goodJson.replace("1510", "1651"))
      q.processAllAvailable()
      // advance the watermark far enough to close the 15:00 and 16:00 windows
      mem.addData(goodJson.replace("\"1510\"", "\"2024-04-27T12:00:00Z\""))
      q.processAllAvailable()
      mem.addData(goodJson.replace("\"1510\"", "\"2024-04-27T15:00:00Z\""))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(date_format(col("bucket"), "HH:mm").as("b"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(rows.get("15:00").contains(2L))
      assert(rows.get("16:00").contains(1L))
    } finally q.stop()
  }

  test("mapGroupsWithState sessionization matches the batch gap-and-island") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventSessions.Event]
    val updates = EventSessions.sessionize(mem.toDS())
    val q = updates.writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    def ev(u: Long, t: String) =
      EventSessions.Event(u, Timestamp.valueOf(t), "click")
    try {
      mem.addData(
        ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:10:00"),
        ev(1, "2024-01-01 11:00:00"), // 50-min gap → new session
        ev(2, "2024-01-01 09:00:00"))
      q.processAllAvailable()
      // second batch: user 1 continues session 2; user 2 idle 40 min → new
      mem.addData(ev(1, "2024-01-01 11:20:00"), ev(2, "2024-01-01 09:40:00"))
      q.processAllAvailable()
      val last = spark.table("sessions")
        .groupBy("user_id").agg(max("n_sessions").as("n"))
        .as[(Long, Long)].collect().toMap
      assert(last == Map(1L -> 2L, 2L -> 2L))
    } finally q.stop()
  }

  test("streaming dedup by id within watermark drops replayed records (J4)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val env = mem.toDF()
      .withColumn("timestamp", to_timestamp(lit("2024-04-26 00:00:00")))
    val deduped = StormStream.dedupByIdWithinWatermark(
      StormStream.transform(env).filter(!col("parse_error")))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // same record delivered three times (at-least-once replay), plus one
      // distinct record — exactly two distinct ids must survive
      mem.addData(goodJson, goodJson, goodJson,
        goodJson.replace("1510", "1511"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("id").collect()
        .map(_.getString(0)).toSeq
      assert(ids.length == 2)
      assert(ids.distinct.length == 2)
    } finally q.stop()
  }

  test("PromHistogram: cumulative buckets, +Inf, sum/count exposition") {
    val h = new PromHistogram(Array(1, 5, 10, 20, 30, 40, 50, 75, 100))
    Seq(1.0, 3.0, 50.0, 512.0).foreach(h.observe)
    val sb = new StringBuilder
    h.render("storm_etl_batch_size", sb)
    val body = sb.toString
    assert(body.startsWith("# TYPE storm_etl_batch_size histogram\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"1\"} 1\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"5\"} 2\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"40\"} 2\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"50\"} 3\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"100\"} 3\n"))
    assert(body.contains("storm_etl_batch_size_bucket{le=\"+Inf\"} 4\n"))
    assert(body.contains("storm_etl_batch_size_sum 566.0\n"))
    assert(body.contains("storm_etl_batch_size_count 4\n"))
    // fractional bounds render shortest-form, like the duration buckets
    val d = new PromHistogram(Array(0.01, 0.05, 0.1, 0.5, 1, 2.5, 5, 10))
    d.observe(0.3)
    val sb2 = new StringBuilder
    d.render("x", sb2)
    assert(sb2.toString.contains("x_bucket{le=\"0.5\"} 1\n"))
    assert(sb2.toString.contains("x_bucket{le=\"2.5\"} 1\n"))
    assert(sb2.toString.contains("x_bucket{le=\"0.1\"} 0\n"))
  }

  test("poison provenance warn lines carry topic/partition/offset (F1 log)") {
    // Kafka-shaped envelope: provenance columns present
    val kafkaShaped = Seq(("bad", "raw-weather-reports", 3, 42L))
      .toDF("value", "topic", "partition", "offset")
    val lines = StormStream.poisonLogLines(kafkaShaped)
    assert(lines == Seq("transform failed, skipping message " +
      "topic=raw-weather-reports partition=3 offset=42"))
    // provenance-free test stream: message still logged, no missing-column
    // crash
    val bare = Seq("bad").toDF("value")
    assert(StormStream.poisonLogLines(bare) ==
      Seq("transform failed, skipping message"))
    // bounded at scale
    val many = (1 to 50).map(i => ("bad", "t", 0, i.toLong))
      .toDF("value", "topic", "partition", "offset")
    assert(StormStream.poisonLogLines(many).size ==
      StormStream.MaxPoisonLogLines)
  }

  test("wire JSON drops omitempty fields like Go encoding/json (S4 parity)") {
    implicit val sqlCtx = spark.sqlContext
    // a record with empty comments/source_office and an unparseable location
    val noOffice = goodJson
      .replace("\"1.25 inch hail reported. (SJT)\"", "\"\"")
    val env = envelope(noOffice -> "2024-04-26 00:00:00")
    val wire = StormStream.toWire(
      StormStream.transform(env).filter(!col("parse_error")))
      .collect().head.getAs[String]("value")
    assert(!wire.contains("\"comments\""))
    assert(!wire.contains("\"source_office\""))
    // non-omitempty fields always serialize, even at zero values
    assert(wire.contains("\"magnitude\""))
    assert(wire.contains("\"unit\""))
    // geo present with values (lat/lon non-zero here)
    assert(wire.contains("\"geo\":{\"lat\":31.02,\"lon\":-98.44}"))
  }

  test("backoff retries transient sink failures with the reference curve (T3)") {
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val out = StormStream.withBackoff(sleep = delays.append(_)) {
      calls += 1
      if (calls < 4) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 4)
    assert(delays.toSeq == Seq(200L, 400L, 800L)) // 200ms, x2 each retry
    // cap at 5s after enough doublings
    delays.clear(); calls = 0
    intercept[RuntimeException] {
      StormStream.withBackoff(maxAttempts = 8, sleep = delays.append(_)) {
        calls += 1; throw new RuntimeException("persistent")
      }
    }
    assert(delays.toSeq == Seq(200L, 400L, 800L, 1600L, 3200L, 5000L, 5000L))
  }

  test("Go duration parser: units, compounds, fractions, rounding") {
    import StormStream.parseGoDurationMs
    assert(parseGoDurationMs("500ms") == 500L)
    assert(parseGoDurationMs("2s") == 2000L)
    assert(parseGoDurationMs("1m30s") == 90000L)
    assert(parseGoDurationMs("1.5s") == 1500L)
    assert(parseGoDurationMs("2.3s") == 2300L) // double truncation would give 2299
    assert(parseGoDurationMs(".5s") == 500L)
    assert(parseGoDurationMs("+500ms") == 500L)
    assert(parseGoDurationMs("1h") == 3600000L)
    assert(parseGoDurationMs("0") == 0L)
    assert(parseGoDurationMs("500us") == 1L) // sub-ms clamps to 1ms trigger
    intercept[IllegalArgumentException](parseGoDurationMs("abc"))
    intercept[IllegalArgumentException](parseGoDurationMs("500"))
    intercept[IllegalArgumentException](parseGoDurationMs("5d"))
  }

  test("Kafka option wiring maps the reference's adapter config (S1/S3)") {
    val c = StormStream.Config(brokers = "b:9092", sourceTopic = "src",
      sinkTopic = "dst", groupId = "g1", batchSize = 75L)
    val src = StormStream.kafkaSourceOptions(c)
    assert(src("kafka.bootstrap.servers") == "b:9092")
    assert(src("subscribe") == "src")
    assert(src("kafka.group.id") == "g1")
    assert(src("startingOffsets") == "earliest") // reader.go FirstOffset
    assert(src("maxOffsetsPerTrigger") == "75") // ExtractBatch size bound
    assert(src("includeHeaders") == "true") // envelope headers (S2)
    val sink = StormStream.kafkaSinkOptions(c, c.sinkTopic)
    assert(sink("topic") == "dst")
    assert(sink("kafka.acks") == "all") // writer.go RequireAll
  }

  test("start() wires through to the Kafka connector lookup (deploy path)") {
    // The connector jar is not in this sandbox, so the deepest reachable
    // point is Spark's data-source resolution: start() must fail THERE
    // (proving source options + foreachBatch wiring executed), not anywhere
    // earlier. With spark-sql-kafka on the deploy classpath the same call
    // connects to a broker instead.
    val c = StormStream.Config(checkpointDir =
      java.nio.file.Files.createTempDirectory("ckpt-kafka").toString)
    val e = intercept[Exception] { StormStream.start(spark, c) }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.toLowerCase.contains("kafka"))),
      s"expected the kafka data-source lookup failure, got: $e")
  }

  test("config loads from env with reference names, defaults and bounds") {
    val d = StormStream.Config.fromEnv(Map.empty)
    assert(d.brokers == "kafka:9092")
    assert(d.sourceTopic == "raw-weather-reports")
    assert(d.sinkTopic == "transformed-weather-data")
    assert(d.batchSize == 50L && d.flushInterval == "500 milliseconds")
    val c = StormStream.Config.fromEnv(Map(
      "KAFKA_BROKERS" -> "b1:9092,b2:9092", "BATCH_SIZE" -> "200",
      "BATCH_FLUSH_INTERVAL" -> "2s", "HTTP_ADDR" -> ":9999"))
    assert(c.brokers == "b1:9092,b2:9092")
    assert(c.batchSize == 200L && c.flushInterval == "2000 milliseconds")
    assert(c.httpAddr == 9999)
    intercept[IllegalArgumentException] {
      StormStream.Config.fromEnv(Map("BATCH_SIZE" -> "5000"))
    }
    intercept[IllegalArgumentException] {
      StormStream.Config.fromEnv(Map("KAFKA_SOURCE_TOPIC" -> ""))
    }
  }

  test("ops server: readiness flips after first processed rows; metrics text") {
    implicit val sqlCtx = spark.sqlContext
    val metrics = new Metrics
    val listener = new MetricsListener(metrics)
    spark.streams.addListener(listener)
    val ops = new OpsServer(metrics)
    val port = ops.start()
    def get(path: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), "UTF-8")
      (code, body)
    }
    try {
      assert(get("/healthz")._1 == 200)
      assert(get("/readyz")._1 == 503)
      val mem = MemoryStream[String]
      val q = mem.toDF().writeStream.format("memory").queryName("opsq")
        .outputMode("append").start()
      try {
        mem.addData("x")
        q.processAllAvailable()
        // listener events are async; wait for readiness
        val deadline = System.currentTimeMillis() + 10000
        while (!metrics.ready.get && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(get("/readyz")._1 == 200)
        val (mc, body) = get("/metrics")
        assert(mc == 200)
        assert(body.contains("storm_etl_messages_consumed_total"))
        assert(body.contains("storm_etl_pipeline_running 1"))
        // T7: the reference's two batch histograms render with its bucket
        // bounds (internal/observability/metrics.go:42-53); exact-count
        // rendering is pinned in the PromHistogram test below (this shared
        // session may see other suites' queries through the listener)
        assert(body.contains("# TYPE storm_etl_batch_size histogram"))
        assert(body.contains("storm_etl_batch_size_bucket{le=\"1\"} "))
        assert(body.contains("storm_etl_batch_size_bucket{le=\"75\"} "))
        assert(body.contains("storm_etl_batch_size_bucket{le=\"+Inf\"} "))
        assert(body.contains("storm_etl_batch_size_count "))
        assert(body.contains(
          "# TYPE storm_etl_batch_processing_duration_seconds histogram"))
        assert(body.contains(
          "storm_etl_batch_processing_duration_seconds_bucket{le=\"0.01\"} "))
        assert(body.contains(
          "storm_etl_batch_processing_duration_seconds_bucket{le=\"2.5\"} "))
        assert(body.contains(
          "storm_etl_batch_processing_duration_seconds_count "))
        // at least the one non-empty batch above was observed
        assert(metrics.batchSize.count >= 1)
        assert(metrics.batchProcessingDuration.count >= 1)
      } finally q.stop()
    } finally {
      ops.stop()
      spark.streams.removeListener(listener)
    }
  }
}
