package graft.streaming

import graft.storm.Enrich
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** The streaming ETL pipeline (reference `cmd/etl` + `internal/pipeline`,
  * SURVEY.md §3.1): Kafka/raw envelope in → JSON parse → enrichment →
  * nested wire JSON out, with the poison-pill split (F1) and the batch
  * cadence knobs (T1) mapped to Structured Streaming primitives.
  *
  * The transform core is shared verbatim with the batch path
  * ([[graft.storm.Enrich]]) — the same architectural invariant the
  * reference keeps between its ETL loop and `cmd/genmock`
  * (`cmd/genmock/main.go:2-4`).
  *
  * Kafka specifics are config only (`format("kafka")` + options), so this
  * compiles and tests without the connector jar; at deploy time the
  * standard `spark-sql-kafka-0-10` package provides the source/sink.
  * Delivery is at-least-once via checkpointing (T2); deterministic IDs
  * (P6) keep downstream consumers idempotent, exactly like the reference
  * (`docs/Architecture.md:100-102`).
  */
object StormStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cap on per-batch poison warn lines — provenance logging must stay O(1)
    * per batch at scale; the full poison set still reaches the dead-letter
    * sink untruncated. */
  val MaxPoisonLogLines = 20

  /** One warn line per poison record with its Kafka provenance, mirroring
    * the reference's skip log (`internal/pipeline/pipeline.go:127-142`:
    * "transform failed, skipping message" + topic/partition/offset). Only
    * provenance columns present on the frame are included, so the same path
    * serves Kafka envelopes and provenance-free test streams. */
  def poisonLogLines(poison: DataFrame,
                     limit: Int = MaxPoisonLogLines): Seq[String] =
    poison.select(poisonLine(poison.columns.toSeq)).limit(limit).collect()
      .toSeq.map(_.getString(0))

  /** The warn line of [[poisonLogLines]] as a column over a frame with
    * the columns `cols`. */
  private def poisonLine(cols: Seq[String]): Column =
    concat_ws(" ", lit("transform failed, skipping message") +:
      Seq("topic", "partition", "offset").filter(cols.contains).map(c =>
        concat(lit(s"$c="), coalesce(col(c).cast("string"), lit("null")))): _*)

  /** Batch knobs of the reference (`BATCH_SIZE`, `BATCH_FLUSH_INTERVAL`,
    * README.md:55-56) mapped to micro-batch knobs. */
  final case class Config(
      brokers: String = "kafka:9092",
      sourceTopic: String = "raw-weather-reports",
      sinkTopic: String = "transformed-weather-data",
      groupId: String = "storm-data-etl",
      httpAddr: Int = 8080,
      checkpointDir: String = "/tmp/graft-checkpoints/storm",
      batchSize: Long = 50L,
      flushInterval: String = "500 milliseconds",
      shutdownTimeout: String = "10s",
      deadLetterTopic: Option[String] = None)

  /** Go `time.ParseDuration` compatible: sequences of number+unit segments
    * ("1m30s", "1.5s", "100us"), units ns..h, "0" allowed bare. Returns
    * whole milliseconds (sub-ms truncates toward zero like a ms trigger
    * would). Throws IllegalArgumentException on anything else. */
  def parseGoDurationMs(raw: String): Long = {
    val body = raw.stripPrefix("+")
    if (body == "0") return 0L
    // Go number forms: "1", "1.5", ".5", "1." — all valid before a unit
    val seg = "([0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)(ns|us|µs|ms|s|m|h)".r
    val matched = seg.findAllMatchIn(body).toSeq
    require(matched.nonEmpty && matched.map(_.matched).mkString == body,
      s"not a Go duration: $raw")
    val ms = matched.map { m =>
      val mult = m.group(2) match {
        case "ns" => 1e-6; case "us" | "µs" => 1e-3; case "ms" => 1.0
        case "s" => 1000.0; case "m" => 60000.0; case "h" => 3600000.0
      }
      m.group(1).toDouble * mult
    }.sum
    val rounded = ms.round // 2.3s = 2299.999... in double → 2300, not 2299
    if (rounded == 0L && ms > 0) 1L else rounded // sub-ms → smallest trigger
  }

  object Config {
    /** Environment-variable loader with the reference's names, defaults and
      * validation (`internal/config/config.go:27-67`; bounds README.md:55).
      * Throws IllegalArgumentException on invalid values, like the
      * reference's fail-fast Load(). */
    def fromEnv(env: Map[String, String] = sys.env): Config = {
      def get(k: String, d: String): String = env.getOrElse(k, d).trim
      val batch = get("BATCH_SIZE", "50").toLong
      require(batch >= 1 && batch <= 1000, s"BATCH_SIZE out of range: $batch")
      val flushMs = parseGoDurationMs(get("BATCH_FLUSH_INTERVAL", "500ms"))
      require(flushMs > 0, "BATCH_FLUSH_INTERVAL must be positive")
      val brokers = get("KAFKA_BROKERS", "kafka:9092")
      require(brokers.nonEmpty, "KAFKA_BROKERS is required")
      val source = get("KAFKA_SOURCE_TOPIC", "raw-weather-reports")
      require(source.nonEmpty, "KAFKA_SOURCE_TOPIC is required")
      val sink = get("KAFKA_SINK_TOPIC", "transformed-weather-data")
      require(sink.nonEmpty, "KAFKA_SINK_TOPIC is required")
      Config(
        brokers = brokers,
        sourceTopic = source,
        sinkTopic = sink,
        groupId = get("KAFKA_GROUP_ID", "storm-data-etl"),
        // accept Go listen forms ":8080", "0.0.0.0:8080", "localhost:8080"
        httpAddr = {
          val addr = get("HTTP_ADDR", ":8080")
          val port = addr.substring(addr.lastIndexOf(':') + 1)
          require(port.nonEmpty && port.forall(_.isDigit),
            s"HTTP_ADDR has no port: $addr")
          port.toInt
        },
        checkpointDir = get("CHECKPOINT_DIR", "/tmp/graft-checkpoints/storm"),
        batchSize = batch,
        flushInterval = s"$flushMs milliseconds",
        shutdownTimeout = get("SHUTDOWN_TIMEOUT", "10s"),
        deadLetterTopic = env.get("DEAD_LETTER_TOPIC").map(_.trim)
          .filter(_.nonEmpty))
    }
  }

  /** S1 option wiring as data, so the deploy-time mapping from the
    * reference's config (`internal/adapter/kafka/reader.go:22-32`:
    * FirstOffset, consumer group, batch bound) is unit-testable without the
    * connector jar (absent in this sandbox — see the object scaladoc). */
  def kafkaSourceOptions(c: Config): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> c.brokers,
    "subscribe" -> c.sourceTopic,
    "kafka.group.id" -> c.groupId,
    "startingOffsets" -> "earliest", // reader.go:26 FirstOffset
    "maxOffsetsPerTrigger" -> c.batchSize.toString, // ExtractBatch bound
    "includeHeaders" -> "true")

  /** S3 sink options: RequireAll acks like `writer.go:23-31`. */
  def kafkaSinkOptions(c: Config, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> c.brokers,
    "topic" -> topic,
    "kafka.acks" -> "all")

  /** S1: the Kafka streaming source (offsets tracked by checkpoint, not
    * per-record commit closures). */
  def kafkaSource(spark: SparkSession, c: Config): DataFrame =
    kafkaSourceOptions(c)
      .foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()

  /** Column carrying the micro-batch timestamp from the parse to the
    * enrichment (see [[staged]]); never written to a sink. */
  private[graft] val BatchTsCol = "_processed_at"

  /** P1 + the parses of [[Enrich.stage]] over the raw envelope (columns
    * `value` binary/string, `timestamp`): the streaming half of the
    * pipeline, which [[runWithForeachBatch]] hands to `writeStream` so
    * Spark analyses it once per query. Columns: `parse_error`, the
    * envelope's own, [[BatchTsCol]], then the stage's; [[processBatch]]
    * relies on that order.
    *
    * `processedAt` is computed next to the JSON parse. Inside a streaming
    * query Spark rewrites `current_timestamp()` to the micro-batch
    * timestamp recorded in the offset log, so every record of a batch
    * carries the same value and a replayed batch is byte-identical. After
    * optimisation it becomes a literal, and a literal's generated code
    * carries its value, so each batch would compile a new class;
    * [[BatchTimestamp]] evaluates it through an object reference instead,
    * and no class compiles after the first batch. That projection runs
    * outside whole-stage codegen anyway (from_json has no generated code),
    * and the nondeterministic timestamp keeps a filter on `parse_error`
    * from being pushed below the parse, which would parse every value
    * twice. */
  def staged(envelope: DataFrame,
             processedAt: Column = current_timestamp()): DataFrame =
    staged(envelope, processedAt, envelope.columns.toSeq)

  /** [[staged]] carrying the envelope columns `envCols` only. */
  private def staged(envelope: DataFrame, processedAt: Column,
                     envCols: Seq[String]): DataFrame = {
    val ts = ColumnBridge.column(BatchTimestamp(ColumnBridge.expression(processedAt)))
    Enrich.stage(
      Enrich.parseRawJson(envelope, keep = envCols :+ BatchTsCol,
        extra = Seq(ts.as(BatchTsCol))),
      keep = ("parse_error" +: envCols) :+ BatchTsCol)
  }

  /** P1 + P2–P15 over the raw envelope: parse, flag parse errors, enrich
    * the good rows — `Enrich.finish` over [[staged]], the same code the
    * stream runs. Output columns: `parse_error` + the enriched flat set.
    * No envelope column rides along, so the envelope may also carry
    * columns named like the raw fields. */
  def transform(envelope: DataFrame,
                processedAt: Column = current_timestamp()): DataFrame =
    Enrich.finish(staged(envelope, processedAt, Nil), processedAt = col(BatchTsCol),
      keep = Seq("parse_error"))

  /** S4: nested wire-format output — key = id bytes, value = nested JSON
    * with the reference's omitempty fields dropped (byte parity with
    * writer.go), headers event_type + processed_at (writer.go:55-68). */
  def toWire(enriched: DataFrame): DataFrame = {
    val nested = Enrich.nested(enriched, omitEmpty = true)
    nested.select(
      col("id").cast("binary").as("key"),
      Enrich.wireJson(struct(nested.columns.map(col): _*)).as("value"),
      array(
        struct(lit("event_type").as("key"),
          encode(col("event_type"), "UTF-8").as("value")),
        struct(lit("processed_at").as("key"),
          encode(date_format(col("processed_at"), "yyyy-MM-dd'T'HH:mm:ssXXX"),
            "UTF-8").as("value"))).as("headers"))
  }

  /** F1: split one micro-batch into (good wire records, poison ORIGINAL
    * envelope rows) and write each side — offsets advance regardless
    * (at-least-once + skip). Poison rows keep the raw `value` payload so a
    * dead-letter consumer can inspect and replay them. This is the single
    * batch protocol: tests and the deployed Kafka path both run through it.
    *
    * The query is [[staged]]: the parse and the stage's parses run in the
    * micro-batch's own plan, which Spark analyses once and only re-plans
    * per batch, and [[processBatch]] receives their rows. */
  def runWithForeachBatch(
      envelope: DataFrame,
      c: Config,
      writeGood: DataFrame => Unit,
      writePoison: DataFrame => Unit,
      metrics: Option[Metrics] = None,
      queryName: Option[String] = None): StreamingQuery = {
    val writer = staged(envelope)
      .writeStream
      .trigger(Trigger.ProcessingTime(c.flushInterval))
      .option("checkpointLocation", c.checkpointDir)
    queryName.foreach(writer.queryName)
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, writeGood, writePoison, metrics)
      }
      .start()
  }

  /** The batch function of [[runWithForeachBatch]]: `batch` holds the rows
    * of [[staged]].
    *
    * ONE parse per micro-batch: the envelope columns ride through the parse
    * and the stage, so the poison split filters the SAME cached
    * `parse_error` column the good side reads — no second from_json over
    * the raw value — and the dead-letter rows are the ORIGINAL envelope
    * columns read back from the cache.
    *
    * The cache holds the staged rows, and [[Enrich.finish]] runs in the
    * good side's wire job. Fused, parse and enrichment generate one method
    * past HotSpot's 8,000-byte limit for JIT compilation, so every record
    * ran in the bytecode interpreter; split at the cache, each stage's
    * methods stay under it. One job fills the cache, counts both sides and
    * keeps the first [[MaxPoisonLogLines]] poison provenance lines; the
    * rest are the sinks' own jobs. */
  private[graft] def processBatch(batch: DataFrame,
                                  writeGood: DataFrame => Unit,
                                  writePoison: DataFrame => Unit,
                                  metrics: Option[Metrics]): Unit = {
    val cols = batch.columns.toSeq
    val envCols = cols.slice(1, cols.indexOf(BatchTsCol))
    val rows = batch.persist()
    try {
      val (nGood, nPoison, poisonLines) = countAndLog(rows, envCols)
      writeGood(toWire(Enrich.finish(rows.filter(!col("parse_error")),
        processedAt = col(BatchTsCol))))
      // produced/error counters mirror the reference's
      // messages_produced_total / transform_errors_total
      metrics.foreach { m =>
        m.messagesProduced.addAndGet(nGood)
        m.transformErrors.addAndGet(nPoison)
      }
      if (nPoison > 0) {
        poisonLines.foreach(log.warn)
        if (nPoison > MaxPoisonLogLines)
          log.warn(s"suppressed ${nPoison - MaxPoisonLogLines} further " +
            "poison provenance lines this batch")
        writePoison(rows.filter(col("parse_error")).select(envCols.map(col): _*))
      }
    } finally { rows.unpersist(); () }
  }

  /** One job over `rows` (which it caches, when they are persisted): the
    * good and poison counts, and the first [[MaxPoisonLogLines]] lines of
    * [[poisonLogLines]] over the poison rows, in partition order. */
  private def countAndLog(rows: DataFrame,
                          envCols: Seq[String]): (Long, Long, Seq[String]) = {
    val spark = rows.sparkSession
    import spark.implicits._
    val limit = MaxPoisonLogLines
    val parts = rows
      .select(col("parse_error"), when(col("parse_error"), poisonLine(envCols)))
      .as[(Boolean, String)]
      .mapPartitions { it =>
        var (good, poison) = (0L, 0L)
        val lines = Seq.newBuilder[String]
        it.foreach { case (bad, line) =>
          if (!bad) good += 1
          else {
            if (poison < limit) lines += line
            poison += 1
          }
        }
        Iterator((good, poison, lines.result()))
      }
      .collect()
    (parts.map(_._1).sum, parts.map(_._2).sum, parts.toSeq.flatMap(_._3).take(limit))
  }

  /** Full Kafka→Kafka wiring (deploy-time path; needs the connector jar):
    * delegates to [[runWithForeachBatch]] so tests and production share one
    * batch protocol; poison envelopes go to the dead-letter topic with
    * their ORIGINAL key/value, replayable as-is. */
  def start(spark: SparkSession, c: Config,
            metrics: Option[Metrics] = None): StreamingQuery = {
    def kafkaBatchWrite(df: DataFrame, topic: String): Unit =
      withBackoff() {
        kafkaSinkOptions(c, topic)
          .foldLeft(df.write.format("kafka")) {
            case (w, (k, v)) => w.option(k, v)
          }
          .save()
      }
    runWithForeachBatch(
      kafkaSource(spark, c), c,
      good => kafkaBatchWrite(good, c.sinkTopic),
      poison => c.deadLetterTopic.foreach(dlt =>
        kafkaBatchWrite(poison.select(col("key"), col("value")), dlt)),
      metrics,
      Some("storm-etl"))
  }

  /** T3: the reference's exponential backoff on load failure — 200 ms, ×2,
    * capped at 5 s, reset after success (`internal/pipeline/pipeline.go:
    * 68-71,164-173`). Wrapping the sink write keeps a transient sink outage
    * inside the micro-batch (offsets only commit after success →
    * at-least-once preserved); a persistent failure still fails the query
    * for Spark-level restart. */
  def withBackoff[A](maxAttempts: Int = 6,
                     initialDelayMs: Long = 200L,
                     maxDelayMs: Long = 5000L,
                     sleep: Long => Unit = Thread.sleep)(f: => A): A = {
    var delay = initialDelayMs
    var attempt = 1
    while (true) {
      try return f
      catch {
        // NonFatal only: interrupts (task cancellation/shutdown) and fatal
        // JVM errors must propagate immediately, not burn retry sleeps
        case scala.util.control.NonFatal(_) if attempt < maxAttempts =>
          sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** J4 streaming variant: drop duplicate event IDs within the watermark
    * horizon — the in-stream form of the downstream `ON CONFLICT (id) DO
    * NOTHING` the deterministic IDs exist for. State is bounded by the
    * watermark, so it holds at any volume. */
  def dedupByIdWithinWatermark(enriched: DataFrame,
                               watermark: String = "2 hours"): DataFrame =
    enriched
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** T8: graceful shutdown — stop the query (draining the current batch)
    * on SIGTERM/SIGINT, mirroring the reference's context-cancel + deadline
    * drain (`cmd/etl/main.go:37-70`). */
  def installShutdownHook(query: StreamingQuery,
                          ops: Option[OpsServer] = None): Unit =
    sys.addShutdownHook {
      try query.stop() finally ops.foreach(_.stop())
    }

  /** Extension beyond the reference (T4 note): watermarked 1-hour tumbling
    * severity counts — the stateful-aggregation shape the stamped
    * `time_bucket` column anticipates. */
  def hourlySeverityCounts(enriched: DataFrame, watermark: String = "2 hours"): DataFrame =
    enriched
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"),
        col("severity"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("severity"), col("n"))
}

/** The micro-batch timestamp of [[StormStream.staged]], evaluated rather
  * than compiled: generated code reads this expression from the class's
  * `references[]` and calls `eval`, so the literal Spark substitutes for
  * `current_timestamp()` in each batch never enters a class's source. */
private[graft] case class BatchTimestamp(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(input: Any): Any = input
  override protected def withNewChildInternal(newChild: Expression): BatchTimestamp =
    copy(child = newChild)
}
