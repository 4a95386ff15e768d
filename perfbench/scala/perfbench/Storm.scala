package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.storm.Enrich
import graft.streaming.{Metrics, MetricsListener, OpsServer, StormStream}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The storm backlog workload: `StormStream.runWithForeachBatch` wired the
  * way `StormEtlMain` wires it (`Metrics`, `MetricsListener`, `OpsServer`),
  * with the bench's own sinks in place of Kafka. */
object Storm {
  val QueryName = "storm-etl"
  /** Records per micro-batch: large enough that per-record work is on the
    * critical path, small enough for 5-9 measured batches in a run. */
  val BatchRecords = 20000
  /** Micro-batches dropped as warm-up: with two, the first measured batch
    * was often still warming up. */
  val WarmBatches = 3
  private val KafkaTs = "2024-04-26 00:00:00"

  def envelope(values: DataFrame): DataFrame =
    values.withColumn("timestamp", to_timestamp(lit(KafkaTs)))

  def recordsDf(spark: SparkSession, recs: Seq[String], parts: Int): DataFrame =
    envelope(spark.createDataset(recs)(Encoders.STRING).toDF("value")
      .repartition(parts))

  private def dec(v: Any): BigDecimal = v match {
    case null => BigDecimal(0)
    case d: java.math.BigDecimal => BigDecimal(d)
    case n: Long => BigDecimal(n)
  }
  private def hash64(c: org.apache.spark.sql.Column) =
    sum(xxhash64(c).cast("decimal(38,0)"))

  final case class Call(rows: Long, hash: BigDecimal, startNs: Long, endNs: Long)

  /** The bench's sink: counts the rows it is handed, sums an
    * order-independent hash of one column, and forces the whole wire value
    * (its summed length) — one job per call. */
  final class Sink(onGood: Int => Unit) {
    val good = ArrayBuffer[Call]()
    val poison = ArrayBuffer[Call]()

    private def take(df: DataFrame, keyCol: String): Call = {
      val t0 = System.nanoTime()
      val r = df.agg(count(lit(1)), hash64(col(keyCol)),
        sum(length(col("value")))).head()
      Call(r.getLong(0), dec(r.get(1)), t0, System.nanoTime())
    }
    def writeGood(df: DataFrame): Unit = {
      good += Trace.span("sink.good")(take(df, "key"))
      onGood(good.size)
    }
    def writePoison(df: DataFrame): Unit =
      poison += Trace.span("sink.poison")(take(df, "value"))
  }

  /** `GET /metrics` once a second; keeps each scrape's latency. */
  final class Scraper(port: Int) extends Thread("metrics-scraper") {
    setDaemon(true)
    @volatile private var running = true
    val ms = ArrayBuffer[Double]()
    def scrape(): String = Trace.span("ops.scrape") {
      val t0 = System.nanoTime()
      val c = new java.net.URL(s"http://localhost:$port/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try {
        val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
        ms.synchronized { ms += (System.nanoTime() - t0) / 1e6 }
        body
      } finally c.disconnect()
    }
    override def run(): Unit =
      while (running) {
        try scrape() catch { case scala.util.control.NonFatal(_) => () }
        try Thread.sleep(1000L) catch { case _: InterruptedException => () }
      }
    def finish(): Unit = { running = false; interrupt(); join() }
  }

  def counter(body: String, name: String): Long =
    body.linesIterator.collectFirst {
      case l if l.startsWith(name + " ") => l.drop(name.length + 1).trim.toDouble.toLong
    }.getOrElse(-1L)

  /** Key hash and counts of `StormStream.transform` over the same records:
    * the batch side of the stream ≡ batch check. */
  def batchSide(spark: SparkSession, recs: Seq[String], parts: Int): (Long, BigDecimal, Long) = {
    val t = StormStream.transform(recordsDf(spark, recs, parts))
    val ok = !col("parse_error")
    val r = t.agg(sum(when(ok, 1L).otherwise(0L)),
      sum(when(ok, xxhash64(col("id").cast("binary")).cast("decimal(38,0)"))),
      sum(when(ok, 0L).otherwise(1L))).head()
    (r.getLong(0), dec(r.get(1)), r.getLong(2))
  }

  /** Run the enrich pipeline and the sink's aggregate twice before the
    * stream starts. Every run compiles its code afresh (the per-run
    * `current_timestamp()` literal changes the generated source), so this
    * also warms the code generator and the JIT for the batches. */
  def warmUp(spark: SparkSession, recs: Seq[String], parts: Int): Unit = {
    val df = recordsDf(spark, recs, parts).cache()
    (1 to 2).foreach { _ =>
      val t = StormStream.transform(df)
      StormStream.toWire(t.filter(!col("parse_error")))
        .agg(count(lit(1)), hash64(col("key")), sum(length(col("value")))).head()
    }
    df.unpersist()
  }

  /** Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of all
    * order statistics. A run has few samples (about 5 batches, 15 query
    * runs), and a single order statistic jumps between neighbours from run
    * to run. 0 for no samples. */
  def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val w = new org.apache.commons.math3.distribution.BetaDistribution(
        null, (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map(i =>
        (w.cumulativeProbability((i + 1.0) / n) - w.cumulativeProbability(i.toDouble / n)) * s(i)
      ).sum
    }

  private def dur(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Non-empty micro-batches in batch order: one per sink call. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  /** Per-layer numbers of the stream, from `StreamingQueryProgress`, the
    * sink's own timings, the /metrics scrapes and the job counters. */
  def streamLayers(batches: Seq[StreamingQueryProgress], allBatches: Int, sink: Sink,
                   scrapes: Seq[Double], counters: Option[LayerCounters],
                   runId: String, codegen: Double): Map[String, Double] = {
    def med(k: String) = p(batches.map(dur(_, k)), 0.5)
    // the job counters cover the whole query, warm-up batches included
    def perBatch(f: LayerCounters#Acc => Long) =
      counters.map(c => f(c.acc(runId)).toDouble / allBatches.max(1)).getOrElse(0.0)
    Map(
      "stream.trigger_ms_p50" -> med("triggerExecution"),
      "stream.trigger_ms_p99" -> p(batches.map(dur(_, "triggerExecution")), 0.99),
      "stream.addBatch_ms_p50" -> med("addBatch"),
      "stream.planning_ms_p50" -> med("queryPlanning"),
      "stream.walCommit_ms_p50" -> med("walCommit"),
      "stream.offsets_ms_p50" -> p(batches.map(b =>
        dur(b, "latestOffset") + dur(b, "getBatch") + dur(b, "commitOffsets")), 0.5),
      "stream.jobs_per_batch" -> perBatch(_.jobs.get),
      "stream.tasks_per_batch" -> perBatch(_.tasks.get),
      "stream.codegen_per_batch" -> (if (batches.isEmpty) 0.0 else codegen / batches.size),
      "stream.backlog_rows_max" -> batches.map(_.numInputRows.toDouble).maxOption.getOrElse(0.0),
      "stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch_p50" -> p(batches.map(_.numInputRows.toDouble), 0.5),
      "stream.poison_rows" -> sink.poison.map(_.rows).sum.toDouble,
      "sink.good_ms_p50" -> p(sink.good.map(c => (c.endNs - c.startNs) / 1e6).toSeq, 0.5),
      "sink.poison_ms_p50" -> p(sink.poison.map(c => (c.endNs - c.startNs) / 1e6).toSeq, 0.5),
      "ops.scrape_ms_p50" -> p(scrapes, 0.5))
  }

  /** Cumulative enrich stages over cached generated records, each forced
    * by a `noop` write: parse, parse + enrich, parse + enrich + wire, and
    * the whole chain in one partition (the single-thread baseline). */
  def enrichLayers(spark: SparkSession, recs: Seq[String], parts: Int): Map[String, Double] = {
    val df = recordsDf(spark, recs, parts).cache()
    val n = df.count().toDouble
    def rate(name: String, f: DataFrame => DataFrame, src: DataFrame = df,
             rows: Double = n): Double = {
      val secs = (1 to 3).map { i =>
        spark.sparkContext.setJobGroup(name, name)
        val t0 = System.nanoTime()
        Trace.span(name)(f(src).write.format("noop").mode("overwrite").save())
        spark.sparkContext.clearJobGroup()
        (System.nanoTime() - t0) / 1e9
      }
      rows / p(secs, 0.5)
    }
    val parse = (d: DataFrame) => Enrich.parseRawJson(d)
    val enrich = (d: DataFrame) => Enrich.enrich(parse(d), keep = Seq("parse_error"))
    val wire = (d: DataFrame) => StormStream.toWire(enrich(d).filter(!col("parse_error")))
    val one = recordsDf(spark, recs.take(recs.size / 4), 1).cache()
    val nOne = one.count().toDouble
    val out = Map(
      "enrich.parse_rec_per_s" -> rate("enrich.parse", parse),
      "enrich.enrich_rec_per_s" -> rate("enrich.enrich", enrich),
      "enrich.wire_rec_per_s" -> rate("enrich.wire", wire),
      "enrich.rec_per_s_1t" -> rate("enrich.wire_1t", wire, one, nOne))
    one.unpersist(); df.unpersist()
    out
  }

  /** Everything a storm run shares: the metrics wiring, the sink, the
    * scraper, and the checks read back after the stream stops. */
  final class Wiring(spark: SparkSession, onGood: Int => Unit) {
    val metrics = new Metrics
    val listener = new MetricsListener(metrics, Some(QueryName))
    spark.streams.addListener(listener)
    val ops = new OpsServer(metrics, 0)
    val port: Int = ops.start()
    val sink = new Sink(onGood)
    val scraper = new Scraper(port)

    def start(envelope: DataFrame, cfg: StormStream.Config): StreamingQuery = {
      val q = StormStream.runWithForeachBatch(envelope, cfg, sink.writeGood,
        sink.writePoison, Some(metrics), Some(QueryName))
      scraper.start()
      q
    }

    /** Stop the stream and read back /metrics and the sink's totals. */
    def finish(q: StreamingQuery): Map[String, Any] = {
      q.processAllAvailable()
      val batches = dataBatches(q)
      q.stop()
      scraper.finish()
      // the listener bus is asynchronous: wait for the last progress event
      val consumed = batches.map(_.numInputRows).sum
      var body = scraper.scrape(); var waited = 0
      while (counter(body, "storm_etl_messages_consumed_total") < consumed && waited < 5000) {
        Thread.sleep(50); waited += 50; body = scraper.scrape()
      }
      ops.stop()
      spark.streams.removeListener(listener)
      Map(
        "sink_calls" -> sink.good.size,
        "data_batches" -> batches.size,
        "good" -> sink.good.map(_.rows).sum,
        "poison" -> sink.poison.map(_.rows).sum,
        "stream_hash" -> sink.good.map(_.hash).sum,
        "metrics_consumed" -> counter(body, "storm_etl_messages_consumed_total"),
        "metrics_produced" -> counter(body, "storm_etl_messages_produced_total"),
        "metrics_errors" -> counter(body, "storm_etl_transform_errors_total"),
        "consumed" -> consumed)
    }
  }

  def backlog(spark: SparkSession, a: Args, work: File,
              counters: Option[LayerCounters]): Map[String, Any] = {
    // a batch is `cpus` files (one task each) drawn round-robin from
    // `files` distinct generated files
    val perTrigger = a.cpus
    val files = 2 * perTrigger
    val perFile = BatchRecords / perTrigger
    val staging = new File(work, "staging"); staging.mkdirs()
    val src = new File(work, "backlog-src"); src.mkdirs()
    val base = (0 until files).map { k =>
      val g = StormGen.generate(a.seed * 7919L + k, perFile)
      val f = new File(staging, s"base-$k.json")
      Files.write(f.toPath, g.records.toSeq.asJava)
      (f, g)
    }
    warmUp(spark, base.head._2.records.toSeq, a.cpus)

    var fed = 0
    def feed(): Unit = {
      val target = Paths.get(src.getPath, f"part-$fed%06d.json")
      val from = base(fed % files)._1.toPath
      try Files.createLink(target, from)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(from, target) }
      fed += 1
    }
    def feedBatch(): Unit = (0 until perTrigger).foreach(_ => feed())
    (0 until 2).foreach(_ => feedBatch())
    @volatile var timeUp = false
    var streamStart = 0L
    var measStart = 0L
    var setupEndMs = 0L
    var gcAtStart = 0.0
    var cg0 = 0L
    val w = new Wiring(spark, { k =>
      if (k == WarmBatches) {
        measStart = System.nanoTime(); setupEndMs = System.currentTimeMillis()
        gcAtStart = Jvm.gcSeconds; cg0 = Jvm.codegenCompiles; Jvm.resetPeak()
      }
      if (measStart > 0 && System.nanoTime() - measStart >= a.seconds * 1e9) timeUp = true
      if (!timeUp) feedBatch()
    })
    streamStart = System.nanoTime()
    val q = w.start(
      envelope(spark.readStream.format("text")
        .option("maxFilesPerTrigger", perTrigger).load(src.getPath)),
      StormStream.Config(checkpointDir = new File(work, "ckpt-backlog").getPath,
        flushInterval = "0 milliseconds"))
    while (!timeUp && q.isActive) Thread.sleep(20)
    q.exception.foreach(e => throw e)
    val checks = w.finish(q)
    val codegen = (Jvm.codegenCompiles - cg0).toDouble
    val gcS = Jvm.gcSeconds - gcAtStart
    val heapPeak = Jvm.heapPeakMb
    val heapAfterGc = Jvm.heapAfterGcMb
    val batches = dataBatches(q)
    val measured = batches.drop(WarmBatches)
    val secs = measured.map(dur(_, "triggerExecution") / 1000.0)
    val rates = measured.zip(secs).collect { case (b, s) if s > 0 => b.numInputRows / s }

    val sides = Trace.span("check.batch_side")(
      base.map { case (_, g) => batchSide(spark, g.records.toSeq, a.cpus) })
    val fedSides = (0 until fed).map(j => sides(j % files))
    val layers =
      if (!Trace.enabled) Map.empty[String, Double]
      else {
        counters.foreach(_.drain())
        streamLayers(measured, batches.size, w.sink, w.scraper.ms.toSeq, counters,
          q.runId.toString, codegen) ++
          enrichLayers(spark, base.flatMap(_._2.records).take(BatchRecords), a.cpus)
      }
    Map(
      "setup_end_ms" -> setupEndMs,
      "e2e" -> Map(
        "throughput_rps" -> p(rates, 0.5),
        "latency_p50_s" -> p(secs, 0.5),
        "latency_p90_s" -> p(secs, 0.9),
        "suite_s" -> (measStart - streamStart) / 1e9,
        "heap_after_gc_mb" -> heapAfterGc),
      "samples" -> Map("batches" -> measured.size, "batch_s" -> secs),
      "checks" -> (checks ++ Map(
        "sent" -> fed.toLong * perFile,
        "planted" -> (0 until fed).map(j => base(j % files)._2.planted.toLong).sum,
        "batch_good" -> fedSides.map(_._1).sum, "batch_hash" -> fedSides.map(_._2).sum,
        "batch_poison" -> fedSides.map(_._3).sum)),
      "health" -> Map(
        "backlog_rows_max" -> batches.map(_.numInputRows).maxOption.getOrElse(0L),
        "gc_s" -> gcS, "heap_peak_mb" -> heapPeak,
        "warmup_batches_excluded" -> math.min(WarmBatches, batches.size),
        "drain_rps_total" -> (if (secs.sum > 0) measured.map(_.numInputRows).sum / secs.sum else 0.0)),
      "layers" -> layers)
  }
}
