package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    out: String = "result.json",
    work: String = ".",
    data: String = "",
    cpus: Int = 4)

/** One benchmark run in one JVM: set up, measure, check, and write the raw
  * result (metrics, check inputs, run health, per-layer numbers) as JSON
  * for `perfbench/run.py`, which turns it into the benchmark's output. */
object Main {
  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--data", v)) => a.copy(data = v)
      case (a, Array("--cpus", v)) => a.copy(cpus = v.toInt)
      case (_, other) => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a.work)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Trace.enabled = a.trace
    val counters = if (a.trace) Some(new LayerCounters) else None
    val plans = if (a.trace) Some(new PlanTimes) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    plans.foreach(spark.listenerManager.register)
    val gc0 = Jvm.gcSeconds
    val probe0 = Jvm.hostProbeSeconds(a.cpus)
    try {
      val r = Trace.span(s"workload.${a.workload}") {
        Trace.root = Trace.current
        a.workload match {
          case "storm_backlog" => Storm.backlog(spark, a, work, counters)
          case w if w.startsWith("analytics") => Analytics.run(spark, a, counters, plans)
          case w => sys.error(s"unknown workload $w")
        }
      }
      val jvm =
        if (!a.trace) Map.empty[String, Double]
        else Map("jvm.gc_s" -> (Jvm.gcSeconds - gc0), "jvm.heap_peak_mb" -> Jvm.heapPeakMb)
      val layers = r("layers").asInstanceOf[Map[String, Double]] ++ jvm
      val health = r("health").asInstanceOf[Map[String, Any]] ++ Map(
        "host_probe_s_start" -> probe0, "host_probe_s_end" -> Jvm.hostProbeSeconds(a.cpus))
      if (a.trace) Trace.dump(a.out.stripSuffix(".json") + ".spans.json")
      Files.writeString(Paths.get(a.out),
        Json(r ++ Map("layers" -> layers, "health" -> health, "run_id" -> Trace.runId)) + "\n")
    } finally spark.stop()
  }
}
