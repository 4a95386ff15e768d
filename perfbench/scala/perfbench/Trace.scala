package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-side spans around every call the harness makes into a layer.
  * Spans stay in memory and are written out once, at the end of the run.
  * Off (the default) a span is a plain call: the untraced run measures the
  * end-to-end metrics, the traced run the per-layer ones. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private val nextId = new AtomicInteger(0)
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Innermost open span of this thread, else [[root]]. */
  def current: Int = stack.get.headOption.getOrElse(root)

  /** Parent of spans opened on a thread with no open span (the stream's
    * execution thread, the scraper): the workload span. */
  @volatile var root = 0

  def span[A](name: String, parent: Int = -1)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.incrementAndGet()
      val up = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, up, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Length of the union of `intervals` clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L; var cs = 0L; var ce = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > ce) { if (ce != Long.MinValue) total += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
    if (ce != Long.MinValue) total += ce - cs
    total
  }

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> ((s.endNs - s.startNs - covered(iv, s.startNs, s.endNs)) / 1e9)
    }.toMap
  }

  /** Spans plus per-name totals of wall and self time. */
  def dump(path: String): Unit = {
    val ss = all
    val self = selfSeconds(ss)
    val byName = ss.groupBy(_.name).map { case (n, xs) =>
      n -> Map("count" -> xs.size, "wall_s" -> xs.map(_.seconds).sum,
        "self_s" -> xs.map(s => self(s.id)).sum)
    }
    val rows = ss.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> self(s.id)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json(Map("run_id" -> runId, "by_name" -> byName, "spans" -> rows)) + "\n")
  }
}

/** Per-scope task and job counters from Spark's public listener API. The
  * scope is the job group the harness (or the stream, which uses its run
  * id) set on the submitting thread, so attribution survives the async
  * listener bus. */
final class LayerCounters extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val deserMs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val jobIntervals = ArrayBuffer[(Long, Long)]()
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val jobScope = new ConcurrentHashMap[Int, (String, Long)]()
  private val events = new AtomicLong
  private val open = new AtomicLong

  def acc(scope: String): Acc = accs.computeIfAbsent(scope, _ => new Acc)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>")
    js.stageInfos.foreach(si => stageScope.put(si.stageId, g))
    jobScope.put(js.jobId, (g, js.time))
    acc(g).jobs.incrementAndGet()
    open.incrementAndGet(); events.incrementAndGet()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    Option(jobScope.remove(je.jobId)).foreach { case (g, t0) =>
      val a = acc(g)
      a.jobIntervals.synchronized { a.jobIntervals += ((t0, je.time)) }
      open.decrementAndGet()
    }
    events.incrementAndGet()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageScope.get(te.stageId)).getOrElse("<none>"))
    a.tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.deserMs.addAndGet(m.executorDeserializeTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    events.incrementAndGet()
  }

  /** Wait until no job is open and the event count has settled. */
  def drain(): Unit = {
    var last = -1L; var stable = 0; var waited = 0
    while ((stable < 4 || open.get > 0) && waited < 10000) {
      Thread.sleep(25L); waited += 25
      val cur = events.get
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }

  /** Seconds of [t0Ms, t1Ms] covered by no job of `scope`: driver-side
    * work such as planning, collection and the harness's own code. */
  def driverSeconds(scope: String, t0Ms: Long, t1Ms: Long): Double = {
    val iv = Option(accs.get(scope)).map(a =>
      a.jobIntervals.synchronized(a.jobIntervals.toList)).getOrElse(Nil)
    math.max(0L, t1Ms - t0Ms - Trace.covered(iv, t0Ms, t1Ms)) / 1000.0
  }
}

/** Catalyst planning time per executed query (analysis, optimization and
  * physical planning), stamped with its wall-clock start so the harness
  * can credit it to the scope whose interval contains it. */
final class PlanTimes extends QueryExecutionListener {
  val entries = ArrayBuffer[(Long, Double)]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val start = ph.values.map(_.startTimeMs).min
      val ms = ph.values.map(_.durationMs).sum
      entries.synchronized { entries += ((start, ms / 1000.0)) }
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def secondsWithin(t0Ms: Long, t1Ms: Long): Double =
    entries.synchronized(entries.toList)
      .collect { case (s, sec) if s >= t0Ms && s <= t1Ms => sec }.sum
}

/** JVM counters: summed GC time and heap use. */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1000.0
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection: the run's live set. */
  def heapAfterGcMb: Double = (1 to 3).map { _ =>
    System.gc()
    // Spark's ContextCleaner drops the blocks of collected broadcasts and
    // RDDs asynchronously; give it time before the next collection
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Host speed probe for the run-health fields: seconds for `threads`
    * threads to each run a fixed integer mixing loop. It does not touch the
    * program, so a slow probe means a slow host, not a slow engine. */
  def hostProbeSeconds(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = k.toLong
        var i = 0
        while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
        if (x == 42L) println(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Whole-stage and expression code compilations so far (Janino). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
