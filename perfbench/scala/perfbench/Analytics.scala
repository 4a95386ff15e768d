package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analytics workload: the memo builds the suite consumes, then the
  * query list in seeded order, pass after pass. Every run is forced by
  * an aggregate of its row count and an order-independent row hash, which
  * the harness checks against the committed expected file. */
object Analytics {
  /** (query, module family). Two or more per family, including four of
    * the five queries the roadmap carries: `pq_model_roundtrip` and its
    * memo chain (about half the suite's time) do not fit the time budget. */
  val Queries: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "operators", "q3_revenue_by_nation" -> "operators",
    "unigram_encode" -> "text", "text_stats" -> "text", "text_quality" -> "text",
    "hll_distinct" -> "functions", "cms_heavy_hitters" -> "functions",
    "dedup_clusters_multi" -> "dedup", "dedup_prefix_jaccard" -> "dedup",
    "ivf_topk" -> "sim", "knn_components" -> "sim",
    "shard_plan" -> "sources", "drop_audit" -> "sources",
    "cdc_chunks" -> "multimodal", "media_phash_clusters" -> "multimodal")

  val Carried: Seq[String] = Seq("unigram_encode", "text_stats", "text_quality",
    "dedup_clusters_multi")

  /** The public builders `graft.Bench` times as memo lines, in its order,
    * restricted to the ones the query list consumes. */
  def memos(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "pruned_shingles" -> (() => { graft.dedup.DedupQueries.prunedShingles(s, dir); () }),
    "lsh_artifacts" -> (() => { graft.dedup.DedupQueries.lshArtifacts(s, dir); () }),
    "dedup_clusters" -> (() => { graft.dedup.ConnectedComponents.dedupClusters(s, dir); () }),
    "removal_tiers" -> (() => { graft.dedup.ConnectedComponents.removalTiers(s, dir); () }),
    "survivors" -> (() => { graft.sources.CorpusManifest.survivors(s, dir); () }),
    "audit_verdicts" -> (() => { graft.sources.DropAudit.dropAudit(s, dir); () }),
    "simhash_pairs" -> (() => { graft.dedup.DedupQueries.dedupSimhashHamming(s, dir); () }),
    "prefix_docsets" -> (() => graft.dedup.PrefixJoin.warm(s, dir)),
    "containment_pairs" -> (() => graft.dedup.PrefixJoin.warmContainment(s, dir)),
    "ivf_quantizer" -> (() => { graft.sim.Ivf.assignments(s, dir); () }),
    "knn_edges" -> (() => { graft.sim.GraphStats.mutualEdges(s, dir); () }),
    "media_table" -> (() => {
      graft.multimodal.Multimodal.mediaFromDocuments(s, dir).count(); () }))

  /** Floating-point columns are hashed at ten significant digits, so a
    * last-bit difference in a parallel sum cannot fail the check. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9e", x.cast("double")))
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }

  /** (rows, order-independent hash of all rows). */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  final case class QRun(pass: Int, name: String, wall: Double, rows: Long,
                        hash: String, error: String, t0Ms: Long, t1Ms: Long)

  def run(spark: SparkSession, a: Args, counters: Option[LayerCounters],
          plans: Option[PlanTimes]): Map[String, Any] = {
    val dir = a.data
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    spark.range(1000000).selectExpr("sum(id)").collect()
    val setupEndMs = System.currentTimeMillis()
    val gc0 = Jvm.gcSeconds
    Jvm.resetPeak()

    def timed[A](scope: String)(f: => A): (A, Double, Long, Long) = {
      sc.setJobGroup(scope, scope, interruptOnCancel = false)
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try {
        val r = Trace.span(scope)(f)
        (r, (System.nanoTime() - t0) / 1e9, m0, System.currentTimeMillis())
      } finally sc.clearJobGroup()
    }

    val suiteStart = System.nanoTime()
    val memoTimes = memos(spark, dir).map { case (name, b) =>
      val (_, s, _, _) = timed(s"memo.$name")(b()); name -> s
    }
    val rnd = new scala.util.Random(a.seed)
    val runs = ArrayBuffer[QRun]()
    def pass(k: Int): Double = {
      val t0 = System.nanoTime()
      rnd.shuffle(Queries.map(_._1)).foreach { name =>
        val ((rows, hash, err), s, m0, m1) = timed(s"q.$name#$k") {
          try { val (r, h) = digest(fns(name)(spark, dir)); (r, h.toString, "") }
          catch { case scala.util.control.NonFatal(e) =>
            (-1L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        }
        runs += QRun(k, name, s, rows, hash, err, m0, m1)
      }
      (System.nanoTime() - t0) / 1e9
    }
    var passSecs = pass(1)
    val suite = memoTimes.map(_._2).sum + passSecs
    // further passes only while the run is shorter than --seconds
    var k = 1
    while (System.nanoTime() - suiteStart < a.seconds * 1e9) { k += 1; passSecs += pass(k) }
    val hits =
      if (!Trace.enabled) Nil
      else memos(spark, dir).map { case (name, b) =>
        val (_, s, _, _) = timed(s"memohit.$name")(b()); s
      }
    val walls = runs.map(_.wall).toSeq
    val gcS = Jvm.gcSeconds - gc0
    val heapPeak = Jvm.heapPeakMb
    val heapAfterGc = Jvm.heapAfterGcMb

    val layers =
      if (!Trace.enabled) Map.empty[String, Double]
      else {
        counters.foreach(_.drain())
        queryLayers(runs.toSeq, counters.get, plans.get) ++
          memoTimes.map { case (n, s) => s"memo.$n.build_s" -> s } ++
          Map("memo.hit_s" -> hits.sum)
      }
    Map(
      "setup_end_ms" -> setupEndMs,
      "e2e" -> Map(
        "throughput_rps" -> runs.size / passSecs,
        "latency_p50_s" -> Storm.p(walls, 0.5),
        "latency_p90_s" -> Storm.p(walls, 0.9),
        "suite_s" -> suite,
        "heap_after_gc_mb" -> heapAfterGc),
      "samples" -> Map("query_runs" -> runs.size, "passes" -> k),
      "checks" -> Map("runs" -> runs.map(r =>
        Map("name" -> r.name, "pass" -> r.pass, "rows" -> r.rows, "hash" -> r.hash,
          "error" -> r.error, "wall_s" -> r.wall))),
      "health" -> Map(
        "gc_s" -> gcS, "heap_peak_mb" -> heapPeak,
        "warmup_batches_excluded" -> 0, "backlog_rows_max" -> 0,
        "memo_s" -> memoTimes.map(_._2).sum),
      "layers" -> layers)
  }

  /** Per-query layer split, summed over every run of the suite:
    * planning, driver-only time, jobs, tasks and task-side seconds. */
  private def queryLayers(runs: Seq[QRun], c: LayerCounters,
                          plans: PlanTimes): Map[String, Double] = {
    final case class L(wall: Double, plan: Double, driver: Double, jobs: Double,
                       tasks: Double, deser: Double, cpu: Double, gc: Double,
                       shuffleMb: Double, spillMb: Double)
    val per = runs.map { r =>
      val scope = s"q.${r.name}#${r.pass}"
      val a = c.acc(scope)
      r -> L(r.wall, plans.secondsWithin(r.t0Ms, r.t1Ms),
        c.driverSeconds(scope, r.t0Ms, r.t1Ms), a.jobs.get.toDouble,
        a.tasks.get.toDouble, a.deserMs.get / 1000.0, a.cpuNs.get / 1e9,
        a.gcMs.get / 1000.0, a.shuffleBytes.get / 1048576.0, a.spillBytes.get / 1048576.0)
    }
    val n = runs.size.toDouble
    def tot(f: L => Double) = per.map(x => f(x._2)).sum
    val family = Queries.toMap
    val fam = per.groupBy(x => family(x._1.name)).map { case (f, xs) =>
      s"family.$f.wall_s" -> xs.map(_._2.wall).sum }
    val carried = Carried.flatMap { q =>
      val xs = per.filter(_._1.name == q).map(_._2)
      val m = xs.size.toDouble.max(1.0)
      Seq(s"q.$q.wall_s" -> xs.map(_.wall).sum / m,
        s"q.$q.jobs" -> xs.map(_.jobs).sum / m,
        s"q.$q.deser_s" -> xs.map(_.deser).sum / m)
    }
    Map(
      "query.plan_s" -> tot(_.plan) / n, "query.driver_s" -> tot(_.driver) / n,
      "query.jobs" -> tot(_.jobs) / n, "query.tasks" -> tot(_.tasks) / n,
      "query.deser_s" -> tot(_.deser) / n, "query.task_cpu_s" -> tot(_.cpu) / n,
      "query.gc_s" -> tot(_.gc) / n, "query.shuffle_mb" -> tot(_.shuffleMb) / n,
      "query.spill_mb" -> tot(_.spillMb) / n) ++ fam ++ carried
  }
}
