package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced through a `noop` sink so the full projection is
  * computed (a count() would let Catalyst prune per-row outputs to nothing).
  */
object Bench {
  /** Committed reference calibration: calib_sec measured on the round-7
    * build host under light load (min of 3 × 256M xxhash64-range runs at
    * local[32] → 0.247 s). queries_norm == queries exactly when the host
    * runs at reference speed; a contended host yields calib_sec > ref
    * and gets scaled DOWN proportionally. */
  val CalibRef = 0.247

  /** Query names of the PREVIOUS round's kept bench — the carried set.
    * Cross-round raw-wall diffs must compare the same query set; the
    * round-9 adjudication needed a hand diff because the kept artifact
    * only carried this round's total. The previous round's file is the
    * highest-numbered committed `BENCH_local_r<N>.json` whose query set
    * DIFFERS from the current one (a file covering exactly the current
    * set is this round's own kept run — skip past it). */
  def carriedSet(current: Set[String]): Option[(String, Set[String])] = {
    val re = "^BENCH_local_r(\\d+)\\.json$".r
    val files = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case re(n) => Some((n.toInt, f))
        case _ => None
      })
      .sortBy(-_._1)
    val nameRe = "\"([a-z0-9_]+)\":-?[0-9.]+".r
    files.iterator.map { case (_, f) =>
      val txt = java.nio.file.Files.readString(f.toPath)
      val qBlock = txt.indexOf("\"queries\":")
      val names =
        if (qBlock < 0) Set.empty[String]
        else {
          val open = txt.indexOf('{', qBlock)
          val close = txt.indexOf('}', open)
          nameRe.findAllMatchIn(txt.substring(open, close + 1))
            .map(_.group(1)).toSet
        }
      (f.getName, names)
    }.find { case (_, names) => names.nonEmpty && names != current }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/session so the first measured query doesn't pay startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Host-speed calibration (round-6 verdict: five identical builds
    // spanned 152–212 s on the shared box, making cross-round wall-clock
    // comparison blind). A deterministic CPU-bound task — xxhash64 over a
    // fixed range, no IO, no shuffle. Round-8 verdict follow-up: a SINGLE
    // point-in-time calibration is itself the dominant noise term on a
    // shared box (observed 0.185–0.255 across runs, ±35% on normalized
    // totals) because host speed drifts DURING the ~4-minute run. So the
    // sample is now INTERLEAVED: one sample before the queries, one at
    // the midpoint, one after; each sample is the min of 2 back-to-back
    // runs (min absorbs one-sided contention spikes within a sample),
    // calib_sec is the MEDIAN of the three samples (tracks the run-long
    // average host speed instead of one moment), and calib_spread
    // (max−min of the samples) lands in the JSON so a drifting host is
    // visible in the artifact instead of silently poisoning the
    // normalization.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(256L * 1000 * 1000).selectExpr("bit_xor(xxhash64(id))")
        .collect() // bit_xor: overflow-free under ANSI, same hash work
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // un-timed JIT warm-up of the calibration task itself
    val calibSamples = scala.collection.mutable.ArrayBuffer[Double]()
    def calibSample(): Unit = calibSamples += math.min(calibOnce(), calibOnce())
    calibSample() // sample 1: before memo builds + queries
    // Compile the largest codegen unit (the storm enrich projection) once,
    // un-timed: its first-run whole-stage-codegen + JIT is several seconds
    // of ONE-TIME cost that would otherwise be attributed to whichever
    // storm query happens to run first alphabetically. Prefer the sibling
    // sf0.001 dir for a near-free warm-up; fall back to the bench dir
    // itself so the warm-up is never silently skipped on other layouts.
    val warmDir = {
      val tiny = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (tiny.isDirectory) tiny.getPath else sfDir
    }
    try graft.storm.StormQueries
      .queries("storm_enrich")(spark, warmDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] enrich warm-up on $warmDir failed: ${e.getMessage}")
    }
    // Shared-memo builds, timed SEPARATELY from the query walls (round-7
    // verdict: dedup_prefix_jaccard's 2.21 → 3.86 s was the (prefix,
    // doc-sets) memo materialization landing on whichever consumer ran
    // first — a first-payer artifact, not a plan change). Forcing every
    // memo here, in a fixed order, makes per-query seconds
    // steady-state and round-over-round comparable; the per-family build
    // cost is emitted as "memo_sec". Order matters only in that
    // lsh_artifacts consumes pruned_shingles etc. — each row times
    // exactly the increment it adds.
    val memoTimed = Seq[(String, () => Unit)](
      ("pruned_shingles", () => {
        graft.dedup.DedupQueries.prunedShingles(spark, sfDir); () }),
      ("lsh_artifacts", () => {
        graft.dedup.DedupQueries.lshArtifacts(spark, sfDir); () }),
      ("dedup_clusters", () => {
        graft.dedup.ConnectedComponents.dedupClusters(spark, sfDir); () }),
      // the removal tiers ride the cluster labels; the survivor funnel
      // rides the tiers — warmed in dependency order so each line times
      // exactly the increment it adds (round-14 memos)
      ("removal_tiers", () => {
        graft.dedup.ConnectedComponents.removalTiers(spark, sfDir); () }),
      ("survivors", () => {
        graft.sources.CorpusManifest.survivors(spark, sfDir); () }),
      ("audit_verdicts", () => {
        graft.sources.DropAudit.dropAudit(spark, sfDir); () }),
      ("contam_pairs", () => {
        graft.dedup.DedupQueries.decontaminate(spark, sfDir); () }),
      ("substring_grams", () => {
        graft.dedup.SubstringDedup.gramMemo(spark, sfDir); () }),
      ("simhash_pairs", () => {
        graft.dedup.DedupQueries.dedupSimhashHamming(spark, sfDir); () }),
      ("prefix_docsets", () => graft.dedup.PrefixJoin.warm(spark, sfDir)),
      ("containment_pairs",
        () => graft.dedup.PrefixJoin.warmContainment(spark, sfDir)),
      ("ivf_quantizer", () => { graft.sim.Ivf.assignments(spark, sfDir); () }),
      // The mining tier's four memo families, in dependency order (the
      // round-12 tier cost — brute + single-cell + interior depths +
      // tuned wave — previously landed on the tier's alphabetical first
      // payer as one opaque number). Tuned also pays the dial
      // certification (probe curve + choice) its wave consumes.
      ("bitext_memo_brute", () => {
        graft.sim.BitextMine.bruteMemo(spark, sfDir); () }),
      ("bitext_memo_ivf", () => {
        graft.sim.BitextMine.ivfMemo(spark, sfDir); () }),
      ("bitext_memo_probes", () => graft.sim.BitextMine.warmProbes(spark, sfDir)),
      ("bitext_memo_tuned", () => {
        graft.sim.BitextMine.tunedMemo(spark, sfDir); () }),
      ("pq_model", () => { graft.sim.Pq.encoded(spark, sfDir); () }),
      ("knn_edges", () => { graft.sim.GraphStats.mutualEdges(spark, sfDir); () }),
      ("exact_nf", () => {
        graft.sim.Neighborhood.exactMemo(spark, sfDir); () }),
      ("kcore_peel", () => {
        graft.sim.KCore.peelMemo(spark, sfDir); () }),
      ("recrawl_delta", () => {
        graft.text.CrawlDedup.deltaMemo(spark, sfDir); () }),
      ("pca_model", () => { graft.sim.EmbedPca.model(spark, sfDir); () }),
      ("quality_weights", () => {
        graft.text.QualityClassifier.weights(spark, sfDir); () }),
      // cache() is lazy — count() forces the encode into the cache here
      ("media_table", () => {
        graft.multimodal.Multimodal.mediaFromDocuments(spark, sfDir)
          .count(); () }),
    ).map { case (name, build) =>
      val t0 = System.nanoTime()
      try build()
      catch { case e: Throwable =>
        System.err.println(s"[bench] memo $name failed: ${e.getMessage}")
      }
      (name, (System.nanoTime() - t0) / 1e9)
    }
    val memoTotal = memoTimed.map(_._2).sum
    // Shuffle accounting per query, exact via job groups — see
    // ShuffleByGroup (shared with ScaleValidate).
    val shuffle = new ShuffleByGroup
    spark.sparkContext.addSparkListener(shuffle)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val midpoint = ordered.size / 2
    val timed = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i == midpoint) calibSample() // sample 2: mid-run host speed
      val t0 = System.nanoTime()
      shuffle.measure(spark.sparkContext, name) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
      (name, (System.nanoTime() - t0) / 1e9)
    }
    shuffle.drain()
    calibSample() // sample 3: after the last query
    val sortedSamples = calibSamples.toSeq.sorted
    val calibSec = sortedSamples(sortedSamples.size / 2) // median of 3
    val calibSpread = sortedSamples.last - sortedSamples.head
    def mbOf(name: String): Double = shuffle.mbOf(name)
    def recOf(name: String): Long = shuffle.recOf(name)
    val qs = timed.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val sh = timed.map { case (k, _) => "\"" + k + f"\":${mbOf(k)}%.1f" }
      .mkString("{", ",", "}")
    val rec = timed.map { case (k, _) => "\"" + k + s"""":${recOf(k)}""" }
      .mkString("{", ",", "}")
    // "value" keeps round-over-round semantics (ALL engine work: memo
    // builds + query walls — through r7 the memo cost hid inside whoever
    // ran first); "memo_sec"/"memo_total" break the attribution out.
    val total = timed.map(_._2).sum + memoTotal
    // Reference calibration on the committed baseline host (min of 3 on
    // a quiet run; see calibSec above). norm = raw × CalibRef/calib_sec.
    val scale = Bench.CalibRef / calibSec
    val qn = timed.map { case (k, v) => "\"" + k + f"\":${v * scale}%.3f" }
      .mkString("{", ",", "}")
    val ms = memoTimed.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val cs = calibSamples.map(v => f"$v%.3f").mkString("[", ",", "]")
    // carried-set raw total: this run's walls summed over the PREVIOUS
    // round's query set, so cross-round raw diffs are one number on one
    // host with no hand reconciliation (see carriedSet)
    val carried = carriedSet(timed.map(_._1).toSet)
    val carriedRaw = carried.map { case (_, names) =>
      timed.filter(t => names(t._1)).map(_._2).sum }
    val cr = carried.zip(carriedRaw).map { case ((src, names), raw) =>
      f""","carried_raw":$raw%.3f,"carried_n":${names.size},"carried_from":"$src""""
    }.getOrElse("")
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","calib_sec":$calibSec%.3f,"calib_spread":$calibSpread%.3f,"calib_samples":$cs,"value_norm":${total * scale}%.3f,"memo_total":$memoTotal%.3f,"memo_sec":$ms$cr,"queries":$qs,"queries_norm":$qn,"shuffle_mb":$sh,"shuffle_rec":$rec,"sf":"$sfDir"}"""
    // The full artifact goes to a FILE, not just stdout: the per-query
    // JSON line is >16 KB and can interleave with stderr in captured
    // logs (observed once in round 10) — the kept-file protocol reads
    // this file, no log parsing. stdout still gets the full line (the
    // driver's parser) and the compact trailer below.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_local_last.json")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), fullJson + "\n")
      System.err.println(s"[bench] artifact written to $outFile")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] artifact write to $outFile failed: ${e.getMessage}")
    }
    println(fullJson)
    // Short trailer for the driver's stdout-tail parser: the full
    // per-query JSON above outgrows a bounded tail window (BENCH_r04/
    // r05 both recorded "parsed": null), so the LAST line is a compact
    // summary that always fits — same shape, no per-query maps. Emitted
    // on stderr too: sbt prefixes stdout with "[info] ", which defeated
    // the driver's parser through round 6 ("parsed": null); stderr
    // passes through sbt un-prefixed.
    val trailer =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","calib_sec":$calibSec%.3f,"calib_spread":$calibSpread%.3f,"value_norm":${total * scale}%.3f,"n_queries":${timed.size}$cr,"sf":"$sfDir"}"""
    println(trailer)
    System.err.println(trailer)
    System.out.flush(); System.err.flush()
    spark.stop()
  }
}
