package graft.plans

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.storm.StormQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Normalized physical-plan digests for every gate query — the
  * regression lock that catches plan drift the value-hash gate cannot.
  * A lost broadcast, a new exchange, or a filter that stops reaching the
  * scan keeps the query hash-green while silently changing its 100 TB
  * cost; `plans.lock` pins the pre-AQE physical plan shape of all gate
  * queries and `PlanLockSpec` diffs against it every test run.
  *
  * The digest is sha256 over `queryExecution.sparkPlan` (the planned
  * physical tree BEFORE adaptive/codegen preparations — deterministic
  * without executing the query) with per-run noise normalized away:
  * expression IDs, file-index paths, and path counts. Partition numbers
  * are deliberately KEPT: the lockfile is generated under the same
  * session shape the spec runs (local[4], shuffle.partitions=4,
  * sf0.001), so a changed partitioning IS drift.
  *
  * Every gate query is built through [[planQueries]], so the lock can be
  * checked and regenerated without the reference checkout that holds
  * `storm_fixture`'s 271-record file: where that file is absent, the
  * query is planned over the committed first record instead, and its
  * digest is the same (see [[planQueries]] for why).
  */
object PlanDigest {

  /** Session shape the lockfile is defined under — the spec's shared
    * test session must match or every digest would differ. */
  val LockSfDir = "/root/testdata/sf0.001"

  /** Plan strings must be rendered UNtruncated while digesting: the
    * default 100-char metadata cut and 25-field list cut land at
    * positions that shift with expression-ID digit counts (a session
    * that created more expressions prints wider IDs), so a truncated
    * string can differ across sessions even when the normalized full
    * string is identical. Both the lock generator and the spec digest
    * inside this wrapper. */
  def withFullPlanStrings[T](spark: SparkSession)(f: => T): T = {
    val k1 = "spark.sql.maxMetadataStringLength"
    val k2 = "spark.sql.debug.maxToStringFields"
    val p1 = spark.conf.get(k1)
    val p2 = spark.conf.get(k2)
    try {
      spark.conf.set(k1, "100000")
      spark.conf.set(k2, "10000")
      f
    } finally {
      spark.conf.set(k1, p1)
      spark.conf.set(k2, p2)
    }
  }

  def normalize(tree: String): String =
    tree
      .replaceAll("#\\d+", "#")                       // expression IDs
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=]") // per-JVM plan ids
      // JVM-instance identity: lambda classes (typed/mapPartitions
      // closures) and object identity hashes (Aggregator instances)
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("@[0-9a-f]{4,16}", "@id")
      // HOF lambda variables carry a session-global counter (x_206) that
      // depends on how many lambda expressions the session created before
      .replaceAll("lambda [A-Za-z0-9]+_\\d+", "lambda v")
      .replaceAll("\\[file:[^\\]]*\\]", "[PATH]")     // file-index roots
      .replaceAll("InMemoryFileIndex\\(\\d+ paths?\\)",
        "InMemoryFileIndex(N paths)")
      .replaceAll("Location: [A-Za-z]+\\[PATH\\]", "Location: INDEX[PATH]")

  def digestOf(df: DataFrame): String = withFullPlanStrings(df.sparkSession) {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalize(df.queryExecution.sparkPlan.treeString)
        .getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Compact operator outline (nodeName tree) — committed next to the
    * digest so a lockfile diff in review shows WHAT shape changed, not
    * just that something did. */
  def outlineOf(df: DataFrame): String = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Seq[String] =
      (" " * d + p.nodeName) +: p.children.flatMap(walk(_, d + 1))
    walk(df.queryExecution.sparkPlan, 0).mkString("\n")
  }

  /** Every gate query's constructor, for plan inspection only: digests,
    * outlines, explain dumps and plan audits. It is
    * [[SparkEntry.queries]], except that where
    * [[StormQueries.FixturePath]] does not exist, `storm_fixture` is
    * built over [[StormQueries.FixtureFirstRecordPath]] and a line on
    * stdout says so. That query's physical plan does not depend on the
    * file's contents: the read schema is explicit (`Model.rawSchema`),
    * the enrichment is projections only, and [[normalize]] strips the
    * file path, so the digest matches the one taken over the full
    * fixture. Values never come from here: `SparkEntry.queries`,
    * `Verify` and the DuckDB oracle still read the real file. */
  def planQueries(): Map[String, (SparkSession, String) => DataFrame] =
    if (Files.exists(Paths.get(StormQueries.FixturePath))) SparkEntry.queries
    else {
      println(s"[plans] ${StormQueries.FixturePath} is absent: storm_fixture " +
        s"is planned over ${StormQueries.FixtureFirstRecordPath} (its plan " +
        "does not depend on the file's contents)")
      SparkEntry.queries.updated("storm_fixture", (s: SparkSession, _: String) =>
        StormQueries.stormFixtureAt(s, StormQueries.FixtureFirstRecordPath))
    }

  /** Digest + outline for every gate query, sorted by name. Constructing
    * a query executes its training/memo prerequisites (BPE rounds, IVF
    * centroids, cluster memos) but never the query itself. */
  def all(spark: SparkSession, sfDir: String): Seq[(String, String, String)] =
    withFullPlanStrings(spark) {
      planQueries().toSeq.sortBy(_._1).map { case (name, fn) =>
        val df = fn(spark, sfDir)
        (name, digestOf(df), outlineOf(df))
      }
    }

  /** AUXILIARY pipeline plans digest-locked OUTSIDE the gate set
    * (`plans_aux.lock`): gates that serve memoized localCheckpoints
    * have trivial gate plans (Project/Filter over an ExistingRDD), so a
    * planner regression in the pipeline they materialize would slip the
    * main lock and only trip PlanAuditSpec's runtime assertions. These
    * entries pin the UN-materialized end-to-end pipeline shapes. */
  def auxPlans(spark: SparkSession, sfDir: String): Seq[(String, DataFrame)] =
    graft.sim.BitextMine.pipelinePlans(spark, sfDir) :+
      // the survivor funnel (memoized checkpoint since round 14 — its
      // four gate plans are leaves, so the funnel shape is pinned here)
      ("corpus_survivors_pipeline" ->
        graft.sources.CorpusManifest.survivorsPlan(spark, sfDir)) :+
      ("drop_audit_pipeline" ->
        graft.sources.DropAudit.dropAuditPlan(spark, sfDir)) :+
      ("decontaminate_pipeline" ->
        graft.dedup.DedupQueries.decontaminatePlan(spark, sfDir)) :+
      ("substring_grams_pipeline" ->
        graft.dedup.SubstringDedup.gramPosPlan(spark, sfDir))

  def writeAuxLock(spark: SparkSession, sfDir: String, path: String): Unit = {
    val body = withFullPlanStrings(spark) {
      auxPlans(spark, sfDir).sortBy(_._1).map { case (name, df) =>
        (name, digestOf(df), outlineOf(df))
      }
    }
    writeEntries(body, path)
  }

  def writeLock(spark: SparkSession, sfDir: String, path: String): Unit =
    writeEntries(all(spark, sfDir), path)

  private def writeEntries(entries: Seq[(String, String, String)],
                           path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = entries.map { case (name, dig, outline) =>
      s"  ${q(name)}: {\n    ${q("digest")}: ${q(dig)},\n" +
        s"    ${q("outline")}: ${q(outline)}\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  /** Minimal reader for the lockfile subset of JSON we write (no external
    * JSON dep in this offline build). */
  def readLock(path: String): Map[String, String] = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val entry =
      "\"([^\"]+)\":\\s*\\{\\s*\"digest\":\\s*\"([0-9a-f]{64})\"".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** Regenerate `plans.lock`: `sbt "runMain graft.plans.PlanLockMain"`.
  * Run ONLY when a plan change is intentional; the diff in review is the
  * approval record. Session shape mirrors SparkTestSession so the spec
  * reproduces the digests. Needs no reference checkout: queries are built
  * through [[PlanDigest.planQueries]]. */
object PlanLockMain {
  def main(args: Array[String]): Unit = {
    val lockPath = if (args.nonEmpty) args(0) else "plans.lock"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-planlock")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    PlanDigest.writeLock(spark, PlanDigest.LockSfDir, lockPath)
    PlanDigest.writeAuxLock(spark, PlanDigest.LockSfDir,
      if (lockPath == "plans.lock") "plans_aux.lock"
      else lockPath + ".aux")
    // optional second arg: directory for full normalized plan dumps
    // (debugging digest drift between JVMs)
    if (args.length > 1) {
      val dir = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(dir)
      PlanDigest.planQueries().toSeq.sortBy(_._1).foreach { case (n, fn) =>
        java.nio.file.Files.writeString(dir.resolve(s"$n.txt"),
          PlanDigest.withFullPlanStrings(spark)(
            PlanDigest.normalize(fn(spark, PlanDigest.LockSfDir)
              .queryExecution.sparkPlan.treeString)))
      }
    }
    println(s"wrote $lockPath")
    spark.stop()
  }
}
