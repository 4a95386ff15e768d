package graft.plans

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Diffs the auxiliary (pre-checkpoint) pipeline digests against
  * `plans_aux.lock` — the round-10 advice item: the bitext gates serve
  * memoized localCheckpoints, so their GATE plans are trivial and the
  * main lock can't see a planner regression in the mining pipeline
  * itself. These digests pin the un-materialized end-to-end pipelines
  * (WindowGroupLimit windows, broadcast penalty joins and all); a
  * regression trips this lock, not just PlanAuditSpec's runtime
  * assertions. Regenerate with
  * `sbt "runMain graft.plans.PlanLockMain"` only when intentional. */
class AuxPlanLockSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshPlanState(): Unit = {
    spark.catalog.clearCache()
    graft.Memo.releaseAll()
  }

  test("every auxiliary pipeline plan matches plans_aux.lock") {
    val locked = PlanDigest.readLock("plans_aux.lock")
    freshPlanState()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    val drifted = try {
      spark.conf.set(key, "10485760")
      val plans = PlanDigest.auxPlans(spark, PlanDigest.LockSfDir)
      assert(locked.keySet == plans.map(_._1).toSet,
        s"aux lockfile key drift: missing=${
          plans.map(_._1).toSet -- locked.keySet}, stale=${
          locked.keySet -- plans.map(_._1).toSet} — regenerate")
      plans.flatMap { case (name, df) =>
        if (PlanDigest.digestOf(df) == locked(name)) None
        else {
          val dir = java.nio.file.Paths.get("target/plan-drift")
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(dir.resolve(s"aux_$name.txt"),
            PlanDigest.withFullPlanStrings(spark)(
              PlanDigest.normalize(df.queryExecution.sparkPlan.treeString)))
          Some(name)
        }
      }
    } finally spark.conf.set(key, prior)
    assert(drifted.isEmpty,
      s"aux plan drift (dumped under target/plan-drift): ${
        drifted.mkString(", ")}")
  }
}
