package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

class PoolsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A one-task job that runs until `ms` pass or its task is killed. */
  private def slowJob(ms: Long): Long =
    spark.sparkContext.parallelize(Seq(1), 1).map { x =>
      val end = System.currentTimeMillis() + ms
      while (System.currentTimeMillis() < end && !TaskContext.get().isInterrupted())
        Thread.sleep(20)
      x.toLong
    }.count()

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, s"timed out waiting for $what")
  }

  test("a failing fan-out cancels its siblings, not the caller group's other jobs") {
    val sc = spark.sparkContext
    val group = "pools-caller"
    def groupJobs(status: JobExecutionStatus) = sc.statusTracker
      .getJobIdsForGroup(group).flatMap(sc.statusTracker.getJobInfo)
      .count(_.status == status)

    // an unrelated job of the caller's group, on another thread
    val other = new AtomicReference[Either[Throwable, Long]]()
    val bystander = new Thread(() => {
      sc.setJobGroup(group, "bystander")
      other.set(try Right(slowJob(4000)) catch { case e: Throwable => Left(e) })
    })
    bystander.start()
    await("the bystander's job")(groupJobs(JobExecutionStatus.RUNNING) == 1)

    sc.setJobGroup(group, "caller")
    val thrown = try intercept[IllegalStateException] {
      Pools.runAll(spark, "pools-spec")(Seq(
        () => slowJob(60000),
        () => {
          await("the sibling's job")(groupJobs(JobExecutionStatus.RUNNING) == 2)
          throw new IllegalStateException("fan-out leg failed")
        }))
    } finally sc.clearJobGroup()
    assert(thrown.getMessage == "fan-out leg failed")

    // the sibling's job is cancelled, long before its 60 s are up; the
    // bystander's runs to its end
    await("the sibling's cancellation")(groupJobs(JobExecutionStatus.FAILED) >= 1)
    bystander.join()
    assert(other.get == Right(1L), s"the bystander's job did not survive: ${other.get}")
    assert(groupJobs(JobExecutionStatus.FAILED) == 1)
  }
}
