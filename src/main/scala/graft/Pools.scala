package graft

import org.apache.spark.sql.SparkSession

/** Driver-side fan-out for INDEPENDENT Spark actions (optimization
  * guide §2.6: concurrent jobs back-fill the executor slots each
  * other's stage tails leave idle). Results are positionally ordered
  * and bit-identical to the sequential loop — each thunk sees the same
  * inputs; only the scheduling overlaps.
  *
  * Failure semantics (round-13 advisor): the wait is bounded — a hung
  * Spark job cannot block the caller forever — and when any thunk fails
  * (or the timeout fires) the sibling jobs are CANCELLED instead of
  * running to completion behind the thrown exception. Cancellation goes
  * through a job tag fresh to each call, so it reaches the fan-out's own
  * jobs only, never other jobs of the caller's job group. Worker threads
  * keep the caller's job group when one is set, so the bench's per-query
  * shuffle attribution stays exact.
  */
object Pools {
  /** Generous ceiling: every fanned-out action here is seconds at bench
    * scale and minutes at cluster scale; anything past this is a hung
    * job, not a slow one. */
  private val TimeoutMinutes = 30L

  def runAll[A](s: SparkSession, label: String)(thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val sc = s.sparkContext
    val inherited = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val tag = s"pool-$label-${java.util.UUID.randomUUID().toString.take(8)}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fs = thunks.map { t =>
      scala.concurrent.Future {
        // job groups and tags are thread-local: pool threads created here
        // inherit the caller's properties, but a reused/raceily-created
        // worker may not — pin both explicitly so cancellation is total
        inherited.foreach(sc.setJobGroup(_, label, interruptOnCancel = false))
        sc.addJobTag(tag)
        try t() finally sc.removeJobTag(tag)
      }
    }
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(TimeoutMinutes, "min"))
    catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        throw e
    } finally pool.shutdown()
  }
}
