// lives inside org.apache.spark so it can reach the private[spark]
// listener bus and status store; the logic is graft's own
package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener bus and status store —
  * measurement hygiene for [[graft.obs.Trace]] and the `plans` scale
  * scenario. SparkListener events are delivered asynchronously, so counters
  * sampled right after an action can miss late events or bleed into the
  * next sample's window; draining the bus first closes that race. The
  * status store is Spark's own job/stage/task record (fed by the listener
  * Spark always installs), so a job count needs no listener of its own.
  * Never part of a query path. */
object ListenerBridge {

  /** Longest wait of [[drain]]: a bus kept busy by a running stream must
    * not stall a reader indefinitely. */
  val DrainTimeoutMs = 10000L

  /** Wait up to [[DrainTimeoutMs]] for every queued listener event to be
    * delivered; true when the bus drained in time. */
  def drain(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(DrainTimeoutMs); true }
    catch { case _: TimeoutException => false }

  /** One job's status-store record: wall (submission → completion, 0 while
    * running), identity (a graft span's description, else the action's call
    * site), stages completed or failed, and the tasks of the stages that
    * ran (a stage reused from an earlier job's shuffle is skipped). */
  final case class JobStat(id: Int, wallMs: Long, desc: String, stages: Int, tasks: Long)

  /** Highest job id the status store has seen, -1 before any job. */
  def lastJobId(sc: SparkContext): Int =
    sc.statusStore.jobsList(null).map(_.jobId).maxOption.getOrElse(-1)

  /** Jobs with id > `after` still retained by the status store
    * (`spark.ui.retainedJobs`, default 1000), by id. */
  def jobsAfter(sc: SparkContext, after: Int): Seq[JobStat] =
    sc.statusStore.jobsList(null).filter(_.jobId > after).sortBy(_.jobId).map { j =>
      val wall = (for (s <- j.submissionTime; c <- j.completionTime)
        yield c.getTime - s.getTime).getOrElse(0L)
      val desc = j.description.filter(_.startsWith("graft "))
        .orElse(Some(j.name).filter(_.trim.nonEmpty))
        .orElse(j.description).getOrElse("")
      JobStat(j.jobId, wall, desc.linesIterator.find(_.trim.nonEmpty).getOrElse("").take(90),
        j.numCompletedStages + j.numFailedStages, (j.numTasks - j.numSkippedTasks).toLong)
    }
}
