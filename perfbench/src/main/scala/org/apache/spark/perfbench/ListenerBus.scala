package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark internals that are private to Spark's packages: the
  * listener bus, so the traced run reads its listener's tallies only after
  * every event posted so far has been delivered, and the status store, a
  * record of jobs that Spark keeps apart from any listener the benchmark
  * registers. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (job id, job group, submission time in epoch ms) of every job the
    * status store holds. */
  def statusJobs(sc: SparkContext): Seq[(Int, Option[String], Long)] =
    sc.statusStore.jobsList(java.util.Collections.emptyList()).map(j =>
      (j.jobId, j.jobGroup, j.submissionTime.map(_.getTime).getOrElse(-1L)))
}
