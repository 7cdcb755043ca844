package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch nanoseconds, so request stamps (taken with
  * `nanoTime`) and Spark's event times (epoch milliseconds) share a line. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
}

/** The stamps of one request: parse (DSL only), the call into the engine,
  * and the collect that materializes a returned frame. */
final class OpClock {
  var start, parseEnd, callStart, callEnd, end: Long = 0L
  def begin(): Unit = { start = Clock.now(); parseEnd = start; callStart = start }
  def parse[T](f: => T): T = { val r = f; parseEnd = Clock.now(); r }
  def call[T](f: => T): T = {
    callStart = Clock.now(); val r = f; callEnd = Clock.now(); end = callEnd; r
  }
  def collect[T](f: => T): T = { val r = f; end = Clock.now(); r }
}

/** One finished request of the timed loop. */
final case class OpRec(id: Long, client: Int, cls: String, store: String, start: Long,
    parseEnd: Long, callStart: Long, callEnd: Long, end: Long) {
  def latencyMs: Double = (end - start) / 1e6
}

/** Spark work per job, tallied by a listener. Jobs are attributed to the
  * request whose job group (set by the benchmark around each traced
  * request) they carry. Events arrive on one listener thread; the tallies
  * are read only after [[org.apache.spark.perfbench.ListenerBus.drain]]. */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val group: String, val submit: Long) {
    var end: Long = submit
    var firstLaunch: Long = Long.MaxValue
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var resultBytes = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, group.orNull, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    job(e.stageId).foreach(j => j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
    j.tasks += 1
    j.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.resultBytes += m.resultSize
    }
  }
  private def job(stage: Int): Option[Job] = stageJob.get(stage).flatMap(jobs.get)
}

/** What attribution needs to know of a job: its id, its job group and
  * its submission time (epoch ms). */
final case class JobRef(id: Int, group: Option[String], submitMs: Long)

/** Spark work attributed to one request. */
final case class SparkShare(jobs: Int, tasks: Int, taskMs: Double, queueMs: Double,
    driverMs: Double, shuffleBytes: Long, resultBytes: Long)

/** The traced run's record: requests, their Spark jobs, and spans. */
final class TraceRecord(sc: SparkContext) {
  val ledger = new JobLedger
  private var startedMs = 0L
  private var stoppedMs = 0L

  def start(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.addSparkListener(ledger)
    startedMs = System.currentTimeMillis()
  }
  def stop(): Unit = {
    stoppedMs = System.currentTimeMillis()
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(ledger)
  }
  def group(id: Long): String = s"perfbench-$id"

  /** Runs `f` with request `id`'s job group set on this thread. */
  def within[T](id: Long)(f: => T): T = {
    sc.setJobGroup(group(id), s"perfbench request $id", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }

  /** Job ids per request: by job group, else (one client only) by the
    * request whose window holds the job's submission; and the ids of the
    * jobs no request owns. */
  private def assign(jobs: Seq[JobRef], ops: Seq[OpRec],
      singleClient: Boolean): (Map[Long, Seq[Int]], Seq[Int]) = {
    val byGroup = ops.map(o => group(o.id) -> o.id).toMap
    val sorted = ops.sortBy(_.start).toArray
    val owned = jobs.map { j =>
      val at = j.submitMs * 1000000L
      j.id -> j.group.flatMap(byGroup.get).orElse(
        if (!singleClient) None
        else sorted.find(o => o.start <= at && at <= o.end + 1000000L).map(_.id))
    }
    (owned.collect { case (j, Some(id)) => id -> j }.groupMap(_._1)(_._2),
      owned.collect { case (j, None) => j })
  }

  /** The ledger's jobs per request, and the ids of the jobs no request owns. */
  def attribute(ops: Seq[OpRec], singleClient: Boolean): (Map[Long, Seq[JobLedger#Job]], Seq[Int]) = {
    val (ids, orphans) = assign(
      ledger.jobs.values.toSeq.map(j => JobRef(j.id, Option(j.group), j.submit)), ops, singleClient)
    (ids.view.mapValues(_.map(ledger.jobs)).toMap, orphans)
  }

  /** Cross-checks the attribution `attribute` gave against Spark's status
    * store, which records each job's group and submission time apart from
    * the ledger: the same rule applied to the store's jobs of the traced
    * window must give every request the same job ids. Returns one message
    * per request (or for the unowned jobs) that differs. */
  def crossCheck(ops: Seq[OpRec], singleClient: Boolean,
      jobsOf: Map[Long, Seq[JobLedger#Job]], orphans: Seq[Int]): Seq[String] = {
    val stored = org.apache.spark.perfbench.ListenerBus.statusJobs(sc)
      .filter { case (_, _, t) => t >= startedMs && t <= stoppedMs }
      .map { case (id, g, t) => JobRef(id, g, t) }
    val (want, wantOrphans) = assign(stored, ops, singleClient)
    def ids(xs: Seq[Int]) = xs.sorted.mkString(",")
    ops.flatMap { o =>
      val got = jobsOf.getOrElse(o.id, Nil).map(_.id).sorted
      val exp = want.getOrElse(o.id, Nil).sorted
      if (got == exp) None
      else Some(s"request ${o.id} (${o.cls}): ledger jobs ${ids(got)}, status store ${ids(exp)}")
    } ++ (if (orphans.sorted == wantOrphans.sorted) Nil
      else Seq(s"unowned jobs: ledger ${ids(orphans)}, status store ${ids(wantOrphans)}"))
  }

  def share(op: OpRec, jobs: Seq[JobLedger#Job]): SparkShare = {
    val ms = 1000000L
    val ivs = jobs.map(j => (math.max(j.submit * ms, op.start), math.min(j.end * ms, op.end)))
      .filter(iv => iv._2 > iv._1)
    SparkShare(jobs.size, jobs.map(_.tasks).sum, jobs.map(_.taskMs).sum.toDouble,
      jobs.map(j => if (j.firstLaunch == Long.MaxValue) 0L else j.firstLaunch - j.submit).sum.toDouble,
      math.max(0L, (op.end - op.start) - union(ivs)) / 1e6,
      jobs.map(_.shuffleBytes).sum, jobs.map(_.resultBytes).sum)
  }

  /** Span JSON lines: request, dsl.parse, op call, collect and Spark job
    * spans, each with its parent and the request id all spans of one
    * request share. Returns per span kind its summed self time in ms:
    * the span minus the part its child spans cover. */
  def writeSpans(path: java.nio.file.Path, ops: Seq[OpRec],
      jobsOf: Map[Long, Seq[JobLedger#Job]]): Map[String, Double] = {
    val self = mutable.LinkedHashMap[String, Double]()
    val w = java.nio.file.Files.newBufferedWriter(path)
    var spanId = 0L
    def span(kind: String, name: String, req: Long, parent: Long, s: Long, e: Long,
        children: Seq[(Long, Long)]): Long = {
      spanId += 1
      val clipped = children.map(c => (math.max(c._1, s), math.min(c._2, e))).filter(c => c._2 > c._1)
      self(kind) = self.getOrElse(kind, 0.0) + (e - s - union(clipped)) / 1e6
      w.write(Json.obj(Seq("span" -> spanId, "parent" -> parent, "request" -> req,
        "kind" -> kind, "name" -> name, "start_ns" -> s, "end_ns" -> e)))
      w.newLine()
      spanId
    }
    try ops.foreach { o =>
      val jobs = jobsOf.getOrElse(o.id, Nil).map(j => (j.submit * 1000000L, j.end * 1000000L, j.id))
      val (inCall, inCollect) = jobs.partition(_._1 < o.callEnd)
      val root = span("request", o.cls, o.id, 0L, o.start, o.end,
        Seq((o.start, o.parseEnd), (o.callStart, o.callEnd), (o.callEnd, o.end)))
      if (o.parseEnd > o.start) span("dsl.parse", o.cls, o.id, root, o.start, o.parseEnd, Nil)
      val call = span("call", o.cls, o.id, root, o.callStart, o.callEnd, inCall.map(j => (j._1, j._2)))
      val coll = span("collect", o.cls, o.id, root, o.callEnd, o.end, inCollect.map(j => (j._1, j._2)))
      inCall.foreach(j => span("spark.job", s"job ${j._3}", o.id, call, j._1, j._2, Nil))
      inCollect.foreach(j => span("spark.job", s"job ${j._3}", o.id, coll, j._1, j._2, Nil))
    } finally w.close()
    self.toMap
  }
}
