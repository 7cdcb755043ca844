package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayDeque

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBridge

/**
 * Engine-op tracing: per-operation spans with Spark job attribution.
 *
 * The reference ships connection-level tracing (`ahnlich/tracer`,
 * OpenTelemetry spans around every request — `ahnlich/utils/src/server.rs`
 * wires them through each client task). A Spark library has no
 * connections; the equivalent observability unit is the ENGINE OP — one
 * span per `GraftEngine`/`AiEngine` public call, carrying what a cluster
 * operator actually needs at 100 TB: which ops ran, how long the driver
 * spent in each, and how much CLUSTER work (jobs / tasks / task-time)
 * each op triggered.
 *
 * Attribution is Spark-first: each span sets a job group
 * (`SparkContext.setJobGroup`) for its dynamic extent, and one
 * registered [[SparkListener]] tallies jobs/tasks/task-time per group.
 * That pins even "invisible" work — the plan-construction jobs and
 * store-build scans that this repo's bench attribution playbook had to
 * reverse-engineer from timing deltas — to the op that caused it.
 * Nested spans (a DSL pipeline statement calling engine ops) save and
 * restore the enclosing group, so attribution stays with the innermost
 * span, and the span tree is recoverable from `parent`.
 *
 * Semantics worth pinning:
 *  - MUTATION ops (set/upsert/del*) are eager — their span covers the
 *    real work. BOUNDED reads are eager too: GetKey and indexed GetSimN
 *    (unfiltered, Bloom-filtered graph and slice scan) run all their jobs
 *    inside their span (GetKey one, indexed GetSimN two: search and
 *    hydration) and return a local frame whose collect runs no job.
 *    UNBOUNDED reads (getPred, linear getSimN, the ≤4096-row exact
 *    filtered arm) return lazy frames; their span covers the engine's own
 *    planning plus any eager probes, and cluster work during later
 *    materialization is attributed to whatever span (if any) is open at
 *    that point. This is the honest boundary for a lazy result and is
 *    documented rather than papered over.
 *  - Tracing is OFF by default: a disabled check is one volatile read,
 *    so the hot path (bench medians) is unchanged unless opted in via
 *    `Trace.enabled = true` or `SPARK_GRAFT_TRACE=1`.
 *  - Spans live in a bounded in-JVM ring (last [[MaxSpans]]); a span's
 *    job/task tallies and stage map leave with it, so driver memory stays
 *    O(1) over unbounded sessions. A cluster deployment drains [[frame]]
 *    periodically to its metrics sink.
 */
object Trace {

  final case class Span(
      seq: Long,
      parent: Long,        // seq of the enclosing span, -1 at the root
      op: String,
      store: String,
      startMs: Long,       // epoch millis at span open (wall clock)
      durNs: Long,         // driver-side dwell in the op
      ok: Boolean,
      error: String,       // exception class + message, "" when ok
      jobs: Int,           // Spark jobs launched within the span's group
      tasks: Long,         // tasks completed in those jobs
      taskTimeMs: Long)    // summed executor task time of those jobs

  // listener events land asynchronously AFTER the op returns, so tallies
  // are resolved when [[frame]] is read, not when the span closes — a
  // span closed mid-burst would otherwise permanently undercount its jobs
  private final case class Rec(seq: Long, parent: Long, op: String,
      store: String, startMs: Long, durNs: Long, ok: Boolean, error: String,
      group: String)

  val MaxSpans = 10000

  @volatile var enabled: Boolean =
    sys.env.get("SPARK_GRAFT_TRACE").exists(v => v == "1" || v == "true")

  private val spans = new ArrayDeque[Rec]()
  private val seqGen = new AtomicLong(0L)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = -1L }

  // per-group tallies, fed by the listener; group ids are "graft-<seq>". A
  // tally is opened with its span and dropped when the ring evicts the
  // span, together with the stage ids it claimed; events for a group with
  // no open tally (evicted, or cleared by reset) are ignored
  private final class Tally {
    val jobs = new AtomicInteger()
    val tasks = new AtomicLong()
    val taskTimeMs = new AtomicLong()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  }
  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var listenerInstalled = false

  private[obs] final class GroupListener extends SparkListener {
    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      val group = Option(jobStart.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      val t = if (group == null) null else tallies.get(group)
      if (t != null) {
        t.jobs.incrementAndGet()
        jobStart.stageIds.foreach { sid => stageGroup.put(sid, group); t.stages.add(sid) }
      }
    }
    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      val group = stageGroup.get(taskEnd.stageId)
      val t = if (group == null) null else tallies.get(group)
      if (t != null) {
        t.tasks.incrementAndGet()
        if (taskEnd.taskInfo != null) t.taskTimeMs.addAndGet(taskEnd.taskInfo.duration)
      }
    }
  }
  private[obs] val listener = new GroupListener

  private def ensureListener(spark: SparkSession): Unit =
    if (!listenerInstalled) synchronized {
      if (!listenerInstalled) {
        spark.sparkContext.addSparkListener(listener)
        listenerInstalled = true
      }
    }

  /** Append to the ring, evicting the oldest spans and their tallies. */
  private def record(r: Rec): Unit = spans.synchronized {
    spans += r
    while (spans.length > MaxSpans) {
      val t = tallies.remove(spans.removeHead().group)
      if (t != null) t.stages.forEach(sid => stageGroup.remove(sid.intValue))
    }
  }

  /** (tallies, stage entries) held — the listener's driver footprint. */
  private[obs] def tallySizes: (Int, Int) = (tallies.size, stageGroup.size)

  /** Wrap one engine op. No-op pass-through (one volatile read) when
    * tracing is disabled. */
  def span[T](spark: SparkSession, op: String, store: String)(f: => T): T =
    if (!enabled) f
    else {
      ensureListener(spark)
      val sc = spark.sparkContext
      val seq = seqGen.getAndIncrement()
      val group = s"graft-$seq"
      val parent = current.get()
      // save the enclosing job group (an outer span's, or the user's own)
      // so nesting restores it exactly
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      current.set(seq)
      tallies.put(group, new Tally)
      sc.setJobGroup(group, s"graft $op($store)", interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var ok = true
      var err = ""
      try f
      catch { case e: Throwable => ok = false
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        throw e }
      finally {
        val dur = System.nanoTime() - t0
        current.set(parent)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
        record(Rec(seq, parent, op, store, startMs, dur, ok, err, group))
      }
    }

  /** Record a zero-duration MARKER span — the "what just happened" event
    * for decisions with no dynamic extent of their own, e.g. which LSM
    * maintenance tier a routed-index batch took (append / compact /
    * recluster). Parented under the currently open span, so an operator
    * reading the trace of a slow Set / micro-batch sees WHY it was slow
    * (it reclustered) without opening the Spark UI. No-op when tracing
    * is disabled (one volatile read). */
  def event(spark: SparkSession, op: String, store: String): Unit =
    if (enabled) {
      ensureListener(spark)
      val seq = seqGen.getAndIncrement()
      record(Rec(seq, current.get(), op, store,
        System.currentTimeMillis(), 0L, ok = true, error = "",
        group = s"graft-$seq"))
    }

  // ------------------------------------------------- fixture accounting
  //
  // Mutation/certification-shaped bench queries build private stores,
  // replay streams, or run calibration ladders INSIDE their timed body —
  // that cost grows with coverage, not operator speed, and it is what
  // moved the round-13 bench total (+17.5 s of fixture volume read as
  // regression until decomposed by hand). Queries wrap their fixture
  // phases in [[fixture]]; the bench drains the per-thread counter around
  // each timed run and reports a per-query {fixture, exercise} split, so
  // cross-round totals can be compared on the exercise component.
  // Always-on and Spark-free: two nanoTime reads per wrapped block.

  private val fixtureNs = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val fixtureDepth = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Wrap a fixture phase (store population, stream scaffolding, input
    * collection) of a bench query body. Only the OUTERMOST block
    * accumulates — a nested call's wall is already inside the outer
    * block's, and adding both would double-count it (the exercise
    * component could even read negative). */
  def fixture[T](f: => T): T = {
    val outermost = fixtureDepth.get() == 0
    fixtureDepth.set(fixtureDepth.get() + 1)
    val t0 = System.nanoTime()
    try f
    finally {
      fixtureDepth.set(fixtureDepth.get() - 1)
      if (outermost)
        fixtureNs.set(fixtureNs.get() + (System.nanoTime() - t0))
    }
  }

  /** Read-and-reset this thread's accumulated fixture nanoseconds (the
    * bench calls this once per timed run). */
  def drainFixtureNs(): Long = {
    val v = fixtureNs.get()
    fixtureNs.set(0L)
    v
  }

  /** Recorded spans as a DataFrame (the queryable surface — filter,
    * aggregate, join against catalog frames like any other table).
    * Job/task tallies are read here, after draining the listener bus
    * (a bounded wait): every job a closed span launched has posted its
    * events by then, so the tallies are complete. */
  def frame(spark: SparkSession): DataFrame = {
    if (listenerInstalled) ListenerBridge.drain(spark.sparkContext)
    val snap = spans.synchronized { spans.toSeq }
    val resolved = snap.map { r =>
      val t = tallies.get(r.group)
      if (t == null) Span(r.seq, r.parent, r.op, r.store, r.startMs, r.durNs, r.ok,
        r.error, 0, 0L, 0L)
      else Span(r.seq, r.parent, r.op, r.store, r.startMs, r.durNs, r.ok, r.error,
        t.jobs.get(), t.tasks.get(), t.taskTimeMs.get())
    }
    import spark.implicits._
    resolved.toDF()
  }

  def reset(): Unit = {
    spans.synchronized { spans.clear() }
    tallies.clear(); stageGroup.clear()
  }
}
