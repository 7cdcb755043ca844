package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** A metric as printed: value, unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

final case class Outcome(attempted: Int, failed: Int, failures: Map[String, Int],
    metrics: Seq[Metric], report: Seq[Metric]) {
  def json: String = Json.obj(Seq(
    "correct" -> (failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap))
}

/** Drives one workload: the timed set-up, warm-up, the closed loop and the
  * answer checks; with tracing, also the per-layer record. */
object Runner {
  /** Untimed warm-up requests per client, before the loop. A fixed count
    * keeps the loop's requests at the same place in every request cycle
    * (and in the engine's every-8th-mutation checkpoint cadence) for every
    * seed; the time limit only guards against a stalled engine. */
  private def warmupOps(workload: String): Seq[Int] = workload match {
    case "write-mix" => Seq(2, 8)
    case _ => Seq(KnnReadInputs.WarmupRequests)
  }
  private val WarmupLimitS = 30L

  final class Loop(val ops: Seq[OpRec], val failures: Seq[(String, String)], val wallS: Double) {
    def opsPerS: Double = ops.length / wallS
  }

  /** Runs every client until `deadline` (epoch ns), or `counts` requests
    * each if that comes first. */
  def loop(wl: Workload, streams: Seq[Iterator[Req]], ids: AtomicLong,
      deadline: Long, counts: Option[Seq[Int]], trace: Option[TraceRecord]): Loop = {
    val ops = new ConcurrentLinkedQueue[OpRec]()
    val fails = new ConcurrentLinkedQueue[(String, String)]()
    val t0 = Clock.now()
    val threads = streams.indices.map { c =>
      new Thread(() => {
        var sent = 0
        while (Clock.now() < deadline && counts.forall(n => sent < n(c))) {
          val req = wl.route(streams(c).next())
          val id = ids.incrementAndGet()
          val clock = new OpClock
          val fail =
            try trace.fold(wl.run(c, req, clock))(_.within(id)(wl.run(c, req, clock)))
            catch { case NonFatal(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
          // a request that threw keeps the stamps it reached
          if (clock.start == 0L) clock.begin()
          if (clock.end < clock.start) clock.end = Clock.now()
          if (clock.callEnd < clock.callStart) clock.callEnd = clock.end
          ops.add(OpRec(id, c, req.cls, req.store, clock.start, clock.parseEnd, clock.callStart,
            clock.callEnd, clock.end))
          fail.foreach(f => fails.add(req.cls -> f))
          sent += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = ops.asScala.toSeq.sortBy(_.start)
    val wall = ((if (all.isEmpty) Clock.now() else all.map(_.end).max) - t0) / 1e9
    new Loop(all, fails.asScala.toSeq, wall)
  }

  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0

  def run(spark: SparkSession, o: Opts): Outcome = {
    val inputs = Gen(o.workload, o.seed)
    val wl = Workload(spark, inputs, o.work)
    val streams = (0 until inputs.clients).map(inputs.requests)
    val ids = new AtomicLong()

    // one set-up from an empty engine, on a cold JVM; the run budget has
    // no room for a repeat
    val started = uptimeS()
    val s0 = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    val heapMb = heapAfterGcMb()
    val storeMb = storageMb(spark)

    val w0 = System.nanoTime()
    val warm = loop(wl, streams, ids, Clock.now() + WarmupLimitS * 1000000000L,
      Some(warmupOps(o.workload)), None)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val seconds = o.seconds * 1000000000L
    def untraced(ns: Long) = loop(wl, streams, ids, Clock.now() + ns, None, None)
    // the traced run brackets a traced loop with two untraced halves, so
    // the overhead estimate is not skewed by the JVM still warming up
    val before = untraced(if (o.trace) seconds / 2 else seconds)
    val traced = if (!o.trace) None else {
      val rec = new TraceRecord(spark.sparkContext)
      wl.traced = true
      rec.start()
      val gc0 = gcMs()
      val l = loop(wl, streams, ids, Clock.now() + seconds, None, Some(rec))
      val gc = gcMs() - gc0
      rec.stop()
      wl.traced = false
      Some((rec, l, gc))
    }
    val main = if (!o.trace) before else {
      val after = untraced(seconds / 2)
      new Loop(before.ops ++ after.ops, before.failures ++ after.failures, before.wallS + after.wallS)
    }

    val attribution = traced.map { case (rec, l, _) =>
      rec.attribute(l.ops, inputs.clients == 1) }
    val g0 = System.nanoTime()
    val graded = wl.grade()
    System.err.println(f"phases: start $started%.1f s, setup $setupS%.1f s, warm-up $warmupS%.1f s, loop ${main.wallS}%.1f s, grade ${(System.nanoTime() - g0) / 1e9}%.1f s, end at ${uptimeS()}%.1f s")
    val loops = Seq(warm, main) ++ traced.map(_._2)
    val failures = loops.flatMap(_.failures) ++ graded.map("grade" -> _) ++
      traced.zip(attribution).toSeq.flatMap { case ((rec, l, _), (jobsOf, orphans)) =>
        rec.crossCheck(l.ops, inputs.clients == 1, jobsOf, orphans).map("trace" -> _)
      }
    val attempted = loops.map(_.ops.length).sum + wl.gradeAttempts
    val failed = math.min(failures.length, attempted)

    val recalls = wl.recalls.toSeq
    val writes = main.ops.filterNot(op => Req.isRead(op.cls)).map(_.latencyMs)
    val report = Seq(
      Metric("failed_frac", failed.toDouble / attempted, "ratio", attempted),
      Metric("bench.warmup_s", warmupS, "s", warm.ops.length),
      Metric("setup.load_s", wl.loadS, "s", 1)) ++
      wl.indexBuildS.toSeq.sorted.map { case (k, v) => Metric(s"ann.${k}_build_s", v, "s", 1) } ++
      recalls.groupBy(_._1).toSeq.sortBy(_._1).map { case (fam, rs) =>
        Metric(s"recall_at_10.$fam", Stats.mean(rs.map(_._2)), "ratio", rs.length)
      } ++
      (if (writes.isEmpty) Nil
       else Seq(Metric("write_p50_ms", Stats.median(writes), "ms", writes.length))) ++
      Req.Classes.flatMap { cls =>
        val xs = main.ops.filter(_.cls == cls).map(_.latencyMs)
        if (xs.isEmpty) Nil
        else Seq(Metric(s"$cls.p50_ms", Stats.median(xs), "ms", xs.length),
          Metric(s"$cls.p90_ms", Stats.pct(xs, 90), "ms", xs.length))
      } ++ wl.figures

    val metrics = traced match {
      case None => endToEnd(main, setupS, recalls.map(_._2), heapMb)
      case Some((rec, l, gc)) =>
        perLayer(o, wl, rec, attribution.get, l, gc, main, warmupS, heapMb, storeMb)
    }
    val failCounts = failures.groupBy(f => s"${f._1}: ${f._2}").view.mapValues(_.length).toMap
    Outcome(attempted, failed, failCounts, metrics, report)
  }

  /** End-to-end read latencies: name and op class. */
  private val ReadLatency = Seq("knn_p50_ms" -> "get_sim_n", "getkey_p50_ms" -> "get_key")

  /** The geometric mean, over the (class, store) pairs in `ops`, of each
    * pair's median latency, and the number of requests. A run holds only
    * one to three writes of each pair, and which pairs recur depends on
    * where the loop stops; on `write-mix` the store a read lands on
    * follows the writer. Weighing every pair once keeps either from moving
    * the figure, as it would move a median of the pooled requests. */
  private def pairedMs(ops: Seq[OpRec], what: String): (Double, Int) = {
    val medians = ops.groupBy(op => (op.cls, op.store)).values.map(g => Stats.median(g.map(_.latencyMs)))
    require(medians.nonEmpty, s"no $what completed in the loop")
    (math.exp(medians.map(math.log).sum / medians.size), ops.length)
  }

  private def endToEnd(main: Loop, setupS: Double, recalls: Seq[Double],
      heapMb: Double): Seq[Metric] = {
    val lat = ReadLatency.map { case (name, cls) =>
      val (ms, n) = pairedMs(main.ops.filter(_.cls == cls), s"$cls requests")
      Metric(name, ms, "ms", n)
    }
    val (write, writes) = pairedMs(main.ops.filterNot(op => Req.isRead(op.cls)), "writes")
    require(recalls.nonEmpty, "no graded GetSimN answers")
    Seq(Metric("setup_s", setupS, "s", 1),
      Metric("ops_per_s", main.opsPerS, "ops/s", main.ops.length)) ++ lat ++
      Seq(Metric("write_ms", write, "ms", writes),
        Metric("recall_at_10", Stats.mean(recalls), "ratio", recalls.length),
        Metric("mem_mb", heapMb, "MB", 1))
  }

  private def perLayer(o: Opts, wl: Workload, rec: TraceRecord,
      attribution: (Map[Long, Seq[JobLedger#Job]], Seq[Int]), l: Loop, gcMsInLoop: Long,
      untraced: Loop, warmupS: Double, heapMb: Double, storeMb: Double): Seq[Metric] = {
    val (jobsOf, orphans) = attribution
    val self = rec.writeSpans(o.work.resolve(s"spans-${o.workload}-${o.seed}.jsonl"), l.ops, jobsOf)
    System.err.println("span self time (ms): " +
      self.toSeq.sorted.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
    val perClass = Req.Shared.flatMap { cls =>
      val ops = l.ops.filter(_.cls == cls)
      val shares = ops.map(op => rec.share(op, jobsOf.getOrElse(op.id, Nil)))
      def m(name: String, unit: String, f: SparkShare => Double) =
        Metric(s"spark.$cls.$name", Stats.mean(shares.map(f)), unit, shares.length)
      Seq(Metric(s"engine.$cls.call_ms", Stats.mean(ops.map(op => (op.callEnd - op.callStart) / 1e6)),
        "ms", ops.length)) ++
        (if (!Req.isRead(cls)) Nil
         else Seq(Metric(s"engine.$cls.collect_ms", Stats.mean(ops.map(op => (op.end - op.callEnd) / 1e6)),
           "ms", ops.length))) ++
        Seq(m("jobs", "count", _.jobs.toDouble), m("tasks", "count", _.tasks.toDouble),
          m("task_ms", "ms", _.taskMs), m("queue_ms", "ms", _.queueMs),
          m("driver_ms", "ms", _.driverMs), m("shuffle_bytes", "bytes", _.shuffleBytes.toDouble),
          m("result_bytes", "bytes", _.resultBytes.toDouble))
    }
    val probes = Probes.run(wl, l)
    val io = wl.writeIo.toSeq
    perClass ++ Seq(
      Metric("spark.unattributed_jobs", orphans.length.toDouble, "count", 1),
      Metric("spark.storage_mb", storeMb, "MB", 1)) ++ probes ++ Seq(
      Metric("persistence.bytes_written_per_write", Stats.mean(io.map(_._1.toDouble)), "bytes", io.length),
      Metric("persistence.files_written_per_write", Stats.mean(io.map(_._2.toDouble)), "count", io.length),
      Metric("setup.load_s", wl.loadS, "s", 1),
      Metric("ann.hnsw_build_s", wl.indexBuildS("hnsw"), "s", 1),
      Metric("ann.routed_build_s", wl.indexBuildS("hnsw_routed"), "s", 1)) ++
      Seq("hnsw" -> "hnsw", "hnsw_routed" -> "routed").map { case (fam, name) =>
        val rs = wl.recalls.filter(_._1 == fam).map(_._2).toSeq
        Metric(s"ann.recall_at_10.$name", Stats.mean(rs), "ratio", rs.length)
      } ++ Seq(
      Metric("jvm.gc_ms_per_op", gcMsInLoop.toDouble / math.max(1, l.ops.length), "ms", l.ops.length),
      Metric("jvm.heap_used_mb", heapMb, "MB", 1),
      Metric("bench.warmup_s", warmupS, "s", 1),
      Metric("bench.trace_overhead_frac", 1.0 - l.opsPerS / untraced.opsPerS, "ratio", l.ops.length))
  }
}
