package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.ai.AiEngine
import graft.dsl.{DslParser, Pipeline, Response}
import graft.engine.GraftEngine
import graft.types.{Algorithm, MetadataValue, NonLinearConfig, PredicateCondition}

/** One workload: set-up from an empty engine, the requests its clients
  * send, and the answer checks. `run` stamps `clock` around the call into
  * the engine and the collect of its result, then checks the answer;
  * checks that need the exact top-k are queued and run by `grade`. */
abstract class Workload(val spark: SparkSession) {
  def inputs: Inputs
  def setup(): Unit
  /** The request as sent: a workload may point it at another store. */
  def route(req: Req): Req = req
  /** Runs one request; the name of the failed check, if any. */
  def run(client: Int, req: Req, clock: OpClock): Option[String]
  /** Deferred checks and post-loop steps; failures found there. */
  def grade(): Seq[String]
  /** Requests `grade` sent on top of the loop's. */
  var gradeAttempts = 0
  /** recall@k samples, overall and by index family. */
  val recalls = mutable.ArrayBuffer[(String, Double)]()
  /** Workload-specific figures for the report. */
  def figures: Seq[Metric] = Nil
  /** Vectors of this workload, for the standalone layer probes. */
  def sampleVectors: IndexedSeq[Array[Float]]
  /** Texts of this workload, for the embedding probe. */
  def sampleTexts: IndexedSeq[String]
  /** Bytes and files written per write, when the engine persists. */
  val writeIo = mutable.ArrayBuffer[(Long, Long)]()
  var traced = false
  /** Seconds spent building indexes and bulk-loading in the last set-up. */
  var indexBuildS: Map[String, Double] = Map.empty
  var loadS = 0.0

  protected val pending = mutable.ArrayBuffer[() => Option[String]]()
  protected def gradePending(): Seq[String] = {
    val out = pending.toSeq.flatMap(f => f())
    pending.clear()
    out
  }
  protected def secs(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }
}

object Workload {
  val K: Int = Sizes.K
  /** Index configs: the defaults but for a build beam of 40, which keeps
    * the set-up within the run budget. */
  val Hnsw: NonLinearConfig.HNSWConfig = NonLinearConfig.HNSWConfig(efConstruction = 40)
  val Routed: NonLinearConfig.RoutedHNSWConfig = NonLinearConfig.RoutedHNSWConfig(hnsw = Hnsw)

  def apply(spark: SparkSession, inputs: Inputs, work: Path): Workload =
    inputs match {
      case i: KnnReadInputs => new KnnRead(spark, i)
      case i: WriteMixInputs => new WriteMix(spark, i, work.resolve("persist"))
    }

  def meta(m: Map[String, String]): Map[String, MetadataValue] =
    m.map { case (k, v) => k -> (MetadataValue.RawString(v): MetadataValue) }
  def pred(k: String, v: String): PredicateCondition =
    PredicateCondition.Equals(k, MetadataValue.RawString(v))
  def tuples(rows: Seq[Entry]): Seq[(Array[Float], Map[String, MetadataValue])] =
    rows.map(e => e.vec -> meta(e.meta))

  /** A bulk load as a (key, value) frame spread over the session's cores,
    * the shape a client loading many rows hands the engine. */
  def bulkFrame(spark: SparkSession, rows: Seq[Entry]): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(graft.types.StoreSchema.entrySchema.drop(1))
    val data = rows.map(e => Row(e.vec.toSeq,
      e.meta.map { case (k, v) => k -> Row("raw_string", v, null) }))
    spark.createDataFrame(spark.sparkContext.parallelize(data,
      spark.sparkContext.defaultParallelism), schema)
  }

  /** A DB answer row: (uid, similarity or NaN, key vector, metadata). */
  final case class Hit(uid: String, sim: Double, key: Array[Float], meta: Map[String, String])
  def metaOf(m: scala.collection.Map[String, Row]): Map[String, String] =
    m.map { case (k, r) => k -> r.getString(1) }.toMap
  def hits(rows: Array[Row]): Seq[Hit] = rows.toSeq.map { r =>
    val m = metaOf(r.getMap[String, Row](1))
    Hit(m.getOrElse("uid", ""), if (r.length > 2) r.getFloat(2).toDouble else Double.NaN,
      r.getSeq[Float](0).toArray, m)
  }

  /** Structural checks every GetSimN answer must pass: `want` rows, best
    * first, each similarity the exact cosine of its key, each row
    * satisfying the filter. */
  def checkSim(q: Array[Float], got: Seq[Hit], want: Int,
      filter: Option[(String, String)]): Option[String] = {
    val qn = StoreModel.norm(q)
    if (got.length != want) Some(s"row count ${got.length} != $want")
    else if (got.zip(got.drop(1)).exists { case (a, b) => a.sim < b.sim - 1e-6 })
      Some("order")
    else if (got.exists(h => math.abs(h.sim - StoreModel.cosine(q, qn, h.key)) > 1e-3))
      Some("similarity")
    else if (filter.exists { case (k, v) => got.exists(h => !h.meta.get(k).contains(v)) })
      Some("filter")
    else None
  }

  /** Exact answers (linear search) must hold the exact top-k, up to
    * near-ties at the k-th similarity. */
  def checkExact(got: Seq[Double], exact: Seq[(String, Double)]): Option[String] =
    if (got.length != exact.length) Some("exact row count")
    else if (exact.nonEmpty && got.exists(_ < exact.last._2 - 1e-5)) Some("exact top-k")
    else None

  def dirBytes(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }
}

import Workload._

/** In-memory engine; `kh` carries an `hnsw` index and `kr` an
  * `hnsw_routed` one over the same rows, and the AI side store takes the
  * client's DSL writes. */
final class KnnRead(spark: SparkSession, val inputs: KnnReadInputs) extends Workload(spark) {
  private var engine: GraftEngine = _
  private var side: DslStore = _
  private val model = StoreModel(inputs.rows)
  private val counts: Map[(String, String), Int] =
    Seq("s1", "s10", "s75").map(k => (k, "y") -> model.count(k, "y")).toMap
  private val preds = Set("uid", "grp", "s1", "s10", "s75")

  def setup(): Unit = {
    engine = new GraftEngine(spark)
    val load = secs {
      inputs.stores.foreach { case (s, rows) =>
        engine.createStore(s, Sizes.Dim, preds)
        engine.set(s, bulkFrame(spark, rows))
      }
      side = new DslStore(engine, inputs.side)
    }
    loadS = load
    val h = secs(engine.createNonLinearIndex("kh", Seq(Workload.Hnsw)))
    val r = secs(engine.createNonLinearIndex("kr", Seq(Workload.Routed)))
    indexBuildS = Map("hnsw" -> h, "hnsw_routed" -> r)
  }

  private def family(store: String) = if (store == "kh") "hnsw" else "hnsw_routed"

  def run(client: Int, req: Req, clock: OpClock): Option[String] = {
    clock.begin()
    req match {
      case Req.SimN(s, q, f) =>
        val df = clock.call(engine.getSimN(s, q, K, Algorithm.HNSW, f.map { case (k, v) => pred(k, v) }))
        val got = hits(clock.collect(df.collect()))
        val live = f.fold(model.size)(counts)
        pending += { () =>
          recalls += family(s) -> StoreModel.recall(got.map(_.uid), model.topK(q, K, f))
          None
        }
        checkSim(q, got, math.min(K, live), f)
      case Req.Linear(s, q) =>
        val df = clock.call(engine.getSimN(s, q, K, Algorithm.CosineSimilarity))
        val got = hits(clock.collect(df.collect()))
        pending += (() => checkExact(got.map(_.sim), model.topK(q, K, None)))
        checkSim(q, got, K, None)
      case Req.Pred(s, k, v) =>
        val df = clock.call(engine.getPred(s, pred(k, v)))
        val got = hits(clock.collect(df.collect()))
        if (got.length != model.count(k, v)) Some("pred count")
        else if (got.exists(!_.meta.get(k).contains(v))) Some("pred filter")
        else None
      case Req.Key(s, keys) =>
        val df = clock.call(engine.getKey(s, keys))
        val got = hits(clock.collect(df.collect())).map(_.uid).toSet
        val want = keys.map(k => model.rows(new VKey(k)).uid).toSet
        if (got != want) Some("get key") else None
      case d: Req.Dsl => side.run(d, clock)
      case other => Some(s"unexpected request $other")
    }
  }

  def grade(): Seq[String] = gradePending()
  def sampleVectors: IndexedSeq[Array[Float]] = inputs.rows.map(_.vec).toIndexedSeq
  def sampleTexts: IndexedSeq[String] = inputs.side.rows.map(_.text).toIndexedSeq
}

/** Persistent engine with `wh` (`hnsw`) and `wr` (`hnsw_routed`). Client 0
  * writes, client 1 reads keys the writer has acknowledged. */
final class WriteMix(spark: SparkSession, val inputs: WriteMixInputs, root: Path)
    extends Workload(spark) {
  private var engine: GraftEngine = _
  private val models = mutable.HashMap[String, StoreModel]()
  // keep keys the writer has acknowledged, per store, for the reader
  private val acked = inputs.storeNames.map(s =>
    s -> new AtomicReference[Vector[Entry]](Vector.empty)).toMap
  private var restart: Seq[Metric] = Nil

  def setup(): Unit = {
    Files.createDirectories(root)
    engine = new GraftEngine(spark, Some(root.toString))
    val load = secs {
      inputs.stores.foreach { case (s, rows) =>
        engine.createStore(s, Sizes.Dim, Set("uid", "ct"))
        engine.set(s, bulkFrame(spark, rows))
        models(s) = StoreModel(rows)
        acked(s).set(rows.filter(inputs.isKeep).toVector)
      }
    }
    loadS = load
    val h = secs(engine.createNonLinearIndex("wh", Seq(Workload.Hnsw)))
    val r = secs(engine.createNonLinearIndex("wr", Seq(Workload.Routed)))
    indexBuildS = Map("hnsw" -> h, "hnsw_routed" -> r)
  }

  /** A per-store guard, as the reference server holds one around every
    * store access: a read (call and collect) shares it, a write takes it
    * alone. The engine requires a frame it handed out to be consumed
    * before the store's next mutation (`GraftEngine.swap`), so a read must
    * not overlap a write on its store; it may overlap one on the other. */
  private val guards = inputs.storeNames.map(s => s -> new ReentrantReadWriteLock(true)).toMap
  /** Time each request waited for its store's guard, outside its latency. */
  val guardWaitMs = new ConcurrentLinkedQueue[Double]()

  /** A read goes to the other store while a write holds or waits for its
    * own: the writer is busy nearly all the time, so a reader that waited
    * would time half as many reads. The store a read lands on then follows
    * the writer's timing, which is why read latencies are taken per store
    * (`Runner.pairedMs`). */
  override def route(req: Req): Req = {
    def busy(s: String) = guards(s).isWriteLocked || guards(s).hasQueuedThreads
    val other = inputs.storeNames.filterNot(_ == req.store).head
    if (!busy(req.store) || busy(other)) req
    else req match {
      case r: Req.SimN => r.copy(store = other)
      case r: Req.KeyPick => r.copy(store = other)
      case r => r
    }
  }

  def run(client: Int, req: Req, clock: OpClock): Option[String] = {
    val guard = guards(req.store)
    val lock = if (Req.isRead(req.cls)) guard.readLock() else guard.writeLock()
    val w0 = System.nanoTime()
    lock.lock()
    try {
      guardWaitMs.add((System.nanoTime() - w0) / 1e6)
      guarded(client, req, clock)
    } finally lock.unlock()
  }

  private def guarded(client: Int, req: Req, clock: OpClock): Option[String] = {
    val io0 = if (traced && client == 0) dirBytes(root) else (0L, 0L)
    clock.begin()
    val out = req match {
      case Req.SimN(s, q, _) =>
        val df = clock.call(engine.getSimN(s, q, K, Algorithm.HNSW))
        checkSim(q, hits(clock.collect(df.collect())), K, None)
      case Req.KeyPick(s, picks) =>
        val known = acked(s).get()
        val want = picks.map(p => known((p * known.length).toInt)).distinctBy(_.uid)
        val df = clock.call(engine.getKey(s, want.map(_.vec)))
        val got = hits(clock.collect(df.collect())).map(_.uid).toSet
        if (got != want.map(_.uid).toSet) Some("read-your-writes") else None
      case Req.Put(s, rows) =>
        val (i, u) = clock.call(engine.set(s, engine.entriesDf(tuples(rows))))
        val fresh = rows.filter(e => inputs.isKeep(e) && !models(s).contains(e.vec))
        val (next, wi, wu) = models(s).set(rows)
        models(s) = next
        acked(s).set(acked(s).get() ++ fresh)
        if ((i, u) != (wi, wu)) Some(s"set counts ($i, $u) != ($wi, $wu)") else None
      case Req.DelKeys(s, keys) =>
        val n = clock.call(engine.delKey(s, keys))
        val (next, want) = models(s).delKeys(keys)
        models(s) = next
        if (n != want) Some(s"delkey count $n != $want") else None
      case Req.DelPred(s, k, v) =>
        val n = clock.call(engine.delPred(s, pred(k, v)))
        val (next, want) = models(s).delWhere(k, v)
        models(s) = next
        if (n != want) Some(s"delpred count $n != $want") else None
      case Req.Upsert(s, uid, m) =>
        val res = clock.call(engine.upsert(s, pred("uid", uid), None, Some(meta(m))))
        models(s).upsert(uid, m) match {
          case Some(next) => models(s) = next; if (res != ((0L, 1L))) Some(s"upsert $res") else None
          case None => Some("upsert target missing from model")
        }
      case other => Some(s"unexpected request $other")
    }
    if (traced && client == 0) {
      val io1 = dirBytes(root)
      writeIo += ((io1._1 - io0._1, io1._2 - io0._2))
    }
    out
  }

  /** recall@k over the final live rows, then a restart: load the persist
    * root into a new engine and run the first indexed GetSimN per store. */
  def grade(): Seq[String] = {
    val fails = mutable.ArrayBuffer[String]()
    val qs = inputs.probeQueries(WriteMix.RecallQueries)
    inputs.storeNames.foreach { s =>
      qs.foreach { q =>
        val got = hits(engine.getSimN(s, q, K, Algorithm.HNSW).collect())
        checkSim(q, got, K, None).foreach(f => fails += s"final $f")
        recalls += family(s) -> StoreModel.recall(got.map(_.uid), models(s).topK(q, K, None))
      }
    }
    val (bytes, _) = dirBytes(root)
    val user = models.values.map(_.userBytes).sum
    val t0 = System.nanoTime()
    val reloaded = GraftEngine.load(spark, root.toString)
    val t1 = System.nanoTime()
    inputs.storeNames.foreach { s =>
      if (reloaded.storeLen(s) != models(s).size) fails += "restart store length"
      val got = hits(reloaded.getSimN(s, qs.head, K, Algorithm.HNSW).collect())
      checkSim(qs.head, got, K, None).foreach(f => fails += s"restart $f")
    }
    val t2 = System.nanoTime()
    restart = Seq(
      Metric("restart_s", (t2 - t0) / 1e9, "s", 1),
      Metric("persistence.load_s", (t1 - t0) / 1e9, "s", 1),
      Metric("persistence.first_query_s", (t2 - t1) / 1e9, "s", inputs.storeNames.length),
      Metric("disk_bytes_per_user_byte", bytes.toDouble / user, "ratio", 1))
    gradeAttempts = qs.length * inputs.storeNames.length + inputs.storeNames.length
    fails.toSeq
  }
  override def figures: Seq[Metric] = {
    val waits = guardWaitMs.asScala.toSeq
    restart ++ (if (waits.isEmpty) Nil
      else Seq(Metric("guard_wait_p50_ms", Stats.median(waits), "ms", waits.length),
        Metric("guard_wait_p90_ms", Stats.pct(waits, 90), "ms", waits.length)))
  }
  private def family(s: String) = if (s == "wh") "hnsw" else "hnsw_routed"
  def sampleVectors: IndexedSeq[Array[Float]] = inputs.stores.flatMap(_._2).map(_.vec).toIndexedSeq
  def sampleTexts: IndexedSeq[String] = inputs.stores.flatMap(_._2).map(_.uid).toIndexedSeq
}

object WriteMix {
  val RecallQueries = 3
}

/** The side store, created, loaded, written and read only through DSL scripts in
  * the AI grammar: `DslParser.parseAi`, then `Pipeline.execute` with an
  * `AiEngine`. Keeps its own model of the live texts. */
final class DslStore(db: GraftEngine, side: SideStore) {
  private val ai = new AiEngine(db)
  // live rows by text
  private var model: Map[String, Map[String, String]] = side.rows.map(d => d.text -> d.meta).toMap

  side.scripts.foreach { script =>
    Pipeline.execute(db, DslParser.parseAi(script), Some(ai)).foreach {
      case Left(err) => throw new IllegalStateException(s"set-up statement failed: $err")
      case Right(_) =>
    }
  }

  /** One statement: parse and execute timed, then the answer checked. */
  def run(req: Req.Dsl, clock: OpClock): Option[String] = {
    val cmds = clock.parse(DslParser.parseAi(req.script))
    clock.call(Pipeline.execute(db, cmds, Some(ai))) match {
      case Seq(Right(res)) => check(req.op, res, clock)
      case Seq(Left(err)) => Some(s"statement error: $err")
      case steps => Some(s"${steps.length} results for one statement")
    }
  }

  private def check(op: DslOp, res: Response, clock: OpClock): Option[String] = op match {
    case DslOp.SelfMatch(text) => res match {
      case Response.SimEntries(df) =>
        // rows are (input, value, similarity), best first
        val rows = clock.collect(df.collect())
        if (rows.length != math.min(Sizes.K, model.size)) Some(s"self-match row count ${rows.length}")
        else if (rows.head.getStruct(0).getString(1) != text) Some("self-match not first")
        else if (rows.head.getFloat(2) < 0.999f) Some(s"self-match similarity ${rows.head.getFloat(2)}")
        else None
      case other => Some(s"self-match result $other")
    }
    case DslOp.Put(rows) =>
      val updated = rows.count(d => model.contains(d.text)).toLong
      model ++= rows.map(d => d.text -> d.meta)
      val want = Response.SetResult(rows.length - updated, updated)
      if (res != want) Some(s"set result $res != $want") else None
    case DslOp.Del(texts) =>
      val want = texts.distinct.count(model.contains).toLong
      model --= texts
      if (res != Response.Count(want)) Some(s"delkey result $res != $want") else None
    case DslOp.Upsert(uid, meta) =>
      model.collect { case (t, m) if m.get("uid").contains(uid) => t }.toList match {
        case List(t) =>
          model = model.updated(t, meta)
          if (res != Response.SetResult(0, 1)) Some(s"upsert result $res") else None
        case _ => Some("upsert target missing from model")
      }
  }
}
