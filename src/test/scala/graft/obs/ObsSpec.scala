package graft.obs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.types._
import graft.types.PredicateCondition.Equals

/** Engine-op tracing: span recording, error capture, nesting (AI proxy →
  * DB engine), Spark job attribution, and the disabled fast path. Spans
  * are asserted by store-name scope (`obs_*`) so the global recorder can
  * carry spans from other suites sharing the JVM. */
class ObsSpec extends AnyFunSuite {

  private def spark = graft.TestFixtures.spark

  private def spansFor(store: String): Seq[(String, Boolean, Long, Int)] =
    Trace.frame(spark)
      .where(col("store") === store)
      .select("op", "ok", "parent", "jobs")
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getInt(3)))
      .toSeq

  test("spans record op, store, outcome; mutation spans attribute Spark jobs") {
    val e = new graft.engine.GraftEngine(spark)
    Trace.enabled = true
    try {
      e.createStore("obs_a", 4)
      e.setSeq("obs_a", Seq(
        (Array(1f, 0f, 0f, 0f), Map("t" -> MetadataValue.RawString("x"))),
        (Array(0f, 1f, 0f, 0f), Map("t" -> MetadataValue.RawString("y")))))
      e.getPred("obs_a", Equals("t", MetadataValue.RawString("x")))
      intercept[GraftException] { e.createStore("obs_a", 4) }
      e.delKey("obs_a", Seq(Array(1f, 0f, 0f, 0f)))
    } finally Trace.enabled = false

    val spans = spansFor("obs_a")
    assert(spans.count(_._1 == "CreateStore") == 2, spans)
    // the duplicate CreateStore recorded its failure and rethrew
    assert(spans.filter(_._1 == "CreateStore").map(_._2).sorted == Seq(false, true))
    assert(spans.exists(s => s._1 == "Set" && s._2))
    assert(spans.exists(s => s._1 == "GetPred" && s._2))
    assert(spans.exists(s => s._1 == "DelKey" && s._2))
    // Set and DelKey are eager — each must have launched at least one Spark
    // job inside its group (listener events land async; retry briefly)
    def jobsOf(op: String): Int = spansFor("obs_a")
      .filter(_._1 == op).map(_._4).max
    val deadline = System.nanoTime() + 10e9.toLong
    while ((jobsOf("Set") == 0 || jobsOf("DelKey") == 0) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(jobsOf("Set") > 0, "Set span attributed no Spark jobs")
    assert(jobsOf("DelKey") > 0, "DelKey span attributed no Spark jobs")
    // lazy read: GetPred builds a plan, never runs a job
    assert(spansFor("obs_a").filter(_._1 == "GetPred").forall(_._4 == 0))
  }

  test("AI proxy spans nest: AI.Set is the parent of the engine's ops") {
    val ai = new graft.ai.AiEngine(new graft.engine.GraftEngine(spark))
    Trace.enabled = true
    try {
      ai.createStore("obs_ai", "all-minilm-l6-v2", "all-minilm-l6-v2",
        storeOriginal = true)
      ai.set("obs_ai", Seq(
        (MetadataValue.RawString("hello world"),
          Map("k" -> MetadataValue.RawString("v")))))
    } finally Trace.enabled = false

    val spans = Trace.frame(spark).where(col("store") === "obs_ai")
      .select("seq", "parent", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val aiSet = spans.filter(_._3 == "AI.Set")
    assert(aiSet.size == 1, spans)
    // the proxy's inner engine work is parented under the AI.Set span
    val children = spans.filter(_._2 == aiSet.head._1).map(_._3)
    assert(children.nonEmpty, spans)
    // AI.CreateStore wraps the engine CreateStore the same way
    val aiCreate = spans.filter(_._3 == "AI.CreateStore")
    assert(aiCreate.size == 1)
    assert(spans.exists(s => s._3 == "CreateStore" && s._2 == aiCreate.head._1))
  }

  test("routed maintenance tiers surface as trace events (streaming ingest + engine mutations)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dim = 8
    val rnd = new scala.util.Random(5L)
    val base = (0 until 200).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    val initial = graft.ann.RoutedAnnIndex.build(
      base.toDF("id", "key").select(col("id"),
        col("key").cast("array<float>").as("key")),
      dim, cfg, numShards = 4, iters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val src = mem.toDF()
      .select(col("_1").as("id"), col("_2").cast("array<float>").as("key"))
    s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    Trace.enabled = true
    try {
      val (handle, q) = graft.streaming.StreamingIngest
        .streamingRoutedAppend(initial, src, "id", "key")
      try {
        // batch 1: in-distribution -> append tier
        mem.addData((1000L, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
        q.processAllAvailable()
        // batch 2: far-away manifold -> drift guard -> recluster tier
        mem.addData((2000L, Seq.fill(dim)(9.5f)))
        q.processAllAvailable()
      } finally { q.stop(); handle.current.unpersist() }
    } finally Trace.enabled = false
    val tiers = spansFor("stream-ingest").map(_._1)
    assert(tiers.contains("routed:append"),
      s"append tier event missing from trace: $tiers")
    assert(tiers.contains("routed:recluster"),
      s"recluster tier event missing from trace: $tiers")

    // engine mutations emit the same markers under the op span: a DelKey
    // on a routed store records its delete tier
    val e = new graft.engine.GraftEngine(spark)
    e.createStore("obs_routed", dim)
    val keys = (0 until 64).map(_ =>
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    e.setSeq("obs_routed", keys.map(k =>
      (k, Map("t" -> (MetadataValue.RawString("x"): MetadataValue)))))
    e.createNonLinearIndex("obs_routed", Seq(
      graft.types.NonLinearConfig.RoutedHNSWConfig(hnsw = cfg,
        numShards = 4, probes = 4)))
    Trace.enabled = true
    try e.delKey("obs_routed", Seq(keys.head))
    finally Trace.enabled = false
    val engTiers = spansFor("obs_routed").map(_._1)
    assert(engTiers.contains("routed:delete-tombstone"),
      s"DelKey tombstone tier event missing: $engTiers")
    e.dropStore("obs_routed")

    // a recall-targeted build records its calibration as a trace event —
    // an operator reading the trace of a slow index build sees WHY (it
    // measured the curve) without opening logs
    e.createStore("obs_cal", dim)
    e.setSeq("obs_cal", keys.take(32).map(k =>
      (k, Map("t" -> (MetadataValue.RawString("x"): MetadataValue)))))
    Trace.enabled = true
    try {
      e.createNonLinearIndex("obs_cal", Seq(
        graft.types.NonLinearConfig.RoutedHNSWConfig(hnsw = cfg,
          numShards = 4, probes = 1, recallTarget = Some(0.9))))
      ()
    } finally Trace.enabled = false
    val calTiers = spansFor("obs_cal").map(_._1)
    assert(calTiers.contains("routed:calibrate"),
      s"calibration event missing from trace: $calTiers")
    e.dropStore("obs_cal")
  }

  test("disabled tracing records nothing and job groups are restored") {
    val e = new graft.engine.GraftEngine(spark)
    Trace.enabled = false
    val before = Trace.frame(spark).where(col("store") === "obs_off").count()
    e.createStore("obs_off", 4)
    e.setSeq("obs_off", Seq(
      (Array(1f, 0f, 0f, 0f), Map("t" -> MetadataValue.RawString("x")))))
    assert(Trace.frame(spark).where(col("store") === "obs_off").count() == before)

    // a user-set job group survives a traced call unchanged
    val sc = spark.sparkContext
    Trace.enabled = true
    try {
      sc.setJobGroup("user-group", "mine", interruptOnCancel = false)
      e.getPred("obs_off", Equals("t", MetadataValue.RawString("x"))).count()
      assert(sc.getLocalProperty("spark.jobGroup.id") == "user-group")
    } finally {
      Trace.enabled = false
      sc.clearJobGroup()
    }
  }

  test("a Set span's jobs and tasks read complete on the first frame, no retry") {
    val e = new graft.engine.GraftEngine(spark)
    Trace.enabled = true
    try {
      e.createStore("obs_once", 4)
      e.setSeq("obs_once", Seq(
        (Array(1f, 0f, 0f, 0f), Map("t" -> MetadataValue.RawString("x")))))
    } finally Trace.enabled = false
    val set = Trace.frame(spark).where(col("store") === "obs_once" && col("op") === "Set")
      .select("jobs", "tasks").collect()
    assert(set.length == 1)
    assert(set.head.getInt(0) > 0, "Set span read jobs = 0")
    assert(set.head.getLong(1) > 0L, "Set span read tasks = 0")
  }

  // last in the suite: it cycles the span ring past MaxSpans
  test("evicted spans drop their listener tallies: driver memory stays bounded") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val extra = 500
    Trace.reset()
    Trace.enabled = true
    try {
      (0 until Trace.MaxSpans + extra).foreach { i =>
        Trace.span(spark, "Synthetic", "obs_mem") {
          // synthetic events for this span's group: no Spark job runs
          val props = new java.util.Properties()
          props.setProperty("spark.jobGroup.id", sc.getLocalProperty("spark.jobGroup.id"))
          val stages = Seq(2 * i, 2 * i + 1).map(sid => new StageInfo(sid, 0, "synthetic", 1,
            Seq.empty, Seq.empty, "", null, Seq.empty, None, 0, false, 0))
          Trace.listener.onJobStart(SparkListenerJobStart(i, 0L, stages, props))
          Trace.listener.onTaskEnd(SparkListenerTaskEnd(2 * i + 1, 0, "ResultTask",
            org.apache.spark.Success, null, null, null))
        }
      }
    } finally Trace.enabled = false
    val (tallies, stages) = Trace.tallySizes
    assert(tallies <= Trace.MaxSpans, "tallies of evicted spans were kept")
    assert(stages <= 2 * Trace.MaxSpans, "stage entries of evicted spans were kept")
    val spans = Trace.frame(spark).where(col("store") === "obs_mem")
      .select("seq", "jobs", "tasks").collect()
    assert(spans.length == Trace.MaxSpans)
    // the survivors still carry their synthetic tallies
    assert(spans.forall(r => r.getInt(1) == 1 && r.getLong(2) == 1L))
    Trace.reset()
    assert(Trace.tallySizes == ((0, 0)))
  }
}
