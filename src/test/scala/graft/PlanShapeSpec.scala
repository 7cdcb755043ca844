package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.types.Algorithm

/**
 * Physical-plan regression guard: the scale properties this engine is
 * designed around are PLAN shapes (what broadcasts, what shuffles, what the
 * top-k physical operator is), not just row-level results — a refactor can
 * keep every oracle green while silently planting a cartesian product or a
 * corpus-wide shuffle. These tests pin the audited plans. Spark version is
 * pinned by the build, so the operator names are stable.
 */
class PlanShapeSpec extends AnyFunSuite {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Build a frame while capturing the physical plan of every scoring
    * stage that flows into [[graft.ann.BoundedTopK.topK]] (the fold
    * compiles its input to an RDD, so those stages are invisible in the
    * final frame's executedPlan). Returns (stage plans in invocation
    * order, the final frame's plan). */
  private def stagePlans(f: => DataFrame): (Seq[String], String) = {
    val probe = scala.collection.mutable.ArrayBuffer[String]()
    graft.ann.BoundedTopK.planProbe.set(probe)
    try { val df = f; (probe.toSeq, plan(df)) }
    finally graft.ann.BoundedTopK.planProbe.remove()
  }

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "completely different content about spark catalyst optimizer rules"),
    (3L, "large language models need deduplicated training corpora to work"))
    .toDF("doc_id", "text")

  test("GetSimN linear search plans TakeOrderedAndProject (bounded per-partition heaps)") {
    val e = new graft.engine.GraftEngine(spark)
    e.createStore("plan_probe", 2)
    e.set("plan_probe", Seq(
      Array(0f, 1f) -> Map.empty[String, graft.types.MetadataValue],
      Array(1f, 0f) -> Map.empty[String, graft.types.MetadataValue]), "public")
    try {
      val p = plan(e.getSimN("plan_probe", Array(1f, 1f), 1, Algorithm.CosineSimilarity))
      assert(p.contains("TakeOrderedAndProject"),
        s"linear GetSimN must not global-sort; plan:\n$p")
      assert(!p.contains("CartesianProduct"))
    } finally { e.dropStore("plan_probe"); () }
  }

  test("decontaminate broadcasts the benchmark and never pre-shuffles the corpus") {
    val p = plan(graft.dedup.Dedup.decontaminate(
      docs, "doc_id", "text", docs.where(col("doc_id") === 0), "doc_id", "text", 5))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast; plan:\n$p")
    // the only shuffles allowed: the benchmark side's own distinct (inside
    // the broadcast subtree — tiny) and the two-phase count-distinct AFTER
    // the join; a corpus-side pre-join distinct would add a fourth
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"corpus side must not shuffle before the join; plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bm25: query-term set broadcasts; no cartesian product") {
    val spark = graft.TestFixtures.spark
    import spark.implicits._
    val qs = Seq((1L, "alpha beta")).toDF("qid", "qtext")
    val (stages, _) = stagePlans(graft.text.Bm25.bm25TopK(
      docs, "doc_id", "text", qs, "qid", "qtext", 5))
    val p = stages.mkString
    assert(!p.contains("CartesianProduct"))
    // postings are FILTERED by the broadcast query-term set — the corpus
    // postings never shuffle to meet the queries
    assert(p.contains("BroadcastHashJoin"))
    // ranking is the bounded fold, not a sort of the candidate table: the
    // scoring stage must end at the per-(qid,did) hash aggregate with no
    // Sort and no WindowGroupLimit above it
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      s"ranking must be the bounded fold, not a window; plan:\n$p")
  }

  test("dsir scoring: one codegen'd narrow map — no shuffle, no join") {
    val spark = graft.TestFixtures.spark
    import spark.implicits._
    val target = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    // the count tables fold into the kernel at build; the SCORING frame
    // (what executes per corpus row at scale) must plan as a pure map.
    // parquet-backed corpus: a local Seq collapses to LocalTableScan
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.text.Dsir.importanceWeights(
      corpus, target, "doc_id", "text"))
    assert(!p.contains("Exchange"), s"dsir scoring must not shuffle; plan:\n$p")
    assert(!p.contains("Join"), s"dsir scoring must not join; plan:\n$p")
    assert(p.contains("nb_score"), s"kernel missing from plan:\n$p")
  }

  test("classifier predict: one codegen'd narrow map — no shuffle, no join") {
    val spark = graft.TestFixtures.spark
    import spark.implicits._
    val labeled = Seq((1L, "alpha beta", "x"), (2L, "gamma delta", "y"))
      .toDF("doc_id", "text", "lab")
    val model = graft.text.Classify.trainNaiveBayes(
      labeled, "doc_id", "text", "lab", buckets = 101)
    // parquet-backed corpus: a local Seq collapses to LocalTableScan
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.text.Classify.predict(model, corpus, "doc_id", "text"))
    assert(!p.contains("Exchange"), s"predict must not shuffle; plan:\n$p")
    assert(!p.contains("Join"), s"predict must not join; plan:\n$p")
    assert(p.contains("nb_score"), s"kernel missing from plan:\n$p")
  }

  test("bpe encode: one codegen'd projection — no shuffle, no join, merge table in-plan") {
    val model = graft.text.Bpe.Model(Seq(("t", "h"), ("th", "e")))
    // parquet-backed input: a local Seq relation collapses to
    // LocalTableScan and the projection never plans
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.text.Bpe.encode(col("text"), model).as("tk"),
      graft.text.Bpe.tokenCount(col("text"), model).as("n"))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"encode must not shuffle; plan:\n$p")
    assert(!p.contains("Join"), s"encode must not join; plan:\n$p")
    // "*(1)" is executedPlan.toString's whole-stage-codegen marker
    assert(p.contains("*(1) Project"),
      s"encode must stay inside whole-stage codegen; plan:\n$p")
    assert(p.contains("bpe_encode") && p.contains("bpe_token_count"), p)
  }

  test("removeRepeatedSpans: hash-keyed census joins, no cartesian product") {
    val df = graft.dedup.Dedup.removeRepeatedSpans(docs, "doc_id", "text", 8)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // the gram census and the cut join both key on the 64-bit hash —
    // the gram STRING never rides a shuffle
    assert(p.contains("xxhash64"))
  }

  test("near-dup joins never plan a cartesian product") {
    Seq(
      graft.dedup.Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5),
      graft.dedup.Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5, maxShingleDf = Some(2)),
      graft.dedup.Dedup.minHashLshJoin(docs, "doc_id", "text", 3, 0.5),
      graft.dedup.Dedup.simHashJoin(docs, "doc_id", "text", 3, 0.5)
    ).foreach { df =>
      // the result is an eager localCheckpoint; assert on what RAN: candidate
      // generation and verification joined on band/shingle keys
      assert(!plan(df).contains("CartesianProduct"))
    }
  }

  test("semanticKeepOne: corpus anti-join broadcasts the doomed set, no cartesian") {
    import spark.implicits._
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => graft.TestFixtures.vec(7L, i.toLong, 8)(j))))
    val dups = (0 until 4).map(i => (500L + i, vecs(i)._2.map(x => x * 1.02f)))
    val corpus = (vecs ++ dups).toDF("id", "vec")
    val kept = graft.dedup.Dedup.semanticKeepOne(corpus, "id", "vec", 0.95)
    val p = plan(kept)
    assert(!p.contains("CartesianProduct"))
    // the doomed set is bounded by the duplicate population — it must reach
    // the corpus as a broadcast anti-join, never a corpus shuffle
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$p")
  }

  test("broadcast top-k join: query side broadcasts, corpus streams into the bounded fold") {
    val vecs = (0 until 8).map(i => (i.toLong, Array(i.toFloat, 1f))).toDF("id", "vec")
    val (stages, _) = stagePlans(graft.dedup.Dedup.topKJoin(
      vecs.where(col("id") < 2), vecs, "id", "vec", "id", "vec", 2))
    val p = stages.mkString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast; plan:\n$p")
    // the N×M scored product flows STRAIGHT into the bounded per-task
    // fold: no exchange, no sort, no window — the round-12 formulation's
    // partial WindowGroupLimit still SORTED each task's slice of the
    // product, which is what filled a 65 GB disk at 10k × 200k
    // (graft.ScaleJoin round 13; BoundedTopK's k-heaps replace it)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).isEmpty,
      s"the scored product must not shuffle; plan:\n$p")
    assert(!p.contains("Sort [") && !p.contains("WindowGroupLimit"),
      s"the scored product must not sort; plan:\n$p")
  }

  test("relational join pushes filters to the parquet scan and broadcasts the dim") {
    val dir = "/root/testdata/sf0.001"
    val q3 = graft.queries.Queries.registry("q3_join").fn(spark, dir)
    val p = plan(q3)
    assert(p.contains("BroadcastHashJoin"), s"filtered customer dim must broadcast; plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull"),
      s"date/segment filters must reach the scans; plan:\n$p")
  }

  test("text ops are single-projection scans (no shuffle, no join)") {
    Seq(
      docs.select(graft.text.TextOps.repetitionRatio(col("text"), 3)),
      docs.select(graft.text.TextOps.fingerprint(col("text"))),
      graft.pipeline.Corpus.assignSplit(docs.select("doc_id"), "doc_id"),
      docs.select(graft.text.Pii.redactAll(col("text"))),
      graft.pipeline.Corpus.chunkByTokens(docs, "doc_id", "text", 8, 2),
      Seq((1L, Seq(0.1f, 0.9f))).toDF("id", "v")
        .select(graft.functions.Quantize.int8Codes(col("v")))
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange") && !p.contains("Join"),
        s"per-row op must stay shuffle-free; plan:\n$p")
    }
  }

  test("lang-id and PII kernels evaluate ONCE per row in their query shapes") {
    // the eval-count trap: a kernel expression copied per extracted field
    // re-scans the text per field. langId let-binds the count array; the
    // pii query aliases the counts array and extracts in a follow-up
    // projection (non-cheap alias referenced 3x survives CollapseProject).
    // range-backed frame: a local Seq constant-folds into a LocalTableScan
    // and the probe would count zero kernels in an empty plan
    val rdocs = spark.range(4).select(col("id").as("doc_id"),
      concat(lit("der u"), col("id"), lit("@ex.org ip 1.2.3.4")).as("text"))
    // alias: the auto-generated column name would echo the expression
    // string and double-count the kernel name
    val lp = plan(rdocs.select(graft.text.TextOps.langId(col("text")).as("lang")))
    assert("lang_marker_counts".r.findAllIn(lp).size == 1,
      s"langId must run the marker kernel once; plan:\n$lp")
    val pdf = rdocs
      .select(col("doc_id"),
        graft.text.Pii.redactAll(col("text")).as("redacted"),
        graft.text.Pii.piiCountsArray(col("text")).as("_pc"))
      .select(col("doc_id"), col("redacted"),
        element_at(col("_pc"), 1).as("n_email"),
        element_at(col("_pc"), 2).as("n_ip"),
        element_at(col("_pc"), 3).as("n_phone"))
    val pp = plan(pdf)
    assert("pii_match_counts".r.findAllIn(pp).size == 1 &&
      "pii_redact".r.findAllIn(pp).size == 1,
      s"pii kernels must each run once; plan:\n$pp")
  }

  test("packSequences shuffles ONCE (on shard) and plans a per-shard window") {
    val p = plan(graft.pipeline.Corpus.packSequences(
      docs, "doc_id", "text", budget = 8, shards = 2))
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1,
      s"packing must shuffle exactly once, on shard; plan:\n$p")
    assert(p.contains("Window"), s"running sum must be a window; plan:\n$p")
    assert(!p.contains("Join"))
  }

  test("quantized top-k: codes-only broadcast coarse pass; both rankings are bounded folds") {
    val vecs = (0 until 16).map(i => (i.toLong, Seq(i.toFloat, 1f, 2f))).toDF("id", "v")
    val (stages, _) = stagePlans(graft.functions.Quantize.quantizedTopKJoin(
      vecs.where(col("id") < 2), vecs, "id", "v", "id", "v", k = 2, shortlist = 4))
    assert(stages.length == 2, s"coarse + exact rescore stages expected: $stages")
    val (coarse, exact) = (stages.head, stages(1))
    assert(coarse.contains("BroadcastNestedLoopJoin") ||
      coarse.contains("BroadcastHashJoin"),
      s"query side must broadcast in the coarse pass; plan:\n$coarse")
    assert(!coarse.contains("CartesianProduct"))
    // the widest stage ranks over CODES and never sorts or shuffles: the
    // float vectors must not ride it (they re-attach for the rescore)
    assert("(?<!Broadcast)Exchange".r.findAllIn(coarse).isEmpty &&
      !coarse.contains("Sort [") && !coarse.contains("WindowGroupLimit"),
      s"coarse product must flow into the fold unsorted; plan:\n$coarse")
    assert(coarse.contains("codes"), s"coarse must rank codes; plan:\n$coarse")
    assert(!coarse.contains("qv#") && !coarse.contains("cv#"),
      s"float vectors must not ride the coarse stage; plan:\n$coarse")
    // the rescore re-attaches vectors by id and queries as a broadcast
    assert(exact.contains("BroadcastHashJoin"),
      s"rescore joins must broadcast; plan:\n$exact")
  }

  test("SQ8-in-IVF top-k: cell equi-join coarse pass, no all-pairs product") {
    val vecs = (0 until 32).map(i =>
      (i.toLong, Seq(i.toFloat, (i % 3).toFloat, 2f))).toDF("id", "key")
    val ivf = graft.ann.IvfIndex.build(vecs, nCells = 4, iters = 1)
    try {
      val (stages, _) = stagePlans(ivf.quantizedTopKJoin(
        vecs.where(col("id") < 2).select(col("id"), col("key").as("v")),
        "id", "v", k = 2, nProbe = 4, shortlist = 8))
      assert(stages.length == 2, s"coarse + exact stages expected: $stages")
      val (coarse, exact) = (stages.head, stages(1))
      // the coarse pass must reach the corpus through the (cell, cell)
      // equi-join — never a cross/nested-loop product of queries x corpus
      assert(!coarse.contains("CartesianProduct") &&
        !coarse.contains("BroadcastNestedLoopJoin"),
        s"coarse pass must be the cell equi-join; plan:\n$coarse")
      // and the scored PRODUCT flows into the bounded fold unsorted: no
      // Sort node above the cell join (the query-side dedup's min-agg
      // sorts ITS OWN bounded frame inside the broadcast subtree — fine)
      val spine = coarse.substring(0, coarse.indexOf("Join"))
      assert(!spine.contains("Sort [") && !coarse.contains("WindowGroupLimit"),
        s"coarse product must not sort above the cell join; plan:\n$coarse")
      // the float rescore re-attaches queries by qid as a broadcast
      assert(exact.contains("BroadcastHashJoin"),
        s"query rescore side must broadcast; plan:\n$exact")
    } finally ivf.unpersist()
  }

  /** A join keyed on `key` — whichever equi-join strategy the planner
    * picked (a cached cells frame can be small enough to broadcast). */
  private def equiJoinOn(key: String, p: String): Boolean =
    s"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[$key#".r
      .findFirstIn(p).isDefined

  private lazy val ivfVecs = (0 until 32).map(i =>
    (i.toLong, Seq(i.toFloat, (i % 3).toFloat, 2f, 1f))).toDF("id", "key")

  test("IVF top-k: queries reach the corpus through the cell equi-join only") {
    val ivf = graft.ann.IvfIndex.build(ivfVecs, nCells = 4, iters = 1)
    try {
      val (stages, _) = stagePlans(ivf.topKJoin(
        ivfVecs.where(col("id") < 2).select(col("id"), col("key").as("v")),
        "id", "v", k = 2, nProbe = 4))
      assert(stages.length == 1, s"one scoring stage expected: $stages")
      val p = stages.head
      assert(equiJoinOn("cell", p), s"probes must join the cells on cell; plan:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"no all-pairs product; plan:\n$p")
    } finally ivf.unpersist()
  }

  test("PQ-in-IVF top-k: cell equi-join coarse pass, broadcast query rescore") {
    val ivf = graft.ann.IvfIndex.build(ivfVecs, nCells = 4, iters = 1)
    val cb = graft.ann.PqCodebook.train(ivfVecs, m = 2, ksub = 4, iters = 1)
    try {
      val (stages, _) = stagePlans(ivf.pqTopKJoin(
        ivfVecs.where(col("id") < 2).select(col("id"), col("key").as("v")),
        "id", "v", k = 2, nProbe = 4, shortlist = 8, cb = cb))
      assert(stages.length == 2, s"coarse + exact stages expected: $stages")
      val (coarse, exact) = (stages.head, stages(1))
      assert(equiJoinOn("cell", coarse), s"coarse pass must be the cell equi-join; plan:\n$coarse")
      assert(!stages.mkString.contains("CartesianProduct") &&
        !stages.mkString.contains("BroadcastNestedLoopJoin"),
        s"no all-pairs product; plans:\n$stages")
      assert(coarse.contains("codes"), s"coarse must rank codes; plan:\n$coarse")
      assert(exact.contains("BroadcastHashJoin"),
        s"query rescore side must broadcast; plan:\n$exact")
    } finally ivf.unpersist()
  }

  private def routedIndex(storage: graft.ann.StorageSpec) = {
    val vecs = (0 until 64).map(i => (i.toLong,
      Seq(graft.TestFixtures.vec(11L, i.toLong, 4): _*))).toDF("id", "key")
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efConstruction = 16,
      maximumConnections = 4, maximumConnectionsZero = 8, efSearch = 8)
    (vecs, graft.ann.RoutedAnnIndex.build(vecs, 4, cfg, numShards = 4,
      iters = 1, storage = storage))
  }

  test("routed top-k: queries meet the shard graphs without any join") {
    val (vecs, idx) = routedIndex(graft.ann.StorageSpec.F32)
    try {
      val (stages, _) = stagePlans(idx.topKJoin(
        vecs.where(col("id") < 3).select(col("id"), col("key").as("v")),
        "id", "v", k = 2, probes = 2))
      assert(stages.length == 1, s"one candidate stage expected: $stages")
      // the graph search is a zip of the shard RDD with the routed query
      // partitions: no query × corpus join of any kind plans at all
      val p = stages.head
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"candidates must come from the shard graphs; plan:\n$p")
    } finally idx.unpersist()
  }

  test("routed rescored top-k: equi-join tail with an UNHINTED query side") {
    val (vecs, idx) = routedIndex(graft.ann.StorageSpec.Sq8)
    // with size-based broadcasting off, only a broadcast HINT can plan a
    // broadcast: a large production query batch must shuffle-join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val (stages, _) = stagePlans(idx.topKJoinRescored(
        vecs.where(col("id") < 3).select(col("id"), col("key").as("v")),
        "id", "v", k = 2, probes = 2, exact = vecs))
      assert(stages.length == 2, s"candidate + rescore stages expected: $stages")
      val tail = stages(1)
      assert(equiJoinOn("cid", tail) && equiJoinOn("qid", tail),
        s"the rescore re-attaches vectors by cid and queries by qid; plan:\n$tail")
      assert(!stages.mkString.contains("CartesianProduct") &&
        !stages.mkString.contains("BroadcastNestedLoopJoin"),
        s"no all-pairs product; plans:\n$stages")
      assert(!tail.contains("BroadcastHashJoin") && !tail.contains("BroadcastExchange"),
        s"the rescore's query side must not be broadcast-hinted; plan:\n$tail")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      idx.unpersist()
    }
  }

  test("PQ top-k: codes-only coarse scan, broadcast queries, shared qid exchange") {
    val vecs = (0 until 32).map(i =>
      (i.toLong, Seq(i.toFloat, (i % 3).toFloat, 2f, 1f))).toDF("id", "key")
    val cb = graft.ann.PqCodebook.train(vecs, m = 2, ksub = 4, iters = 1)
    val (stages, _) = stagePlans(cb.topKJoin(
      vecs.where(col("id") < 2), vecs, "id", "key", "id", "key",
      k = 2, shortlist = 4))
    assert(stages.length == 2, s"coarse + exact stages expected: $stages")
    val (coarse, exact) = (stages.head, stages(1))
    // the coarse side must be the broadcast-queries x codes product — the
    // codebook itself is a plan literal (no join/exchange of its own)
    assert(coarse.contains("BroadcastNestedLoopJoin") ||
      coarse.contains("BroadcastHashJoin"),
      s"query side must broadcast; plan:\n$coarse")
    assert(!coarse.contains("CartesianProduct"))
    // codes-only coarse scan flowing into the bounded fold unsorted: the
    // float corpus vectors must NOT ride the widest stage
    assert(coarse.contains("codes"),
      s"coarse stage must rank over the code column; plan:\n$coarse")
    assert(!coarse.contains("Sort [") && !coarse.contains("WindowGroupLimit") &&
      "(?<!Broadcast)Exchange".r.findAllIn(coarse).isEmpty,
      s"coarse product must not sort or shuffle; plan:\n$coarse")
    assert(exact.contains("BroadcastHashJoin"),
      s"rescore joins must broadcast; plan:\n$exact")
  }

  test("asofJoin is union-and-sweep: zero joins, windows share one key shuffle") {
    val l = Seq((1L, 1L, 100L)).toDF("event_id", "user_id", "ts_us")
    val r = Seq((2L, 1L, 90L, 1.0)).toDF("event_id", "user_id", "ts_us", "price")
    val p = plan(graft.events.EventOps.asofJoin(
      l, "ts_us", r, "ts_us", "user_id", Seq("event_id", "price")))
    assert(!p.contains("Join"), s"asof must not plan a join; plan:\n$p")
    // allowed exchanges: the right-side (key, ts) dedup aggregation and
    // the key partitioning the union + window share
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 2,
      s"union and window must share the key shuffle; plan:\n$p")
    assert(p.contains("Window"), s"the sweep must be a window; plan:\n$p")
    assert(p.contains("Union"))
  }

  test("removeBoilerplateLines broadcasts the hot-line set; corpus anti-joins unshuffled") {
    val p = plan(graft.dedup.Dedup.removeBoilerplateLines(
      docs, "doc_id", "text", maxDf = 2, sep = " "))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot lines must broadcast into an anti-join; plan:\n$p")
    // allowed shuffles: the hot-line aggregation's (inside the broadcast
    // subtree) and the final per-doc reassembly groupBy — the corpus must
    // NOT shuffle on content before the anti-join
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected corpus shuffle; plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("cluster assign is one narrow kernel projection — no shuffle, no join") {
    val vecs = spark.range(8).select(col("id"),
      array(col("id").cast("float"), lit(0f)).as("key"))
    val cents = Array(Array(0f, 0f), Array(4f, 0f))
    val p = plan(graft.pipeline.Cluster.assign(vecs, "key", cents))
    assert("pq_encode".r.findAllIn(p).size == 1,
      s"assign must run the argmin kernel once; plan:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assign must stay a narrow map; plan:\n$p")
  }

  test("ngram topK passes: long-explode hash count, kernel-side resolve filter") {
    val hh = graft.text.HeavyHitters.ngramTopK(docs, "text", 2, 3)
    val p = plan(hh)
    // pass 2 (the plan we hold): resolve kernel runs once, explode carries
    // its output, and no string-side filter reappears above the explode
    assert("ngram_resolve".r.findAllIn(p).size == 1,
      s"resolve kernel must run once per row; plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"))
    // the final rank is a window-group-limit shape, not a global sort of
    // the full gram tail: Spark plans the rank<=k as a TakeOrderedAndProject
    // (or WindowGroupLimit) below the window
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      s"rank must be limit-pushed; plan:\n$p")
  }

  test("hard negatives: query side broadcasts, anchor side joins back broadcast, no cartesian leak") {
    val vecs = spark.range(8).select(col("id"),
      array(col("id").cast("float"), lit(1f)).as("key"),
      (col("id") % 2).cast("int").as("label"))
    val (stages, finalPlan) = stagePlans(graft.ann.Negatives.hardNegatives(
      vecs, vecs, "id", "key", "label", "id", "key", "label", 2))
    // the negatives scan sees the bounded query side as a broadcast nested
    // loop (the deliberate N×M scoring scan) flowing into the bounded fold
    val p = stages.mkString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast; plan:\n$p")
    assert(!p.contains("Sort [") && !p.contains("WindowGroupLimit") &&
      "(?<!Broadcast)Exchange".r.findAllIn(p).isEmpty,
      s"the scored product must flow into the fold unsorted; plan:\n$p")
    // the anchor max re-attaches as a broadcast hash join on the output
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"anchor side must re-attach broadcast; plan:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"nothing may shuffle-join in the broadcast arm; plan:\n$finalPlan")
  }

  test("overlap matrix: gram strings never materialize; pair expansion after the size(>1) cut") {
    val d = Seq((0L, "a", "x y z"), (1L, "b", "x y q"))
      .toDF("doc_id", "source", "text")
    val p = plan(graft.pipeline.Overlap.overlapMatrix(d, "source", "text", 2))
    assert(p.contains("ngram_hash"),
      s"grams must flow as kernel hashes; plan:\n$p")
    // the resolve kernel (string side) must NOT appear: overlap counts
    // hashes end-to-end, no gram string is ever allocated
    assert(!p.contains("ngram_resolve"),
      s"no gram strings may materialize; plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the G-row size cross must plan as a broadcast loop; plan:\n$p")
  }
}
