package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.types.{Algorithm, GraftException, NonLinearConfig}

/**
 * The measurement harness: one main, one declared scenario per scale
 * measurement, one shared fixture. Scenario bodies live in
 * [[graft.scenario]]; numbers they print land in SCALE.md (its header maps
 * each scenario to the measurement it reproduces).
 *
 * Usage: runMain graft.Scale <scenario> [args]   (no scenario = list)
 *
 * Every recall figure uses the reference's validation method
 * (docs/specs/hnsw.md:952-1138): mean Recall@K over a query sample against
 * exact top-K from [[graft.dedup.Dedup.topKJoin]] — an independent code
 * path from every index under test. Scenarios take the session and never
 * stop it; this main owns its lifecycle. Default sizes are the 200k scale
 * point; sizes tied to it (batches, deletes, query counts) scale with the
 * corpus size argument and equal the recorded ones at the default.
 */
object Scale {

  /** The local session every main of this repo runs on (Bench, Verify and
    * the scale scenarios): `local[SPARK_GRAFT_CPUS]`, shuffle partitions =
    * cores, UTC session time, no UI. */
  def localSession(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ------------------------------------------------------------ fixture

  val K = 50
  val NQueries = 100
  val Dim = 64
  val Shards = 64
  /** Default corpus size of the routed scale point. */
  val N = 200000L
  /** Id offset of the external query set: far outside any stored id. */
  val ExternalBase = 10000000L

  /** SIFT-shaped deterministic generator: points on a low-intrinsic-dim
    * manifold (x = W·z, z ∈ R^intrinsic), like real descriptor and
    * embedding corpora — the geometry on which ANN recall is meaningful
    * (uniform high-dim points are near-equidistant). The test suites use
    * the same generator. */
  final class SiftGen(seed: Long, dim: Int, intrinsic: Int) extends Serializable {
    private val w: Array[Array[Float]] =
      Array.tabulate(dim)(j => SiftGen.vec(seed * 17 + 11, j.toLong, intrinsic))
    def apply(idx: Long): Array[Float] = {
      val z = SiftGen.vec(seed * 7 + 3, idx, intrinsic)
      val a = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        var s = 0.0; var t = 0
        while (t < intrinsic) { s += w(j)(t) * z(t); t += 1 }
        a(j) = s.toFloat; j += 1
      }
      a
    }
  }

  object SiftGen {
    def splitmix64(s: Long): Long = {
      var z = s + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** Uniform [0,1) double from a (seed, index) pair. */
    def u01(s: Long, i: Long): Double =
      (splitmix64(s * 0x632be59bd9b4e019L + i) >>> 11).toDouble / (1L << 53).toDouble
    /** Deterministic centered vector (sum of two uniforms per element). */
    def vec(s: Long, idx: Long, d: Int): Array[Float] = {
      val a = new Array[Float](d)
      var j = 0
      while (j < d) {
        val base = idx * d + j
        a(j) = (u01(s, base * 2) + u01(s, base * 2 + 1) - 1.0).toFloat
        j += 1
      }
      a
    }
    /** The organic scale corpus's generator (64-d, intrinsic 12). */
    def organic(dim: Int = Dim): SiftGen = new SiftGen(4242L, dim, 12)
  }

  /** Rows [from, until) of `gen` as (id long, key array<float>). */
  def rows(spark: SparkSession, gen: SiftGen, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).map(i => (i, gen(i).toSeq)).toDF("id", "key")
      .select(col("id"), col("key").cast("array<float>").as("key"))
  }

  /** The persisted n-row organic corpus, counted and announced. */
  def corpus(spark: SparkSession, gen: SiftGen, n: Long, dim: Int = Dim): DataFrame = {
    val c = rows(spark, gen, 0L, n).persist(StorageLevel.MEMORY_AND_DISK)
    println(s"corpus ${c.count()} x $dim (organic SIFT-shaped)")
    c
  }

  /** Query-sample size for an n-row corpus: [[NQueries]] from n = 20000 up,
    * n/200 (at least 10) below, so the smallest runs stay seconds long. */
  def nQueries(n: Long): Int = math.max(10L, math.min(NQueries.toLong, n / 200)).toInt

  /** `nq` external queries: the manifold at ids `base + i`. */
  def externalQueries(gen: SiftGen, nq: Int,
      base: Long = ExternalBase): IndexedSeq[Array[Float]] =
    (0 until nq).map(i => gen(base + i))

  /** Query vectors as (qid = position, qv array<float>). */
  def queryFrame(spark: SparkSession, qs: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    qs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("qid", "qv")
      .select(col("qid"), col("qv").cast("array<float>").as("qv"))
  }

  /** The reference HNSW build parameters (M=40/M0=80/efC=100, cosine). */
  def refHnsw(efSearch: Int = 128): NonLinearConfig.HNSWConfig =
    NonLinearConfig.HNSWConfig(efConstruction = 100,
      maximumConnections = 40, maximumConnectionsZero = 80,
      efSearch = efSearch, metric = Algorithm.CosineSimilarity)

  /** (qid, cid) rows grouped to qid → set of cids. */
  def byQuery(rs: Array[Row]): Map[Long, Set[Long]] =
    rs.groupBy(_.getLong(0)).map { case (q, g) => q -> g.map(_.getLong(1)).toSet }

  /** Exact cosine top-k of every (qid, qv) query over (id, key) rows. */
  def groundTruth(queries: DataFrame, corpus: DataFrame,
      k: Int = K): Map[Long, Set[Long]] =
    byQuery(graft.dedup.Dedup.topKJoin(queries, corpus, "qid", "qv", "id", "key", k)
      .select("qid", "cid").collect())

  /** Mean Recall@K over `qids`: |truth ∩ got| / |truth| per query; a query
    * whose truth is empty counts 1.0. */
  def recall(gt: Map[Long, Set[Long]], qids: Iterable[Long])(
      got: Long => Iterable[Long]): Double = {
    val per = qids.toSeq.map { q =>
      val t = gt.getOrElse(q, Set.empty[Long])
      if (t.isEmpty) 1.0 else (t & got(q).toSet).size.toDouble / t.size
    }
    per.sum / per.size
  }

  /** Run `f`, print its wall as `  label: x.x s`, return (result, seconds). */
  def timed[T](label: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"  $label: $s%.1f s")
    (r, s)
  }

  /** Markdown table header: `| a | b |` then `|---|---|`. */
  def header(cols: String*): Unit = {
    println(cols.mkString("| ", " | ", " |"))
    println(cols.map(_ => "---").mkString("|", "|", "|"))
  }

  /** A markdown table of preformatted `| … |` rows. */
  def table(cols: String*)(rows: Iterable[String]): Unit = {
    header(cols: _*)
    rows.foreach(println)
  }

  // ---------------------------------------------------------- scenarios

  /** One scenario invocation: the session, the positional args after the
    * scenario name, and the environment the options are read from. */
  final class Run(val spark: SparkSession, val args: Seq[String],
      val env: Map[String, String]) {
    def arg(i: Int): Option[String] = args.lift(i)
    /** The leading positional corpus size. */
    def n(default: Long): Long = arg(0).map(_.toLong).getOrElse(default)
    /** The data dir: `SPARK_GRAFT_SF_DIR`, default the `gen` output. */
    def sfDir: String = env.getOrElse("SPARK_GRAFT_SF_DIR", "scale/sf1")
    def required(key: String): String = env.getOrElse(key,
      throw GraftException(s"this scenario needs $key"))
  }

  final case class Scenario(name: String, usage: String, body: Run => Unit)

  val scenarios: Seq[Scenario] = {
    import graft.scenario._
    Seq(
      Scenario("recall", "[nOrganic|0] [arms=hnsw,routed,ivf,pq,neg] [routedShards=64] [routedEps=0.0]" +
        " — ANN Recall@50 at the scale dir (or an organic corpus)", Recall.run),
      Scenario("calibrate", "[n] — calibration cost and self/workload curve transfer",
        Calibrate.transfer),
      Scenario("calibrate-mixed", "[n] — carried curve validity after a mixed history",
        Calibrate.mixedHistory),
      Scenario("calibrate-kladder", "[n] — serving-k ladder {10, 50}", Calibrate.kLadder),
      Scenario("calibrate-filtered", "[n] — filtered mid-band and arm-vs-arm at the cutover",
        Calibrate.filteredBand),
      Scenario("cdc", "[n] — CDC stream into a routed f32 index", Cdc.run("f32")),
      Scenario("cdc-pq", "[n] — CDC stream into a routed pq index", Cdc.run("pq")),
      Scenario("cdc-opq", "[n] — CDC stream into a routed opq index", Cdc.run("opq")),
      Scenario("delete", "[n] — routed delete tiers vs recluster", Delete.tiers),
      Scenario("delete-cliff", "[n] — engine DelPred past the routed delete cap",
        Delete.cliff),
      Scenario("join", "[n] — routed batch join query-side scaling", Join.scaling),
      Scenario("join-filtered", "[n] — filtered routed batch join", Join.filtered),
      Scenario("mutate", "— bucket-level mutation cost (SPARK_GRAFT_SF_DIR)", Mutate.run),
      Scenario("opq", "[n=50000] [dim=64] — quantizer-level PQ vs OPQ recall", Opq.run),
      Scenario("quant", "[n] [dim=64] [shards=64] — f32/sq8/pq/opq routed storage",
        Quant.run),
      Scenario("staleness", "[n] [shards=64] [probes=8] — frozen-centroid freshness",
        Staleness.run),
      Scenario("stream", "— stateful streaming from a file source (SPARK_GRAFT_SF_DIR)",
        Stream.run),
      Scenario("gen", "— write a scaled dir (SPARK_GRAFT_SCALE_{SRC,OUT,DOCS,EMB,EVENTS})",
        Gen.run),
      Scenario("plans", "<suffix> <query[,query...]|all> [--run] [--jobs] — plan files " +
        "and job/stage/task counts", Plans.run))
  }

  /** The scenario named `name`, or a [[GraftException]] listing them all. */
  def scenario(name: String): Scenario =
    scenarios.find(_.name == name).getOrElse(throw GraftException(
      s"unknown scale scenario '$name'; valid: ${scenarios.map(_.name).mkString(", ")}"))

  /** Run one scenario on a caller-owned session. */
  def run(spark: SparkSession, name: String, args: Seq[String],
      env: Map[String, String] = sys.env): Unit =
    scenario(name).body(new Run(spark, args, env))

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      scenarios.foreach(s => println(f"${s.name}%-20s ${s.usage}"))
      return
    }
    val sc = scenario(args.head) // an unknown name fails before a session starts
    val spark = localSession("32")
    try sc.body(new Run(spark, args.toSeq.tail, sys.env))
    finally spark.stop()
  }
}
