package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.types.{Algorithm, NonLinearConfig}

/**
 * ANN recall at the SCALE corpus (VERDICT r9 #4): the repo's recall
 * evidence lived only on the SIFT-shaped 10k spec corpora
 * (RecallSpec/ShardedRecallSpec); this main measures Recall@50 against
 * brute force at the sf1 scale dir (200k × 64-d) for the three
 * approximate families users actually operate at that size — the
 * reference's own validation method (docs/specs/hnsw.md:952-1138: mean
 * Recall@K over a query sample vs exact top-K) applied at the scale the
 * repo claims:
 *
 *  - id-hash sharded HNSW ([[graft.ann.RoutedAnnIndex.buildHashed]], 16 shards, reference build
 *    params M=40/M0=80/efC=100) — threshold: ≥ 0.90 (hnsw.md:1026-1093);
 *  - IVF ([[graft.ann.IvfIndex]], 256 cells) over an nProbe sweep — the
 *    recall/scan-fraction CURVE, with the operating point recorded;
 *  - PQ ([[graft.ann.PqCodebook]], m=8, ksub=256, sample-trained) over a
 *    shortlist-depth sweep — the recall/rescore-cost curve.
 *
 * Ground truth is [[graft.dedup.Dedup.topKJoin]] (broadcast-query exact
 * cosine) — an INDEPENDENT code path from all three index joins.
 * Everything runs cosine so the families are comparable. Queries are 100
 * corpus vectors picked by a deterministic id stride (reproducible, no
 * RNG). Prints one markdown table; numbers land in SCALE.md.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<scale dir> runMain graft.ScaleRecall
 */
object ScaleRecall {

  private val K = 50
  private val NQueries = 100

  /** SIFT-shaped deterministic generator (low-intrinsic-dim manifold,
    * x = W·z) — the main-scope twin of the test fixture
    * (`TestFixtures.SiftLike`): real descriptor/embedding corpora live on
    * low-dimensional manifolds, which is the geometry ANN recall is
    * meaningful on. Used by the ORGANIC mode below because the SCALED
    * corpus is replica-structured (each query's true top-K are its own
    * near-replicas — every bucketed method reads 1.0 there). */
  private[graft] final class SiftGen(seed: Long, dim: Int,
      intrinsic: Int) extends Serializable {
    private def mix(s: Long): Long = {
      var z = s + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    private def u01(s: Long, i: Long): Double =
      (mix(s * 0x632be59bd9b4e019L + i) >>> 11).toDouble / (1L << 53).toDouble
    private def vec(s: Long, idx: Long, d: Int): Array[Float] = {
      val a = new Array[Float](d)
      var j = 0
      while (j < d) {
        val base = idx * d + j
        a(j) = (u01(s, base * 2) + u01(s, base * 2 + 1) - 1.0).toFloat
        j += 1
      }
      a
    }
    private val w: Array[Array[Float]] =
      Array.tabulate(dim)(j => vec(seed * 17 + 11, j.toLong, intrinsic))
    def apply(idx: Long): Array[Float] = {
      val z = vec(seed * 7 + 3, idx, intrinsic)
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/scale/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ORGANIC mode: a deterministically generated 200k SIFT-shaped corpus
    // instead of the scale dir's replica-structured one — the geometry on
    // which the IVF/PQ operating-point CURVES are informative
    val organicN = sys.env.get("SCALE_RECALL_ORGANIC").map(_.toLong)
    val emb = (organicN match {
      case Some(on) =>
        import spark.implicits._
        val gen = new SiftGen(seed = 4242L, dim = 64, intrinsic = 12)
        println(s"ORGANIC corpus: $on SIFT-shaped 64-d vectors (intrinsic 12)")
        spark.range(on).map(i => (i, gen(i).toSeq)).toDF("id", "key")
          .select(col("id"), col("key").cast("array<float>").as("key"))
      case None =>
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id").cast("long").as("id"),
            col("embedding").cast("array<float>").as("key"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    val stride = math.max(1L, n / NQueries)
    val queries = emb.where(pmod(col("id"), lit(stride)) === 0)
      .limit(NQueries)
      .select(col("id").as("qid"), col("key").as("qv"))
      .persist()
    val nq = queries.count()
    println(s"corpus $n vectors, $nq queries (id stride $stride), K=$K")

    // ---- ground truth: exact cosine top-K (independent code path) ----
    val t0 = System.nanoTime()
    val gt = graft.dedup.Dedup.topKJoin(
        queries, emb, "qid", "qv", "id", "key", K)
      .select("qid", "cid").persist()
    gt.count()
    println(f"ground truth built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val gtByQ: Map[Long, Set[Long]] = gt.collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }

    /** Mean Recall@K of a (qid, cid) result frame vs the ground truth. */
    def recallOf(res: DataFrame): Double = {
      val byQ = res.select("qid", "cid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      val rs = gtByQ.map { case (q, exp) =>
        byQ.get(q).fold(0.0)(got => (exp & got).size.toDouble / exp.size) }
      rs.sum / rs.size
    }
    def timed[A](what: String)(f: => A): A = {
      val t = System.nanoTime()
      val r = f
      println(f"  [$what done in ${(System.nanoTime() - t) / 1e9}%.1f s]")
      r
    }

    val rows = scala.collection.mutable.ArrayBuffer[String]()

    // ---- sharded HNSW at reference build params ----
    if (sys.env.getOrElse("SCALE_RECALL_HNSW", "1") == "1") {
      val cfg = NonLinearConfig.HNSWConfig(efConstruction = 100,
        maximumConnections = 40, maximumConnectionsZero = 80,
        efSearch = 16, metric = Algorithm.CosineSimilarity)
      val index = timed("hnsw build (16 shards)") {
        graft.ann.RoutedAnnIndex.buildHashed(emb, 64, cfg, numShards = 16)
      }
      val qvecs = queries.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val rec = timed("hnsw search") {
        val per = qvecs.map { case (q, v) =>
          val got = index.search(v, K, index.numShards).map(_._1).toSet
          (gtByQ(q) & got).size.toDouble / gtByQ(q).size }
        per.sum / per.length
      }
      rows += f"| sharded HNSW (16 shards, M=40/M0=80/efC=100, efS=16) | full graph | $rec%.4f |"
      println(rows.last)
    }

    // ---- coarse-ROUTED sharded HNSW: probes sweep at 64 shards ----
    // the r10 verdict's one open GetSimN scale story: hash-sharded search
    // is linear in shard count; content routing must hold recall at
    // p << shards (r11 #3). Single-query path — per-query wall includes
    // the pruned-partition job launch.
    if (sys.env.getOrElse("SCALE_RECALL_ROUTED", "1") == "1") {
      val nShards = sys.env.getOrElse("SCALE_RECALL_ROUTED_SHARDS", "64").toInt
      val repEps = sys.env.getOrElse("SCALE_RECALL_ROUTED_EPS", "0.0").toDouble
      val cfg = NonLinearConfig.HNSWConfig(efConstruction = 100,
        maximumConnections = 40, maximumConnectionsZero = 80,
        efSearch = 16, metric = Algorithm.CosineSimilarity)
      val tag = if (repEps > 0) f" eps=$repEps%.2f" else ""
      val routed = timed(s"routed hnsw build ($nShards shards$tag)") {
        graft.ann.RoutedAnnIndex.build(emb, 64, cfg, numShards = nShards,
          iters = 3, replicationEps = repEps)
      }
      if (repEps > 0)
        println(f"  replication factor: ${routed.storedRows.toDouble / n}%.3fx " +
          s"(${routed.storedRows} stored for $n input)")
      val qvecs = queries.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      for (probes <- Seq(2, 4, 8, 16, nShards)) {
        var wall = 0.0
        val rec = timed(s"routed probes=$probes") {
          val per = qvecs.map { case (q, v) =>
            val t = System.nanoTime()
            val got = routed.search(v, K, probes).map(_._1).toSet
            wall += (System.nanoTime() - t) / 1e9
            (gtByQ(q) & got).size.toDouble / gtByQ(q).size }
          per.sum / per.length
        }
        val frac = probes.toDouble / nShards
        rows += f"| routed HNSW $nShards shards$tag, probes=$probes | $frac%.3f of shards searched, ${wall / qvecs.length * 1000}%.0f ms/query | $rec%.4f |"
        println(rows.last)
      }
      routed.unpersist()
    }

    // ---- IVF nProbe sweep ----
    if (sys.env.getOrElse("SCALE_RECALL_IVF", "1") == "1") {
      val nCells = 256
      val ivf = timed(s"ivf build ($nCells cells)") {
        graft.ann.IvfIndex.build(emb, nCells = nCells, iters = 2,
          metric = Algorithm.CosineSimilarity)
      }
      for (nProbe <- Seq(1, 4, 16, 64)) {
        val rec = timed(s"ivf nProbe=$nProbe") {
          recallOf(ivf.topKJoin(queries, "qid", "qv", K, nProbe))
        }
        val frac = nProbe.toDouble / nCells
        rows += f"| IVF $nCells cells, nProbe=$nProbe | $frac%.3f of corpus scanned | $rec%.4f |"
        println(rows.last)
      }
      ivf.unpersist()
    }

    // ---- PQ shortlist sweep (sample-trained, ADC coarse + exact rescore) ----
    if (sys.env.getOrElse("SCALE_RECALL_PQ", "1") == "1") {
      val sample = graft.pipeline.Corpus.deterministicSample(emb, "id", 0.1)
      val cb = timed("pq train (m=8, ksub=256, 10% sample)") {
        graft.ann.PqCodebook.train(sample, m = 8, ksub = 256, iters = 3)
      }
      for (shortlist <- Seq(100, 500, 2000)) {
        val rec = timed(s"pq shortlist=$shortlist") {
          recallOf(cb.topKJoin(queries, emb, "qid", "qv", "id", "key",
            K, shortlist))
        }
        rows += f"| PQ m=8 ksub=256, shortlist=$shortlist | ${shortlist}-deep rescore | $rec%.4f |"
        println(rows.last)
      }
    }

    // ---- hard-negative mining: IVF arm vs the exact broadcast arm ----
    // labels synthesized as id % 7 (labels orthogonal to geometry — the
    // measurement is cell-routing recall, not label semantics); k = 5,
    // 200-anchor sample, 64-cell labeled cosine index
    if (sys.env.getOrElse("SCALE_RECALL_NEG", "1") == "1") {
      val kNeg = 5
      val labeled = emb.withColumn("label", pmod(col("id"), lit(7)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      labeled.count()
      val anchors = labeled.where(pmod(col("id"), lit(math.max(1L, n / 200))) === 0)
        .limit(200)
      val exact = graft.ann.Negatives.hardNegatives(anchors, labeled,
          "id", "key", "label", "id", "key", "label", kNeg)
        .select("qid", "cid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val ivfL = timed("labeled ivf build (64 cells)") {
        graft.ann.IvfIndex.build(labeled, nCells = 64, iters = 3,
          metric = Algorithm.CosineSimilarity)
      }
      for (nProbe <- Seq(1, 2, 4, 8, 16)) {
        val rec = timed(s"negatives nProbe=$nProbe") {
          val got = ivfL.hardNegatives(anchors, "id", "key", "label", "label",
              kNeg, nProbe)
            .select("qid", "cid").collect()
            .groupBy(_.getLong(0)).map { case (q, rs) =>
              q -> rs.map(_.getLong(1)).toSet }
          val per = exact.map { case (q, e) =>
            got.get(q).fold(0.0)(g => (g & e).size.toDouble / e.size) }
          per.sum / per.size
        }
        rows += f"| hard negatives, IVF 64 cells, nProbe=$nProbe | ${nProbe / 64.0}%.3f of corpus scanned | $rec%.4f (negative recall@$kNeg) |"
        println(rows.last)
      }
      ivfL.unpersist()
      labeled.unpersist(blocking = false)
    }

    println()
    println("| configuration | cost knob | Recall@50 |")
    println("|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}
