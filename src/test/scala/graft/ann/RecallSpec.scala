package graft.ann

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * The SIFT-shaped recall harness (BASELINE.md; reference:
 * similarity/src/tests/sift_dataset_validation.rs:95-189): 10 000 base
 * vectors × 128-dim, 100 queries, ground truth recomputed by brute force per
 * metric. Asserts the reference's exact thresholds:
 *
 *  - Recall@50 > 0.90 at M=40 / M0=80 / efC=100 / ef=16, all 3 metrics;
 *  - sweeps: ≥0.80 (M=16,efC=50), ≥0.80 (M=5,efC=20), ≥0.90 (M=25,efC=50).
 *
 * Dataset is the deterministic generator from FIXTURES.md §3 (seed fixed),
 * standing in for siftsmall — same size/dimensionality/shape.
 */
class RecallSpec extends AnyFunSuite {

  private val N = 10000
  private val Dim = 128
  private val NQueries = 100
  private val K = 50

  // manifold generator = SIFT-shaped (low intrinsic dim, like real
  // descriptor corpora; uniform random 128-d points are near-equidistant,
  // which no real dataset resembles — see Scale.SiftGen)
  private lazy val (ids, vecs, gen) = siftLikeDataset(seed = 4242L, n = N, dim = Dim)
  private lazy val queries: Array[Array[Float]] =
    Array.tabulate(NQueries)(i => gen((N + i).toLong))

  private def recallFor(metric: Algorithm, m: Int, m0: Int, efC: Int,
      ef: Int): Double = {
    val cfg = NonLinearConfig.HNSWConfig(efConstruction = efC,
      maximumConnections = m, maximumConnectionsZero = m0,
      efSearch = ef, metric = metric)
    val idx = HnswIndex(Dim, cfg)
    ids.indices.foreach(i => idx.insert(ids(i), vecs(i)))
    val recalls = queries.map { q =>
      val got = idx.search(q, K, ef).map(_._1)
      val exp = bruteTopK(metric, ids, vecs, q, K).map(_._1)
      recallAtK(exp, got)
    }
    recalls.sum / recalls.length
  }

  test("Recall@50 > 0.90 at M=40/M0=80/efC=100 for all 3 metrics; sweeps hold") {
    // all 6 builds are independent — run them concurrently
    val mainConfigs = Seq(Algorithm.EuclideanDistance,
      Algorithm.CosineSimilarity, Algorithm.DotProductSimilarity)
      .map(metric => Future((s"main/$metric",
        recallFor(metric, m = 40, m0 = 80, efC = 100, ef = 16), 0.90)))
    val sweeps = Seq(
      Future(("sweep M=16 efC=50",
        recallFor(Algorithm.EuclideanDistance, 16, 32, 50, 16), 0.80)),
      Future(("sweep M=5 efC=20",
        recallFor(Algorithm.EuclideanDistance, 5, 10, 20, 5), 0.80)),
      Future(("sweep M=25 efC=50",
        recallFor(Algorithm.EuclideanDistance, 25, 50, 50, 20), 0.90)))
    val results = Await.result(Future.sequence(mainConfigs ++ sweeps), 30.minutes)
    results.foreach { case (name, recall, threshold) =>
      info(f"$name: recall@$K = $recall%.4f (threshold $threshold)")
      assert(recall >= threshold, f"$name recall@$K = $recall%.4f < $threshold")
    }
  }

  test("Algorithm 4 full branches: extend_candidates / keep_pruned_connections hold Recall@50 >= 0.90") {
    // hnsw.md:139-649, similarity/src/hnsw/index.rs:67-117: the optional
    // branches must not DEGRADE the graph — same main-config threshold as
    // the defaults-false path, for each flag alone and both together
    val combos = Seq((true, false), (false, true), (true, true)).map {
      case (ec, kp) => Future {
        val cfg = NonLinearConfig.HNSWConfig(efConstruction = 100,
          maximumConnections = 40, maximumConnectionsZero = 80, efSearch = 16,
          metric = Algorithm.EuclideanDistance,
          extendCandidates = ec, keepPrunedConnections = kp)
        val idx = HnswIndex(Dim, cfg)
        ids.indices.foreach(i => idx.insert(ids(i), vecs(i)))
        val recalls = queries.map { q =>
          val got = idx.search(q, K, 16).map(_._1)
          val exp = bruteTopK(Algorithm.EuclideanDistance, ids, vecs, q, K).map(_._1)
          recallAtK(exp, got)
        }
        (s"extend=$ec keepPruned=$kp", recalls.sum / recalls.length)
      }
    }
    Await.result(Future.sequence(combos), 30.minutes).foreach { case (name, recall) =>
      info(f"$name: recall@$K = $recall%.4f (threshold 0.90)")
      assert(recall >= 0.90, f"$name recall@$K = $recall%.4f < 0.90")
    }
  }

  test("Algorithm 4 flags keep graph determinism: identical rebuilds answer identically") {
    val cfg = NonLinearConfig.HNSWConfig(efConstruction = 50,
      maximumConnections = 12, maximumConnectionsZero = 24, efSearch = 32,
      metric = Algorithm.CosineSimilarity,
      extendCandidates = true, keepPrunedConnections = true)
    val (ids16, vecs16) = dataset(seed = 77L, n = 1500, dim = 16)
    def build() = {
      val idx = HnswIndex(16, cfg)
      ids16.indices.foreach(i => idx.insert(ids16(i), vecs16(i)))
      idx
    }
    val (a, b) = (build(), build())
    (0 until 10).foreach { i =>
      val q = vecs16(i * 57 % ids16.length)
      assert(a.search(q, 10, 32) == b.search(q, 10, 32),
        s"flags-on rebuild diverged on query $i")
    }
  }

  test("metric direction sanity: self-query returns self first (sift_dataset_validation.rs:119-130)") {
    val cfg = NonLinearConfig.HNSWConfig()
    for (metric <- Seq(Algorithm.EuclideanDistance, Algorithm.CosineSimilarity)) {
      val idx = HnswIndex(8, cfg.copy(metric = metric))
      val (ids8, vecs8) = dataset(seed = 9L, n = 200, dim = 8)
      ids8.indices.foreach(i => idx.insert(ids8(i), vecs8(i)))
      for (i <- Seq(0, 50, 199)) {
        val got = idx.search(vecs8(i), 1, 64)
        assert(got.head._1 == ids8(i), s"$metric self-query failed for $i")
      }
    }
  }
}
