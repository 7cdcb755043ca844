package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * The recallTarget SERVING rule ([[AnnSearch.effectiveProbes]] — the
 * round-13 advice fix, pinned directly): a calibrated curve answers only
 * on its measured operating point (unfiltered, n ≤ recallK); off it the
 * floor guarantee widens to exhaustive probes instead of silently
 * under-delivering.
 */
class AnnSearchSpec extends AnyFunSuite {

  private val Dim = 16
  private val Shards = 4
  private lazy val (ids, vecs, _) = siftLikeDataset(seed = 31L, n = 600, dim = Dim)

  private val hnsw = NonLinearConfig.HNSWConfig(efSearch = 64,
    metric = Algorithm.CosineSimilarity)

  private lazy val calibrated: RoutedAnnIndex = {
    val s = spark
    import s.implicits._
    val df = ids.indices.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
    RoutedAnnIndex.build(df, Dim, hnsw, numShards = Shards, iters = 2)
      .calibrate(nQueries = 16, k = 5, ladderIn = Seq(1, 2))
  }

  test("effectiveProbes: raw probes without a target; curve on the operating point; widen off it") {
    val raw = NonLinearConfig.RoutedHNSWConfig(hnsw = hnsw,
      numShards = Shards, probes = 2)
    // no recallTarget: the raw knob, filtered or not
    assert(AnnSearch.effectiveProbes(raw, calibrated, 3, filtered = false) == 2)
    assert(AnnSearch.effectiveProbes(raw, calibrated, 3, filtered = true) == 2)
    val targeted = raw.copy(recallTarget = Some(0.5))
    assert(calibrated.recallK == 5)
    // ON the operating point (unfiltered, n <= recallK): curve-selected
    val fromCurve = calibrated.probesFor(0.5)
    assert(AnnSearch.effectiveProbes(targeted, calibrated, 5, filtered = false)
      == fromCurve)
    // n > recallK: recall@n < recall@recallK at fixed probes — widen
    assert(AnnSearch.effectiveProbes(targeted, calibrated, 6, filtered = false)
      == calibrated.numShards)
    // any predicate filter: the curve was measured unfiltered — widen
    assert(AnnSearch.effectiveProbes(targeted, calibrated, 3, filtered = true)
      == calibrated.numShards)
  }

  test("filteredRoute: three-way dispatch on the known accept cardinality") {
    import AnnSearch.FilteredRoute._
    // the absolute reference rule (≤4096) is the floor, regardless of size
    assert(AnnSearch.filteredRoute(4096, 1000000, scannable = true) == Exact)
    assert(AnnSearch.filteredRoute(10, 0, scannable = false) == Exact)
    // sharp band: above 4096, at or below FilteredScanFraction of live rows
    assert(AnnSearch.filteredRoute(4097, 1000000, scannable = true) == SliceScan)
    assert(AnnSearch.filteredRoute(100000, 1000000, scannable = true) == SliceScan,
      "the boundary (exactly 10%) scans — <= like the batch join")
    assert(AnnSearch.filteredRoute(100001, 1000000, scannable = true) == Graph)
    // the 100×-scale story the absolute rule missed: a 5% predicate on a
    // 20M-row store is 1M accepted ids — far above 4096, still sharp
    assert(AnnSearch.filteredRoute(1000000, 20000000, scannable = true) == SliceScan)
    // no scan arm (KD-tree: filtered search is already exact) or an
    // unknown live count keep the index arm — the conservative direction
    assert(AnnSearch.filteredRoute(4097, 1000000, scannable = false) == Graph)
    assert(AnnSearch.filteredRoute(4097, 0, scannable = true) == Graph)
  }

  test("scanSearch == exact brute force over the accepted slice (routed + hash-sharded; kd refuses)") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(300, 0.001)
    ids.filter(_ % 2 == 0).foreach(bf.putLong)
    val f = IdFilter.Bloom(bf, ids.count(_ % 2 == 0))
    val accept: Long => Boolean = bf.mightContainLong _
    val q = vecs.head.map(v => v * 0.9f + 0.01f)
    val expect = bruteTopK(Algorithm.CosineSimilarity, ids, vecs, q, 10, accept)
    // routed arm: all-shard exact scan, replica-deduped driver merge
    val gotRouted = calibrated.scanSearch(q, 10, f)
    assert(gotRouted.map(_._1) == expect.map(_._1),
      s"routed scanSearch diverged from brute force: $gotRouted vs $expect")
    gotRouted.zip(expect).foreach { case ((_, c), (_, e)) =>
      assert(math.abs(c - e) < 1e-12, "scan closeness must be the exact kernel") }
    // id-hash sharded HNSW arm
    val s = spark
    import s.implicits._
    val df = ids.indices.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
    val hashIdx = RoutedAnnIndex.buildHashed(df, Dim, hnsw, numShards = 4)
    try {
      val gotHash = hashIdx.scanSearch(q, 10, f)
      assert(gotHash.map(_._1) == expect.map(_._1))
      // a KD-tree index has no scan arm (its filtered search is exact)
      val kd = RoutedAnnIndex.buildHashed(df, Dim, NonLinearConfig.KDTreeConfig(), numShards = 4)
      try intercept[graft.types.GraftException](kd.scanSearch(q, 10, f))
      finally kd.unpersist()
    } finally hashIdx.unpersist()
  }

  test("scanSearch composes the tombstone filter (a tombstoned id never surfaces from the slice)") {
    val victim = bruteTopK(Algorithm.CosineSimilarity, ids, vecs,
      vecs.head, 1, null).head._1
    val deleted = calibrated.delete(Seq(victim)).index
    val got = deleted.scanSearch(vecs.head, 10, null)
    assert(!got.exists(_._1 == victim), "tombstoned id surfaced from the scan")
    val expect = bruteTopK(Algorithm.CosineSimilarity, ids, vecs,
      vecs.head, 10, id => id != victim)
    assert(got.map(_._1) == expect.map(_._1))
  }

  test("effectiveProbes: uncalibrated index or a 1.0 target serve exhaustively (probesFor's floor rule)") {
    val s = spark
    import s.implicits._
    val df = ids.indices.take(200).map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
    val uncal = RoutedAnnIndex.build(df, Dim, hnsw, numShards = Shards, iters = 2)
    try {
      val targeted = NonLinearConfig.RoutedHNSWConfig(hnsw = hnsw,
        numShards = Shards, probes = 1, recallTarget = Some(0.5))
      assert(AnnSearch.effectiveProbes(targeted, uncal, 3, filtered = false)
        == uncal.numShards, "uncalibrated must fall back to exhaustive")
      val certify = targeted.copy(recallTarget = Some(1.0))
      assert(AnnSearch.effectiveProbes(certify, calibrated, 3, filtered = false)
        == calibrated.numShards, "a 1.0 target is always exhaustive")
    } finally uncal.unpersist()
  }
}
