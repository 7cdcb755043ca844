package graft.ann

import org.apache.spark.util.sketch.BloomFilter

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * Recall of the DISTRIBUTED ANN path — the id-hash sharded index's
 * shard+merge ([[RoutedAnnIndex.buildHashed]]) and its mutation tiers
 * (tombstones + exact overlay tails) — at non-degenerate shard sizes
 * (10 000 × 128-d over 16 shards ≈ 625 vectors/shard, so every per-shard
 * HNSW graph is a real small-world graph, not a complete graph).
 *
 * This is the missing half of [[RecallSpec]] (which exercises the monolithic
 * `HnswIndex` directly): the reference validates the whole index it serves
 * (similarity/src/tests/sift_dataset_validation.rs:100-113), so we must
 * validate the sharded composite users actually query, including
 *  - the merged top-k across shards at the reference threshold
 *    (Recall@50 ≥ 0.90 at M=40/M0=80/efC=100, hnsw.md:1026-1093);
 *  - recall surviving a mutation (deleted ids tombstoned, inserts in tails);
 *  - the >4096 Bloom accept-set arm with false-positive slack + exact
 *    post-verification (the [[AnnSearch]] large-filter plan).
 */
class ShardedRecallSpec extends AnyFunSuite {

  private val N = 10000
  private val Dim = 128
  private val NQueries = 100
  private val K = 50
  private val Shards = 16

  private lazy val (ids, vecs, gen) = siftLikeDataset(seed = 4242L, n = N, dim = Dim)
  private lazy val queries: Array[Array[Float]] =
    Array.tabulate(NQueries)(i => gen((N + i).toLong))

  private val cfg = NonLinearConfig.HNSWConfig(efConstruction = 100,
    maximumConnections = 40, maximumConnectionsZero = 80,
    efSearch = 16, metric = Algorithm.CosineSimilarity)

  private def toDf(ids: Array[Long], vecs: Array[Array[Float]]) = {
    val s = spark
    import s.implicits._
    ids.indices.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
  }

  private def meanRecall(index: RoutedAnnIndex, allIds: Array[Long],
      allVecs: Array[Array[Float]]): Double = {
    val recalls = queries.map { q =>
      val got = index.search(q, K, index.numShards).map(_._1)
      val exp = bruteTopK(cfg.metric, allIds, allVecs, q, K).map(_._1)
      recallAtK(exp, got)
    }
    recalls.sum / recalls.length
  }

  // one sharded build shared by the tests (#2 mutates its own build: a
  // maintenance step releases its predecessor's cached shards)
  private lazy val index: RoutedAnnIndex =
    RoutedAnnIndex.buildHashed(toDf(ids, vecs), Dim, cfg, numShards = Shards)

  test("sharded build: merged Recall@50 >= 0.90 at M=40/M0=80/efC=100 (16 shards, ~625 vectors/shard)") {
    assert(index.numShards == Shards,
      s"explicit numShards=$Shards was adjusted to ${index.numShards} — shard-size premise broken")
    val r = meanRecall(index, ids, vecs)
    info(f"sharded recall@$K = $r%.4f over $NQueries queries")
    assert(r >= 0.90, f"sharded recall@$K = $r%.4f < 0.90")
  }

  test("delta-patch: recall holds after deleting + inserting in touched buckets; deleted ids never surface") {
    // mutate buckets 3 and 7: drop every id < 2000 in them, add 200 new
    // vectors whose ids land in the same buckets (pmod(id, 16) ∈ {3, 7})
    val touched = Set(3, 7)
    val deleted = ids.filter(id => id < 2000 && touched.contains((id % Shards).toInt)).toSet
    val base = ((N + NQueries + Shards - 1) / Shards) * Shards // multiple of 16 past all live ids
    val addedIds = Array.tabulate(100)(i => (base + i * Shards + 3).toLong) ++
      Array.tabulate(100)(i => (base + i * Shards + 7).toLong)
    assert(addedIds.forall(id => touched.contains((id % Shards).toInt)))
    val addedVecs = addedIds.map(id => gen(id))

    val keepMask = ids.indices.filter(i => !deleted.contains(ids(i)))
    val newIds = keepMask.map(ids).toArray ++ addedIds
    val newVecs = keepMask.map(vecs).toArray ++ addedVecs
    val built = RoutedAnnIndex.buildHashed(toDf(ids, vecs), Dim, cfg, numShards = Shards)
    val patched = built.delete(deleted.toSeq).index
      .append(toDf(addedIds, addedVecs)).get
    try {
      assert(deleted.nonEmpty && addedIds.length == 200)
      val r = meanRecall(patched, newIds, newVecs)
      info(f"post-patch recall@$K = $r%.4f (deleted ${deleted.size}, added ${addedIds.length})")
      assert(r >= 0.90, f"post-patch recall@$K = $r%.4f < 0.90")
      queries.take(20).foreach { q =>
        val got = patched.search(q, K, patched.numShards).map(_._1)
        assert(!got.exists(deleted.contains), "deleted id surfaced after patch")
      }
    } finally patched.unpersist()
  }

  test("save/load cycle: restored shards answer identically, so recall carries over") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sharded-artifacts").toString
    RoutedAnnIndex.save(index, dir, "v1")
    val loaded = RoutedAnnIndex.load(spark, dir, cfg, "v1")
    assert(loaded.isDefined, "artifacts failed to load")
    try {
      // bit-identical graphs => identical merged top-k per query; recall at
      // the non-degenerate shard size therefore equals the build's (>= 0.90,
      // asserted above) — checked directly too
      queries.take(20).foreach { q =>
        assert(loaded.get.search(q, K, Shards) == index.search(q, K, Shards),
          "restored sharded index diverges from the built one")
      }
      val r = meanRecall(loaded.get, ids, vecs)
      info(f"post-restore recall@$K = $r%.4f")
      assert(r >= 0.90, f"post-restore recall@$K = $r%.4f < 0.90")
    } finally loaded.get.unpersist()
  }

  test("Bloom accept arm (>4096 ids): slack + exact post-verify reaches Recall@50 >= 0.90") {
    // accept set = even ids (5000 > BruteForceCutover) — the AnnSearch plan:
    // Bloom sketch, per-shard search with false-positive slack, exact verify
    val accept: Long => Boolean = id => (id & 1L) == 0L
    val acceptedIds = ids.filter(accept)
    assert(acceptedIds.length > AnnSearch.BruteForceCutover)
    val bloom = BloomFilter.create(acceptedIds.length.toLong, 0.001)
    acceptedIds.foreach(bloom.putLong)
    val recalls = queries.map { q =>
      val hits = index.search(q, K + AnnSearch.FalsePositiveSlack, Shards, IdFilter.Bloom(bloom))
      val got = hits.filter(h => accept(h._1)).take(K).map(_._1) // exact re-verify
      val exp = bruteTopK(cfg.metric, ids, vecs, q, K, accept).map(_._1)
      recallAtK(exp, got)
    }
    val r = recalls.sum / recalls.length
    info(f"filtered (Bloom, 5000 accepted) recall@$K = $r%.4f")
    assert(r >= 0.90, f"Bloom-filtered recall@$K = $r%.4f < 0.90")
  }

  test("a long append/delete chain keeps the shards' lineage bounded and results exact") {
    // every maintenance step chains a new RDD onto its predecessor's
    // shards; the chain must be cut, or each search task carries the whole
    // mutation history
    val dim = 8
    val rnd = new scala.util.Random(77L)
    val v = Array.fill(600)(Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val exact = cfg.copy(efSearch = 4096)
    var idx = RoutedAnnIndex.buildHashed(
      toDf(Array.tabulate(200)(_.toLong), v.take(200)), dim, exact, numShards = 2)
    val depths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val deleted = scala.collection.mutable.Set.empty[Long]
    (200 until 500).foreach { i =>
      idx = idx.append(toDf(Array(i.toLong), Array(v(i)))).get
      if (i % 50 == 0) { // force a delete compaction too
        deleted += (i - 100).toLong
        idx = idx.delete(Seq((i - 100).toLong), maxTombstones = 0).index
      }
      depths += idx.shards.toDebugString.linesIterator.size
    }
    val early = depths.take(2 * graft.engine.GraftEngine.LineageCheckpointEvery).max
    val late = depths.takeRight(50).max
    info(s"lineage depth: max $early over the first steps, max $late over the last 50")
    assert(late <= 2 * early,
      s"shard lineage grew with the mutation chain:\n${idx.shards.toDebugString}")
    val live = (0L until 500L).filterNot(deleted).toArray
    val fresh = RoutedAnnIndex.buildHashed(
      toDf(live, live.map(i => v(i.toInt))), dim, exact, numShards = 2)
    try (0 until 20).foreach { i =>
      val q = v(rnd.nextInt(600))
      assert(idx.search(q, 10, 2) == fresh.search(q, 10, 2),
        s"maintained index diverges from a fresh build (query $i)")
    } finally { idx.unpersist(); fresh.unpersist() }
  }
}
