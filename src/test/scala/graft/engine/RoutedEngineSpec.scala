package graft.engine

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.types._
import graft.types.MetadataValue.RawString
import graft.types.PredicateCondition._

/**
 * The coarse-ROUTED sharded HNSW ("hnsw_routed" extension kind) through
 * the reference-parity engine surface: CreateNonLinearAlgorithmIndex /
 * GetSimN / DropNonLinearAlgorithmIndex / persistence restart — so the
 * 100 TB read path ([[graft.ann.RoutedAnnIndex]]) is reachable from the
 * same API the reference's clients hold, not only the extension DSL.
 * Recall-vs-probes curves live in RoutedAnnSpec / ScaleRecall; this spec
 * pins DISPATCH and LIFECYCLE semantics.
 */
class RoutedEngineSpec extends AnyFunSuite {

  private val Dim = 16
  private val N = 400

  private def meta(kvs: (String, String)*): Map[String, MetadataValue] =
    kvs.map { case (k, v) => k -> (RawString(v): MetadataValue) }.toMap

  private def vecs(seed: Long, n: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(Dim)(rnd.nextFloat() * 2f - 1f))
  }

  // exhaustive probes + beam >> rows/shard => exact (the oracle identity)
  private val exactCfg = NonLinearConfig.RoutedHNSWConfig(
    hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
    numShards = 8, probes = 8)

  private def freshRouted(name: String,
      cfg: NonLinearConfig.RoutedHNSWConfig = exactCfg): GraftEngine = {
    val e = new GraftEngine(spark)
    e.createStore(name, Dim, predicates = Set("tag"))
    e.setSeq(name, vecs(7L, N).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString, "tag" -> (if (i % 3 == 0) "odd" else "even")))
    })
    e.createNonLinearIndex(name, Seq(cfg))
    e
  }

  test("Algorithm.HNSW dispatches to the routed index and, exhaustive, equals linear cosine") {
    val e = freshRouted("r1")
    val q = vecs(99L, 1).head
    val routed = e.getSimN("r1", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq
    val linear = e.getSimN("r1", q, 10, Algorithm.CosineSimilarity)
      .select("key", "similarity").collect().toSeq
    assert(routed == linear,
      "exhaustive routed GetSimN must equal the linear cosine top-k")
    e.dropStore("r1")
  }

  test("GetStore lists the routed index kind with its config description") {
    val e = freshRouted("r2")
    val info = e.getStore("r2")
    assert(info.nonLinearIndexes == Seq("hnsw_routed"))
    assert(info.nonLinearConfigs.exists(_.startsWith("hnsw_routed(shards=8,probes=8")))
    e.dropStore("r2")
  }

  test("predicate-filtered GetSimN works through the routed dispatch (both arms)") {
    val e = freshRouted("r3")
    val q = vecs(99L, 1).head
    // small accept set -> brute-force cutover arm (<= 4096 rows): exact
    val filtered = e.getSimN("r3", q, 5, Algorithm.HNSW,
      Some(Equals("tag", RawString("odd")))).collect()
    assert(filtered.length == 5)
    filtered.foreach { r =>
      val tag = r.getAs[Map[String, org.apache.spark.sql.Row]]("value")("tag")
      assert(tag.getString(1) == "odd")
    }
    // empty accept set short-circuits, never touches the index
    assert(e.getSimN("r3", q, 5, Algorithm.HNSW,
      Some(Equals("tag", RawString("nope")))).count() == 0)
    e.dropStore("r3")
  }

  test("insert-only Set APPENDS to the live routed index (overlay, not rebuild)") {
    val e = freshRouted("ra")
    // force the lazy structure to attach, then count its overlay rows
    e.getSimN("ra", vecs(99L, 1).head, 1, Algorithm.HNSW).count()
    val before = e.ensureRoutedIndex("ra").get._1
    assert(before.patchedRows == 0L)
    // brand-new vectors: insert-only batch
    val fresh = vecs(555L, 20)
    e.setSeq("ra", fresh.zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> s"new$i")) })
    val after = e.ensureRoutedIndex("ra").get._1
    assert(after.patchedRows == 20L,
      s"insert-only Set should overlay 20 rows, got ${after.patchedRows}")
    // the appended rows answer exactly (overlay tails are brute force)
    val top = e.getSimN("ra", fresh.head, 1, Algorithm.HNSW).collect().head
    assert(top.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
      .getString(1) == "new0")
    // metadata-only re-Set (same vectors): index stays live, zero new rows
    e.setSeq("ra", Seq((fresh.head, meta("i" -> "renamed"))))
    val after2 = e.ensureRoutedIndex("ra").get._1
    assert(after2.patchedRows == 20L, "metadata-only Set must not grow the overlay")
    val top2 = e.getSimN("ra", fresh.head, 1, Algorithm.HNSW).collect().head
    assert(top2.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
      .getString(1) == "renamed", "hydration must serve the updated metadata")
    // a DELETE TOMBSTONES (round 13): the structure stays live — same
    // overlay, same centroids, one hidden id — and never serves the row
    val preDelete = e.ensureRoutedIndex("ra").get._1
    e.delKey("ra", Seq(fresh.head))
    val after3 = e.ensureRoutedIndex("ra").get._1
    assert(after3.centroids eq preDelete.centroids,
      "DelKey must tombstone, not recluster (centroids must be reused)")
    assert(after3.patchedRows == 20L,
      "tombstone delete must keep the overlay intact")
    assert(after3.tombstones.length == 1, "one deleted id = one tombstone")
    val top3 = e.getSimN("ra", fresh.head, 1, Algorithm.HNSW).collect().head
    assert(top3.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
      .getString(1) != "renamed", "deleted row served from the routed index")
    // re-Setting the same vector resurrects the id: the append clears its
    // tombstone (same content id = same vector) and the row serves again
    e.setSeq("ra", Seq((fresh.head, meta("i" -> "reborn"))))
    val after4 = e.ensureRoutedIndex("ra").get._1
    assert(after4.tombstones.isEmpty, "re-inserted id must clear its tombstone")
    val top4 = e.getSimN("ra", fresh.head, 1, Algorithm.HNSW).collect().head
    assert(top4.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
      .getString(1) == "reborn", "re-inserted row must serve again")
    e.dropStore("ra")
  }

  test("DelPred tombstones; Upsert tombstones old + overlays new; exhaustive = linear throughout") {
    val e = freshRouted("rdel")
    def routedEqualsLinear(q: Array[Float], clue: String): Unit = {
      val routed = e.getSimN("rdel", q, 10, Algorithm.HNSW)
        .select("key", "similarity").collect().toSeq
      val linear = e.getSimN("rdel", q, 10, Algorithm.CosineSimilarity)
        .select("key", "similarity").collect().toSeq
      assert(routed == linear, s"routed != linear after $clue")
    }
    val q = vecs(99L, 1).head
    e.getSimN("rdel", q, 1, Algorithm.HNSW).count() // attach the structure
    val before = e.ensureRoutedIndex("rdel").get._1
    // DelPred: matched ids are collected (bounded) and handed to the
    // delete tier — a third of the store exceeds the tombstone-fraction
    // guard, so this lands in LOCAL COMPACTION: rows physically removed,
    // tombstone set clear, centroids untouched (never a recluster)
    val nDeleted = e.delPred("rdel", Equals("tag", RawString("odd")))
    assert(nDeleted > 0)
    val afterPred = e.ensureRoutedIndex("rdel").get._1
    assert(afterPred.centroids eq before.centroids,
      "bounded DelPred must tombstone/compact, not recluster")
    assert(afterPred.tombstones.isEmpty && afterPred.storedRows == N - nDeleted,
      "a guard-tripping delete must compact: rows removed, tombstones clear")
    routedEqualsLinear(q, "DelPred")
    // Upsert with a new key: old id tombstoned, new row overlaid — the
    // index is maintained in O(1), never invalidated
    val victim = e.getSimN("rdel", q, 1, Algorithm.HNSW).collect().head
      .getAs[scala.collection.Seq[Float]]("key").toArray
    val replacementKey = vecs(777L, 1).head
    e.upsert("rdel", Equals("i", RawString(
      e.getKey("rdel", Seq(victim)).collect().head
        .getAs[Map[String, org.apache.spark.sql.Row]]("value")("i").getString(1))),
      newKey = Some(replacementKey))
    val afterUp = e.ensureRoutedIndex("rdel").get._1
    assert(afterUp.centroids eq before.centroids,
      "Upsert must maintain (tombstone + overlay), not recluster")
    routedEqualsLinear(q, "Upsert(newKey)")
    routedEqualsLinear(replacementKey, "Upsert(newKey) at the new key")
    // metadata-only Upsert: the indexed (id, vector) rows are unchanged —
    // the index instance is KEPT as-is
    val keepBefore = e.ensureRoutedIndex("rdel").get._1
    e.upsert("rdel", Equals("i", RawString("1")),
      newValue = Some(meta("i" -> "1", "tag" -> "retagged")),
      mergeMetadata = true)
    assert(e.ensureRoutedIndex("rdel").get._1 eq keepBefore,
      "metadata-only Upsert must keep the routed index untouched")
    routedEqualsLinear(q, "Upsert(metadata-only)")
    e.dropStore("rdel")
  }

  test("DelPred PAST the routed delete cap invalidates whole; the next search reclusters lazily over survivors") {
    // the cap is session-overridable (spark.graft.routedDeleteCap) so the
    // whole-invalidate arm is testable without a 65k-row fixture; the
    // measured first-search latency cliff behind this path is the
    // ScaleDelete `cliff` arm (SCALE.md round 14)
    spark.conf.set("spark.graft.routedDeleteCap", "8")
    try {
      val e = freshRouted("rcap")
      e.getSimN("rcap", vecs(99L, 1).head, 1, Algorithm.HNSW).count()
      val before = e.ensureRoutedIndex("rcap").get._1
      // tag=odd matches ~N/3 (~133) rows >> cap=8 → whole invalidate
      val deleted = e.delPred("rcap", Equals("tag", RawString("odd")))
      assert(deleted > 8, s"fixture must delete past the cap, got $deleted")
      val q = vecs(99L, 1).head
      // FIRST search after: pays the lazy recluster, serves exactly the
      // linear top-k over the survivors (never a stale or partial index)
      val routed = e.getSimN("rcap", q, 10, Algorithm.HNSW)
        .select("key", "similarity").collect().toSeq
      val linear = e.getSimN("rcap", q, 10, Algorithm.CosineSimilarity)
        .select("key", "similarity").collect().toSeq
      assert(routed == linear,
        "post-invalidate first search must equal linear over survivors")
      val rebuilt = e.ensureRoutedIndex("rcap").get._1
      assert(!(rebuilt eq before),
        "a past-cap DelPred must invalidate the structure (fresh rebuild), " +
          "not maintain the old one")
      assert(rebuilt.tombstones.isEmpty && rebuilt.patchedRows == 0L,
        "the lazy recluster starts clean — no carried tombstones/overlays")
      e.dropStore("rcap")
    } finally spark.conf.unset("spark.graft.routedDeleteCap")
  }

  test("sq8 storage through the engine: dispatch exact after rescore; GetStore describes it") {
    val e = freshRouted("rq8", exactCfg.copy(storage = "sq8"))
    val q = vecs(99L, 1).head
    // quantized graphs + slack over-fetch + exact hydration rescore ==
    // linear cosine at exhaustive probes (the vdb_sim_hnsw_routed_sq8
    // oracle identity, pinned here at unit scale)
    val routed = e.getSimN("rq8", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq
    val linear = e.getSimN("rq8", q, 10, Algorithm.CosineSimilarity)
      .select("key", "similarity").collect().toSeq
    assert(routed == linear,
      "sq8 routed GetSimN (rescored) must equal the linear cosine top-k")
    assert(e.ensureRoutedIndex("rq8").get._1.quantized)
    assert(e.getStore("rq8").nonLinearConfigs.exists(_.contains("storage=sq8")))
    // unknown storage strings fail loudly at create
    intercept[GraftException] {
      e.createNonLinearIndex("rq8", Seq(exactCfg.copy(storage = "pq4")))
    }
    e.dropStore("rq8")
  }

  test("pq storage through the engine: dispatch exact after rescore at the wider slack; GetStore describes it; bad splits refuse at create") {
    val e = freshRouted("rpq", exactCfg.copy(storage = "pq"))
    val q = vecs(99L, 1).head
    // PQ graphs (bare "pq" at dim 16 → pq(m=2,ksub=256)) + the WIDER PQ
    // slack over-fetch + exact hydration rescore == linear cosine at
    // exhaustive probes (the vdb_sim_hnsw_routed_pq oracle identity,
    // pinned here at unit scale)
    val routed = e.getSimN("rpq", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq
    val linear = e.getSimN("rpq", q, 10, Algorithm.CosineSimilarity)
      .select("key", "similarity").collect().toSeq
    assert(routed == linear,
      "pq routed GetSimN (rescored) must equal the linear cosine top-k")
    val idx = e.ensureRoutedIndex("rpq").get._1
    assert(idx.quantized && idx.spec == graft.ann.StorageSpec.Pq(2, 256))
    assert(idx.storage.rescoreSlack > graft.ann.NodeStorage.Sq8.rescoreSlack,
      "PQ hydration must over-fetch a wider slack than SQ8")
    assert(e.getStore("rpq").nonLinearConfigs.exists(_.contains("storage=pq")))
    // a pq split that does not divide the dimension refuses AT CREATE
    intercept[GraftException] {
      e.createNonLinearIndex("rpq2x",
        Seq(exactCfg.copy(storage = "pq(m=3,ksub=64)")))
    }
    // recall=1.0 under pq is refused like sq8 (certification needs exact)
    intercept[GraftException] {
      e.createNonLinearIndex("rpq3x",
        Seq(exactCfg.copy(storage = "pq", recallTarget = Some(1.0))))
    }
    e.dropStore("rpq")
  }

  test("low-dim pruned-probe PQ WARNS but still creates and serves (round-16 guard is advisory, never a refusal)") {
    // Dim=16 < PqLowDimWarnBelow, probes 2 of 8 pruned, no recall target
    // — the warned configuration (StorageSpec.lowDimPqWarning pins the
    // rule itself; this pins that the engine's reaction is a log line,
    // not an exception: low-dim PQ is a legitimate byte-budget choice)
    val e = freshRouted("lowpq", exactCfg.copy(probes = 2, storage = "pq"))
    val q = vecs(42L, 1).head
    assert(e.getSimN("lowpq", q, 5, Algorithm.HNSW).count() == 5)
    assert(e.getStore("lowpq").nonLinearIndexes.contains("hnsw_routed"))
    e.dropStore("lowpq")
    ()
  }

  test("serving-k ladder: an n=50 recall-targeted search serves PRUNED probes off the k=50 curve (round-15 rule)") {
    // clustered store: 8 tight clusters → routing concentrates each
    // query's true top-50 inside its home shard, so the k=50 curve has
    // a pruned point meeting the target at the LCB — which the OLD
    // single-k rule could never serve (any n > 10 widened to exhaustive)
    val rnd = new scala.util.Random(31L)
    val centers = Seq.fill(8)(Array.fill(Dim)(rnd.nextFloat() * 8f - 4f))
    val cfg = NonLinearConfig.RoutedHNSWConfig(
      hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
      numShards = 8, probes = 1, recallTarget = Some(0.9))
    val e = new GraftEngine(spark)
    e.createStore("rk50", Dim)
    e.setSeq("rk50", (0 until 400).map { i =>
      (centers(i % 8).map(_ + rnd.nextFloat() * 0.05f), meta("i" -> i.toString))
    })
    e.createNonLinearIndex("rk50", Seq(cfg))
    val (idx, c2) = e.ensureRoutedIndex("rk50").get
    // the engine calibrated the default serving-k ladder {10, 50}
    assert(idx.recallCurves.map(_._1).toSeq == Seq(10, 50),
      s"expected the {10,50} ladder, got ${idx.recallCurves.map(_._1).toSeq}")
    assert(idx.recallK == 10 && idx.maxRecallK == 50)
    // the serving rule reads the k=50 curve for an n=50 request...
    val chosen = graft.ann.AnnSearch.effectiveProbes(c2, idx, n = 50,
      filtered = false)
    assert(chosen == idx.probesForN(0.9, 50))
    // ...and on this clustered corpus that point is PRUNED
    assert(chosen < idx.numShards,
      s"clustered fixture must serve n=50 pruned, chose $chosen/8 shards")
    // n past the ladder still widens to exhaustive (no covering curve)
    assert(graft.ann.AnnSearch.effectiveProbes(c2, idx, n = 51,
      filtered = false) == idx.numShards)
    // measured floor on EXTERNAL queries at the served operating point
    val rs = (0 until 20).map { qi =>
      val q = centers(qi % 8).map(_ + rnd.nextFloat() * 0.05f)
      val got = e.getSimN("rk50", q, 50, Algorithm.HNSW)
        .select("key").collect().map(_.getSeq[Float](0)).toSet
      val exp = e.getSimN("rk50", q, 50, Algorithm.CosineSimilarity)
        .select("key").collect().map(_.getSeq[Float](0)).toSet
      (got & exp).size.toDouble / exp.size
    }
    val mean = rs.sum / rs.length
    info(f"n=50 recall-targeted GetSimN at $chosen/8 probes: recall $mean%.4f")
    assert(mean >= 0.85, f"n=50 served recall $mean%.4f << 0.9 target")
    e.dropStore("rk50")
  }

  test("mutation keeps the routed index FRESH; the next search sees new rows") {
    val e = freshRouted("r4")
    val probe = Array.fill(Dim)(0.9f)
    val before = e.getSimN("r4", probe, 1, Algorithm.HNSW)
      .collect().head.getAs[Float]("similarity")
    // insert an exact-match vector: whichever maintenance path fires
    // (overlay append for this insert-only batch, or invalidate+recluster
    // when a guard trips), a stale index could not surface the new row
    e.setSeq("r4", Seq((probe, meta("i" -> "new"))))
    val after = e.getSimN("r4", probe, 1, Algorithm.HNSW).collect().head
    assert(after.getAs[Float]("similarity") > before,
      "post-mutation routed search must include the inserted row")
    val tag = after.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
    assert(tag.getString(1) == "new")
    e.dropStore("r4")
  }

  test("a row deleted and set again is one result row: GetSimN still returns n distinct rows") {
    // the re-set id lives twice in its shard — as a stale graph node whose
    // tombstone the Set cleared, and in the overlay tail — and one-shard
    // probes give the driver merge no other shard to fill the gap from
    val rnd = new scala.util.Random(300L)
    val rows = Seq.fill(300)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    for (shards <- Seq(1, 2); persistent <- Seq(false, true)) {
      val root =
        if (persistent) Some(Files.createTempDirectory("graft-reset").toString) else None
      val e = new GraftEngine(spark, root)
      e.createStore("rs", 8)
      e.setSeq("rs", rows.zipWithIndex.map { case (v, i) => (v, meta("i" -> i.toString)) })
      e.createNonLinearIndex("rs", Seq(NonLinearConfig.RoutedHNSWConfig(
        numShards = shards, probes = 1)))
      val x = rows(5)
      assert(e.delKey("rs", Seq(x)) == 1)
      e.setSeq("rs", Seq((x, meta("i" -> "back"))))
      val got = e.getSimN("rs", x, 10, Algorithm.HNSW).collect()
      val where = s"shards=$shards persistent=$persistent"
      assert(got.length == 10, s"$where: ${got.length} rows")
      assert(got.map(_.getSeq[Float](0)).distinct.length == 10, s"$where: repeated rows")
      assert(got.head.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
        .getString(1) == "back", s"$where: the re-set row is not first")
      e.purgeStores()
      root.foreach(Persistence.deleteDir)
    }
  }

  test("drop lifecycle: dropping hnsw_routed makes Algorithm.HNSW fail; idempotency counts") {
    val e = freshRouted("r5")
    assert(e.dropNonLinearIndex("r5", Set("hnsw_routed")) == 1)
    intercept[GraftException](
      e.getSimN("r5", vecs(1L, 1).head, 3, Algorithm.HNSW))
    assert(e.dropNonLinearIndex("r5", Set("hnsw_routed"),
      errorIfNotExists = false) == 0)
    // re-create after drop works
    assert(e.createNonLinearIndex("r5", Seq(exactCfg)) == 1)
    assert(e.getSimN("r5", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("r5")
  }

  test("persistence: config + artifacts survive restart; post-mutation restart rebuilds fresh") {
    val root = Files.createTempDirectory("graft-routed-persist").toString
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("rp", Dim)
    e1.setSeq("rp", vecs(7L, N).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    e1.createNonLinearIndex("rp", Seq(exactCfg))
    val q = vecs(99L, 1).head
    val expect = e1.getSimN("rp", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq

    // restart: config restored from the catalog, structure lazily attached
    // from the stamped artifacts on first search
    val e2 = GraftEngine.load(spark, root)
    assert(e2.getStore("rp").nonLinearIndexes == Seq("hnsw_routed"))
    val got = e2.getSimN("rp", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq
    assert(got == expect, "restored routed index diverges")

    // mutate THEN restart: the version-stamped artifact is stale, the next
    // search must rebuild over the new generation and see the new row
    e2.setSeq("rp", Seq((q, meta("i" -> "new"))))
    val e3 = GraftEngine.load(spark, root)
    val top = e3.getSimN("rp", q, 1, Algorithm.HNSW).collect().head
    val tag = top.getAs[Map[String, org.apache.spark.sql.Row]]("value")("i")
    assert(tag.getString(1) == "new",
      "post-mutation restart must not serve the stale routed artifact")
    e3.purgeStores()
  }

  test("routed config declared AT CREATE time builds lazily on the first HNSW search") {
    val e = new GraftEngine(spark)
    e.createStore("rc", Dim, nonLinearIndexes = Seq(exactCfg))
    assert(e.getStore("rc").nonLinearIndexes == Seq("hnsw_routed"))
    // explicit CreateNonLinearAlgorithmIndex on an EMPTY store records the
    // config and defers the build too (k-means needs >= 1 row)
    val e2 = new GraftEngine(spark)
    e2.createStore("rc2", Dim)
    assert(e2.createNonLinearIndex("rc2", Seq(exactCfg)) == 1)
    assert(e2.getStore("rc2").nonLinearIndexes == Seq("hnsw_routed"))
    assert(e2.getSimN("rc2", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 0)
    e2.setSeq("rc2", vecs(8L, 32).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    assert(e2.getSimN("rc2", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e2.dropStore("rc2")
    // EMPTY indexed store: search returns empty, never tries to train
    // k-means over zero rows
    assert(e.getSimN("rc", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 0)
    e.setSeq("rc", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    // no structure was built at create/set time; the search attaches it
    assert(e.getSimN("rc", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("rc")
  }

  test("DSL: CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8)) round-trips") {
    val e = new GraftEngine(spark)
    e.createStore("rd", Dim)
    e.setSeq("rd", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val res = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8)) IN rd")
    assert(res.forall(_.isRight), s"DSL create failed: $res")
    assert(e.getStore("rd").nonLinearIndexes == Seq("hnsw_routed"))
    assert(e.getSimN("rd", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    val res2 = graft.dsl.Pipeline.runDb(e,
      "DROPNONLINEARALGORITHMINDEX (hnsw_routed) IN rd")
    assert(res2.forall(_.isRight), s"DSL drop failed: $res2")
    assert(e.getStore("rd").nonLinearIndexes.isEmpty)
    e.dropStore("rd")
  }

  test("DSL: hnsw_routed(8, 8, sq8) and hnsw_routed(8, recall=0.9, sq8) parse to quantized configs") {
    val e = new GraftEngine(spark)
    e.createStore("rdq", Dim)
    e.setSeq("rdq", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val res = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8, sq8)) IN rdq")
    assert(res.forall(_.isRight), s"DSL sq8 create failed: $res")
    assert(e.ensureRoutedIndex("rdq").get._1.quantized,
      "sq8 keyword must build a quantized index")
    assert(e.getStore("rdq").nonLinearConfigs.exists(_.contains("storage=sq8")))
    assert(e.getSimN("rdq", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("rdq")
    // recall form with sq8 parses too — and a 1.0 target under sq8 is
    // refused at create (the engine-side certification rule)
    val parsed = graft.dsl.DslParser.parseDb(
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, recall=0.9, sq8)) IN x")
    parsed.head match {
      case graft.dsl.Command.CreateNonLinearAlgorithmIndex(_, cfgs, _) =>
        val r = cfgs.collectFirst {
          case c: NonLinearConfig.RoutedHNSWConfig => c }.get
        assert(r.storage == "sq8" && r.recallTarget.contains(0.9),
          s"recall+sq8 mis-parsed: $r")
      case other => fail(s"unexpected parse: $other")
    }
    e.createStore("rdq2", Dim)
    e.setSeq("rdq2", vecs(9L, 8).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val bad = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, recall=1.0, sq8)) IN rdq2")
    assert(bad.exists(_.isLeft), s"recall=1.0 + sq8 must be refused: $bad")
    e.dropStore("rdq2")
    // PQ storage forms (round 15): bare pq and pq(m=..,ksub=..) parse,
    // build quantized indexes, and describe themselves
    e.createStore("rdp", Dim)
    e.setSeq("rdp", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val pqRes = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8, pq(m=2,ksub=16))) IN rdp")
    assert(pqRes.forall(_.isRight), s"DSL pq create failed: $pqRes")
    val pqIdx = e.ensureRoutedIndex("rdp").get._1
    assert(pqIdx.quantized && pqIdx.spec == graft.ann.StorageSpec.Pq(2, 16),
      "pq(m,ksub) keyword must build a PQ index at the named split")
    assert(e.getStore("rdp").nonLinearConfigs
      .exists(_.contains("storage=pq(m=2,ksub=16)")))
    assert(e.getSimN("rdp", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("rdp")
    graft.dsl.DslParser.parseDb(
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, recall=0.9, pq)) IN x")
      .head match {
      case graft.dsl.Command.CreateNonLinearAlgorithmIndex(_, cfgs, _) =>
        val r = cfgs.collectFirst {
          case c: NonLinearConfig.RoutedHNSWConfig => c }.get
        assert(r.storage == "pq" && r.recallTarget.contains(0.9),
          s"recall+pq mis-parsed: $r")
      case other => fail(s"unexpected parse: $other")
    }
    // OPQ storage forms (round 16): bare opq and opq(m=..,ksub=..) parse
    // ("opq" must win over the "pq" alternative — distinct keywords),
    // build rotated-quantized indexes, and describe themselves
    e.createStore("rdo", Dim)
    e.setSeq("rdo", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val opqRes = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, 8, opq(m=2,ksub=16))) IN rdo")
    assert(opqRes.forall(_.isRight), s"DSL opq create failed: $opqRes")
    val opqIdx = e.ensureRoutedIndex("rdo").get._1
    assert(opqIdx.quantized && opqIdx.spec == graft.ann.StorageSpec.Opq(2, 16),
      "opq(m,ksub) keyword must build an OPQ index at the named split")
    assert(e.getStore("rdo").nonLinearConfigs
      .exists(_.contains("storage=opq(m=2,ksub=16)")))
    assert(e.getSimN("rdo", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("rdo")
    graft.dsl.DslParser.parseDb(
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, recall=0.9, opq)) IN x")
      .head match {
      case graft.dsl.Command.CreateNonLinearAlgorithmIndex(_, cfgs, _) =>
        val r = cfgs.collectFirst {
          case c: NonLinearConfig.RoutedHNSWConfig => c }.get
        assert(r.storage == "opq" && r.recallTarget.contains(0.9),
          s"recall+opq mis-parsed: $r")
      case other => fail(s"unexpected parse: $other")
    }
  }

  test("recall-targeted routed index: engine calibrates at build; GetSimN reads probes off the curve") {
    // recall=1.0 is the CERTIFICATION target: probesFor always answers
    // exhaustive (a sample can't certify perfection), so with the wide
    // beam the results are exactly the linear top-k — deterministic,
    // which is what lets the oracle pin this end to end
    val cfg = NonLinearConfig.RoutedHNSWConfig(
      hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
      numShards = 8, probes = 1, recallTarget = Some(1.0))
    val e = freshRouted("rc1", cfg)
    // the build calibrated: the live index carries a measured curve
    val (idx, c) = e.ensureRoutedIndex("rc1").get
    assert(c.recallTarget.contains(1.0))
    assert(idx.recallCurve.nonEmpty, "recall-targeted build must calibrate")
    assert(idx.probesFor(1.0) == idx.numShards)
    val q = vecs(42L, 1).head
    val routed = e.getSimN("rc1", q, 10, Algorithm.HNSW)
      .select("key", "similarity").collect().toSeq
    val linear = e.getSimN("rc1", q, 10, Algorithm.CosineSimilarity)
      .select("key", "similarity").collect().toSeq
    assert(routed == linear,
      "recall=1.0 GetSimN must equal the linear top-k (exhaustive dispatch — " +
        "the raw probes=1 knob would have searched one shard)")
    assert(e.getStore("rc1").nonLinearConfigs
      .exists(_.contains("recall=1.0")), "GetStore must describe the target")
    e.dropStore("rc1")
  }

  test("recall-targeted routed index: sub-1.0 targets search the calibrated LCB operating point") {
    val cfg = NonLinearConfig.RoutedHNSWConfig(
      hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
      numShards = 8, probes = 1, recallTarget = Some(0.9))
    val e = freshRouted("rc2", cfg)
    val (idx, _) = e.ensureRoutedIndex("rc2").get
    val chosen = idx.probesFor(0.9)
    // mechanics: the chosen point's LCB meets the target (or exhaustive)
    assert(chosen == idx.numShards || idx.recallCurve
      .find(_._1 == chosen).exists { case (_, m, se) => m - 1.645 * se >= 0.9 })
    // measured recall of the engine surface at the chosen operating point
    // vs the linear scan, averaged over 20 queries: the target is a
    // statistical floor, so assert with a small sampling-noise slack
    val rs = vecs(123L, 20).map { q =>
      val got = e.getSimN("rc2", q, 10, Algorithm.HNSW)
        .select("key").collect().map(_.getSeq[Float](0)).toSet
      val exp = e.getSimN("rc2", q, 10, Algorithm.CosineSimilarity)
        .select("key").collect().map(_.getSeq[Float](0)).toSet
      (got & exp).size.toDouble / exp.size
    }
    val mean = rs.sum / rs.length
    assert(mean >= 0.85, f"recall-targeted GetSimN measured $mean%.4f << 0.9 target")
    e.dropStore("rc2")
  }

  test("DSL: hnsw_routed(8, recall=0.95) parses to a recall-targeted config and round-trips") {
    val e = new GraftEngine(spark)
    e.createStore("rr", Dim)
    e.setSeq("rr", vecs(7L, 64).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    val res = graft.dsl.Pipeline.runDb(e,
      "CREATENONLINEARALGORITHMINDEX (hnsw_routed(8, recall=0.95)) IN rr")
    assert(res.forall(_.isRight), s"DSL create failed: $res")
    val cfg = e.ensureRoutedIndex("rr").map(_._2)
    assert(cfg.exists(_.recallTarget.contains(0.95)), s"got $cfg")
    assert(e.getSimN("rr", vecs(1L, 1).head, 3, Algorithm.HNSW).count() == 3)
    e.dropStore("rr")
  }

  test("persistence: the recall target and its calibration curve survive restart") {
    val root = Files.createTempDirectory("graft-routed-recall").toString
    val cfg = NonLinearConfig.RoutedHNSWConfig(
      hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
      numShards = 8, probes = 1, recallTarget = Some(1.0))
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("pr", Dim)
    e1.setSeq("pr", vecs(7L, N).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    e1.createNonLinearIndex("pr", Seq(cfg))
    val curve1 = e1.ensureRoutedIndex("pr").get._1.recallCurve.toSeq
    assert(curve1.nonEmpty)
    val e2 = GraftEngine.load(spark, root)
    val (idx2, cfg2) = e2.ensureRoutedIndex("pr").get
    assert(cfg2.recallTarget.contains(1.0), "target must survive the catalog")
    assert(idx2.recallCurve.toSeq == curve1,
      "the persisted curve must load — a restart re-calibrating would " +
        "mean the manifest-only save never happened")
    val q = vecs(42L, 1).head
    assert(e2.getSimN("pr", q, 5, Algorithm.HNSW)
      .select("key").collect().toSeq ==
      e2.getSimN("pr", q, 5, Algorithm.CosineSimilarity)
        .select("key").collect().toSeq)
    e1.dropStore("pr"); // shared root: one drop clears disk
    ()
  }

  test("a persisted ladder that does not COVER a newly configured serving k recalibrates the merged ladder (round-16 advice)") {
    val root = Files.createTempDirectory("graft-routed-kext").toString
    val cfg = NonLinearConfig.RoutedHNSWConfig(
      hnsw = NonLinearConfig.HNSWConfig(efSearch = 4096),
      numShards = 8, probes = 1, recallTarget = Some(0.9))
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("kx", Dim)
    e1.setSeq("kx", vecs(7L, N).zipWithIndex.map { case (v, i) =>
      (v, meta("i" -> i.toString)) })
    e1.createNonLinearIndex("kx", Seq(cfg))
    val ks1 = e1.ensureRoutedIndex("kx").get._1.recallCurves.map(_._1).sorted
    assert(ks1.toSeq == Seq(10, 50), "the engine default ladder")
    try {
      // a k COVERED by a carried curve (25 ≤ 50) must NOT recalibrate:
      // the loaded curves come back exactly as persisted
      spark.conf.set("spark.graft.routedRecallKs", "10,25")
      val e2 = GraftEngine.load(spark, root)
      assert(e2.ensureRoutedIndex("kx").get._1
        .recallCurves.map(_._1).sorted.toSeq == Seq(10, 50),
        "covered serving ks must reuse the carried ladder untouched")
      // an UNCOVERED k (60 > 50) used to silently pay exhaustive probes
      // forever — now it recalibrates the union and persists the merge
      spark.conf.set("spark.graft.routedRecallKs", "60")
      val e3 = GraftEngine.load(spark, root)
      assert(e3.ensureRoutedIndex("kx").get._1
        .recallCurves.map(_._1).sorted.toSeq == Seq(10, 50, 60),
        "uncovered k must extend the ladder (carried ∪ configured)")
      // ...and the merged ladder is the durable one: a later session with
      // the DEFAULT ks loads all three curves without recalibrating
      spark.conf.set("spark.graft.routedRecallKs", "10,50")
      val e4 = GraftEngine.load(spark, root)
      assert(e4.ensureRoutedIndex("kx").get._1
        .recallCurves.map(_._1).sorted.toSeq == Seq(10, 50, 60),
        "the merged ladder must persist")
    } finally spark.conf.unset("spark.graft.routedRecallKs")
    e1.dropStore("kx")
    ()
  }
}
