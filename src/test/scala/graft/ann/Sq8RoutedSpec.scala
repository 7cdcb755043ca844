package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * SQ8 node storage inside the routed shard graphs ([[Sq8VecStore]] /
 * `RoutedAnnIndex(storage = graft.ann.StorageSpec.Sq8)`): the graphs build and traverse on
 * int8 codes (~1/4 the vector bytes), and exact final ranking is restored
 * by the shortlist rescore. These tests pin
 *  - the quantization math against [[graft.functions.Quantize]]'s
 *    documented convention (the engine-portable fixed operation order),
 *  - recall of the quantized serving path vs exact ground truth (and the
 *    honesty rule: the RAW quantized ranking reads LOWER than the
 *    rescored path — the curve must measure the path that serves),
 *  - drift-free compaction: codes carry through rebuilds verbatim, so a
 *    compacted quantized graph is bit-identical to a frozen-centroid
 *    quantized build over the union (the float-shard invariant, held
 *    under quantization ONLY because rebuilds use [[VecPayload]], never
 *    re-encoded dequantized floats),
 *  - storage as artifact identity (a float artifact never loads into a
 *    quantized config, nor the reverse).
 */
class Sq8RoutedSpec extends AnyFunSuite {

  private val N = 6000
  private val Dim = 64
  private val NQueries = 60
  private val K = 10
  private val Shards = 16

  private lazy val (ids, vecs, gen) = siftLikeDataset(seed = 777L, n = N, dim = Dim)
  private lazy val queries: Array[Array[Float]] =
    Array.tabulate(NQueries)(i => gen((N + i).toLong))

  private val cfg = NonLinearConfig.HNSWConfig(efConstruction = 100,
    maximumConnections = 40, maximumConnectionsZero = 80,
    efSearch = 64, metric = Algorithm.CosineSimilarity)

  private def df(range: Range) = {
    val s = spark
    import s.implicits._
    range.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
  }

  private lazy val sq8: RoutedAnnIndex =
    RoutedAnnIndex.build(df(0 until N), Dim, cfg, numShards = Shards,
      iters = 2, storage = graft.ann.StorageSpec.Sq8)

  test("Sq8VecStore encode/export pin the Quantize convention; payload kinds are guarded") {
    val st = new Sq8VecStore(Algorithm.CosineSimilarity)
    val v = Array(-1.5f, 0.0f, 0.25f, 2.5f)
    st.add(v)
    // codes: floor((x - mn) * 255 / (mx - mn)) clamped at 255
    val VecPayload.Sq8(codes, mn, mx) = st.payload(0)
    assert(mn == -1.5f && mx == 2.5f)
    val expected = v.map(x =>
      math.min(255.0, math.floor((x.toDouble - -1.5) * 255.0 / 4.0)).toInt)
    assert(codes.map(_ & 0xFF).toSeq == expected.toSeq)
    // export = mn + q·(mx−mn)/255, error bounded by one step
    val step = 4.0 / 255.0
    st.export(0).zip(v).foreach { case (e, x) =>
      assert(math.abs(e - x) <= step + 1e-6,
        s"dequantized $e strays more than one step from $x")
    }
    // constant vector → all-zero codes (the Quantize rule)
    st.add(Array(3f, 3f, 3f, 3f))
    val VecPayload.Sq8(c2, _, _) = st.payload(1)
    assert(c2.forall(_ == 0))
    // a float store must refuse quantized payloads (mixed scoring scales)
    val fs = new FloatVecStore(Algorithm.CosineSimilarity)
    intercept[IllegalStateException] {
      fs.addPayload(st.payload(0))
    }
    // a quantized store carries an encoded payload VERBATIM
    val st2 = new Sq8VecStore(Algorithm.CosineSimilarity)
    st2.addPayload(st.payload(0))
    assert(st2.payload(0) == st.payload(0))
  }

  test("Sq8VecStore scores bit-identically to Quantize.dequantize then the Similarity fold") {
    // the graph's inline dequantize must be the Catalyst column's element,
    // to the last bit: random non-constant Gaussian vectors, every metric
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{Quantize, Similarity}
    val rnd = new scala.util.Random(2024)
    val d = 64
    val rows = (0 until 300).map(_ => Array.fill(d)(rnd.nextGaussian().toFloat))
    val qs = (0 until 300).map(_ => Array.fill(d)(rnd.nextGaussian().toFloat))
    Seq(Algorithm.CosineSimilarity, Algorithm.DotProductSimilarity,
        Algorithm.EuclideanDistance).foreach { metric =>
      val st = new Sq8VecStore(metric)
      rows.foreach(st.add)
      val frame = rows.indices.map { i =>
        val VecPayload.Sq8(c, mn, mx) = st.payload(i)
        (i, qs(i).toSeq, c.map(b => (b & 0xFF).toLong).toSeq, mn.toDouble, mx.toDouble)
      }.toDF("i", "q", "c", "mn", "mx")
      val dq = Quantize.dequantize(col("c"), col("mn"), col("mx"))
      // the store's distances: -cos, -dot, squared euclidean
      val ref = metric match {
        case Algorithm.CosineSimilarity => -Similarity.hof.cosineSimilarity(col("q"), dq)
        case Algorithm.DotProductSimilarity => -Similarity.hof.dotProduct(col("q"), dq)
        case _ => Similarity.hof.squaredEuclidean(col("q"), dq)
      }
      val want = frame.select(col("i"), ref).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val off = rows.indices.filter { i =>
        java.lang.Double.doubleToRawLongBits(st.distQuery(qs(i), i)) !=
          java.lang.Double.doubleToRawLongBits(want(i))
      }
      if (off.nonEmpty) fail(s"$metric: ${off.size} of ${rows.size} distances " +
        s"differ from dequantize-then-score, e.g. row ${off.head}")
    }
  }

  test("quantized routed serving path (graph + exact rescore) reaches exact-grade recall; raw quantized ranking reads lower") {
    val s = spark
    import s.implicits._
    val qdf = queries.zipWithIndex
      .map { case (v, i) => (100000L + i, v.toSeq) }.toSeq.toDF("qid", "qv")
    val exact = df(0 until N)
    def recallOf(res: Map[Long, Seq[Long]]): Double = {
      val rs = queries.zipWithIndex.map { case (v, i) =>
        val exp = bruteTopK(cfg.metric, ids, vecs, v, K).map(_._1)
        recallAtK(exp, res(100000L + i))
      }
      rs.sum / rs.length
    }
    def ranked(dfr: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      dfr.select("qid", "cid", "rank").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }
    // served path at exhaustive probes: quantized beam + exact rescore
    val served = ranked(sq8.topKJoinRescored(qdf, "qid", "qv", K, Shards, exact))
    val rServed = recallOf(served)
    info(f"sq8 exhaustive rescored recall@$K = $rServed%.4f")
    assert(rServed >= 0.97,
      f"quantized+rescored exhaustive recall@$K = $rServed%.4f < 0.97")
    // the RAW quantized ranking (no rescore) must read no better than the
    // rescored path — and the rescored path's top-k must be exactly the
    // true top-k whenever the true candidates survive the beam, which the
    // >= check above certifies in aggregate
    val raw = ranked(sq8.topKJoin(qdf, "qid", "qv", K, Shards))
    val rRaw = recallOf(raw)
    info(f"sq8 exhaustive RAW quantized recall@$K = $rRaw%.4f")
    assert(rRaw <= rServed + 1e-9,
      "raw quantized ranking cannot outperform its own exact rescore")
    // single-query search agrees with the batch join's candidate ordering
    val single = sq8.search(queries.head, K, Shards).map(_._1)
    assert(single == raw(100000L), "single-query vs batch quantized ranking diverged")
  }

  test("pruned probes trade recall like the float index; float-vs-sq8 recall delta is bounded at fixture scale") {
    val f32 = RoutedAnnIndex.build(df(0 until N), Dim, cfg,
      numShards = Shards, iters = 2)
    try {
      def recall(idx: RoutedAnnIndex, probes: Int): Double = {
        val rs = queries.map { q =>
          val got = idx.search(q, K + RoutedAnnIndex.RescoreSlack, probes)
            .map(_._1)
          // emulate the engine's exact hydration rescore: rescore the
          // slack-widened candidate list with the exact kernel, keep K
          val rescored = got.map(id =>
            (id, graft.functions.Similarity.jvm.cosine(q, vecs(id.toInt))))
            .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
          recallAtK(bruteTopK(cfg.metric, ids, vecs, q, K).map(_._1), rescored)
        }
        rs.sum / rs.length
      }
      for (p <- Seq(4, Shards)) {
        val rf = recall(f32, p)
        val rq = recall(sq8, p)
        info(f"probes=$p%2d recall@$K: f32 $rf%.4f vs sq8+rescore $rq%.4f")
        assert(rq >= rf - 0.03,
          f"sq8 recall $rq%.4f fell more than 3pt under float $rf%.4f at probes=$p")
      }
    } finally f32.unpersist()
  }

  test("maintenance keeps codes verbatim: compaction == frozen-centroid quantized rebuild; tombstones filter; storedRows carried") {
    val base = RoutedAnnIndex.build(df(0 until 5000), Dim, cfg,
      numShards = Shards, iters = 2, storage = graft.ann.StorageSpec.Sq8)
    try {
      // overlay append: tails are exact float (LSM memtable analog)
      val a = base.append(df(5000 until 5500)).get
      try {
        assert(a.quantized && a.patchedRows == 500L)
        assert(a.storedRows == 5500L && a.storedRows == a.measuredStoredRows)
        (5000 until 5010).foreach { i =>
          assert(a.search(vecs(i), 1, 1).headOption.exists(_._1 == ids(i)),
            s"appended row ${ids(i)} not found in its quantized shard")
        }
        // force compaction: overlay past the patch fraction
        val big = df(0 until 4000)
          .selectExpr("id + 1000000 as id", "key")
        val c = a.append(big).get
        try {
          assert(c.patchedRows == 0L && c.quantized)
          assert(c.storedRows == c.measuredStoredRows)
          // drift-free invariant: identical to a frozen-centroid QUANTIZED
          // build over the union — holds only because compaction rebuilds
          // from VecPayload codes, never re-encoded dequantized floats
          val union = df(0 until 5500).union(big)
          val twin = RoutedAnnIndex.build(union, Dim, cfg, Shards, iters = 2,
            replicationEps = 0.0, maxReplicas = 2, storage = graft.ann.StorageSpec.Sq8,
            frozenCentroids = Some(a.centroids))
          try queries.take(15).foreach { q =>
            assert(c.search(q, K, 8) == twin.search(q, K, 8),
              "compacted quantized graphs diverge from the frozen-centroid union build")
          } finally twin.unpersist()
        } finally c.unpersist()
        // tombstone tier on the quantized index
        val t = a.delete(Seq(ids(0), ids(1)))
        assert(t.tier == "tombstone" && t.index.quantized)
        assert(t.index.storedRows == 5500L)
        queries.take(5).foreach { q =>
          assert(!t.index.search(q, K, Shards).map(_._1)
            .exists(Set(ids(0), ids(1))), "tombstoned id surfaced from sq8 shards")
        }
      } finally a.unpersist()
    } finally base.unpersist()
  }

  test("storage is artifact identity; quantized round trip restores byte-identical answers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8-artifacts").toString
    RoutedAnnIndex.save(sq8, dir, sourceStamp = "v1")
    // the sq8 artifact refuses a float config...
    assert(RoutedAnnIndex.load(spark, dir, cfg, "v1", iters = 2).isEmpty,
      "an sq8 artifact must not load as a float index")
    // ...and loads bit-identically under the quantized one
    val loaded = RoutedAnnIndex.load(spark, dir, cfg, "v1", iters = 2,
      storage = graft.ann.StorageSpec.Sq8)
    assert(loaded.isDefined, "sq8 artifacts failed to load")
    try {
      assert(loaded.get.quantized && loaded.get.storedRows == sq8.storedRows)
      queries.take(10).foreach { q =>
        assert(loaded.get.search(q, K, 8) == sq8.search(q, K, 8),
          "restored sq8 index diverges from the built one")
      }
    } finally loaded.get.unpersist()
    // a float artifact likewise refuses a quantized config
    val fdir = java.nio.file.Files.createTempDirectory("graft-f32-artifacts").toString
    val f32 = RoutedAnnIndex.build(df(0 until 1000), Dim, cfg, 4, iters = 2)
    try {
      RoutedAnnIndex.save(f32, fdir, sourceStamp = "v1")
      assert(RoutedAnnIndex.load(spark, fdir, cfg, "v1", iters = 2,
        storage = graft.ann.StorageSpec.Sq8).isEmpty,
        "a float artifact must not load as a quantized index")
    } finally f32.unpersist()
  }

  test("calibrate answers for the quantized path: exact corpus required, curve measured through the rescore") {
    // the honesty guard: no exact corpus, no quantized curve
    intercept[IllegalArgumentException] { sq8.calibrate(nQueries = 8, k = 5) }
    val cal = sq8.calibrate(nQueries = 32, k = K, ladderIn = Seq(2, 8),
      exact = Some(df(0 until N)))
    assert(cal.recallK == K && cal.recallCurve.nonEmpty && cal.quantized)
    val byProbes = cal.recallCurve.map { case (p, r, _) => p -> r }.toMap
    // monotone in probes, and the exhaustive rescored point must sit at
    // the exact-grade level the serving test pinned
    assert(byProbes(2) <= byProbes(Shards) + 1e-9)
    assert(byProbes(Shards) >= 0.95,
      f"exhaustive quantized curve point ${byProbes(Shards)}%.4f < 0.95")
    // probesFor serves off the quantized curve (LCB rule unchanged)
    assert(cal.probesFor(1.0) == Shards)
  }
}
