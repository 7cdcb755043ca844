package graft.scenario

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.ann.{IdFilter, RoutedAnnIndex}

/**
 * Recall calibration at the 200k × 64-shard scale point.
 * [[graft.ann.RoutedAnnIndex.calibrate]] measures the recall-vs-probes
 * curve on a SELF-sample of stored rows, the only query distribution an
 * index sees without a production query log. The scenarios ask whether
 * that curve holds where a deployment needs it:
 *
 *  - `calibrate`: TRANSFER — does a probes count picked off the self curve
 *    (and off a curve measured on a disjoint WORKLOAD sample) deliver its
 *    target on external queries? Plus the IVF exact-arm vs SQ8-arm curves.
 *  - `calibrate-mixed`: does the carried curve stay valid through a long
 *    mixed maintenance history?
 *  - `calibrate-kladder`: the serving-k ladder {10, 50}.
 *  - `calibrate-filtered`: can a selectivity-derated curve serve the
 *    10%–100% filtered band?
 *
 * Args: [n] (default 200000).
 */
object Calibrate {

  private def ext(c: Double, target: Double): String =
    if (c >= target) "met" else f"MISSED by ${target - c}%.4f"

  private def curve(c: Seq[(Int, Double, Double)]): String =
    c.map { case (p, rec, se) => f"$p%d->$rec%.4f(+-$se%.4f)" }.mkString(", ")

  /** Corpus, external queries and their exact truth over `truthOver`. */
  private final class Fixture(r: Run) {
    val n: Long = r.n(N)
    val nq: Int = nQueries(n)
    val gen: SiftGen = SiftGen.organic()
    val corpus: DataFrame = graft.Scale.corpus(r.spark, gen, n)
    val queries: IndexedSeq[Array[Float]] = externalQueries(gen, nq)
    val qdf: DataFrame = queryFrame(r.spark, queries)
    def truth(over: DataFrame): Map[Long, Set[Long]] = groundTruth(qdf, over)
    def externalRecall(gt: Map[Long, Set[Long]])(
        search: Array[Float] => Seq[(Long, Double)]): Double =
      recall(gt, queries.indices.map(_.toLong))(q => search(queries(q.toInt)).map(_._1))
    def build(): (RoutedAnnIndex, Double) = timed(s"routed build ($Shards shards)") {
      RoutedAnnIndex.build(corpus, Dim, refHnsw(), Shards, iters = 3)
    }
  }

  /** Self-sample and workload-sample curves → external Recall@50. */
  def transfer(r: Run): Unit = {
    val f = new Fixture(r)
    val nq = f.nq
    val (index, buildWall) = f.build()
    val (cal, calWall) = timed(s"calibrate ($nq self-sample queries, " +
      s"k=$K, power-of-two ladder)") {
      index.calibrate(nQueries = nq, k = K, seed = 99L)
    }
    println(f"calibration cost: $calWall%.1f s vs build $buildWall%.1f s " +
      f"(${calWall / buildWall}%.2fx of a build)")
    println("self-measured curve: " + curve(cal.recallCurve))
    val gt = f.truth(f.corpus)

    def ladder(c: RoutedAnnIndex): Seq[String] =
      Seq(0.80, 0.90, 0.95, 0.99).map { target =>
        val p = c.probesFor(target)
        val curveR = c.recallCurve.find(_._1 == p).map(_._2).getOrElse(Double.NaN)
        val e = f.externalRecall(gt)(cal.search(_, K, p))
        val s = f"| $target%.2f | $p%d / $Shards%d | $curveR%.4f | $e%.4f | ${ext(e, target)} |"
        println(s); s
      }
    val rows = ladder(cal)

    // calibrate on a sample of the query DISTRIBUTION (manifold points far
    // outside stored ids, disjoint from the eval queries) — the DSL RECALL
    // arm's protocol; the curve should transfer without self-sample optimism
    val workloadSample = queryFrame(r.spark,
      externalQueries(f.gen, nq, base = 2 * ExternalBase)).select(col("qv").as("wv"))
    val (calW, calWWall) = timed("calibrate on a WORKLOAD sample " +
      "(disjoint from the eval queries)") {
      index.calibrate(nQueries = nq, k = K, seed = 99L,
        queries = Some(workloadSample), qVecCol = "wv")
    }
    println("workload-measured curve: " + curve(calW.recallCurve))
    val rowsW = ladder(calW)

    // IVF arm provenance: the exact-arm curve vs the curve measured THROUGH
    // the SQ8 shortlist — how far an exact-arm calibration over-promises
    val ivf = graft.ann.IvfIndex.build(f.corpus, nCells = 256,
      metric = graft.types.Algorithm.CosineSimilarity)
    val (ivfExact, ivfExactWall) = timed("IVF calibrate (exact arm, 256 cells)") {
      ivf.calibrate(nQueries = nq, k = K, seed = 99L, ladderIn = Seq(4, 16, 64))
    }
    val (ivfQuant, ivfQuantWall) = timed("IVF calibrate (SQ8 arm, shortlist=500)") {
      ivf.calibrate(nQueries = nq, k = K, seed = 99L,
        ladderIn = Seq(4, 16, 64), quantizedShortlist = Some(500))
    }
    println(f"IVF curves (exact-arm $ivfExactWall%.1f s / quantized-arm " +
      f"$ivfQuantWall%.1f s):")
    val qByP = ivfQuant.recallCurve.map(c => c._1 -> c._2).toMap
    table("nProbe", "exact-arm recall", "SQ8-arm recall (shortlist=500)", "over-promise")(
      ivfExact.recallCurve.flatMap { case (p, er, _) =>
        qByP.get(p).map(qr => f"| $p%d / 256 | $er%.4f | $qr%.4f | ${er - qr}%.4f |") })
    ivf.unpersist()

    println()
    println(f"calibrate wall: self $calWall%.1f s / workload $calWWall%.1f s " +
      f"(build $buildWall%.1f s)")
    table("target", "probesFor", "self-curve recall", "external Recall@50", "target")(rows)
    println()
    table("target", "probesFor", "workload-curve recall", "external Recall@50", "target")(rowsW)
    index.unpersist(); f.corpus.unpersist()
  }

  /** The curve is carried through append / compact / tombstone-delete on
    * single-tier arguments; this replays a LONG mixed history and
    * re-calibrates to check the carried curve still sits within its own
    * error bars: build + calibrate, replay 8 maintenance batches spanning
    * every tier (overlay appends, stride tombstone waves, a forced
    * delete-compaction, a forced insert-compaction), assert the curve
    * CARRIED, re-run the identical calibration on the mutated index and
    * compare per ladder point against |Δ| vs 1.96·√(se₀² + se₁²). Batch
    * sizes are fixed fractions of n (10k appends at n = 200k), so every
    * size crosses the same tier thresholds. */
  def mixedHistory(r: Run): Unit = {
    val n = r.n(N)
    val nq = nQueries(n)
    val gen = SiftGen.organic()
    val base = corpus(r.spark, gen, n)
    def frac(count: Long): Long = count * n / N
    def size(count: Long): String = {
      val c = frac(count)
      if (c % 1000 == 0) s"${c / 1000}k" else c.toString
    }
    var idx = timed(s"build ($Shards shards)") {
      RoutedAnnIndex.build(base, Dim, refHnsw(), Shards, iters = 3)
    }._1
    idx = timed("calibrate (before history)") {
      idx.calibrate(nQueries = nq, k = K, seed = 99L)
    }._1
    val c0 = idx.recallCurve
    println("carried curve C0: " + curve(c0))

    val tiers = scala.collection.mutable.ArrayBuffer[String]()
    def record(label: String, out: RoutedAnnIndex.Maintained): Unit = {
      tiers += s"$label -> ${out.tier}"
      println(s"  ${tiers.last} (stored=${out.index.storedRows}, " +
        s"patched=${out.index.patchedRows}, tombstones=${out.index.tombstones.length})")
      idx = out.index
    }
    def append(a: Long, b: Long, label: String): Unit =
      record(label, idx.appendOutcome(rows(r.spark, gen, n + frac(a), n + frac(b)))
        .getOrElse(sys.error(s"$label unexpectedly tripped the drift guard")))
    def delete(count: Long, from: Long, stride: Long, label: String): Unit =
      record(label, idx.delete((0L until frac(count)).map(from + _ * stride)))
    // 8 batches, every tier: overlay appends (1, 3, 5, 8), tombstone waves
    // (2, 7), a delete-compaction (4: cumulative tombstones past the 10%
    // fraction), an insert-compaction (6: overlay rows past the 25% patch
    // fraction)
    append(0, 10000, s"b1 append ${size(10000)}")
    delete(8000, 0, 25, s"b2 delete ${size(8000)} (stride 25)")
    append(10000, 20000, s"b3 append ${size(10000)}")
    delete(22000, 7, 9, s"b4 delete ${size(22000)} (stride 9)")
    append(20000, 30000, s"b5 append ${size(10000)}")
    append(30000, 90000, s"b6 append ${size(60000)} (past patch fraction)")
    delete(5000, n, 1, s"b7 delete ${size(5000)} of the b1 appends")
    append(90000, 95000, s"b8 append ${size(5000)}")
    require(idx.recallCurve.toSeq == c0.toSeq,
      "maintenance tiers must CARRY the calibration curve unchanged")
    println(s"history: ${tiers.size} batches " +
      s"(final stored=${idx.storedRows}, tombstones=${idx.tombstones.length})")

    val c1 = timed("re-calibrate (after history, same protocol)") {
      idx.calibrate(nQueries = nq, k = K, seed = 99L)
    }._1.recallCurve.map(c => c._1 -> (c._2, c._3)).toMap
    println()
    header("probes", "carried C0", "re-measured C1", "|delta|", "1.96*se_comb", "within noise?")
    var drifted = 0
    c0.foreach { case (p, r0, se0) =>
      c1.get(p).foreach { case (r1, se1) =>
        val d = math.abs(r1 - r0)
        val bound = 1.96 * math.sqrt(se0 * se0 + se1 * se1)
        val ok = d <= bound
        if (!ok) drifted += 1
        println(f"| $p%d / $Shards%d | $r0%.4f (+-$se0%.4f) | $r1%.4f (+-$se1%.4f) " +
          f"| $d%.4f | $bound%.4f | ${if (ok) "yes" else "DRIFTED"} |")
      }
    }
    // does a probes count chosen off the CARRIED curve still deliver its
    // target on external queries post-history?
    import r.spark.implicits._
    val queries = externalQueries(gen, nq)
    val live = idx.rows.toDF("id", "key")
      .select(col("id"), col("key").cast("array<float>").as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gt = groundTruth(queryFrame(r.spark, queries), live)
    println()
    table("target", "probesFor (carried C0)", "external Recall@50 post-history", "target")(
      Seq(0.80, 0.90, 0.95).map { target =>
        val p = idx.probesFor(target)
        val e = recall(gt, queries.indices.map(_.toLong))(q =>
          idx.search(queries(q.toInt), K, p).map(_._1))
        f"| $target%.2f | $p%d / $Shards%d | $e%.4f | ${ext(e, target)} |"
      })
    println(s"\nladder points outside the combined noise bound: $drifted" +
      (if (drifted == 0) " — carried-curve validity holds under mixed maintenance"
       else " — ADD a curve-staleness guard (see verdict item)"))
    live.unpersist(); base.unpersist(); idx.unpersist()
  }

  /** One calibrateKs({10, 50}) run — shared ground-truth pass, one batch
    * join per (ladder point, k) — prints the two curves side by side (the
    * k-monotonicity the probesForN covering rule rests on: at fixed probes
    * recall@50 ≤ recall@10), then the deployment question: an n=50
    * recall-targeted search under the single-k=10 rule paid EXHAUSTIVE
    * probes; under the ladder it serves probesForN(target, 50). */
  def kLadder(r: Run): Unit = {
    val f = new Fixture(r)
    val (index, _) = f.build()
    val (single, wSingle) = timed("calibrate k=10 only (the r14 baseline)") {
      index.calibrate(nQueries = f.nq, k = 10, seed = 99L)
    }
    val (cal, wLadder) = timed("calibrateKs {10, 50} (shared truth pass)") {
      index.calibrateKs(nQueries = f.nq, ks = Seq(10, 50), seed = 99L)
    }
    println(f"ladder cost: $wLadder%.1f s vs single-k $wSingle%.1f s " +
      f"(${wLadder / wSingle}%.2fx for 2 ks)")
    val c10 = cal.recallCurves.find(_._1 == 10).get._2
    val c50 = cal.recallCurves.find(_._1 == 50).get._2.map(p => p._1 -> p._2).toMap
    table("probes", "recall@10", "recall@50", "@50 − @10")(c10.map { case (p, r10, _) =>
      f"| $p%d / $Shards%d | $r10%.4f | ${c50(p)}%.4f | ${c50(p) - r10}%+.4f |" })
    val gt = f.truth(f.corpus)
    table("target", "old rule (k=10 curve only, n=50)", "ladder probesForN(t, 50)",
        "external Recall@50 there", "met?")(Seq(0.80, 0.90, 0.95).map { target =>
      val oldP = if (single.maxRecallK < 50) Shards else single.probesForN(target, 50)
      val p = cal.probesForN(target, 50)
      val e = f.externalRecall(gt)(cal.search(_, K, p))
      f"| $target%.2f | $oldP%d / $Shards%d | $p%d / $Shards%d | $e%.4f | ${ext(e, target)} |"
    })
    index.unpersist(); f.corpus.unpersist()
  }

  /** With the sharp-filter scan cutover, filters accepting ≤ 10% of live
    * rows meet any target exactly; in the 10%–100% band under a
    * recallTarget `AnnSearch.effectiveProbes` pays EXHAUSTIVE probes.
    * Could a SELECTIVITY-DERATED curve serve the band instead?
    *  1. RANDOM (id-hash) filters at 1/2, 1/4, 1/8: recall at fixed probes
    *     vs unfiltered — if degradation is monotone in selectivity, the
    *     1/8 curve would floor the band for random-like filters;
    *  2. the REJECTION probe: a CORRELATED filter at ~1/8 — the rows of the
    *     8 shards the queries probe LAST — served at the derated pick. If
    *     recall collapses, no selectivity-indexed curve can promise a floor.
    * Then the single-query arm-vs-arm table on either side of the cutover. */
  def filteredBand(r: Run): Unit = {
    import r.spark.implicits._
    val f = new Fixture(r)
    val (n, corpus, queries) = (f.n, f.corpus, f.queries)
    val (index, _) = f.build()

    def mix(x: Long): Long = SiftGen.splitmix64(x) // the random-filter id hash
    // accept sets as production carries them (Bloom), at fpp 1e-7 so the
    // measurement reads filter geometry, not sketch noise
    def bloomOf(ids: Iterator[Long], cnt: Long): IdFilter = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(cnt, 1e-7)
      ids.foreach(bf.putLong)
      IdFilter.Bloom(bf, cnt)
    }
    def recallAt(p: Int, flt: IdFilter, gt: Map[Long, Set[Long]]): Double =
      f.externalRecall(gt)(index.search(_, K, p, flt))

    val randFilters = Seq(2, 4, 8).map { inv =>
      val ids = (0L until n).filter(id => math.floorMod(mix(id), inv) == 0)
      (inv, bloomOf(ids.iterator, ids.size), f.truth(corpus.join(ids.toDF("id"), "id")))
    }
    val gtFull = f.truth(corpus)
    val ladder = Seq(4, 8, 16, 32, Shards)
    println()
    header("probes", "unfiltered R@50", "random 1/2", "random 1/4", "random 1/8")
    val byP = ladder.map { p =>
      val un = recallAt(p, null, gtFull)
      val rs = randFilters.map { case (_, flt, gt) => recallAt(p, flt, gt) }
      println(f"| $p%d / $Shards%d | $un%.4f | ${rs(0)}%.4f | ${rs(1)}%.4f | ${rs(2)}%.4f |")
      p -> rs
    }.toMap
    // smallest probes whose 1/8-random recall meets the target
    def deratedPick(target: Double): Int =
      ladder.find(p => byP(p)(2) >= target).getOrElse(Shards)

    // CORRELATED filter at ~1/8 selectivity: the 8 shards the queries
    // probe LAST on average — legal under any predicate whose value
    // correlates with content, e.g. "lang = X" over clustered embeddings
    val avgRank = Array.fill(Shards)(0.0)
    queries.foreach { q =>
      index.probeShards(q, Shards).zipWithIndex.foreach { case (s, rank) =>
        avgRank(s) += rank.toDouble / f.nq }
    }
    val farShards = avgRank.zipWithIndex.sortBy(-_._1).take(8).map(_._2).toSet
    val assigned = corpus.select(col("id"),
        graft.ann.IvfIndex.assignCell(col("key"), index.centroids).cast("int").as("s"))
      .where(col("s").isin(farShards.toSeq: _*))
      .select("id").collect().map(_.getLong(0))
    println(s"\ncorrelated filter: ${assigned.length} rows " +
      f"(${assigned.length.toDouble / n}%.3f of corpus) in the 8 " +
      s"least-probed shards ${farShards.toSeq.sorted.mkString("{", ",", "}")}")
    val corrBloom = bloomOf(assigned.iterator, assigned.length)
    val gtCorr = f.truth(corpus.join(assigned.toSeq.toDF("id"), "id"))
    table("target", "derated probes (1/8 random curve)", "correlated R@50 there",
        "exhaustive sanity")(Seq(0.80, 0.90, 0.95).map { target =>
      val p = deratedPick(target)
      val corr = recallAt(p, corrBloom, gtCorr)
      f"| $target%.2f | $p%d / $Shards%d | $corr%.4f | " +
        (if (target == 0.95) f"${recallAt(Shards, corrBloom, gtCorr)}%.4f" else "—") + " |"
    })
    println("\nverdict: if the correlated rows collapse at the derated pick, " +
      "selectivity-indexed derating is REJECTED — a filter's selectivity " +
      "says nothing about which shards hold its rows; exhaustive remains " +
      "the honest mid-band floor (the sharp end is served exactly by the " +
      "scan cutover).")
    require(assigned.nonEmpty)

    // single-query arm-vs-arm at the cutover: the engine scans at ≤ 10%
    // and rides the beam above — both arms' per-query wall and Recall@50
    // on either side of the line, so the auto choice is checked against
    // the measured winner. Graph arm at probes=8; the scan arm ignores
    // probes by construction.
    println()
    header("filter", "selectivity", "auto route", "graph p=8 R@50 / ms", "scan R@50 / ms")
    val sharpIds = (0L until n).filter(id => math.floorMod(mix(id), 20) == 0)
    val armRows =
      Seq(("random 1/20", sharpIds.size.toLong, bloomOf(sharpIds.iterator, sharpIds.size),
        f.truth(corpus.join(sharpIds.toDF("id"), "id")))) ++
      randFilters.map { case (inv, flt, gt) => (s"random 1/$inv", n / inv, flt, gt) }
    armRows.foreach { case (label, cnt, flt, gt) =>
      def wallAndRecall(go: Array[Float] => Seq[(Long, Double)]): (Double, Double) = {
        queries.take(10).foreach(go) // warm
        val t0 = System.nanoTime()
        val rec = f.externalRecall(gt)(go)
        ((System.nanoTime() - t0) / 1e6 / f.nq, rec)
      }
      val (gMs, gR) = wallAndRecall(v => index.search(v, K, 8, flt))
      val (sMs, sR) = wallAndRecall(v => index.scanSearch(v, K, flt))
      val route = graft.ann.AnnSearch.filteredRoute(cnt,
        index.liveLogicalRows, scannable = true)
      println(f"| $label%s | ${cnt.toDouble / n}%.3f | $route%s | " +
        f"$gR%.4f / $gMs%.1f | $sR%.4f / $sMs%.1f |")
    }
    index.unpersist(); corpus.unpersist()
  }
}
