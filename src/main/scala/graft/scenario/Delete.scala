package graft.scenario

import org.apache.spark.sql.functions._

import graft.Scale._
import graft.ann.RoutedAnnIndex

/**
 * Routed-index DELETE maintenance cost at the 200k × 64-shard point.
 *
 * `delete`: [[graft.ann.RoutedAnnIndex.delete]] absorbs deletes LSM-style
 * (tombstone tier → guarded local compaction) where they used to invalidate
 * the index whole (full-corpus Lloyd + rebuild per deleted row):
 *  - TOMBSTONE tier (n/200 and n/20 deleted, under the 10% guard): delete
 *    wall, search wall with the tombstone filter active, survivor Recall@50
 *    vs exact truth over the survivors;
 *  - COMPACTION tier (n/5, past the guard): local per-shard rebuilds;
 *  - RECLUSTER control: a fresh build over the survivors.
 *
 * `delete-cliff`: an engine DelPred matching more rows than the routed
 * delete cap can't name its ids for the tombstone tier — the index
 * invalidates whole and the NEXT search pays a lazy recluster. Measures
 * that first-search latency against the steady state and the in-cap
 * tombstone path. The scenario sets the session's cap
 * (`spark.graft.routedDeleteCap`) to n/20, strictly between its in-cap
 * (n/200) and past-cap (n/3) deletes, so the cliff is real at every n
 * (the default [[graft.engine.GraftEngine.RoutedDeleteCap]] of 65536 is
 * past n/3 below n ≈ 196k); the previous setting is restored afterwards.
 * Correctness is pinned in RoutedEngineSpec.
 *
 * Args: [n] (default 200000).
 */
object Delete {

  private val Probes = 8

  def tiers(r: Run): Unit = {
    val n = r.n(N)
    val gen = SiftGen.organic()
    val base = corpus(r.spark, gen, n)
    val queries = externalQueries(gen, nQueries(n))
    val qdf = queryFrame(r.spark, queries)

    val (index, buildWall) = timed(s"routed build ($Shards shards) — " +
      "the old per-delete cost") {
      RoutedAnnIndex.build(base, Dim, refHnsw(), Shards, iters = 3)
    }
    // deleted ids are a deterministic stride — spread across shards, the
    // worst case for compaction locality (every shard holds victims)
    def victims(k: Long): Seq[Long] = (0L until n by math.max(1L, n / k)).take(k.toInt)
    def searchWall(idx: RoutedAnnIndex): Double = {
      val t0 = System.nanoTime()
      queries.foreach(q => idx.search(q, K, Probes))
      (System.nanoTime() - t0) / 1e9
    }
    def survivorRecall(idx: RoutedAnnIndex, dead: Set[Long]): Double = {
      val gt = groundTruth(qdf, base.where(!col("id").isin(dead.toSeq: _*)))
      recall(gt, queries.indices.map(_.toLong)) { i =>
        val got = idx.search(queries(i.toInt), K, Probes).map(_._1)
        assert(!got.exists(dead), "deleted id surfaced")
        got
      }
    }

    val baseSearch = searchWall(index)
    println(f"baseline: build $buildWall%.1f s, ${queries.size} searches $baseSearch%.1f s")
    val rows = Seq(200L, 20L, 5L).map { den =>
      val k = n / den
      val dead = victims(k)
      val (out, delWall) = timed(s"delete $k ids") { index.delete(dead) }
      val sw = searchWall(out.index)
      val rec = survivorRecall(out.index, dead.toSet)
      val (_, reclusterWall) = timed(s"recluster control (survivors of $k)") {
        RoutedAnnIndex.build(base.where(!col("id").isin(dead: _*)), Dim, refHnsw(),
          Shards, iters = 3).unpersist()
      }
      val row = f"| $k%,d (${k * 100.0 / n}%.1f%%) | ${out.tier} | $delWall%.2f s | " +
        f"$sw%.1f s (base $baseSearch%.1f) | $rec%.4f | $reclusterWall%.1f s |"
      println(row)
      // tombstone-tier outcomes share the base index's shards
      if (out.tier == "compact") out.index.unpersist()
      row
    }
    println()
    table("deleted", "tier", "delete wall", "100-search wall", "survivor Recall@50",
      "recluster control")(rows)
    index.unpersist(); base.unpersist()
  }

  def cliff(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    import graft.types.PredicateCondition.Equals
    import graft.types.MetadataValue.RawString
    val n = r.n(N)
    val gen = SiftGen.organic()
    val e = new graft.engine.GraftEngine(spark)
    e.createStore("cliff", Dim, predicates = Set("bucket", "rare"))
    // bucket: thirds (one bucket ≈ n/3, past the n/20 cap set below);
    // rare: ~0.5% (inside the cap — the tombstone-tier control)
    def meta(c: org.apache.spark.sql.Column) = struct(lit("raw_string").as("kind"),
      c.as("str"), lit(null).cast("binary").as("bin"))
    val entries = spark.range(n).map { i =>
      (gen(i).toSeq, i % 3, if (i % 200 == 0) "y" else "n")
    }.toDF("key", "b", "r").select(
      col("key").cast("array<float>").as("key"),
      map(lit("bucket"), meta(col("b").cast("string")),
        lit("rare"), meta(col("r"))).as("value"))
    val (_, setWall) = timed(s"engine Set ($n rows)") { e.set("cliff", entries, "public") }
    e.createNonLinearIndex("cliff", Seq(
      graft.types.NonLinearConfig.RoutedHNSWConfig(hnsw = refHnsw(),
        numShards = Shards, probes = Probes)))
    val q = gen(ExternalBase)
    def search(label: String): Double =
      timed(label) { e.getSimN("cliff", q, K, graft.types.Algorithm.HNSW).count() }._2
    val firstBuild = search("first search (initial lazy index build)")
    val steady = search("steady-state search")
    val capKey = "spark.graft.routedDeleteCap"
    val prevCap = spark.conf.getOption(capKey)
    val cap = n / 20
    spark.conf.set(capKey, cap.toString)
    val (nRare, rareWall, afterTombstone, nBig, bigWall, invalidated) = try {
      val (nRare, rareWall) = timed("DelPred (rare = y, in-cap)") {
        e.delPred("cliff", Equals("rare", RawString("y")))
      }
      require(nRare <= cap, s"in-cap DelPred deleted $nRare rows, past the cap $cap")
      require(e.annIndex("cliff", "hnsw_routed").isDefined, "in-cap DelPred dropped the index")
      val afterTombstone = search("search after in-cap DelPred (tombstone tier)")
      val (nBig, bigWall) = timed("DelPred (bucket = 1, past-cap)") {
        e.delPred("cliff", Equals("bucket", RawString("1")))
      }
      require(nBig > cap, s"past-cap DelPred deleted $nBig rows, within the cap $cap")
      (nRare, rareWall, afterTombstone, nBig, bigWall,
        e.annIndex("cliff", "hnsw_routed").isEmpty)
    } finally prevCap.fold(spark.conf.unset(capKey))(spark.conf.set(capKey, _))
    require(invalidated, "past-cap DelPred kept the index")
    println(f"routed delete cap $cap%,d: in-cap DelPred $nRare%,d rows, " +
      f"past-cap DelPred $nBig%,d rows, index invalidated whole")
    val cliffSearch = search("FIRST search after past-cap DelPred (lazy recluster)")
    val after = search("second search (steady again)")
    println()
    println(f"engine Set wall: $setWall%.1f s; initial lazy build (first search): $firstBuild%.1f s")
    table("event", "rows", "wall", "following search")(Seq(
      f"| steady-state search | — | — | $steady%.2f s |",
      f"| in-cap DelPred (tombstone tier) | $nRare%,d | $rareWall%.2f s | $afterTombstone%.2f s |",
      f"| past-cap DelPred (whole invalidate) | $nBig%,d | $bigWall%.2f s | $cliffSearch%.1f s (THE CLIFF) |",
      f"| post-recluster search | — | — | $after%.2f s |"))
    e.purgeStores()
  }
}
