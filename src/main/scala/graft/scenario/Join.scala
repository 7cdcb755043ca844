package graft.scenario

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.ann.RoutedAnnIndex

/**
 * Routed batch-kNN-join at the 200k × 64-d organic scale point.
 *
 * `join`: query-side scaling of [[graft.ann.RoutedAnnIndex.topKJoin]]. Each
 * shard task materializes its routed query slice in memory, so: routed
 * join wall at probes 16/64 (the ~0.99-recall point) for n/200, n/20 and
 * n/2 query rows (1k / 10k / 100k at n = 200k); the per-shard query load
 * (max and mean rows per shard partition, from the join's own centroid
 * ranking) → bytes of the per-task query array; IVF at nProbe 32/256 and
 * the exact broadcast join on the same frames, capped at n/20 queries for
 * matched work (their scored-pair counts at n/2 are the shapes' intrinsic
 * cost; the routed arm does |q|·probes graph searches instead).
 *
 * `join-filtered`: an accept filter (a Bloom sketch of a predicate slice,
 * the engine arm's sketch) threads into every shard's graph search. Per
 * selectivity f ∈ {50%, 10%, 1%} at n/200 queries: the filtered routed
 * join at exhaustive and pruned probes (+ slack + exact post-verify by an
 * ids semi-join), the AUTO arm (the filter's cardinality attached, so sharp
 * slices cut over to the exact slice scan), recall@10 vs exact filtered
 * truth, and the brute-force control over the pre-filtered corpus.
 *
 * Args: [n] (default 200000).
 */
object Join {

  private val Probes = 16
  private val Cells = 256
  private val NProbe = 32

  def scaling(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val n = r.n(N)
    val gen = SiftGen.organic()
    val base = corpus(spark, gen, n)
    val (routed, _) = timed(s"routed build ($Shards shards)") {
      RoutedAnnIndex.build(base, Dim, refHnsw(), Shards, iters = 3)
    }
    val (ivf, _) = timed(s"ivf build ($Cells cells)") {
      graft.ann.IvfIndex.build(base, nCells = Cells, iters = 2,
        metric = graft.types.Algorithm.CosineSimilarity)
    }
    val cap = n / 20
    val rows = Seq(n / 200, n / 20, n / 2).map { nq =>
      println(s"---- $nq queries ----")
      val queries = spark.range(nq)
        .map(i => (ExternalBase + i, gen(2 * ExternalBase + i).toSeq)).toDF("qid", "qv")
        .select(col("qid"), col("qv").cast("array<float>").as("qv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      queries.count()

      // per-task query-array envelope: the join's own centroid ranking,
      // aggregated per target shard (driver-side, nq × Shards evals)
      val perShard = new Array[Long](Shards)
      queries.select("qv").as[Seq[Float]].collect().foreach(q =>
        routed.probeShards(q.toArray, Probes).foreach(s => perShard(s) += 1))
      val maxRows = perShard.max
      val meanRows = perShard.sum.toDouble / Shards
      val mib = maxRows * (8 + Dim * 4) / 1024.0 / 1024.0
      println(f"  routed query slices: mean $meanRows%.0f rows/shard, max " +
        f"$maxRows rows/shard ($mib%.1f MiB/task)")

      val (_, wRouted) = timed(s"routed topKJoin probes=$Probes/$Shards") {
        routed.topKJoin(queries, "qid", "qv", K, Probes).queryExecution.toRdd.count()
      }
      def capped(label: String)(f: => Long): String =
        if (nq > cap) "skipped (matched-work cap)" else f"${timed(label)(f)._2}%.1f s"
      val wIvf = capped(s"ivf topKJoin nProbe=$NProbe/$Cells") {
        ivf.topKJoin(queries, "qid", "qv", K, NProbe).queryExecution.toRdd.count()
      }
      val wExact = capped("exact broadcast join") {
        graft.dedup.Dedup.topKJoin(queries, base, "qid", "qv", "id", "key", K)
          .queryExecution.toRdd.count()
      }
      val row = f"| $nq%,d | $wRouted%.1f s (max $maxRows rows = $mib%.1f MiB/task) " +
        s"| $wIvf | $wExact |"
      println(row)
      queries.unpersist(blocking = false)
      row
    }
    println()
    table(s"queries x ${n / 1000}k corpus",
      s"routed topKJoin p=$Probes/$Shards (per-task query array)",
      s"IVF nProbe=$NProbe/$Cells", "exact broadcast")(rows)
    routed.unpersist(); ivf.unpersist(); base.unpersist()
  }

  def filtered(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val k = 10
    val n = r.n(N)
    val nq = (n / 200).toInt
    val gen = SiftGen.organic()
    val base = corpus(spark, gen, n)
    println(s"$nq queries")
    val (idx, _) = timed(s"routed build ($Shards shards)") {
      RoutedAnnIndex.build(base, Dim, refHnsw(), Shards, iters = 3)
    }
    val queries = spark.range(nq)
      .map(i => (i, gen(ExternalBase + i).toSeq)).toDF("qid", "qv")
      .select(col("qid"), col("qv").cast("array<float>").as("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    queries.count()
    val rows = Seq(2L, 10L, 100L).map { den =>
      // the slice: id % den == 0 (spread across shards — selectivity
      // without locality, the hard case for probe routing)
      val accepted = base.where(col("id") % den === 0).select("id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cnt = accepted.count()
      val bloom = accepted.stat.bloomFilter("id", cnt, 0.001)
      val slack = graft.ann.AnnSearch.FalsePositiveSlack
      def joinAt(probes: Int, expected: Long = -1L): Array[Row] = {
        val joined = idx.topKJoin(queries, "qid", "qv", k + slack,
          probes = probes, filter = graft.ann.IdFilter.Bloom(bloom, expected))
        // exact post-verify + re-rank by the pre-verify order
        val v = joined
          .join(accepted.withColumnRenamed("id", "cid"), Seq("cid"), "left_semi")
          .select(col("qid"), col("cid"), (-col("rank")).cast("double").as("_s"))
        graft.ann.BoundedTopK.topK(v, "qid", "cid", "_s", k)
          .select("qid", "cid", "rank").collect()
      }
      val (verified, wJoin) = timed(f"filtered routed join p=$Shards (1/$den)") {
        joinAt(Shards)
      }
      val (verified8, wJoin8) = timed(f"filtered routed join p=8 (1/$den)") { joinAt(8) }
      // AUTO arm: same pruned request with the filter's known cardinality —
      // sharp slices cut over to the exact slice scan, broad ones keep
      // the caller's graph probes
      val autoArm =
        if (cnt <= RoutedAnnIndex.FilteredScanFraction * idx.storedRows) "scan" else "graph"
      val (verifiedAuto, wAuto) = timed(
        f"AUTO routed join p=8 + cardinality (1/$den, arm=$autoArm)") {
        joinAt(8, expected = cnt)
      }
      val slice = base.join(accepted.withColumnRenamed("id", "_a"),
        col("id") === col("_a"), "left_semi")
      val (gt, wBrute) = timed(f"brute-force filtered control (1/$den)") {
        groundTruth(queries, slice, k)
      }
      def recallOf(res: Array[Row]): Double = {
        val got = byQuery(res)
        recall(gt, (0 until nq).map(_.toLong))(q => got.getOrElse(q, Set.empty))
      }
      val row = f"| 1/$den ($cnt%,d rows) | $wJoin%.1f s / ${recallOf(verified)}%.4f " +
        f"| $wJoin8%.1f s / ${recallOf(verified8)}%.4f " +
        f"| $wAuto%.1f s / ${recallOf(verifiedAuto)}%.4f ($autoArm) " +
        f"| $wBrute%.1f s |"
      println(row)
      accepted.unpersist(blocking = false)
      row
    }
    println()
    table("selectivity", s"routed p=$Shards (wall / recall@$k)", s"routed p=8 (wall / recall@$k)",
      s"AUTO p=8+cardinality (wall / recall@$k / arm)", "brute-force filtered control")(rows)
    idx.unpersist(); queries.unpersist(); base.unpersist()
  }
}
