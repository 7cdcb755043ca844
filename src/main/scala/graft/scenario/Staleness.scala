package graft.scenario

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.ann.{RoutedAnnIndex, StorageSpec}

/**
 * `staleness`: routed-index freshness under append-only growth — how much
 * recall a FROZEN-centroid index loses as appended data accumulates,
 * versus a full recluster over the same rows. Two regimes bound the answer:
 *
 *  - IN-DISTRIBUTION: appends from the base manifold. Frozen centroids
 *    stay a correct quantizer; decay should be ~zero at any fraction, which
 *    pins that the cadence is NOT about volume.
 *  - DRIFTED: appends from a fresh basis (a new domain). Frozen centroids
 *    mis-route it; the decay-vs-fraction curve is the recluster trigger.
 *
 * Per (regime, fraction f): corpus = base(n) ∪ append(f·n); 100 held-out
 * queries (half from each manifold when drifted); exact truth over the
 * union; Recall@50 at fixed probes of (a) shards rebuilt against the
 * base-trained frozen centroids, (b) the shipped overlay-append path with
 * guards widened (measuring what the production guards refuse), and (c) a
 * reclustered control.
 *
 * Args: [n] [shards=64] [probes=8].
 */
object Staleness {

  private val AppendBase = 1000000L

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val n = r.n(N)
    val nShards = r.arg(1).map(_.toInt).getOrElse(Shards)
    val probes = r.arg(2).map(_.toInt).getOrElse(8)
    val nq = nQueries(n)
    val cfg = refHnsw(16)
    val baseGen = SiftGen.organic()
    val driftGen = new SiftGen(seed = 9999L, dim = Dim, intrinsic = 12)
    val base = rows(spark, baseGen, 0L, n).persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    println(s"base corpus $n x $Dim, $nShards shards, probes=$probes, K=$K")
    // trained ONCE on the base corpus; every "stale" index reuses these
    val frozen = graft.ann.IvfIndex.trainCentroids(base, nShards, iters = 3)
    def frozenBuild(c: org.apache.spark.sql.DataFrame): RoutedAnnIndex =
      RoutedAnnIndex.build(c, Dim, cfg, nShards, iters = 3, replicationEps = 0.0,
        maxReplicas = 2, storage = StorageSpec.F32, frozenCentroids = Some(frozen))

    val out = for (regime <- Seq("in-dist", "drifted"); frac <- Seq(0.0, 0.1, 0.25, 0.5)
        if !(regime == "drifted" && frac == 0.0)) yield {
      val appended = (n * frac).toLong
      val gen = if (regime == "drifted") driftGen else baseGen
      // appended rows are gen(AppendBase + i) under ids 2·AppendBase + i
      def appendRows = rows(spark, gen, AppendBase, AppendBase + appended)
        .select((col("id") + lit(AppendBase)).as("id"), col("key"))
      val union = (if (appended == 0) base else base.union(appendRows))
        .persist(StorageLevel.MEMORY_AND_DISK)
      union.count()
      // held-out queries beyond any corpus id; half from the new domain
      // when drifted
      val qs =
        (0 until (if (regime == "drifted") nq / 2 else nq))
          .map(i => (ExternalBase + i, baseGen(ExternalBase + i))) ++
        (if (regime != "drifted") Seq.empty else (0 until nq / 2)
          .map(i => (2 * ExternalBase + i, driftGen(2 * ExternalBase + i))))
      val qdf = qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qv")
        .select(col("qid"), col("qv").cast("array<float>").as("qv"))
      val (gt, _) = timed(s"$regime f=$frac ground truth") { groundTruth(qdf, union) }
      val qv = qs.toMap
      def recallOf(idx: RoutedAnnIndex): Double =
        recall(gt, qs.map(_._1))(q => idx.search(qv(q), K, probes).map(_._1))
      def measured(idx: RoutedAnnIndex): Double = { val x = recallOf(idx); idx.unpersist(); x }

      val rStale = measured(timed(s"$regime f=$frac stale build") { frozenBuild(union) }._1)
      val rOverlay = if (appended == 0) rStale else {
        val baseIdx = frozenBuild(base)
        val (ov, _) = timed(s"$regime f=$frac overlay append") {
          baseIdx.append(appendRows, driftLimit = Double.MaxValue,
            patchLimit = Double.MaxValue).get
        }
        measured(ov)
      }
      val rFresh = if (frac == 0.0) rStale else measured(
        timed(s"$regime f=$frac recluster build") {
          RoutedAnnIndex.build(union, Dim, cfg, nShards, iters = 3)
        }._1)
      val row = f"| $regime | ${(frac * 100).toInt}%% | $rStale%.4f | $rOverlay%.4f | $rFresh%.4f |"
      println(row)
      if (union ne base) union.unpersist(blocking = false)
      row
    }
    println()
    table("regime", "appended", "frozen shard-rebuild (stale)",
      "overlay append (shipped path)", "reclustered (control)")(out)
    base.unpersist()
  }
}
