package graft.scenario

import org.apache.spark.sql.DataFrame

import graft.Scale._
import graft.ann.{NodeStorage, RoutedAnnIndex, StorageSpec}

/**
 * `quant`: quantized node storage inside the routed shard graphs. Shard
 * graphs holding float32 vectors hit the memory wall on the vector payload,
 * not on the graph overhead the reference budgets (~60-450 B/element,
 * docs/specs/hnsw.md:117-127). SQ8 (per-vector min/max int8 codes), PQ
 * (m bytes/node, Jégou et al. 2011) and OPQ (PQ behind a learned rotation)
 * sit behind the same VecStore seam and restore exact final ranking by
 * rescoring an over-fetched beam against exact floats. Measured at the
 * 200k × 64-shard point, every storage beside f32:
 *  - build wall (pq/opq include codebook training);
 *  - serialized ARTIFACT bytes and RESIDENT bytes per row;
 *  - external Recall@50 at a probes ladder, RAW (quantized ranking, no
 *    rescore) and + exact rescore (the served path);
 *  - rescored Recall@50 vs the slack width (the measurement behind
 *    NodeStorage's slack constants);
 *  - single-query search wall at probes=8;
 *  - the calibration curve measured THROUGH the quantized path vs f32;
 *  - a 768-d appendix (min(n, 30k) rows, 16 shards) where the payload term
 *    dominates — skipped when a dim is named (a design-point run).
 *
 * Args: [n] [dim=64] [shards=64].
 */
object Quant {

  /** The per-shard serialized PQ codebook copy (shard .bins are standalone,
    * so each carries the book) — a FIXED per-shard term that dominates a
    * tiny fixture's B/row and amortizes at real shard sizes. */
  private def printBookTerm(idx: RoutedAnnIndex, shards: Int, n: Long): Unit =
    idx.storage match {
      case p: NodeStorage.Pq =>
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(p.book); oos.close()
        val b = bos.size().toLong
        println(f"  pq codebook term: ${b / 1e3}%.0f KB per shard copy x " +
          f"$shards shards = ${b * shards / 1e6}%.1f MB of the artifact " +
          f"(${b.toDouble * shards / n}%.1f B/row at THIS fixture; fixed " +
          f"per shard — e.g. 0.2 B/row at 5M rows/shard). In memory the " +
          f"copies intern to ONE book per JVM (PqCodebook.canonical).")
      case _ => ()
    }

  /** RESIDENT bytes of the shard structures (SizeEstimator, one tiny job).
    * Per-shard estimates each traverse the SHARED interned PQ codebook (and
    * OPQ rotation), so the duplicates are subtracted back. */
  private def residentBytes(idx: RoutedAnnIndex): Long = {
    def size(o: AnyRef): Long = org.apache.spark.util.SizeEstimator.estimate(o)
    val raw = idx.shards.map(s => org.apache.spark.util.SizeEstimator.estimate(s)).sum().toLong
    val shared = idx.storage match {
      case p: NodeStorage.Pq => size(p.book)
      case o: NodeStorage.Opq => size(o.book) + size(o.rot)
      case _ => 0L
    }
    if (shared == 0L) raw else raw - math.max(0L, idx.shards.count() - 1) * shared
  }

  /** Sum of the shard .bins of a saved index (manifest excluded). */
  private def artifactBytes(idx: RoutedAnnIndex, tag: String): Long = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-quant-$tag")
    RoutedAnnIndex.save(idx, dir.toString, sourceStamp = "bench")
    val bytes = java.nio.file.Files.list(dir).toArray.map(_.toString)
      .filter(_.endsWith(".bin"))
      .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    graft.engine.Persistence.deleteDir(dir.toString)
    bytes
  }

  /** Recall@50 of `idx` over `queries`: slackN < 0 = RAW stored-form
    * ranking; slackN ≥ 0 = exact rescore of a (K + slackN)-deep over-fetch
    * (the engine-hydration emulation; gen(id) is the true vector). */
  private def served(gen: SiftGen, queries: IndexedSeq[Array[Float]],
      gt: Map[Long, Set[Long]])(idx: RoutedAnnIndex, probes: Int, slackN: Int): Double =
    recall(gt, queries.indices.map(_.toLong)) { i =>
      val v = queries(i.toInt)
      val raw = idx.search(v, K + math.max(0, slackN), probes)
      val ids =
        if (slackN < 0) raw.map(_._1)
        else raw.map { case (id, _) => (id, graft.functions.Similarity.jvm.cosine(v, gen(id))) }
          .sortBy { case (id, c) => (-c, id) }.map(_._1)
      ids.take(K)
    }

  def run(r: Run): Unit = {
    val spark = r.spark
    val n = r.n(N)
    val dim = r.arg(1).map(_.toInt).getOrElse(Dim)
    val shards = r.arg(2).map(_.toInt).getOrElse(Shards)
    val pqM = math.max(1, dim / 8) // the classic 8-dims-per-subspace split
    val gen = SiftGen.organic(dim)
    val base = corpus(spark, gen, n, dim)
    val cfg = refHnsw()
    def build(label: String, c: DataFrame, d: Int, s: Int, iters: Int,
        storage: StorageSpec): RoutedAnnIndex =
      timed(label) { RoutedAnnIndex.build(c, d, cfg, s, iters = iters, storage = storage) }._1

    val f32 = build(s"f32 build ($shards shards)", base, dim, shards, 3, StorageSpec.F32)
    val sq8 = build(s"sq8 build ($shards shards)", base, dim, shards, 3, StorageSpec.Sq8)
    val pqi = build(s"pq(m=$pqM,ksub=256) build ($shards shards)", base, dim, shards, 3,
      StorageSpec.Pq(pqM, 256))
    val opqi = build(s"opq(m=$pqM,ksub=256) build ($shards shards)", base, dim, shards, 3,
      StorageSpec.Opq(pqM, 256))

    val Seq(bf, bq, bp, bo) = Seq(f32 -> "f32", sq8 -> "sq8", pqi -> "pq", opqi -> "opq")
      .map { case (i, t) => artifactBytes(i, t) }
    val Seq(rf, rq, rp, ro) = Seq(f32, sq8, pqi, opqi).map(residentBytes)
    println(f"resident bytes (SizeEstimator): f32 ${rf / 1e6}%.1f MB " +
      f"(${rf.toDouble / n}%.1f B/row) vs sq8 ${rq / 1e6}%.1f MB " +
      f"(${rq.toDouble / n}%.1f B/row, ${rf.toDouble / rq}%.2fx) vs pq " +
      f"${rp / 1e6}%.1f MB (${rp.toDouble / n}%.1f B/row, " +
      f"${rf.toDouble / rp}%.2fx) vs opq ${ro / 1e6}%.1f MB " +
      f"(${ro.toDouble / n}%.1f B/row, ${rf.toDouble / ro}%.2fx)")
    println(f"opq artifact: ${bo / 1e6}%.1f MB (${bo.toDouble / n}%.1f B/row, " +
      f"${bf.toDouble / bo}%.2fx vs f32; includes the d^2-float rotation " +
      "per shard .bin on disk — interned to ONE per JVM in memory)")
    println(f"artifact bytes: f32 ${bf / 1e6}%.1f MB (${bf.toDouble / n}%.1f B/row) " +
      f"vs sq8 ${bq / 1e6}%.1f MB (${bq.toDouble / n}%.1f B/row, " +
      f"${bf.toDouble / bq}%.2fx) vs pq ${bp / 1e6}%.1f MB " +
      f"(${bp.toDouble / n}%.1f B/row, ${bf.toDouble / bp}%.2fx); " +
      f"raw vector payload alone: ${dim * 4}%d B/row f32 vs ${dim + 8}%d " +
      f"sq8 vs ${8}%d pq (at 768 dims: ${768 * 4}%d vs ${768 + 8}%d vs 96)")
    printBookTerm(pqi, shards, n)

    val nq = nQueries(n)
    val queries = externalQueries(gen, nq)
    val arm = served(gen, queries, groundTruth(queryFrame(spark, queries), base)) _
    val sq8Slack = sq8.storage.rescoreSlack
    val pqSlack = pqi.storage.rescoreSlack

    println()
    header("probes", "f32 Recall@50", "sq8 RAW", "sq8 + rescore", "pq RAW", "pq + rescore",
      "pq rescored delta vs f32", "opq + rescore", "opq delta vs f32")
    for (p <- Seq(4, 8, 16, shards)) {
      val rf = arm(f32, p, -1)
      val rpRes = arm(pqi, p, pqSlack)
      val roRes = arm(opqi, p, opqi.storage.rescoreSlack)
      println(f"| $p%d / $shards%d | $rf%.4f | ${arm(sq8, p, -1)}%.4f | " +
        f"${arm(sq8, p, sq8Slack)}%.4f | ${arm(pqi, p, -1)}%.4f | $rpRes%.4f | " +
        f"${rpRes - rf}%+.4f | $roRes%.4f | ${roRes - rf}%+.4f |")
    }

    // SQ8's per-vector range error hid inside slack=32; PQ's
    // codebook-bounded error is larger — measured at the serving-typical
    // pruned point
    println()
    table("rescore slack", "sq8 Recall@50 (p=16)", "pq Recall@50 (p=16)")(
      Seq(0, 8, 32, 128, 256).map(sl =>
        f"| $sl%d | ${arm(sq8, 16, sl)}%.4f | ${arm(pqi, 16, sl)}%.4f |"))
    println(s"(defaults: sq8 = $sq8Slack, pq = $pqSlack)")

    // single-query wall at the operating probes (after one warmup pass)
    def searchWall(idx: RoutedAnnIndex): Double = {
      queries.take(10).foreach(idx.search(_, K, 8))
      val t0 = System.nanoTime()
      queries.foreach(idx.search(_, K, 8))
      (System.nanoTime() - t0) / 1e9 / nq
    }
    val Seq(wf, wq, wp) = Seq(f32, sq8, pqi).map(searchWall)
    println(f"search wall probes=8: f32 ${wf * 1000}%.1f ms/query vs " +
      f"sq8 ${wq * 1000}%.1f ms/query (${wq / wf}%.2fx) vs " +
      f"pq ${wp * 1000}%.1f ms/query (${wp / wf}%.2fx)")

    // the f32 curve vs the curve measured THROUGH the quantized rescored
    // path (exact ground truth from the true corpus)
    val (calF, calFWall) = timed("f32 calibrate (self-sample)") {
      f32.calibrate(nQueries = nq, k = K, seed = 99L)
    }
    val (calQ, calQWall) = timed("sq8 calibrate (exact corpus, rescored path)") {
      sq8.calibrate(nQueries = nq, k = K, seed = 99L, exact = Some(base))
    }
    val (calP, calPWall) = timed("pq calibrate (exact corpus, rescored path)") {
      pqi.calibrate(nQueries = nq, k = K, seed = 99L, exact = Some(base))
    }
    println(f"calibrate wall: f32 $calFWall%.1f s vs sq8 $calQWall%.1f s " +
      f"vs pq $calPWall%.1f s")
    val fByP = calF.recallCurve.map(c => c._1 -> c._2).toMap
    val pByP = calP.recallCurve.map(c => c._1 -> c._2).toMap
    table("probes", "f32 curve", "sq8 curve (served path)", "pq curve (served path)")(
      calQ.recallCurve.flatMap { case (p, qr, _) =>
        for (fr <- fByP.get(p); pr <- pByP.get(p))
          yield f"| $p%d / $shards%d | $fr%.4f | $qr%.4f | $pr%.4f |" })

    Seq(f32, sq8, pqi, opqi).foreach(_.unpersist())
    base.unpersist()
    if (r.args.length > 1) return

    // 768-d: 64 dims understates the lever (the graph term is comparable to
    // a 256 B payload); at BGE/MiniLM-class dims the payload dominates
    val n2 = math.min(30000L, n)
    val dim2 = 768
    val gen2 = new SiftGen(seed = 515L, dim = dim2, intrinsic = 16)
    val corpus2 = rows(spark, gen2, 0L, n2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"\nhigh-dim arm: ${corpus2.count()} x $dim2, 16 shards")
    val f2 = build("f32 build (768-d)", corpus2, dim2, 16, 2, StorageSpec.F32)
    val q2 = build("sq8 build (768-d)", corpus2, dim2, 16, 2, StorageSpec.Sq8)
    // the PQ payoff point: 96 B/row of codes vs 3072 B of floats
    val p2 = build("pq(m=96,ksub=256) build (768-d)", corpus2, dim2, 16, 2,
      StorageSpec.Pq(96, 256))
    val Seq(b2f, b2q, b2p) = Seq(f2 -> "f32d768", q2 -> "sq8d768", p2 -> "pqd768")
      .map { case (i, t) => artifactBytes(i, t) }
    println(f"768-d artifact bytes: f32 ${b2f / 1e6}%.1f MB " +
      f"(${b2f.toDouble / n2}%.1f B/row) vs sq8 ${b2q / 1e6}%.1f MB " +
      f"(${b2q.toDouble / n2}%.1f B/row, ${b2f.toDouble / b2q}%.2fx) vs " +
      f"pq ${b2p / 1e6}%.1f MB (${b2p.toDouble / n2}%.1f B/row, " +
      f"${b2f.toDouble / b2p}%.2fx)")
    printBookTerm(p2, 16, n2)
    val Seq(r2f, r2q, r2p) = Seq(f2, q2, p2).map(residentBytes)
    println(f"768-d resident bytes (SizeEstimator): f32 ${r2f.toDouble / n2}%.1f " +
      f"B/row vs sq8 ${r2q.toDouble / n2}%.1f B/row (${r2f.toDouble / r2q}%.2fx) " +
      f"vs pq ${r2p.toDouble / n2}%.1f B/row (${r2f.toDouble / r2p}%.2fx)")
    val qs2 = externalQueries(gen2, nq * 30 / NQueries, base = 2 * ExternalBase)
    val arm2 = served(gen2, qs2, groundTruth(queryFrame(spark, qs2), corpus2)) _
    for (p <- Seq(4, 16))
      println(f"768-d probes=$p%d Recall@50: f32 ${arm2(f2, p, -1)}%.4f " +
        f"vs sq8+rescore ${arm2(q2, p, sq8Slack)}%.4f " +
        f"vs pq+rescore ${arm2(p2, p, pqSlack)}%.4f")
    Seq(f2, q2, p2).foreach(_.unpersist())
    corpus2.unpersist()
  }
}
