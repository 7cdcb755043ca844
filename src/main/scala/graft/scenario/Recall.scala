package graft.scenario

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Scale._
import graft.types.Algorithm

/**
 * `recall`: ANN Recall@50 against brute force at the scale dir (200k ×
 * 64-d) for the approximate families users operate at that size:
 *
 *  - id-hash sharded HNSW (16 shards, reference build params) — threshold
 *    ≥ 0.90 (hnsw.md:1026-1093);
 *  - coarse-routed HNSW over a probes sweep (per-query wall includes the
 *    pruned-partition job launch);
 *  - IVF (256 cells) over an nProbe sweep — the recall/scan-fraction curve;
 *  - PQ (m=8, ksub=256, sample-trained) over a shortlist-depth sweep;
 *  - hard-negative mining, IVF arm vs the exact broadcast arm.
 *
 * Everything runs cosine. Queries are 100 corpus vectors picked by a
 * deterministic id stride. A positive first arg replaces the scale dir with
 * an n-row organic corpus: the scale dir is replica-structured (each
 * query's true top-K are its own near-replicas, so every bucketed method
 * reads 1.0 there), the organic manifold is where the IVF/PQ curves are
 * informative.
 *
 * Args: [nOrganic|0] [arms=hnsw,routed,ivf,pq,neg] [routedShards=64] [routedEps=0.0]
 */
object Recall {

  def run(r: Run): Unit = {
    val spark = r.spark
    val organicN = r.arg(0).map(_.toLong).filter(_ > 0)
    val arms = r.arg(1).fold(Set("hnsw", "routed", "ivf", "pq", "neg"))(
      _.split(",").map(_.trim).toSet)
    val emb = (organicN match {
      case Some(on) =>
        println(s"ORGANIC corpus: $on SIFT-shaped 64-d vectors (intrinsic 12)")
        rows(spark, SiftGen.organic(), 0L, on)
      case None =>
        spark.read.parquet(s"${r.sfDir}/embeddings.parquet")
          .select(col("vec_id").cast("long").as("id"),
            col("embedding").cast("array<float>").as("key"))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    val stride = math.max(1L, n / nQueries(n))
    val queries = emb.where(pmod(col("id"), lit(stride)) === 0)
      .limit(nQueries(n))
      .select(col("id").as("qid"), col("key").as("qv"))
      .persist()
    val nq = queries.count()
    println(s"corpus $n vectors, $nq queries (id stride $stride), K=$K")

    val (gt, _) = timed("ground truth") { groundTruth(queries, emb) }
    val qvecs = queries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qids = qvecs.map(_._1).toSeq
    val qv = qvecs.toMap
    def recallOf(res: DataFrame): Double = {
      val got = byQuery(res.select("qid", "cid").collect())
      recall(gt, gt.keys)(q => got.getOrElse(q, Set.empty))
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def row(s: String): Unit = { out += s; println(s) }

    if (arms("hnsw")) {
      val (index, _) = timed("hnsw build (16 shards)") {
        graft.ann.RoutedAnnIndex.buildHashed(emb, 64, refHnsw(16), numShards = 16)
      }
      val (rec, _) = timed("hnsw search") {
        recall(gt, qids)(q => index.search(qv(q), K, index.numShards).map(_._1))
      }
      row(f"| sharded HNSW (16 shards, M=40/M0=80/efC=100, efS=16) | full graph | $rec%.4f |")
    }

    // content routing must hold recall at probes << shards, where
    // hash-sharded search is linear in shard count
    if (arms("routed")) {
      val nShards = r.arg(2).map(_.toInt).getOrElse(64)
      val repEps = r.arg(3).map(_.toDouble).getOrElse(0.0)
      val tag = if (repEps > 0) f" eps=$repEps%.2f" else ""
      val (routed, _) = timed(s"routed hnsw build ($nShards shards$tag)") {
        graft.ann.RoutedAnnIndex.build(emb, 64, refHnsw(16), numShards = nShards,
          iters = 3, replicationEps = repEps)
      }
      if (repEps > 0)
        println(f"  replication factor: ${routed.storedRows.toDouble / n}%.3fx " +
          s"(${routed.storedRows} stored for $n input)")
      for (probes <- Seq(2, 4, 8, 16, nShards)) {
        var wall = 0.0
        val (rec, _) = timed(s"routed probes=$probes") {
          recall(gt, qids) { q =>
            val t = System.nanoTime()
            val got = routed.search(qv(q), K, probes).map(_._1)
            wall += (System.nanoTime() - t) / 1e9
            got
          }
        }
        val frac = probes.toDouble / nShards
        row(f"| routed HNSW $nShards shards$tag, probes=$probes | $frac%.3f of shards searched, ${wall / qvecs.length * 1000}%.0f ms/query | $rec%.4f |")
      }
      routed.unpersist()
    }

    if (arms("ivf")) {
      val nCells = 256
      val (ivf, _) = timed(s"ivf build ($nCells cells)") {
        graft.ann.IvfIndex.build(emb, nCells = nCells, iters = 2,
          metric = Algorithm.CosineSimilarity)
      }
      for (nProbe <- Seq(1, 4, 16, 64)) {
        val (rec, _) = timed(s"ivf nProbe=$nProbe") {
          recallOf(ivf.topKJoin(queries, "qid", "qv", K, nProbe))
        }
        row(f"| IVF $nCells cells, nProbe=$nProbe | ${nProbe.toDouble / nCells}%.3f of corpus scanned | $rec%.4f |")
      }
      ivf.unpersist()
    }

    // sample-trained; ADC coarse ranking + exact rescore
    if (arms("pq")) {
      val sample = graft.pipeline.Corpus.deterministicSample(emb, "id", 0.1)
      val (cb, _) = timed("pq train (m=8, ksub=256, 10% sample)") {
        graft.ann.PqCodebook.train(sample, m = 8, ksub = 256, iters = 3)
      }
      for (shortlist <- Seq(100, 500, 2000)) {
        val (rec, _) = timed(s"pq shortlist=$shortlist") {
          recallOf(cb.topKJoin(queries, emb, "qid", "qv", "id", "key", K, shortlist))
        }
        row(f"| PQ m=8 ksub=256, shortlist=$shortlist | ${shortlist}-deep rescore | $rec%.4f |")
      }
    }

    // labels synthesized as id % 7 (orthogonal to geometry: the measurement
    // is cell-routing recall, not label semantics); k = 5, 200 anchors,
    // 64-cell labeled cosine index
    if (arms("neg")) {
      val kNeg = 5
      val labeled = emb.withColumn("label", pmod(col("id"), lit(7)).cast("int"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      labeled.count()
      val anchors = labeled.where(pmod(col("id"), lit(math.max(1L, n / 200))) === 0)
        .limit(200)
      val exact = byQuery(graft.ann.Negatives.hardNegatives(anchors, labeled,
        "id", "key", "label", "id", "key", "label", kNeg).select("qid", "cid").collect())
      val (ivfL, _) = timed("labeled ivf build (64 cells)") {
        graft.ann.IvfIndex.build(labeled, nCells = 64, iters = 3,
          metric = Algorithm.CosineSimilarity)
      }
      for (nProbe <- Seq(1, 2, 4, 8, 16)) {
        val (rec, _) = timed(s"negatives nProbe=$nProbe") {
          val got = byQuery(ivfL.hardNegatives(anchors, "id", "key", "label", "label",
            kNeg, nProbe).select("qid", "cid").collect())
          recall(exact, exact.keys)(q => got.getOrElse(q, Set.empty))
        }
        row(f"| hard negatives, IVF 64 cells, nProbe=$nProbe | ${nProbe / 64.0}%.3f of corpus scanned | $rec%.4f (negative recall@$kNeg) |")
      }
      ivfL.unpersist()
      labeled.unpersist(blocking = false)
    }

    println()
    table("configuration", "cost knob", "Recall@50")(out)
    queries.unpersist(); emb.unpersist()
  }
}
