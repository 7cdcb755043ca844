package graft.scenario

import org.apache.spark.sql.functions._

import graft.Scale._

/**
 * `cdc`, `cdc-pq`, `cdc-opq`: CDC streaming ingest at the 200k × 64-shard
 * scale point. [[graft.streaming.StreamingIngest.streamingRoutedCdc]]
 * claims a live routed index absorbs a mixed insert+delete change stream
 * at LSM-tier cost; this measures that against the only alternative a
 * frozen index has (rebuild per batch).
 *
 * Shape: five micro-batches through a MemoryStream, each n/20
 * in-distribution inserts + n/100 stride-spread deletes (10k + 2k at n =
 * 200k; stride spread is the worst case for compaction locality).
 * Recorded: per-batch wall and LSM tiers; after the drain, exhaustive-probe
 * survivor correctness (no tombstoned id surfaces) and Recall@50 at
 * probes=8 vs exact truth over the net survivors. Control: one fresh build
 * over the final net rows. The pq and opq storages serve through the exact
 * rescore (appends overlay float tails, compactions carry codes verbatim
 * and encode folded tails under the carried book and rotation).
 *
 * Args: [n] (default 200000).
 */
object Cdc {

  private val Probes = 8
  private val Batches = 5

  def run(storage: String)(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val n = r.n(N)
    val insPerBatch = n / 20
    val delPerBatch = n / 100
    val gen = SiftGen.organic()
    val base = corpus(spark, gen, n)

    val cfg = refHnsw()
    val storageSpec: graft.ann.StorageSpec = storage match {
      case "pq" => graft.ann.StorageSpec.Pq(8, 256)
      case "opq" => graft.ann.StorageSpec.Opq(8, 256)
      case _ => graft.ann.StorageSpec.F32
    }
    val (index, buildWall) = timed(s"routed build ($Shards shards, " +
      s"storage=${storageSpec.key}) — the per-batch cost if CDC " +
      "invalidated whole") {
      graft.ann.RoutedAnnIndex.build(base, Dim, cfg, Shards, iters = 3,
        storage = storageSpec)
    }

    // inserts continue the manifold past n; deletes are a stride across
    // the ORIGINAL corpus (spread over all shards)
    val delStride = n / (Batches * delPerBatch)
    def delIds(b: Int): Seq[Long] =
      (0L until delPerBatch).map(j => (b * delPerBatch + j) * delStride)
    def batchOps(b: Int): Seq[(Long, Option[Seq[Float]], String, Long)] =
      (0L until insPerBatch).map { j =>
        val id = n + b * insPerBatch + j
        (id, Some(gen(id).toSeq): Option[Seq[Float]], "insert", 1L)
      } ++ delIds(b).map(id => (id, None: Option[Seq[Float]], "delete", 1L))

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Option[Seq[Float]], String, Long)]
    val src = mem.toDF().select(col("_1").as("id"), col("_2").as("key"),
      col("_3").as("op"), col("_4").as("seq"))
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    val (handle, q) = graft.streaming.StreamingIngest.streamingRoutedCdc(
      index, src, "id", "key", "op", seqCol = Some("seq"))
    def tiers = s"append=${handle.appendCount} compact=${handle.compactCount} " +
      s"tombstone=${handle.tombstoneCount} recluster=${handle.reclusterCount}"
    val batchWalls = scala.collection.mutable.ArrayBuffer[Double]()
    try {
      for (b <- 0 until Batches) {
        batchWalls += timed(s"CDC batch ${b + 1}/$Batches " +
          s"($insPerBatch ins + $delPerBatch del)") {
          mem.addData(batchOps(b): _*)
          q.processAllAvailable()
        }._2
        println(s"    tiers so far: $tiers")
      }
    } finally q.stop()
    val idx = handle.current

    val deadIds = (0 until Batches).flatMap(delIds).toSet
    val netRows = n + Batches * insPerBatch - deadIds.size
    println(s"net live rows: $netRows (dead ${deadIds.size})")

    val queries = externalQueries(gen, nQueries(n))
    // correctness at exhaustive probes: no dead id surfaces
    queries.take(10).foreach { v =>
      val got = idx.search(v, K, idx.numShards).map(_._1).toSet
      assert((got & deadIds).isEmpty, "tombstoned id surfaced")
    }
    val liveDf = base.where(!col("id").isin(deadIds.toSeq: _*))
      .union(rows(spark, gen, n, n + Batches * insPerBatch))
    val gt = groundTruth(queryFrame(spark, queries), liveDf)
    // quantized storage serves through the exact rescore: over-fetch the
    // storage's slack and re-rank with true vectors (gen(id) IS the true
    // vector of any live id) — the engine-hydration emulation
    val slackN = idx.storage.rescoreSlack
    val rec = recall(gt, queries.indices.map(_.toLong)) { i =>
      val v = queries(i.toInt)
      val raw = idx.search(v, K + slackN, Probes)
      if (slackN == 0) raw.map(_._1)
      else raw.map { case (id, _) => (id, graft.functions.Similarity.jvm.cosine(v, gen(id))) }
        .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
    }

    val (_, control) = timed("rebuild control (one fresh build over net rows)") {
      graft.ann.RoutedAnnIndex.build(liveDf, Dim, cfg, Shards,
        iters = 3, storage = storageSpec).unpersist()
    }

    println()
    table("metric", "value")(Seq(
      f"| initial build | $buildWall%.1f s |",
      f"| CDC batch walls | ${batchWalls.map(w => f"$w%.1f").mkString(" / ")} s |",
      f"| CDC total (5 batches) | ${batchWalls.sum}%.1f s |",
      s"| tiers | $tiers |",
      f"| rebuild-per-batch control | $control%.1f s x $Batches = ${control * Batches}%.1f s |",
      f"| survivor Recall@$K @ probes=$Probes/$Shards | $rec%.4f |"))
    idx.unpersist(); index.unpersist(); base.unpersist()
  }
}
