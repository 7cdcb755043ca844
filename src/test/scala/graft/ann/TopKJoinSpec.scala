package graft.ann

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * The contract every batch top-k join alias shares: a qid names ONE
 * query. A query frame that repeats a qid (a DSL `TOPK` over a user view
 * can) must rank each corpus row at most once per qid, with ranks 1..k,
 * and must answer exactly what the frame deduped to its `min(qv)` row
 * answers.
 */
class TopKJoinSpec extends AnyFunSuite {
  import spark.implicits._

  private val Dim = 4
  private val K = 3
  private val SL = 8

  private lazy val corpus: DataFrame = (0 until 48).map(i =>
    (i.toLong, vec(31L, i.toLong, Dim).toSeq)).toDF("id", "key").cache()

  /** qid 0 repeated verbatim; qid 1 repeated with a different vector. */
  private lazy val dupQueries: DataFrame = Seq(
    (0L, vec(77L, 0L, Dim).toSeq), (0L, vec(77L, 0L, Dim).toSeq),
    (1L, vec(77L, 1L, Dim).toSeq), (1L, vec(77L, 2L, Dim).toSeq),
    (2L, vec(77L, 3L, Dim).toSeq)).toDF("qid", "v")

  /** The same frame deduped on the driver: min(v) per qid, compared
    * lexicographically like Spark's array ordering. */
  private lazy val dedupedQueries: DataFrame = {
    val lex = Ordering.Implicits.seqOrdering[Seq, Float](Ordering.Float.TotalOrdering)
    dupQueries.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .groupBy(_._1).toSeq
      .map { case (q, rs) => (q, rs.map(_._2).min(lex)) }
      .toDF("qid", "v")
  }

  private lazy val ivf = IvfIndex.build(corpus, nCells = 4, iters = 1,
    metric = Algorithm.CosineSimilarity)
  private lazy val cb = PqCodebook.train(corpus, m = 2, ksub = 4, iters = 1)
  private lazy val routed = RoutedAnnIndex.build(corpus, Dim,
    NonLinearConfig.HNSWConfig(efConstruction = 16, maximumConnections = 4,
      maximumConnectionsZero = 8, efSearch = 8),
    numShards = 4, iters = 1, storage = StorageSpec.Sq8)
  /** The id-hash router (`hnsw`'s): every query probes every shard. */
  private lazy val hashed = RoutedAnnIndex.buildHashed(corpus, Dim,
    NonLinearConfig.HNSWConfig(efConstruction = 16, maximumConnections = 4,
      maximumConnectionsZero = 8, efSearch = 8), numShards = 4)
  /** A one-shard routed index whose nearest row for every query was
    * deleted and set again: each such row is a stale graph node whose
    * tombstone the re-set cleared AND an overlay-tail row. */
  private lazy val reset = {
    val one = RoutedAnnIndex.build(corpus, Dim,
      NonLinearConfig.HNSWConfig(efSearch = 64), numShards = 1, iters = 1)
    val (ids, vecs) = corpus.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).unzip
    val back = dedupedQueries.collect().toSeq.flatMap(r => bruteTopK(
      Algorithm.CosineSimilarity, ids, vecs, r.getSeq[Float](1).toArray, 1)
      .map(_._1)).distinct
    one.delete(back).index.append(corpus.where(col("id").isin(back: _*))).get
  }

  private val aliases: Seq[(String, DataFrame => DataFrame)] = Seq(
    "Dedup.topKJoin" -> (q => graft.dedup.Dedup.topKJoin(
      q, corpus, "qid", "v", "id", "key", K)),
    "Quantize.quantizedTopKJoin" -> (q => graft.functions.Quantize
      .quantizedTopKJoin(q, corpus, "qid", "v", "id", "key", K, SL)),
    "PqCodebook.topKJoin" -> (q => cb.topKJoin(
      q, corpus, "qid", "v", "id", "key", K, SL)),
    "IvfIndex.topKJoin" -> (q => ivf.topKJoin(q, "qid", "v", K, nProbe = 4)),
    "IvfIndex.quantizedTopKJoin" -> (q => ivf.quantizedTopKJoin(
      q, "qid", "v", K, nProbe = 4, shortlist = SL)),
    "IvfIndex.pqTopKJoin" -> (q => ivf.pqTopKJoin(
      q, "qid", "v", K, nProbe = 4, shortlist = SL, cb = cb)),
    "RoutedAnnIndex.topKJoin" -> (q => routed.topKJoin(q, "qid", "v", K, probes = 4)),
    "RoutedAnnIndex.topKJoinRescored" -> (q => routed.topKJoinRescored(
      q, "qid", "v", K, probes = 4, exact = corpus)),
    "RoutedAnnIndex.topKJoin over the id-hash router" -> (q => hashed.topKJoin(
      q, "qid", "v", K, probes = 1)),
    "RoutedAnnIndex.topKJoin over re-set rows" -> (q => reset.topKJoin(
      q, "qid", "v", K, probes = 1)))

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  aliases.foreach { case (name, join) =>
    test(s"$name: a duplicated qid ranks each cid once, ranks 1..k") {
      val rows = join(dupQueries).collect()
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        val cids = rs.map(_.getLong(1))
        assert(cids.distinct.length == cids.length,
          s"qid $qid ranks a cid twice: ${rs.mkString(", ")}")
        assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to K.toLong),
          s"qid $qid ranks are not 1..$K: ${rs.mkString(", ")}")
      }
      assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
      assert(sorted(rows) == sorted(join(dedupedQueries).collect()),
        "a duplicated qid must answer as its min(qv) row alone")
    }
  }
}
