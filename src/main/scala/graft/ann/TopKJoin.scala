package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Quantize, Similarity}
import graft.types.Algorithm

/**
 * The batch top-k join core. Every batch k-NN join entry point —
 * [[graft.dedup.Dedup.topKJoin]], [[graft.functions.Quantize
 * .quantizedTopKJoin]], [[PqCodebook.topKJoin]], the three
 * [[IvfIndex]] joins and the two [[RoutedAnnIndex]] joins — is a thin
 * alias over one composition of three parts:
 *
 *  - a [[TopKJoin.Source]] of candidates: a broadcast cross join (the
 *    one-cell case), IVF probed cells, or routed shard graphs (including
 *    their sharp-filter slice scan). The source also shapes the
 *    query-side frame, so each arm keeps its join strategy: broadcast
 *    arms hint their query side, routed arms never do;
 *  - a [[TopKJoin.Scorer]] for the Catalyst sources: exact closeness, the
 *    SQ8 coarse cosine or PQ ADC (the routed graphs score in their node
 *    storage's form);
 *  - one rescore [[TopKJoin.Tail]] for inexact coarse scores: a
 *    shortlist survives, float vectors re-attach by id, one exact rescore
 *    ranks once through [[BoundedTopK]].
 *
 * Query prep (one row per qid) and centroid ranking exist here once, so a
 * fix to either reaches every arm.
 */
private[graft] object TopKJoin {

  /** One row per qid as (qid LONG, qv): a qid names ONE query, so a frame
    * that repeats one (a DSL `TOPK` over a user view can) scores it once.
    * Duplicates keep min(qv) — lexicographic array order, a deterministic
    * pick where dropDuplicates would keep whichever row a partitioning
    * race surfaced. `array_min(collect_list)` is that same ordering as an
    * object hash aggregate, so the dedup plans no sort. */
  def queries(df: DataFrame, qId: String, qVec: String): DataFrame =
    df.select(col(qId).cast("long").as("qid"), col(qVec).as("qv"))
      .groupBy("qid").agg(array_min(collect_list(col("qv"))).as("qv"))

  /** The `n` nearest centroids of each query vector as
    * array<struct<d, c>>, ordered (distance ASC, index ASC) — the
    * k-means assignment geometry. Every distance comes out of ONE native
    * kernel call ([[org.apache.spark.sql.graftbridge.CentroidDists]]; a
    * per-centroid kernel array blew codegen's method budget at large
    * centroid counts), then a centroid-count struct sort ranks them. */
  def nearestCentroids(centroids: Array[Array[Float]], v: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{CentroidDists, ColumnBridge}
    val dists = ColumnBridge.column(CentroidDists(
      ColumnBridge.expression(v), centroids.flatten, centroids.length))
    slice(array_sort(zip_with(dists, sequence(lit(0), lit(centroids.length - 1)),
      (d, c) => struct(d.as("d"), c.as("c")))), 1, clamp(n, centroids.length))
  }

  /** Driver-side [[nearestCentroids]] for one query vector: the same
    * (distance, index) order over the same squared-euclidean geometry. */
  def nearestCentroids(centroids: Array[Array[Float]], q: Array[Float],
      n: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (i, Similarity.jvm.sqEuclidean(q, c)) }
      .sortBy { case (i, d) => (d, i) }
      .take(clamp(n, centroids.length))
      .map(_._1)

  private def clamp(n: Int, max: Int): Int = math.max(1, math.min(n, max))

  /** Similarity reported for a Catalyst closeness ([[Similarity.closeness]]):
    * itself for the similarity metrics, its exact negation — the distance
    * — for the distance ones. */
  private def similarityOf(metric: Algorithm, closeness: Column): Column =
    metric match {
      case Algorithm.CosineSimilarity | Algorithm.DotProductSimilarity |
           Algorithm.HNSW => closeness
      case _ => -closeness
    }

  // ------------------------------------------------------ coarse scorers

  /** How a Catalyst source scores one (query, corpus row) pair: per-side
    * columns prepared once per row BEFORE the join (codes, ADC lookup
    * tables), and the score over them, larger = closer. */
  sealed trait Scorer {
    /** The metric the score ranks by (or approximates). */
    def metric: Algorithm
    def query(qv: Column): Seq[Column]
    def corpus(cv: Column): Seq[Column]
    def score: Column
  }

  /** Exact closeness under `metric` — no rescore needed. */
  final case class Exact(metric: Algorithm) extends Scorer {
    def query(qv: Column): Seq[Column] = Seq(qv.as("qv"))
    def corpus(cv: Column): Seq[Column] = Seq(cv.as("cv"))
    def score: Column = Similarity.closeness(metric, col("cv"), col("qv"))
  }

  /** SQ8: cosine over both sides' dequantized int8 codes
    * ([[Quantize.coarseCosine]]) — 1 byte per dimension crosses the join. */
  case object Sq8 extends Scorer {
    def metric: Algorithm = Algorithm.CosineSimilarity
    private def coded(v: Column, p: String): Seq[Column] = {
      val (mn, mx) = Quantize.quantParams(v)
      Seq(Quantize.int8Codes(v).as(s"${p}codes"), mn.as(s"${p}mn"), mx.as(s"${p}mx"))
    }
    def query(qv: Column): Seq[Column] = coded(qv, "q")
    def corpus(cv: Column): Seq[Column] = coded(cv, "c")
    def score: Column = Quantize.coarseCosine(col("qcodes"), col("qmn"),
      col("qmx"), col("ccodes"), col("cmn"), col("cmx"))
  }

  /** PQ ADC: the query builds its lookup table once (the asymmetric
    * half), each corpus row costs m lookups over its code column. */
  final case class Adc(cb: PqCodebook) extends Scorer {
    def metric: Algorithm = Algorithm.CosineSimilarity
    def query(qv: Column): Seq[Column] =
      Seq(cb.lutExpr(qv).as("luts"), Similarity.hof.l2Norm(qv).as("qn"))
    def corpus(cv: Column): Seq[Column] = Seq(cb.encodeExpr(cv).as("codes"))
    def score: Column = cb.adcCosine(col("luts"), col("qn"), col("codes"))
  }

  // ---------------------------------------------------- candidate sources

  /** Where candidates come from. Candidates are (qid, cid, score) rows,
    * larger score = closer, that flow unsorted into the bounded fold. */
  sealed trait Source {
    def metric: Algorithm
    /** The deduped query frame, shaped for this source's join; `reread`
      * when a rescore tail reads it a second time. */
    def queries(df: DataFrame, qId: String, qVec: String, reread: Boolean): DataFrame =
      TopKJoin.queries(df, qId, qVec)
    /** Candidates for `depth` results per qid. */
    def candidates(q: DataFrame, depth: Int): DataFrame
    /** The query side the rescore tail joins by qid. */
    def querySide(q: DataFrame): DataFrame = broadcast(q)
    /** Similarity reported from this source's own (un-rescored) score. */
    def similarity(score: Column): Column = similarityOf(metric, score)
  }

  /** Broadcast cross join — the one-cell case: the (small) query side is
    * broadcast whole and the `(cid, cv)` corpus streams past it. The dedup
    * runs on one partition, so it plans no shuffle. Read once (no rescore
    * tail), it stays in the plan and the broadcast itself collects it.
    * Read twice, it is collected ONCE at call time by one single-task job,
    * and the coarse pass and the rescore broadcast the same local rows
    * instead of each re-running the query plan. */
  final case class Broadcast(corpus: DataFrame, scorer: Scorer) extends Source {
    def metric: Algorithm = scorer.metric
    override def queries(df: DataFrame, qId: String, qVec: String,
        reread: Boolean): DataFrame = {
      val q = TopKJoin.queries(df.coalesce(1), qId, qVec)
      if (!reread) q else q.sparkSession.createDataFrame(q.collectAsList(), q.schema)
    }
    def candidates(q: DataFrame, depth: Int): DataFrame =
      broadcast(q.select(col("qid") +: scorer.query(col("qv")): _*))
        .crossJoin(corpus.select(col("cid") +: scorer.corpus(col("cv")): _*))
        .select(col("qid"), col("cid"), scorer.score.as("score"))
  }

  /** IVF probed cells: each query row ranks the centroids once, explodes
    * to its `nProbe` nearest cells and meets the cell-partitioned corpus
    * on a (cell, cell) equi-join — no query broadcast, no all-pairs
    * product. A corpus row lives in exactly one cell and (qid, cell)
    * probes are distinct, so no candidate appears twice. */
  final case class Cells(ivf: IvfIndex, nProbe: Int, scorer: Scorer) extends Source {
    def metric: Algorithm = scorer.metric
    def candidates(q: DataFrame, depth: Int): DataFrame = {
      // scorer columns are prepared once per QUERY, before the explode
      val probed = q
        .select(col("qid") +: col("qv").as("_route") +: scorer.query(col("qv")): _*)
        .withColumn("_p", explode(nearestCentroids(ivf.centroids, col("_route"), nProbe)))
        .withColumn("cell", col("_p.c"))
        .drop("_p", "_route")
      probed
        .join(ivf.cells.select(col("cell") +: col("id").as("cid") +:
          scorer.corpus(col("key")): _*), "cell")
        .select(col("qid"), col("cid"), scorer.score.as("score"))
    }
  }

  /** Routed shard graphs: each query row ranks the routing centroids
    * once, explodes to its `probes` nearest shards (every shard under the
    * id-hash router), and the query rows — the SMALL side — shuffle to the
    * shard partitions where the graphs already live; per partition each
    * query runs the shard's search.
    * The corpus never moves. Scores are the graphs' stored form: the
    * negated [[VecStore]] distance (exact under f32, dequantized/decoded
    * under SQ8/PQ). `filter` composes with the tombstones inside every
    * shard search; a SHARP filter — known cardinality below
    * [[RoutedAnnIndex.FilteredScanFraction]] of the live rows — scans the
    * accepted slice exactly in every shard instead. The query side is
    * NEVER broadcast-hinted: a production batch join can carry millions
    * of query vectors. */
  final case class Routed(index: RoutedAnnIndex, probes: Int,
      filter: IdFilter) extends Source {
    def metric: Algorithm = index.metric

    override def queries(df: DataFrame, qId: String, qVec: String,
        reread: Boolean): DataFrame =
      TopKJoin.queries(df, qId, qVec)
        .select(col("qid"), col("qv").cast("array<float>").as("qv"))

    /** Sharp-filter cutover. `expected` counts distinct accepted ids, so
      * the denominator is LIVE LOGICAL rows ([[RoutedAnnIndex
      * .liveLogicalRows]] — conservative: the cutover under-triggers). */
    private lazy val scanSlice: Boolean = filter match {
      case IdFilter.Bloom(_, expected) if expected >= 0L =>
        val logical = index.liveLogicalRows
        val sharp = logical > 0 &&
          expected <= RoutedAnnIndex.FilteredScanFraction * logical
        if (sharp) org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"RoutedAnnIndex.topKJoin: filter expects $expected of ~$logical " +
            s"live rows (< ${RoutedAnnIndex.FilteredScanFraction}) — " +
            "scanning the accepted slice exactly instead of the graphs")
        sharp
      case _ => false
    }

    def candidates(q: DataFrame, depth: Int): DataFrame = {
      val p = if (scanSlice) index.numShards else probes
      val probed = index.router.probeColumn(col("qv"), p)
      val byShard = q
        .select(explode(probed).as("_s"), col("qid"), col("qv"))
        .select(col("_s").cast("int"), col("qid"), col("qv"))
        .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Float](2).toArray)))
        .partitionBy(new RoutedAnnIndex.ShardPartitioner(index.numShards))
        .mapPartitions(it => Iterator.single(it.map(_._2).toArray),
          preservesPartitioning = true)
      // task closures capture plain values, never the index handle: the
      // tombstone array + filter compose once per task
      val accept = RoutedAnnIndex.composeAccept(index.tombstones, filter)
      val metric = this.metric
      val scan = scanSlice
      val hits = index.shards.zipPartitions(byShard, preservesPartitioning = false) {
        (sIt, qIt) =>
          val qs = qIt.next()
          sIt.toSeq.headOption match {
            case None => Iterator.empty
            case Some(shard) if scan =>
              // accept tests are cheap, so filter ONCE per shard per batch;
              // distances are paid only on accepted rows
              val rows = RoutedAnnIndex.acceptedRowsOf(shard, accept).toArray
              qs.iterator.flatMap { case (qid, v) =>
                val h = new BoundedTopK.Heap(depth)
                rows.foreach { case (id, x) =>
                  h.offer(id, RoutedAnnIndex.closenessOf(metric, v, x)) }
                h.best.iterator.map { case (id, c) => (qid, id, c) }
              }
            case Some(shard) => qs.iterator.flatMap { case (qid, v) =>
              shard.topK(v, depth, accept).map { case (cid, c) => (qid, cid, c) }
            }
          }
      }
      // replicas can surface from several probed shards; the fold ranks
      // each cid once (BoundedTopK keeps an id's best score)
      q.sparkSession.createDataFrame(hits).toDF("qid", "cid", "score")
    }

    override def querySide(q: DataFrame): DataFrame = q

    /** The stored-form closeness of the euclidean metric is the NEGATED
      * SQUARED distance; report the distance (the squared one for a
      * KD-tree, as the reference does). */
    override def similarity(score: Column): Column = metric match {
      case Algorithm.EuclideanDistance => sqrt(-score)
      case Algorithm.KDTree => -score
      case _ => score
    }
  }

  // ------------------------------------------------------ rescore + output

  /** The exact rescore of an inexact coarse score: `shortlist` candidates
    * per qid survive the coarse fold, float vectors re-attach by id from
    * `vectors` — a `(cid, cv)` frame — and the exact closeness under the
    * source metric ranks them. */
  final case class Tail(shortlist: Int, vectors: DataFrame)

  /** Output column: `cos` = the score rounded from double; `sim` = the
    * reported similarity through a float cast. */
  sealed trait Output
  case object Cos extends Output
  case object Sim extends Output

  /** Run one batch top-k join → (qid, cid, cos | sim, rank), ranked by
    * (closeness DESC, cid ASC). Both rankings are the bounded per-task
    * fold ([[BoundedTopK]]), never a window sort of the candidate table —
    * that shape spilled a 65 GB disk at 10k × 200k (ScaleJoin, SCALE.md
    * round 13). */
  def apply(queries: DataFrame, qId: String, qVec: String, k: Int,
      source: Source, tail: Option[Tail], output: Output): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    tail.foreach(t => require(t.shortlist >= k,
      s"shortlist (${t.shortlist}) must be >= k ($k)"))
    val q = source.queries(queries, qId, qVec, reread = tail.isDefined)
    val depth = tail.fold(k)(_.shortlist)
    val coarse = BoundedTopK.topK(source.candidates(q, depth),
      "qid", "cid", "score", depth)
    val top = tail.fold(coarse) { t =>
      val exact = coarse.select("qid", "cid")
        .join(t.vectors, "cid")
        .join(source.querySide(q), "qid")
        .select(col("qid"), col("cid"),
          Similarity.closeness(source.metric, col("cv"), col("qv")).as("score"))
      // the vectors frame can be a user view with duplicate ids (the DSL
      // TOPK corpus arm); the fold ranks each cid once
      BoundedTopK.topK(exact, "qid", "cid", "score", k)
    }
    val value = output match {
      case Cos => round(col("score"), 4).as("cos")
      case Sim =>
        val sim = if (tail.isDefined) similarityOf(source.metric, col("score"))
          else source.similarity(col("score"))
        round(sim.cast("float").cast("double"), 4).as("sim")
    }
    top.select(col("qid"), col("cid"), value, col("rank"))
  }
}
