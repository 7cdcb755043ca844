package graft.ann

import scala.collection.mutable

import graft.types.{Algorithm, NonLinearConfig}

/**
 * Hierarchical Navigable Small World graph — a from-scratch Scala
 * implementation of the public Malkov & Yashunin algorithm (algs 1-5),
 * matching the reference's configuration surface and filtered-search
 * semantics (/root/reference/ahnlich/similarity/src/hnsw/mod.rs:275-296,
 * docs/specs/hnsw.md:139-649):
 *
 *  - defaults efConstruction=100, M=16, M0=2M=32, ef_search=16;
 *  - deterministic level assignment: the level RNG is seeded from the node
 *    id (splitmix64), so the same inserts in the same order produce the same
 *    graph on every replica (hnsw.md:1071-1093 determinism checklist);
 *  - "in-filtering" for predicated search (hnsw.md:606-649): rejected nodes
 *    are still traversed as stepping stones (candidate set C) but only
 *    accepted nodes join the result set W; early-stop requires |W| = ef.
 *
 * Node vectors live behind a [[VecStore]]: full-precision float32 (the
 * default — bit-identical to the pre-seam implementation), SQ8 int8
 * codes ([[NodeStorage.Sq8]] — ~1/4 the vector bytes) or PQ codebook
 * indices ([[NodeStorage.Pq]] — m bytes/vector, the byte-budget end).
 * Quantized graphs build AND traverse on the quantized values; exact
 * ranking is restored by the downstream shortlist rescore. Internal
 * distances are smaller-is-closer per metric: cosine → −cos, dot → −dot,
 * euclidean → squared euclidean (same ordering, cheaper).
 */
@SerialVersionUID(1L)
final class HnswIndex(
    val dim: Int,
    val m: Int,
    val m0: Int,
    val efConstruction: Int,
    val metric: Algorithm,
    val extendCandidates: Boolean = false,
    val keepPrunedConnections: Boolean = false,
    val storage: NodeStorage = NodeStorage.F32) extends Serializable {

  private val mL: Double = 1.0 / math.log(m.toDouble)

  // node storage (index-aligned arrays; graph as per-level neighbor
  // lists). Primitive buffers throughout ([[IntBuf]]/[[LongBuf]]): the
  // boxed-ArrayBuffer layout cost ~290 B/row of serialized graph at the
  // 200k × 64-shard scale point — as much as the float payload itself
  private val ids = new LongBuf()
  private val store: VecStore = storage.newStore(metric)
  private val levels = new IntBuf()
  // neighbors(node)(level) = IntBuf of nodeIdx
  private val neighbors = mutable.ArrayBuffer[Array[IntBuf]]()
  private var entryPoint: Int = -1
  private var maxLevel: Int = -1
  private val idToIdx = new LongIntMap()

  def size: Int = ids.length

  /** Stored (id, vector) rows in insertion order, as floats (EXACT for
    * float storage, dequantized for SQ8 — rebuild paths that must not
    * re-quantize use [[entriesPayload]]). Callers must not mutate. */
  def entries: Iterator[(Long, Array[Float])] =
    (0 until size).iterator.map(i => (ids(i), store.export(i)))

  /** Stored rows in their EXACT stored form — the lossless extraction
    * path compaction uses to rebuild a graph without re-encoding
    * ([[RoutedAnnIndex.append]]): under SQ8 the codes carry, so N
    * compactions cost zero quantization drift. */
  def entriesPayload: Iterator[(Long, VecPayload)] =
    (0 until size).iterator.map(i => (ids(i), store.payload(i)))

  /** Stored content ids only — membership scans (e.g. the delete tier's
    * which-shards-hold-victims pass) must not pay a per-row vector
    * export (under SQ8 that is a dequantize + allocation per row). */
  def idsIterator: Iterator[Long] =
    (0 until size).iterator.map(ids(_))

  /** Stored rows surviving `accept`, with the accept test on the ID
    * BEFORE the vector is materialized: [[VecStore.export]] is a decode
    * per row under quantized storage (SQ8 dequantize; PQ a codebook
    * gather; OPQ additionally an O(d²) rotate-back), so a sharp filter
    * that rejects ~90% of rows must not pay the decode on the rejected
    * ones — the slice-scan currency (round-17, closing the r16 advice:
    * [[RoutedAnnIndex.scanSearch]] paid export on every stored row).
    * `accept == null` accepts all rows. */
  def acceptedEntries(accept: Long => Boolean): Iterator[(Long, Array[Float])] =
    if (accept == null) entries
    else (0 until size).iterator.filter(i => accept(ids(i)))
      .map(i => (ids(i), store.export(i)))

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic geometric level from the content id. */
  private def levelFor(id: Long): Int = {
    val u = (splitmix64(id) >>> 11).toDouble / (1L << 53).toDouble
    val uu = if (u <= 0.0) java.lang.Double.MIN_VALUE else u
    math.floor(-math.log(uu) * mL).toInt
  }

  /** Algorithm 2: greedy beam search on one layer. `distTo` scores a
    * stored node against the probe (a stored node during build, a float
    * query during search — the [[VecStore]] seam). Returns (nodeIdx,
    * dist) max-heap contents of the ef closest. `accept` implements
    * in-filtering: null means accept-all. */
  private def searchLayer(distTo: Int => Double, eps: Seq[(Int, Double)], ef: Int,
      level: Int, accept: Int => Boolean = null): mutable.PriorityQueue[(Int, Double)] = {
    val visited = mutable.HashSet[Int]()
    // candidates: min-heap by dist; results: max-heap by dist. Max element =
    // (largest dist, largest idx) so overflow eviction keeps smaller ids on
    // distance ties (node idx order == content-id order: shards insert
    // id-ascending), preserving the determinism contract in the header.
    implicit val maxOrd: Ordering[(Int, Double)] =
      Ordering.by[(Int, Double), (Double, Int)](t => (t._2, t._1))
    val candidates = mutable.PriorityQueue.empty[(Int, Double)](maxOrd.reverse)
    val results = mutable.PriorityQueue.empty[(Int, Double)](maxOrd)
    eps.foreach { case (n, d) =>
      if (visited.add(n)) {
        candidates.enqueue((n, d))
        if (accept == null || accept(n)) results.enqueue((n, d))
      }
    }
    while (candidates.nonEmpty) {
      val (c, dc) = candidates.dequeue()
      // early stop: nearest candidate farther than the worst of a full W
      if (results.size >= ef && dc > results.head._2) {
        candidates.clear()
      } else {
        val nbrs = neighbors(c)(math.min(level, levels(c)))
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          if (visited.add(e)) {
            val de = distTo(e)
            // admit equal-distance candidates with smaller idx too, so the
            // candidate-set membership is deterministic across ties
            if (results.size < ef || de < results.head._2 ||
                (de == results.head._2 && e < results.head._1)) {
              candidates.enqueue((e, de))
              if (accept == null || accept(e)) {
                results.enqueue((e, de))
                if (results.size > ef) results.dequeue()
              }
            }
          }
          i += 1
        }
      }
    }
    results
  }

  /** Algorithm 4: heuristic neighbor selection, ALL branches
    * (hnsw.md:139-649; similarity/src/hnsw/index.rs:67-117), around a
    * STORED node `qIdx` (build-path only, so every distance is
    * node-node):
    *  - `extendCandidates`: widen the working set with the candidates'
    *    own layer-`level` neighborhoods before selecting (helps clustered
    *    data where the beam's candidates are mutually close);
    *  - `keepPrunedConnections`: backfill the result up to mMax with the
    *    nearest heuristic-rejected candidates, so nodes keep full degree.
    * Determinism: the working set is sorted by (distance, idx) and the
    * extension iterates candidates in that order, so ties resolve
    * identically across rebuilds. */
  private def selectNeighbors(qIdx: Int, cands: Seq[(Int, Double)],
      mMax: Int, level: Int): IntBuf = {
    var work = cands
    if (extendCandidates) {
      val seen = mutable.HashSet.empty[Int]
      cands.foreach { case (c, _) => seen += c }
      val extra = mutable.ArrayBuffer[(Int, Double)]()
      cands.sortBy(t => (t._2, t._1)).foreach { case (c, _) =>
        val nbrs = neighbors(c)(math.min(level, levels(c)))
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          if (seen.add(e)) extra += ((e, store.distNodes(qIdx, e)))
          i += 1
        }
      }
      work = cands ++ extra
    }
    val sorted = work.sortBy(t => (t._2, t._1))
    val out = new IntBuf()
    val discarded = new IntBuf()
    val it = sorted.iterator
    while (it.hasNext && out.length < mMax) {
      val (e, de) = it.next()
      var closerToSelected = false
      var i = 0
      while (i < out.length && !closerToSelected) {
        if (store.distNodes(e, out(i)) < de) closerToSelected = true
        i += 1
      }
      if (!closerToSelected) out += e
      else if (keepPrunedConnections) discarded += e
    }
    if (keepPrunedConnections) {
      // discarded is already (distance, idx)-ordered — a subsequence of sorted
      var di = 0
      while (di < discarded.length && out.length < mMax) {
        out += discarded(di); di += 1
      }
    }
    out
  }

  /** Algorithm 1: insert. Duplicate ids are skipped (content-hash identity
    * means same vector — kdtree.rs:317-319 analog). */
  def insert(id: Long, vec: Array[Float]): Unit =
    insertPayload(id, VecPayload.F32(vec))

  /** Insert a row in its stored form — float rows encode (once, under
    * SQ8), already-encoded rows carry verbatim (the compaction rebuild
    * path; a float store refuses SQ8 payloads). The graph build runs
    * entirely on stored-form distances, so a graph rebuilt from
    * [[entriesPayload]] is bit-identical to the one that produced them. */
  def insertPayload(id: Long, p: VecPayload): Unit = {
    if (idToIdx.contains(id)) return
    val idx = ids.length
    val l = levelFor(id)
    ids += id; store.addPayload(p); levels += l
    neighbors += Array.fill(l + 1)(new IntBuf())
    idToIdx.put(id, idx)
    if (entryPoint < 0) { entryPoint = idx; maxLevel = l; return }

    val distTo: Int => Double = e => store.distNodes(idx, e)
    var ep = Seq((entryPoint, distTo(entryPoint)))
    var lc = maxLevel
    while (lc > l) { // greedy descent above the node's level
      ep = Seq(searchLayer(distTo, ep, 1, lc).toSeq.minBy(t => (t._2, t._1)))
      lc -= 1
    }
    lc = math.min(l, maxLevel)
    while (lc >= 0) {
      val w = searchLayer(distTo, ep, efConstruction, lc).toSeq
      val mMax = if (lc == 0) m0 else m
      val selected = selectNeighbors(idx, w, m, lc)
      neighbors(idx)(lc) = selected.copy()
      var si = 0
      while (si < selected.length) {
        val e = selected(si)
        val en = neighbors(e)(lc)
        en += idx
        if (en.length > mMax) {
          // candidates in en order (ascending slot), as the boxed layout
          // iterated — tie resolution is unchanged
          val cands = (0 until en.length).map(x => (en(x), store.distNodes(e, en(x))))
          neighbors(e)(lc) = selectNeighbors(e, cands, mMax, lc)
        }
        si += 1
      }
      ep = w
      lc -= 1
    }
    if (l > maxLevel) { maxLevel = l; entryPoint = idx }
  }

  /**
   * k-NN search → (id, closeness) larger-is-closer, for driver-side merge.
   * `accept`: optional id-level filter (in-filtering). The ≤4096
   * brute-force cutover happens OUTSIDE, in [[AnnSearch]], matching
   * hnsw/index.rs:24,233-235. Under SQ8 the closeness is the QUANTIZED
   * score (asymmetric: exact float query vs dequantized nodes) — callers
   * that need exact ranking rescore the returned candidates (engine
   * hydration / [[RoutedAnnIndex.topKJoinRescored]]).
   */
  def search(q: Array[Float], k: Int, efSearch: Int,
      accept: Long => Boolean = null): Seq[(Long, Double)] = {
    if (entryPoint < 0) return Nil
    val nodeAccept: Int => Boolean =
      if (accept == null) null else (n: Int) => accept(ids(n))
    // per-query scorer, set up ONCE per search and bit-identical to
    // distQuery (PQ builds its ADC tables, the float store takes the
    // query norm)
    val distTo: Int => Double = store.queryScorer(q)
    var ep = Seq((entryPoint, distTo(entryPoint)))
    var lc = maxLevel
    while (lc > 0) {
      ep = Seq(searchLayer(distTo, ep, 1, lc).toSeq.minBy(t => (t._2, t._1)))
      lc -= 1
    }
    val ef = math.max(efSearch, k)
    val w = searchLayer(distTo, ep, ef, 0, nodeAccept)
    w.toSeq.sortBy(t => (t._2, ids(t._1)))
      .take(k)
      .map { case (n, d) => (ids(n), -d) } // closeness = -distance
  }

  /** Neighbour lists by node and level, in node order (graph
    * identity checks). */
  private[ann] def neighborLists: Seq[Seq[Seq[Int]]] =
    neighbors.toSeq.map(_.toSeq.map(b => (0 until b.length).map(b(_))))

  def vectorOf(id: Long): Option[Array[Float]] = {
    val i = idToIdx.get(id)
    if (i < 0) None else Some(store.export(i))
  }
}

object HnswIndex {
  def apply(dim: Int, cfg: NonLinearConfig.HNSWConfig): HnswIndex =
    apply(dim, cfg, NodeStorage.F32)
  def apply(dim: Int, cfg: NonLinearConfig.HNSWConfig,
      storage: NodeStorage): HnswIndex =
    new HnswIndex(dim, cfg.maximumConnections, cfg.maximumConnectionsZero,
      cfg.efConstruction, cfg.metric, cfg.extendCandidates,
      cfg.keepPrunedConnections, storage)
}
