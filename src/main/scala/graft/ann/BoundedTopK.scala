package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Exact per-group top-k WITHOUT a global sort — the replacement for the
 * `Window.partitionBy(qid).orderBy(score DESC, id ASC)` + `row_number ≤ k`
 * pattern every batch kNN join shared. The window shape SORTS THE ENTIRE
 * exploded match table inside one shuffle: |queries| × matches-per-query
 * rows — 250M rows at 10k queries × 32-probe IVF over 200k, 2B at the
 * 10k-query exact broadcast join, whose spill filled a 65 GB disk
 * (graft.ScaleJoin, round 13). The measured cliff: 10× queries cost the
 * IVF join 22× wall, because sort work is super-linear in a table that
 * only ever contributes k rows per query downstream.
 *
 * This fold never materializes an ordering of the match table. Each task
 * streams its rows into one bounded heap per qid (k entries, primitive
 * arrays); tasks emit (qid, sorted top-k) PARTIALS, which reduceByKey
 * merges (merge of two sorted top-k arrays, take k) — the same
 * map-side-combine discipline as a hash aggregate, so shuffle volume is
 * ≤ tasks × qids × k rows, independent of match volume. Per-task memory
 * is bounded by [[BoundedTopK.FlushEntries]]: past the budget the task
 * flushes its partials downstream and starts fresh — correct because the
 * merge is associative and commutative under the TOTAL order
 * (score DESC, cid ASC), which also makes results deterministic and
 * bit-identical to the window formulation (exact double comparisons,
 * same tie-break).
 */
object BoundedTopK {

  /** Per-task heap-entry budget before partials flush downstream
    * (~16 B/entry ⇒ ~128 MiB). A flush trades one shuffle row per live
    * qid for bounded memory at ANY query cardinality. */
  private val FlushEntries = 8 * 1024 * 1024

  /** Test-only budget override (the flush path is exercised by
    * BoundedTopKSpec at toy sizes; production code never touches this). */
  private[graft] val flushEntriesOverride = new ThreadLocal[Integer]()

  /** Plan-audit seam: when a buffer is set on the calling thread, every
    * [[topK]] invocation appends its INPUT's physical plan string. The
    * fold compiles its input to an RDD, so the scoring stage's plan no
    * longer appears in the output frame's `executedPlan` — PlanShapeSpec
    * audits broadcast/pruning/no-cartesian properties of each stage
    * through this seam instead. Thread-local: concurrent suites sharing
    * the JVM never see each other's plans. */
  private[graft] val planProbe =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]()

  /** (score DESC, cid ASC) — the ranking order every join site uses. */
  @inline private def better(s1: Double, c1: Long, s2: Double, c2: Long): Boolean =
    s1 > s2 || (s1 == s2 && c1 < c2)

  /** Bounded (score DESC, id ASC) top-k over parallel primitive arrays:
    * a binary heap whose ROOT is the worst kept element, so an offer is
    * an O(1) reject or an O(log k) replace. An id offered again keeps its
    * best score: the kept set is the top k DISTINCT ids, so a candidate
    * table that repeats an id (boundary replicas, a user view with
    * duplicate ids) ranks it once. The one k-heap every exact top-k
    * shares — the fold's per-qid buffers, the single-query slice scan
    * ([[RoutedAnnIndex.scanSearch]]), the routed join's slice-scan arm,
    * an overlay shard's graph ∪ tail merge ([[PatchedShard]]), the
    * KD-tree's branch-and-bound ([[KdTree.nNearest]]) and calibration
    * ground truth. */
  private[ann] final class Heap(k: Int) {
    private var n = 0
    private val ids = new Array[Long](k)
    private val ss = new Array[Double](k)
    @inline private def worse(i: Int, j: Int): Boolean =
      !better(ss(i), ids(i), ss(j), ids(j))
    @inline private def swap(i: Int, j: Int): Unit = {
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
      val ts = ss(i); ss(i) = ss(j); ss(j) = ts
    }
    def offer(id: Long, s: Double): Unit = {
      // full and no better than the worst kept: a kept copy of this id
      // already scores at least as well, so nothing can change
      if (n == ids.length && (n == 0 || !better(s, id, ss(0), ids(0)))) return
      var j = 0
      while (j < n && ids(j) != id) j += 1
      if (j < n) {
        if (s > ss(j)) { ss(j) = s; siftDown(j) }
      } else if (n < ids.length) {
        ids(n) = id; ss(n) = s; n += 1
        var i = n - 1
        while (i > 0) {
          val p = (i - 1) / 2
          if (worse(i, p)) { swap(i, p); i = p } else i = 0
        }
      } else { ids(0) = id; ss(0) = s; siftDown(0) }
    }
    /** Whether k ids are kept (offers must now beat [[worst]]). */
    def full: Boolean = n == ids.length
    /** The worst kept score; defined once something is kept. */
    def worst: Double = ss(0)
    /** Restore the heap below `from` after its entry got better. */
    private def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1; var m = i
        if (l < n && worse(l, m)) m = l
        if (r < n && worse(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }
    /** Kept (id, score) pairs best-first: (score DESC, id ASC). */
    def best: Array[(Long, Double)] = (0 until n).toArray
      .sortWith((a, b) => better(ss(a), ids(a), ss(b), ids(b)))
      .map(i => (ids(i), ss(i)))
  }

  /** Merge two best-first partials, keep k distinct ids — associative +
    * commutative under the total order (an id in both keeps its first,
    * i.e. best, occurrence), so flush/combine composition is exact. */
  private def merge(a: (Array[Long], Array[Double]),
      b: (Array[Long], Array[Double]), k: Int): (Array[Long], Array[Double]) = {
    val ids = new Array[Long](math.min(k, a._1.length + b._1.length))
    val ss = new Array[Double](ids.length)
    val taken = new LongIntMap(ids.length)
    var i = 0; var j = 0; var o = 0
    while (o < ids.length && (i < a._1.length || j < b._1.length)) {
      val takeA = j >= b._1.length ||
        (i < a._1.length && better(a._2(i), a._1(i), b._2(j), b._1(j)))
      val (id, sc) =
        if (takeA) { i += 1; (a._1(i - 1), a._2(i - 1)) }
        else { j += 1; (b._1(j - 1), b._2(j - 1)) }
      if (!taken.contains(id)) {
        taken.put(id, o); ids(o) = id; ss(o) = sc; o += 1
      }
    }
    (java.util.Arrays.copyOf(ids, o), java.util.Arrays.copyOf(ss, o))
  }

  /** Per-qid top-k of `scored` by (`scoreCol` DESC, `cidCol` ASC) →
    * (qid, cid, score, rank), ranks 1-based; a (qid, cid) pair that
    * repeats ranks once, at its best score. Input rows with a NULL in
    * any of the three columns are ignored (a window would sort NULLs
    * last and the ≤ k filter would normally drop them anyway). */
  def topK(scored: DataFrame, qidCol: String, cidCol: String,
      scoreCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val spark = scored.sparkSession
    import spark.implicits._
    val in = scored.select(col(qidCol).cast("long"), col(cidCol).cast("long"),
      col(scoreCol).cast("double"))
    Option(planProbe.get())
      .foreach(_ += in.queryExecution.executedPlan.toString)
    val flushAt: Long = Option(flushEntriesOverride.get())
      .fold(FlushEntries.toLong)(_.longValue())
    val partials = in.queryExecution.toRdd.mapPartitions { rows =>
      // InternalRow primitives only — the reused-row hazard never bites
      var heaps = new java.util.HashMap[Long, Heap]()
      var entries = 0L
      val out = scala.collection.mutable.ArrayBuffer[
        (Long, (Array[Long], Array[Double]))]()
      def flush(): Unit = {
        heaps.forEach((q, b) => out += ((q, b.best.unzip)))
        heaps = new java.util.HashMap[Long, Heap]()
        entries = 0L
      }
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
          val qid = r.getLong(0)
          var b = heaps.get(qid)
          if (b == null) {
            if (entries + k > flushAt) flush()
            b = new Heap(k); heaps.put(qid, b); entries += k
          }
          b.offer(r.getLong(1), r.getDouble(2))
        }
      }
      flush()
      out.iterator
    }.reduceByKey((a, b) => merge(a, b, k))
    partials.flatMap { case (qid, (ids, ss)) =>
      Iterator.tabulate(ids.length)(i => (qid, ids(i), ss(i), (i + 1).toLong))
    }.toDF("qid", "cid", "score", "rank")
  }
}
