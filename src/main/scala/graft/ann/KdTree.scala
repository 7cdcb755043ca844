package graft.ann

import scala.collection.mutable

import graft.functions.Similarity.jvm

/**
 * K-d tree with exact branch-and-bound n-nearest on SQUARED euclidean
 * distance and an optional accept-list — same search semantics as the
 * reference (/root/reference/ahnlich/similarity/src/kdtree.rs:436-520;
 * KD-tree always uses euclidean geometry regardless of metric config,
 * protos/algorithm/nonlinear.proto:24; the reported "similarity" is the
 * squared distance, db/src/algorithm/non_linear.rs:151-175).
 *
 * Built in bulk by recursive median split (balanced — better worst-case
 * than the reference's sequential inserts, same exact results). Duplicate
 * content-ids are skipped (kdtree.rs:317-319).
 */
@SerialVersionUID(1L)
final class KdTree(val dim: Int) extends Serializable {

  private var ids: Array[Long] = Array.empty
  private var vecs: Array[Array[Float]] = Array.empty
  // tree as an index permutation: node i's children at 2i+1 / 2i+2 (implicit,
  // stored as left/right ranges via recursion order). We store explicit
  // left/right child arrays for clarity.
  private var order: Array[Int] = Array.empty
  private var left: Array[Int] = Array.empty
  private var right: Array[Int] = Array.empty
  private var root: Int = -1

  def size: Int = ids.length

  def build(inIds: Array[Long], inVecs: Array[Array[Float]]): Unit = {
    // dedup by id (content hash) keeping first occurrence
    val seen = mutable.HashSet[Long]()
    val keep = mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < inIds.length) {
      if (seen.add(inIds(i))) keep += i
      i += 1
    }
    ids = keep.map(inIds(_)).toArray
    vecs = keep.map(inVecs(_)).toArray
    val n = ids.length
    order = Array.tabulate(n)(identity)
    left = Array.fill(n)(-1)
    right = Array.fill(n)(-1)
    root = buildRec(0, n, 0)
  }

  /** Recursive median split on axis = depth % dim over order[lo,hi). Returns
    * the subtree root (an index into ids/vecs). Ties broken on id for
    * deterministic structure. */
  private def buildRec(lo: Int, hi: Int, depth: Int): Int = {
    if (lo >= hi) return -1
    val axis = depth % dim
    val slice = order.slice(lo, hi)
      .sortBy(j => (vecs(j)(axis), ids(j)))
    System.arraycopy(slice, 0, order, lo, slice.length)
    val mid = lo + (hi - lo) / 2
    val node = order(mid)
    left(node) = buildRec(lo, mid, depth + 1)
    right(node) = buildRec(mid + 1, hi, depth + 1)
    node
  }

  /** Stored (id, vector) rows. Callers must not mutate. */
  def entries: Iterator[(Long, Array[Float])] = ids.indices.iterator.map(i => (ids(i), vecs(i)))

  /** Stored content ids. */
  def idsIterator: Iterator[Long] = ids.iterator

  /** Exact n-nearest (squared euclidean), optional accept filter on id.
    * Returns (id, sqDist) ascending, ties on id. */
  def nNearest(q: Array[Float], n: Int, accept: Long => Boolean = null): Seq[(Long, Double)] = {
    if (root < 0 || n <= 0) return Nil
    // bounded k-heap at closeness = -sqDist (heap.rs:7-69 analog): its
    // (closeness DESC, id ASC) order keeps smaller ids on exact distance
    // ties — the documented (dist, id ASC) tie-break
    val heap = new BoundedTopK.Heap(n)

    def visit(node: Int, depth: Int): Unit = {
      if (node < 0) return
      val axis = depth % dim
      val v = vecs(node)
      if (accept == null || accept(ids(node)))
        heap.offer(ids(node), -jvm.sqEuclidean(q, v))
      val diff = q(axis).toDouble - v(axis).toDouble
      val (near, far) = if (diff < 0) (left(node), right(node)) else (right(node), left(node))
      visit(near, depth + 1)
      // prune: hyperplane farther than current worst (must not prune while
      // the heap is not yet full)
      if (!heap.full || diff * diff <= -heap.worst) visit(far, depth + 1)
    }

    visit(root, 0)
    heap.best.toSeq.map { case (id, c) => (id, -c) }
  }
}
