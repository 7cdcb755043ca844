package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.immutable.HashMap

/** A vector compared by content, the way the engine identifies rows. */
final class VKey(val v: Array[Float]) {
  override def equals(o: Any): Boolean = o match {
    case k: VKey => java.util.Arrays.equals(v, k.v)
    case _ => false
  }
  override val hashCode: Int = java.util.Arrays.hashCode(v)
}

/** The benchmark's model of one store's live rows, with the reference
  * semantics: dedup by content, last-wins Set, exact delete counts. It is
  * immutable, so the snapshot taken when a request is sent grades that
  * request's answer later. */
final case class StoreModel(rows: HashMap[VKey, Entry]) {
  def size: Int = rows.size
  def contains(v: Array[Float]): Boolean = rows.contains(new VKey(v))

  /** (model after, inserted, updated). */
  def set(batch: Seq[Entry]): (StoreModel, Long, Long) = {
    val last = batch.map(e => new VKey(e.vec) -> e).toMap
    val updated = last.keys.count(rows.contains).toLong
    (StoreModel(rows ++ last), last.size - updated, updated)
  }
  def delKeys(keys: Seq[Array[Float]]): (StoreModel, Long) = {
    val ks = keys.map(new VKey(_)).toSet.filter(rows.contains)
    (StoreModel(rows -- ks), ks.size.toLong)
  }
  def delWhere(key: String, value: String): (StoreModel, Long) = {
    val hit = rows.collect { case (k, e) if e.meta.get(key).contains(value) => k }
    (StoreModel(rows -- hit), hit.size.toLong)
  }
  /** Replaces the metadata of the one row whose uid matches. */
  def upsert(uid: String, meta: Map[String, String]): Option[StoreModel] =
    rows.collect { case (k, e) if e.uid == uid => k -> e }.toList match {
      case List((k, e)) => Some(StoreModel(rows.updated(k, e.copy(meta = meta))))
      case _ => None
    }
  def count(key: String, value: String): Int =
    rows.valuesIterator.count(_.meta.get(key).contains(value))

  /** Exact top-k by cosine similarity, (uid, similarity) best first. */
  def topK(q: Array[Float], k: Int, filter: Option[(String, String)]): Seq[(String, Double)] = {
    val heap = new java.util.PriorityQueue[(String, Double)](k + 1,
      (a: (String, Double), b: (String, Double)) => java.lang.Double.compare(a._2, b._2))
    val qn = StoreModel.norm(q)
    rows.valuesIterator.foreach { e =>
      if (filter.forall { case (fk, fv) => e.meta.get(fk).contains(fv) }) {
        heap.add(e.uid -> StoreModel.cosine(q, qn, e.vec))
        if (heap.size > k) heap.poll()
      }
    }
    Iterator.continually(heap.poll()).take(heap.size).toSeq.reverse
  }

  /** Live user bytes: 4 bytes per vector component plus UTF-8 metadata. */
  def userBytes: Long = rows.valuesIterator.map { e =>
    4L * e.vec.length + e.meta.iterator.map { case (k, v) =>
      k.getBytes(StandardCharsets.UTF_8).length + v.getBytes(StandardCharsets.UTF_8).length
    }.sum
  }.sum
}

object StoreModel {
  def apply(entries: Seq[Entry]): StoreModel =
    StoreModel(HashMap.from(entries.map(e => new VKey(e.vec) -> e)))
  def norm(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    math.sqrt(s)
  }
  def cosine(q: Array[Float], qn: Double, v: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < q.length) { d += q(i).toDouble * v(i); i += 1 }
    val vn = norm(v)
    if (qn == 0.0 || vn == 0.0) 0.0 else d / (qn * vn)
  }

  /** recall@k of `got` against the exact answer. */
  def recall(got: Seq[String], exact: Seq[(String, Double)]): Double =
    if (exact.isEmpty) 1.0
    else got.toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.size
}
