package graft.scenario

import graft.Scale._
import graft.ann.{OpqRotation, OpqTrain}

/**
 * `opq`: does a LEARNED ROTATION recover product quantization's low-dim
 * recall loss (Ge et al. 2013, "Optimized Product Quantization")? The
 * numerics live in [[graft.ann.OpqTrain]], the trainer the `opq` storage
 * kind uses; this is the isolated QUANTIZER-level measurement, independent
 * of the routed graphs: unit-normalized corpus and queries (euclidean ADC
 * order ≡ cosine order), the engine's two-phase PQ contract — ADC
 * top-(50+128) shortlist, exact rescore, top-50 — against exact truth. If
 * rotation does not move THIS number it cannot move the graph-served one.
 *
 * Driver-side on purpose (50k × 64-d is MBs; the question is quantizer
 * geometry, not distribution). Deterministic end to end.
 *
 * Args: [n=50000] [dim=64].
 */
object Opq {

  private val Ksub = 256
  private val PqSlack = 128 // NodeStorage.Pq.rescoreSlack — the served over-fetch

  def run(r: Run): Unit = {
    val n = r.n(50000L).toInt
    val dim = r.arg(1).map(_.toInt).getOrElse(64)
    val m = math.max(1, dim / 8)
    val dsub = dim / m
    require(dim % m == 0)

    val gen = SiftGen.organic(dim)
    def unit(v: Array[Float]): Array[Float] = {
      val s = dotD(v, v)
      val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
      v.map(x => (x * inv).toFloat)
    }
    val xs = Array.tabulate(n)(i => unit(gen(i.toLong)))
    val qs = externalQueries(gen, nQueries(n)).map(unit)
    println(s"corpus $n x $dim (unit-normalized SIFT-shaped), m=$m ksub=$Ksub")

    val (truth, _) = timed("exact ground truth") {
      qs.map(q => topIdx(Array.tabulate(n)(i => dotD(q, xs(i))), K).toSet)
    }

    /** (raw ADC recall, served recall through shortlist + exact rescore);
      * `rot` null = plain PQ. */
    def servedRecall(books: Array[Array[Array[Float]]], rot: OpqRotation): (Double, Double) = {
      // encode wall per arm: OPQ's extra term over plain PQ is the O(d²)
      // rotate per row
      val (xEnc, _) = timed(if (rot == null) "encode (PQ: assign only)"
        else "encode rotate (OPQ: O(d^2)/row)") {
        if (rot == null) xs else xs.map(rot.rotate)
      }
      val (codes, _) = timed("encode assign (codebook scan)") {
        Array.tabulate(n)(i => OpqTrain.encode(xEnc(i), books, m, dsub, Ksub))
      }
      var rawSum = 0.0; var servedSum = 0.0
      qs.indices.foreach { qi =>
        val q = qs(qi)
        val qr = if (rot == null) q else rot.rotate(q)
        val tab = Array.tabulate(m, Ksub) { (s, c) =>
          var d = 0.0; var p = 0
          val cell = books(s)(c)
          while (p < dsub) {
            val diff = qr(s * dsub + p) - cell(p); d += diff.toDouble * diff; p += 1
          }
          d
        }
        val adc = Array.tabulate(n) { i =>
          var d = 0.0; var s = 0
          val code = codes(i)
          while (s < m) { d += tab(s)(code(s)); s += 1 }
          -d // larger = closer, to share topIdx
        }
        val short = topIdx(adc, K + PqSlack)
        rawSum += (short.take(K).toSet & truth(qi)).size.toDouble / K
        val rescored = short.sortBy(i => (-dotD(q, xs(i)), i)).take(K)
        servedSum += (rescored.toSet & truth(qi)).size.toDouble / K
      }
      (rawSum / qs.length, servedSum / qs.length)
    }

    val (booksPq, _) = timed("PQ train (10 Lloyd iters/subspace)") {
      OpqTrain.trainBooks(xs, m, dsub, Ksub, iters = 10)
    }
    val rPq = servedRecall(booksPq, rot = null)
    println(f"PQ    served Recall@$K%d (ADC shortlist ${K + PqSlack}%d + exact rescore): ${rPq._2}%.4f (raw ADC ${rPq._1}%.4f)")
    val ((rot, opqBook), _) = timed("OPQ-NP train (10 alternations, shared trainer)") {
      OpqTrain.train(xs, dim, m, Ksub, alternations = 10)
    }
    val rOpq = servedRecall(opqBook.codebooks, rot)
    println(f"OPQ   served Recall@$K%d (same shortlist + rescore, learned rotation): ${rOpq._2}%.4f (raw ADC ${rOpq._1}%.4f)")
    println(f"delta: OPQ - PQ = ${rOpq._2 - rPq._2}%+.4f served, ${rOpq._1 - rPq._1}%+.4f raw")
  }

  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Indices of the `k` largest scores, ties by index — a bounded
    * selection, never a full sort of n. */
  private def topIdx(scores: Array[Double], k: Int): Array[Int] = {
    val heapOrd = new Ordering[(Double, Int)] {
      def compare(a: (Double, Int), b: (Double, Int)): Int = {
        val c = java.lang.Double.compare(-a._1, -b._1)
        if (c != 0) c else Integer.compare(a._2, b._2)
      }
    }
    val h = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](heapOrd)
    var i = 0
    while (i < scores.length) {
      val e = (scores(i), i)
      if (h.size < k) h.enqueue(e)
      else if (heapOrd.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
      i += 1
    }
    h.toArray.sortBy { case (s, idx) => (-s, idx) }.map(_._2)
  }
}
