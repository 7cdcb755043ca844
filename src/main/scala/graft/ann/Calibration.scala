package graft.ann

/**
 * Shared statistics for measured recall-vs-probes operating curves —
 * the instrument behind [[RoutedAnnIndex.calibrate]] and
 * [[IvfIndex.calibrate]]. A curve point is (probes, mean recall@k,
 * standard error of the mean); the stderr is load-bearing: a 100-query
 * sample estimates the steep part of a curve to ~±1pt (measured at
 * 200k — SCALE.md round 13), so selection defaults to the one-sided
 * 95% lower confidence bound rather than the point estimate.
 */
private[ann] object Calibration {

  /** Mean and standard error (sample sd / √n) of per-query recalls. */
  def meanSe(per: Seq[Double]): (Double, Double) = {
    val n = per.size
    val mean = per.sum / n
    val sd = math.sqrt(per.map(x => (x - mean) * (x - mean)).sum /
      math.max(1, n - 1))
    (mean, sd / math.sqrt(n.toDouble))
  }

  /** One curve point: per sample query, the fraction of its truth set
    * that `got` returned (an empty truth set reads 1.0) — as (mean, se). */
  def recall(truth: Map[Int, Set[Long]], got: Map[Int, Set[Long]]): (Double, Double) =
    meanSe(truth.toSeq.map { case (qi, ts) =>
      if (ts.isEmpty) 1.0 else got.getOrElse(qi, Set.empty).count(ts).toDouble / ts.size })

  /** Independent read-only measurement arms, up to 3 at a time from a
    * small driver pool — run back-to-back they left the executors idle
    * in each arm's tail (r18). Results come back in input order and each
    * arm is deterministic, so a curve is byte-identical to a serial loop. */
  def inParallel[A, B](arms: Seq[A])(measure: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(3, arms.length)))
    try arms.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = measure(a) })).map(_.get())
    finally pool.shutdown()
  }

  /** The SMALLEST curve point meeting `target` — at the one-sided 95%
    * LCB (mean − 1.645·se) when `conservative`, at the raw mean
    * otherwise. `exhaustive` when uncalibrated or no point qualifies —
    * a recall target is a floor, never a budget — and ALWAYS for a
    * target of exactly 1.0: a finite sample can certify an estimate,
    * never perfection. */
  def select(curve: Seq[(Int, Double, Double)], target: Double,
      conservative: Boolean, exhaustive: Int): Int = {
    require(target > 0.0 && target <= 1.0,
      s"recall target must be in (0, 1], got $target")
    if (target >= 1.0) return exhaustive
    curve.sortBy(_._1)
      .find { case (_, mean, se) =>
        (if (conservative) mean - 1.645 * se else mean) >= target }
      .map(_._1).getOrElse(exhaustive)
  }

  /** Measurement ladder: the caller's points (those outside [1, max] are
    * DROPPED) or powers of two below `max` — either way topped with `max`
    * itself, so the exhaustive point is always measured. Returns a
    * distinct ascending sequence. */
  def ladder(explicit: Seq[Int], max: Int): Seq[Int] =
    ((if (explicit.nonEmpty) explicit
      else Iterator.iterate(1)(_ * 2).takeWhile(_ < max).toSeq)
      .filter(p => p >= 1 && p <= max).distinct.sorted :+ max).distinct

  /** splitmix64 — the mixing primitive behind every content-addressed
    * draw and fingerprint here. */
  @inline def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit content hash of one vector (seed-mixed splitmix64 fold over
    * the raw float bits) — the ordering key of the content-addressed
    * sample draws below, and the per-vector unit
    * [[RoutedAnnIndex.sampleFingerprint]] folds. */
  def vecHash(v: Array[Float], seed: Long): Long = {
    var h = mix64(seed ^ v.length.toLong)
    var i = 0
    while (i < v.length) {
      h = mix64(h ^ java.lang.Float.floatToRawIntBits(v(i)).toLong)
      i += 1
    }
    h
  }

  /** Total deterministic order on (hash, vector): hash first, then the
    * raw float bits lexicographically (so even a 64-bit collision between
    * DISTINCT vectors resolves the same way on every run/layout). */
  private val byHashThenBits: Ordering[(Long, Array[Float])] =
    new Ordering[(Long, Array[Float])] {
      def compare(a: (Long, Array[Float]), b: (Long, Array[Float])): Int = {
        val c = java.lang.Long.compareUnsigned(a._1, b._1)
        if (c != 0) return c
        val (x, y) = (a._2, b._2)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val d = Integer.compare(java.lang.Float.floatToRawIntBits(x(i)),
            java.lang.Float.floatToRawIntBits(y(i)))
          if (d != 0) return d
          i += 1
        }
        Integer.compare(x.length, y.length)
      }
    }

  /** Draw up to `n` query vectors from a caller-supplied frame — the
    * external-sample arm shared by both calibrators (`None` own-ids:
    * leave-one-out never applies to external queries).
    *
    * CONTENT-ADDRESSED (round-16 advice): the sample is the bottom-n of a
    * seed-mixed per-vector content hash (a KMV/bottom-k sketch — a
    * uniform draw keyed by the data itself), NOT `RDD.takeSample`, whose
    * result depends on the partition layout of the view. Logically
    * identical content read through ANY partitioning/lineage draws the
    * SAME sample — so the workload fingerprint stamped from it is stable
    * and the Pipeline reuse guard never false-alarms on a re-read. */
  def externalSample(qdf: org.apache.spark.sql.DataFrame, qVecCol: String,
      n: Int, seed: Long): Array[(Option[Long], Array[Float])] =
    qdf.select(org.apache.spark.sql.functions.col(qVecCol).cast("array<float>"))
      .rdd.map { r =>
        val v = r.getSeq[Float](0).toArray
        (vecHash(v, seed), v)
      }
      .takeOrdered(n)(byHashThenBits)
      .map { case (_, v) => (None: Option[Long], v) }

  /** The stored-row self-sample arm shared by both calibrators: bottom-n
    * by seed-mixed id hash (ids are content hashes in this engine, so the
    * draw is content-addressed like [[externalSample]]'s — same rows in,
    * same sample out, regardless of partitioning). */
  def selfSample(rows: org.apache.spark.rdd.RDD[(Long, Array[Float])],
      n: Int, seed: Long): Array[(Option[Long], Array[Float])] =
    rows.map { case (id, v) => ((mix64(id ^ mix64(seed)), id), (id, v)) }
      .takeOrdered(n)(Ordering.by { case ((h, id), _) => (h, id) })
      .map { case (_, (id, v)) => (Some(id): Option[Long], v) }

  /** Collected (qid, cid, rank) rows → per-query LOO-filtered top-k sets:
    * rank-sorted, the query's own id dropped (self-samples), the top-k
    * prefix kept — the result-side protocol shared by both calibrators. */
  def rankedSets(rows: Array[org.apache.spark.sql.Row], k: Int,
      ownIds: Array[Option[Long]]): Map[Int, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q.toInt -> rs.sortBy(_.getLong(2)).map(_.getLong(1))
        .filter(id => !ownIds(q.toInt).contains(id)).take(k).toSet }
}
