package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, Similarity}

/**
 * Product quantization (PQ, Jégou et al. 2011, "Product Quantization for
 * Nearest Neighbor Search") — the byte-budget end of the ANN family, an
 * EXTENSION beyond the reference's KD-tree/HNSW surface (the reference
 * stores vectors only as f32: `ahnlich/types/src/lib.rs` StoreKey), and the
 * natural next step after [[graft.functions.Quantize]]'s SQ8: SQ8 spends
 * 1 byte PER DIMENSION (64 B for a 64-d vector); PQ spends 1 byte PER
 * SUBSPACE (8 B for the same vector at m = 8) by quantizing each of m
 * vector chunks against its own trained 256-entry codebook.
 *
 * Spark-shaped, like [[IvfIndex]]:
 *  - training is deterministic per-subspace Lloyd k-means run as ONE
 *    DataFrame job per iteration over ALL subspaces at once (a native
 *    encode pass assigns every subspace's cell, one map-side-combined
 *    groupBy produces every mean) — no RNG, initialized from the ksub
 *    smallest-id vectors, so the same input always yields bit-identical
 *    codebooks;
 *  - the codebooks are TINY (m · ksub · d/m floats = d · ksub — a 64-d /
 *    ksub=16 book is 4 KB) and ride the native kernels as plan reference
 *    objects: no join, no broadcast exchange, encode/score are pure
 *    per-row projections;
 *  - encode ([[org.apache.spark.sql.graftbridge.PqEncode]]) produces an
 *    ARRAY<INT> code column — at cluster scale this column is STORED
 *    beside the corpus (like SQ8's codes) and the coarse pass reads m
 *    ints instead of d floats;
 *  - search is the standard ADC (asymmetric distance computation): the
 *    query builds one m × ksub lookup table of exact subspace dot products,
 *    each corpus row's approximate cosine is m table lookups — then the
 *    usual two-phase contract: shortlist by coarse score, exact float
 *    rescore, (qid, cid, cos, rank) like [[graft.dedup.Dedup.topKJoin]].
 *
 * The coarse score approximates cosine from reconstructed pieces:
 * dot(q, x̂) = Σᵢ dot(qᵢ, cᵢ[codeᵢ]) and ‖x̂‖² = Σᵢ ‖cᵢ[codeᵢ]‖² (chunks are
 * disjoint coordinates, so the cross terms are exactly zero), giving
 * cos ≈ Σdot / (‖q‖ · √Σn²). `shortlist = corpus size` degrades to exactly
 * the brute-force result (rescore covers everything — PqSpec pins that
 * identity); practical shortlists trade codebook-bounded recall for the
 * m-bytes-per-row coarse scan (recall pinned in PqSpec).
 */
@SerialVersionUID(1L)
final class PqCodebook(
    val dim: Int,
    val m: Int,
    val ksub: Int,
    /** [m][ksub][dim/m] trained centroids. */
    val codebooks: Array[Array[Array[Float]]]) extends Serializable {

  require(dim % m == 0, s"dim $dim not divisible by m $m")
  val dsub: Int = dim / m

  private def cbLit: Column =
    typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** The i-th subvector (1-based slice; `i` is a 0-based int Column). */
  private def chunk(vec: Column, i: Column): Column =
    slice(vec, i * dsub + 1, lit(dsub))

  /** The codebook as one flat float[] in [sub][code][dim] row-major order
    * — the native kernel's reference-object form. */
  private[ann] lazy val flatBook: Array[Float] = {
    val out = new Array[Float](m * ksub * dsub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        System.arraycopy(codebooks(s)(j), 0, out, (s * ksub + j) * dsub, dsub)
        j += 1
      }
      s += 1
    }
    out
  }

  /** PQ codes as ARRAY<INT> length m: per subspace, the index of the
    * nearest codebook entry (squared-euclidean, strict-< argmin — ties
    * break toward the lowest code). A native codegen'd kernel
    * ([[org.apache.spark.sql.graftbridge.PqEncode]]): the HOF formulation
    * ([[encodeExprHof]], kept as the differential reference) evaluates its
    * lambdas interpreted — measured ~1 ms/row at m=8 ksub=64 d=64 vs the
    * kernel's tight primitive loops. Bit-identical codes (PqSpec pins all
    * three formulations against each other). */
  def encodeExpr(vec: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, PqEncode}
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), flatBook, m, ksub))
  }

  /** The higher-order-function encode — interpreted, kept ONLY as the
    * independent reference implementation the native kernel is pinned
    * against (the [[Similarity.hof]] discipline). */
  private[ann] def encodeExprHof(vec: Column): Column =
    GraftFunctions.bind(cbLit) { cb =>
      transform(sequence(lit(0), lit(m - 1)), i =>
        GraftFunctions.bind(transform(element_at(cb, i + 1), c =>
          Similarity.hof.squaredEuclidean(chunk(vec, i), c))) { dists =>
          (array_position(dists, array_min(dists)) - 1).cast("int")
        })
    }

  /** The per-query ADC lookup table — dotLut[i][j] = dot(qᵢ, cᵢ[j]) — as an
    * [m][ksub] DOUBLE array column. Computed ONCE PER QUERY ROW (on the
    * query side, BEFORE any join): this is what makes ADC asymmetric —
    * the O(d · ksub) table build is paid |queries| times, and every scored
    * corpus row afterwards costs m array lookups. */
  def lutExpr(qVec: Column): Column =
    GraftFunctions.bind(cbLit) { cb =>
      transform(sequence(lit(0), lit(m - 1)), i =>
        transform(element_at(cb, i + 1), c =>
          Similarity.hof.dotProduct(chunk(qVec, i), c)))
    }

  /** ‖cᵢ[j]‖² per codebook entry — query-independent, rides the plan as a
    * literal (the reconstructed-norm half of the cosine denominator;
    * chunks are disjoint coordinates, so Σᵢ ‖cᵢ[codeᵢ]‖² = ‖x̂‖² exactly). */
  private def n2Lit: Column =
    typedlit(codebooks.map(_.map(c =>
      c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)).toSeq).toSeq)

  /** ‖cᵢ[j]‖² as one flat double[] ([sub·ksub + code] order) — the native
    * ADC kernel's reference-object form; same fold order as [[n2Lit]].
    * Shared with [[PqVecStore]] (the routed-shard node storage), whose
    * cosine denominators reuse exactly these reconstructed norms. */
  private[ann] lazy val n2Flat: Array[Double] =
    codebooks.flatMap(_.map(c =>
      c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

  /** Coarse approximate cosine from a PRECOMPUTED query lut + query norm
    * (see [[lutExpr]]) against a corpus row's codes: m lookups into the
    * dot table + m into the norm² reference array + one division — the
    * per-scored-row hot loop, a native codegen'd kernel
    * ([[org.apache.spark.sql.graftbridge.PqAdc]]; [[adcCosineHof]] is the
    * interpreted differential reference, pinned bit-identical in PqSpec).
    * All double math, fixed fold order. */
  def adcCosine(luts: Column, qNorm: Column, codes: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, PqAdc}
    ColumnBridge.column(PqAdc(
      ColumnBridge.expression(codes), ColumnBridge.expression(luts),
      ColumnBridge.expression(qNorm), n2Flat, ksub))
  }

  /** HOF ADC — interpreted; kept ONLY as the differential reference the
    * native kernel is pinned against (the [[Similarity.hof]] discipline). */
  private[ann] def adcCosineHof(luts: Column, qNorm: Column,
      codes: Column): Column =
    GraftFunctions.bind(
      aggregate(zip_with(codes, luts, (code, lut) =>
        element_at(lut, code + 1)), lit(0.0), (acc, x) => acc + x)) { dotSum =>
      GraftFunctions.bind(
        aggregate(zip_with(codes, n2Lit, (code, lut) =>
          element_at(lut, code + 1)), lit(0.0), (acc, x) => acc + x)) { n2Sum =>
        GraftFunctions.bind(qNorm * sqrt(n2Sum)) { den =>
          when(den === 0.0, lit(0.0)).otherwise(dotSum / den)
        }
      }
    }

  /** One-argument form (tests, ad-hoc scoring): builds the lut inline, so
    * the table rebuild is paid PER SCORED ROW — use [[lutExpr]] +
    * [[adcCosine]] across a join. */
  def coarseCosine(qVec: Column, codes: Column): Column =
    adcCosine(lutExpr(qVec), Similarity.hof.l2Norm(qVec), codes)

  /** PQ two-phase top-k similarity join (output contract ==
    * [[graft.dedup.Dedup.topKJoin]]: (qid, cid, cos, rank)): the coarse
    * ADC pass ranks the corpus per query over the CODE column only — at
    * scale that stage scans m ints per row instead of d floats, the PQ IO
    * story — a `shortlist`-deep cut survives, and float vectors are only
    * re-attached (by id — the ids-only discipline) for the exact cosine
    * rescore. Queries broadcast (the small-queries arm, like
    * [[graft.functions.Quantize.quantizedTopKJoin]]); a both-sides-large
    * caller routes through [[IvfIndex.pqTopKJoin]] cells first. One batch
    * top-k core ([[TopKJoin]]): broadcast source × ADC scorer × exact
    * rescore tail; a repeated qid is one query. */
  def topKJoin(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, shortlist: Int): DataFrame = {
    val c = corpus.select(col(cId).as("cid"), col(cVec).as("cv"))
    TopKJoin(queries, qId, qVec, k, TopKJoin.Broadcast(c, TopKJoin.Adc(this)),
      Some(TopKJoin.Tail(shortlist, c)), TopKJoin.Cos)
  }

  /** Compact serialized form + executor-level dedup: a trained codebook
    * rides inside EVERY shard object that stores PQ codes (the shard
    * .bins deserialize standalone), so its wire form must be the flat
    * float[] (≈ d·ksub·4 bytes — the nested array-of-arrays form
    * serialized ~2.4× larger in headers and refs), and an executor
    * holding many shards of one index must hold ONE book, not one per
    * shard — [[PqCodebook.canonical]] interns on deserialization
    * (content-verified, never hash-trusted). At 768-d/ksub=256 that is
    * ~786 KB per book; per-shard copies amortize per shard on disk and
    * collapse to one instance per JVM in memory. */
  private def writeReplace(): AnyRef =
    new PqCodebook.SerialForm(dim, m, ksub, flatBook)

  /** JVM-side reference encode (tests pin the expression against this). */
  def encodeJvm(vec: Array[Float]): Array[Int] =
    Array.tabulate(m) { i =>
      val sub = java.util.Arrays.copyOfRange(vec, i * dsub, (i + 1) * dsub)
      var best = 0; var bestD = Double.MaxValue; var j = 0
      while (j < ksub) {
        val d = Similarity.jvm.sqEuclidean(sub, codebooks(i)(j))
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }
}

object PqCodebook {

  /** Wire form of a codebook: (dims, flat float[]) — see
    * [[PqCodebook.writeReplace]]. Deserialization routes through
    * [[canonical]], so shards of one index share one in-memory book. */
  private final class SerialForm(dim: Int, m: Int, ksub: Int,
      flat: Array[Float]) extends Serializable {
    private def readResolve(): AnyRef = canonical(dim, m, ksub, flat)
  }

  /** Rebuild the nested codebooks from the flat [sub][code][dim] form. */
  private def fromFlat(dim: Int, m: Int, ksub: Int,
      flat: Array[Float]): PqCodebook = {
    val dsub = dim / m
    new PqCodebook(dim, m, ksub, Array.tabulate(m)(s => Array.tabulate(ksub) {
      c => java.util.Arrays.copyOfRange(flat,
        ((s * ksub) + c) * dsub, ((s * ksub) + c + 1) * dsub)
    }))
  }

  // intern cache for deserialized books (executor-level dedup). Content
  // is VERIFIED, never hash-trusted; the cap only bounds a pathological
  // many-distinct-books JVM. Bounded LRU (access-ordered LinkedHashMap):
  // past the cap ONE least-recently-used entry is evicted — the old
  // wholesale clear() dropped every live book's dedup at once — and any
  // degraded outcome (eviction, or a 32-bit hash collision that keeps a
  // book from ever interning) is LOGGED, so a reintroduced per-shard
  // ~786 KB multiplication is observable instead of silent (round-16
  // advice).
  private val MaxInterned = 64
  private val interned =
    new java.util.LinkedHashMap[(Int, Int, Int, Int), PqCodebook](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int, Int, Int), PqCodebook]): Boolean = {
        val evict = size > MaxInterned
        if (evict) org.slf4j.LoggerFactory.getLogger(PqCodebook.getClass).info(
          s"PqCodebook intern cache over $MaxInterned books — evicting the " +
            "least-recently-used entry (its shards keep private copies " +
            "until re-interned)")
        evict
      }
    }

  private[ann] def canonical(dim: Int, m: Int, ksub: Int,
      flat: Array[Float]): PqCodebook = {
    val key = (dim, m, ksub, java.util.Arrays.hashCode(flat))
    val hit = interned.synchronized(interned.get(key))
    if (hit != null) {
      if (java.util.Arrays.equals(hit.flatBook, flat)) hit
      else {
        // same (dim, m, ksub, hash32), different content: the losing book
        // can never intern under this key — every shard holding it keeps
        // a private copy, so say so instead of degrading silently
        org.slf4j.LoggerFactory.getLogger(PqCodebook.getClass).warn(
          s"PqCodebook.canonical: 32-bit content-hash collision at " +
            s"(dim=$dim, m=$m, ksub=$ksub) — serving a NON-interned fresh " +
            "codebook; executor-level dedup is lost for this book")
        fromFlat(dim, m, ksub, flat)
      }
    } else {
      val fresh = fromFlat(dim, m, ksub, flat) // build outside the lock
      interned.synchronized {
        val winner = interned.get(key) // re-check: another load may have won
        if (winner != null && java.util.Arrays.equals(winner.flatBook, flat))
          winner
        else { interned.put(key, fresh); fresh }
      }
    }
  }

  /** Train: deterministic per-subspace Lloyd k-means, ALL m subspaces in
    * one DataFrame job per iteration. `df` must have (id LONG,
    * key ARRAY<FLOAT>); init = the subvectors of the ksub smallest-id
    * vectors (no RNG). Empty cells keep their previous centroid
    * (deterministic, like IVF).
    *
    * Each iteration is one pass: the native [[org.apache.spark.sql
    * .graftbridge.PqEncode]] kernel assigns every subspace's cell in a
    * single projection (assignment IS encoding under the current books),
    * positions explode to (sub, cell, dim, value) rows, and one
    * map-side-combined groupBy produces every (sub, cell, dim) mean —
    * m · ksub · dsub result rows collected to the driver (a few KB). The
    * training frame is scanned `iters` times and never shuffled on
    * content. 100 TB discipline: codebooks are trained on a bounded
    * SAMPLE (the Faiss convention — ~100k–1M vectors saturates ksub ≤ 256
    * codebooks); pass `deterministicSample`'d input, then [[PqCodebook
    * .encodeExpr]] the full corpus once with the trained books. */
  def train(dfIn: DataFrame, m: Int, ksub: Int, iters: Int = 3): PqCodebook = {
    require(m > 0 && ksub > 0 && iters >= 0)
    val dim = dfIn.select(size(col("key"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    // cache discipline (r18): an ALREADY-persisted input (RoutedAnnIndex
    // .build passes its shared build frame when rows <= PqTrainCap) must
    // not be unpersisted on the way out — that silently evicted the
    // caller's cache and every later Lloyd/assignment pass rescanned the
    // source (guide §5 caching)
    val callerCached =
      dfIn.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val df = if (callerCached) dfIn
      else dfIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var books: Array[Array[Array[Float]]] = {
        val seed = df.orderBy("id").limit(ksub).select("key")
          .collect().map(_.getSeq[Float](0).toArray)
        require(seed.nonEmpty, "PQ training corpus is empty")
        // fewer than ksub vectors: cycle the seeds (cells will dedup to
        // whatever the data supports; argmin still resolves deterministically)
        Array.tabulate(m)(i => Array.tabulate(ksub) { j =>
          val v = seed(j % seed.length)
          java.util.Arrays.copyOfRange(v, i * dsub, (i + 1) * dsub)
        })
      }
      var it = 0
      while (it < iters) {
        val cb = new PqCodebook(dim, m, ksub, books)
        val sub = (col("pos") / dsub).cast("int")
        // materialize (key, codes) BEFORE the position explode: projection
        // collapse would otherwise inline the encode kernel into the
        // generate and re-run the full m·ksub argmin once per EXPLODED row
        // — measured 2.4 s/iteration vs 0.3 s at 2000×64-d (a d× blowup).
        // The checkpoint is bounded: PQ codebooks are trained on a SAMPLE
        // at scale (the Faiss discipline — pass a deterministicSample'd
        // frame for 100 TB corpora; see scaladoc above).
        val coded = df
          .select(col("key"), cb.encodeExpr(col("key")).as("codes"))
          .localCheckpoint()
        val means =
          try coded
            .select(col("codes"), posexplode(col("key")).as(Seq("pos", "v")))
            .select(sub.as("sub"),
              pmod(col("pos"), lit(dsub)).cast("int").as("p"),
              element_at(col("codes"), sub + 1).as("cell"),
              col("v"))
            .groupBy("sub", "cell", "p").agg(avg(col("v")).as("mv"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
            .toMap
          // each iteration's checkpoint is dead once its means are
          // collected — release it, or `iters` copies of the training
          // sample pile up in executor storage until driver GC
          finally org.apache.spark.sql.graftbridge.ColumnBridge
            .releaseLocalCheckpoint(coded)
        books = Array.tabulate(m)(s => Array.tabulate(ksub) { j =>
          if (means.contains((s, j, 0)))
            Array.tabulate(dsub)(p => means((s, j, p)).toFloat)
          else books(s)(j) // empty cell keeps its previous centroid
        })
        it += 1
      }
      new PqCodebook(dim, m, ksub, books)
    } finally if (!callerCached) { df.unpersist(blocking = false); () }
  }

  // --------------------------------------------------------- artifact IO
  //
  // The PQ artifact is the codebook alone — d · ksub floats, a few KB —
  // plus the source stamp; at cluster scale the CODE COLUMN is stored
  // beside the corpus table (encode once at ingest, like SQ8's codes), so
  // persisting it here would duplicate the corpus. Floats travel as int
  // bits (bit-identical restore — encode after a load can never diverge
  // from the build that wrote it; same discipline as IvfIndex.save).

  def save(cb: PqCodebook, dir: String, sourceStamp: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val json = JObject(
      "kind" -> JString("pq"),
      "dim" -> JInt(cb.dim), "m" -> JInt(cb.m), "ksub" -> JInt(cb.ksub),
      "sourceStamp" -> JString(sourceStamp),
      "codebooks" -> JArray(cb.codebooks.toList.map(sub =>
        JArray(sub.toList.map(c => JArray(c.toList.map(f =>
          JInt(BigInt(java.lang.Float.floatToRawIntBits(f))))))))))
    val target = java.nio.file.Paths.get(dir, "pq_manifest.json")
    val tmp = target.resolveSibling("pq_manifest.json.tmp")
    java.nio.file.Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** None (caller retrains) on missing/corrupt manifest, wrong kind, or a
    * source stamp mismatch — stale PQ rebuilds whole, like IVF (codebooks
    * drift with the data; patching codes against frozen books silently
    * degrades recall). */
  def load(dir: String, sourceStamp: String): Option[PqCodebook] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get(dir, "pq_manifest.json")
      if (!java.nio.file.Files.exists(p)) return None
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      if ((j \ "kind") != JString("pq")) return None
      if ((j \ "sourceStamp") != JString(sourceStamp)) return None
      val (dim, m, ksub) = ((j \ "dim"), (j \ "m"), (j \ "ksub")) match {
        case (JInt(d), JInt(mm), JInt(kk)) => (d.toInt, mm.toInt, kk.toInt)
        case _ => return None
      }
      val books: Array[Array[Array[Float]]] = (j \ "codebooks") match {
        case JArray(subs) => subs.map {
          case JArray(cs) => cs.map {
            case JArray(vs) => vs.map {
              case JInt(b) => java.lang.Float.intBitsToFloat(b.toInt)
              case _ => return None
            }.toArray
            case _ => return None
          }.toArray
          case _ => return None
        }.toArray
        case _ => return None
      }
      if (books.length != m || books.exists(_.length != ksub)) return None
      // a truncated/hand-edited manifest with short centroid vectors must
      // refuse HERE (None-means-retrain), not surface later as an
      // ArrayIndexOutOfBounds inside flatBook/encode
      if (m <= 0 || dim % m != 0 ||
          books.exists(_.exists(_.length != dim / m))) return None
      Some(new PqCodebook(dim, m, ksub, books))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Load if fresh AND configuration-matching, else train and save — the
    * one-call form. A stamp-matching artifact built at a different
    * (m, ksub) must NOT satisfy this call: it would silently run the
    * pipeline at the wrong byte budget/recall (the IncrementalDedup.load
    * refusal discipline). */
  def trainOrLoad(dfIn: DataFrame, m: Int, ksub: Int, dir: String,
      sourceStamp: String, iters: Int = 3): PqCodebook =
    load(dir, sourceStamp).filter(cb => cb.m == m && cb.ksub == ksub)
      .getOrElse {
        val cb = train(dfIn, m, ksub, iters)
        save(cb, dir, sourceStamp)
        cb
      }
}
