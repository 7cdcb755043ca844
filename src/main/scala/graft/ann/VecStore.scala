package graft.ann

import scala.collection.mutable

import graft.functions.Quantize.dequantized
import graft.functions.Similarity.jvm
import graft.types.Algorithm

/**
 * Lossless vector currency for graph (re)builds: a node's stored form,
 * carried EXACTLY through compaction rebuilds. A quantized shard that
 * extracted float vectors and re-encoded them on every compaction would
 * accumulate one quantization step of drift per rebuild; carrying the
 * codes themselves makes compaction drift-free by construction (the same
 * reason the routed manifest round-trips centroid floats as int bits).
 */
sealed trait VecPayload extends Serializable
object VecPayload {
  @SerialVersionUID(1L)
  final case class F32(v: Array[Float]) extends VecPayload
  @SerialVersionUID(1L)
  final case class Sq8(codes: Array[Byte], mn: Float, mx: Float) extends VecPayload
  /** Product-quantized codes, one byte per subspace (ksub ≤ 256) — the
    * codebook itself is NOT part of the payload: it lives on the
    * [[NodeStorage.Pq]] the graph was built with (carrying it per row
    * would multiply the very bytes PQ exists to save). */
  @SerialVersionUID(1L)
  final case class PqCode(codes: Array[Byte]) extends VecPayload
}

/**
 * REQUESTED node-storage kind for a routed index — the build/load-time
 * identity a caller names before any training has happened ("pq" needs a
 * trained codebook that only exists after the build sees data). The
 * trained realization is [[NodeStorage]]. `key` is the artifact-identity
 * string persisted in routed manifests — two specs with different keys
 * never load each other's shard files.
 */
sealed trait StorageSpec extends Serializable { def key: String }
object StorageSpec {
  @SerialVersionUID(1L)
  case object F32 extends StorageSpec { val key = "f32" }
  @SerialVersionUID(1L)
  case object Sq8 extends StorageSpec { val key = "sq8" }
  /** Product quantization: m subspaces (dim % m == 0), ksub ≤ 256
    * codebook entries each — m bytes/vector vs dim bytes (SQ8) vs
    * 4·dim (f32). */
  @SerialVersionUID(1L)
  final case class Pq(m: Int, ksub: Int) extends StorageSpec {
    require(m > 0, s"pq m must be > 0, got $m")
    require(ksub > 0 && ksub <= 256,
      s"pq ksub must be in [1, 256] (codes are stored as bytes), got $ksub")
    def key = s"pq(m=$m,ksub=$ksub)"
  }

  /** Optimized product quantization (Ge et al. 2013): PQ behind a
    * LEARNED orthogonal rotation — same m bytes/vector, and at low dims
    * the rotation recovers most of plain PQ's recall loss (the measured
    * ScaleOpq acceptance: 64-d served Recall@50 0.951 → 0.996). The
    * trained rotation rides [[NodeStorage.Opq]] beside the codebook. */
  @SerialVersionUID(1L)
  final case class Opq(m: Int, ksub: Int) extends StorageSpec {
    require(m > 0, s"opq m must be > 0, got $m")
    require(ksub > 0 && ksub <= 256,
      s"opq ksub must be in [1, 256] (codes are stored as bytes), got $ksub")
    def key = s"opq(m=$m,ksub=$ksub)"
  }

  /** Parse a config storage string: "f32" | "sq8" | "pq" | "opq" (bare
    * forms resolve their split from the store dimension at build —
    * [[resolve]]) | "pq(m=8,ksub=256)" | "opq(m=8,ksub=256)". None =
    * UNKNOWN kind (the caller owns that error surface — the engine
    * throws GraftException naming the value); a RECOGNIZED pq/opq form
    * with out-of-range parameters throws IllegalArgumentException
    * carrying the actual constraint (e.g. ksub ≤ 256 — swallowing it
    * into None would misreport a range violation as an unknown kind,
    * review round 15). Left = a bare kind awaiting dimension defaults. */
  private val PqRe = """(o?pq)\(m=([0-9]{1,4}),ksub=([0-9]{1,4})\)""".r
  def parse(s: String): Option[Either[String, StorageSpec]] = s match {
    case "f32" => Some(Right(F32))
    case "sq8" => Some(Right(Sq8))
    case "pq" | "opq" => Some(Left(s)) // defaults resolve against the dimension
    case PqRe("pq", m, k) => Some(Right(Pq(m.toInt, k.toInt)))
    case PqRe("opq", m, k) => Some(Right(Opq(m.toInt, k.toInt)))
    case _ => None
  }

  /** Resolve a config storage string against the store dimension. Bare
    * "pq" / "opq" default to the classic 8-dims-per-subspace split
    * (m = dim/8, falling to the largest power-of-two sub-dimension
    * dividing dim) and ksub = 256 — the Jégou et al. 2011 operating
    * point. Throws IllegalArgumentException on an unknown kind or an m
    * that does not divide the dimension (engine surfaces it as
    * GraftException). */
  def resolve(s: String, dim: Int): StorageSpec = parse(s) match {
    case Some(Right(p: Pq)) =>
      require(dim % p.m == 0,
        s"pq m=${p.m} must divide the store dimension $dim")
      p
    case Some(Right(p: Opq)) =>
      require(dim % p.m == 0,
        s"opq m=${p.m} must divide the store dimension $dim")
      p
    case Some(Right(spec)) => spec
    case Some(Left(kind)) =>
      val dsub = Seq(8, 4, 2, 1).find(dim % _ == 0).get
      if (kind == "opq") Opq(dim / dsub, 256) else Pq(dim / dsub, 256)
    case None => throw new IllegalArgumentException(
      s"Unknown node storage '$s' (expected f32, sq8, pq, opq, " +
        "pq(m=..,ksub=..) or opq(m=..,ksub=..))")
  }

  /** Dimension below which a probes-configured PQ index is a MEASURED
    * quality trap. Round-16 ScaleQuant dim ladder (50k SIFT-shaped rows,
    * 32 shards, rescored Recall@50 at p=16 vs f32's): 64-d −6.5pt
    * (0.9338 vs SQ8's 0.9988, for only ~17% fewer resident bytes; the
    * 200k round-15 table reads worse still — 0.869 ceiling); 128-d
    * recovers most of it (−1.4pt) and 256-d reads at near-parity
    * (−0.4pt). The crossover from "trap" to "ordinary quantization
    * error a recallTarget prices in" sits between 64 and 128, so the
    * guard draws the warned region at < 128 — exactly the measured bad
    * band. */
  val PqLowDimWarnBelow = 128

  /** Build-time guard for the low-dim PQ trap (round-15 verdict "what's
    * wrong" #2): a `probes`-configured (non-recall) PQ index on a low-dim
    * store SILENTLY serves 0.85-class recall where SQ8 reads 0.99 at
    * identical probes and ~25% more bytes. Returns the warning the engine
    * logs at create; None when the configuration is safe:
    *  - not PQ, or dim ≥ [[PqLowDimWarnBelow]] — outside the measured trap;
    *  - exhaustive probes (probes ≥ numShards) — the rescore restores the
    *    exact ranking, so quantization costs no recall;
    *  - a recallTarget — the calibrated curve prices the PQ error in and
    *    honestly tops out below unattainable targets (serving widens to
    *    exhaustive; the 1.0-target case is refused outright at create).
    * A pure function so the rule is directly pinnable (PqRoutedSpec);
    * the engine WARNS rather than refuses — low-dim PQ is a legitimate
    * byte-budget choice when the caller knows the measured ceiling. */
  def lowDimPqWarning(spec: StorageSpec, dim: Int, probes: Int,
      numShards: Int, recallTarget: Option[Double]): Option[String] =
    spec match {
      case Pq(m, _) if dim < PqLowDimWarnBelow && probes < numShards &&
          recallTarget.isEmpty =>
        Some(s"pq node storage at $dim dims with pruned probes " +
          s"($probes/$numShards) serves a MEASURED recall ceiling well " +
          "below sq8 at identical probes (ScaleQuant dim ladder: 0.93 vs " +
          "0.999 at 64-d/50k, 0.869 ceiling at 200k) for only ~17% fewer " +
          s"resident bytes — prefer sq8 or opq (the learned-rotation " +
          s"escape hatch, measured 0.996 at 64-d) below $PqLowDimWarnBelow " +
          "dims, or set a recallTarget so serving reads probes off the " +
          "measured curve")
      case _ => None
    }
}

/**
 * REALIZED node storage for a shard graph: the spec plus whatever trained
 * state it needs (the PQ codebook). Ships in task closures (codebooks are
 * d·ksub floats — a few hundred KB at serving dims) and is part of the
 * routed index handle, so compaction rebuilds encode against exactly the
 * books the original build trained.
 */
sealed trait NodeStorage extends Serializable {
  def spec: StorageSpec
  private[ann] def newStore(metric: Algorithm): VecStore
  /** Extra shortlist candidates serving over-fetches so the exact float
    * rescore can restore true top-n ranking (0 = the stored scores ARE
    * exact). PQ's coarse error is codebook-bounded and much larger than
    * SQ8's per-vector min/max error, so its slack is wider — the
    * ScaleQuant slack-sensitivity table is the measurement behind both
    * numbers. */
  def rescoreSlack: Int
}
object NodeStorage {
  @SerialVersionUID(1L)
  case object F32 extends NodeStorage {
    def spec: StorageSpec = StorageSpec.F32
    private[ann] def newStore(metric: Algorithm): VecStore = new FloatVecStore(metric)
    def rescoreSlack: Int = 0
  }
  @SerialVersionUID(1L)
  case object Sq8 extends NodeStorage {
    def spec: StorageSpec = StorageSpec.Sq8
    private[ann] def newStore(metric: Algorithm): VecStore = new Sq8VecStore(metric)
    def rescoreSlack: Int = 32
  }
  @SerialVersionUID(1L)
  final case class Pq(book: PqCodebook) extends NodeStorage {
    def spec: StorageSpec = StorageSpec.Pq(book.m, book.ksub)
    private[ann] def newStore(metric: Algorithm): VecStore = new PqVecStore(metric, book)
    def rescoreSlack: Int = 128
  }
  /** PQ behind a learned orthogonal rotation (OPQ — Ge et al. 2013):
    * codes and codebook live in the rotated basis, the rotation rides
    * here beside the book (both interned per executor). Same slack as
    * plain PQ: the rotation only SHRINKS quantization error (measured —
    * ScaleOpq), so Pq's measured slack is conservative for Opq. */
  @SerialVersionUID(1L)
  final case class Opq(book: PqCodebook, rot: OpqRotation) extends NodeStorage {
    require(rot.dim == book.dim,
      s"rotation dim ${rot.dim} != codebook dim ${book.dim}")
    def spec: StorageSpec = StorageSpec.Opq(book.m, book.ksub)
    private[ann] def newStore(metric: Algorithm): VecStore =
      new OpqVecStore(metric, book, rot)
    def rescoreSlack: Int = 128
  }

  /** Realize a spec: train what needs training — the PQ codebook over
    * the build frame (deterministic distributed Lloyd per subspace, the
    * [[PqCodebook.train]] loop), or OPQ's rotation + codebook via the
    * driver-side bounded-sample alternation ([[OpqTrain.train]] on an
    * [[OpqTrain.TrainSample]]-row deterministic id-hash draw — rotation
    * learning needs the sample IN MEMORY for the Procrustes accumulations
    * and saturates at tens of thousands of rows, so the cost is
    * corpus-size-independent by construction) — or pass through. `df`
    * must be the (id LONG, key ARRAY<FLOAT>) build frame. */
  def train(spec: StorageSpec, df: org.apache.spark.sql.DataFrame): NodeStorage =
    spec match {
      case StorageSpec.F32 => F32
      case StorageSpec.Sq8 => Sq8
      case StorageSpec.Pq(m, ksub) => Pq(PqCodebook.train(df, m, ksub))
      case StorageSpec.Opq(m, ksub) =>
        val sample = Calibration.selfSample(
          df.select(org.apache.spark.sql.functions.col("id").cast("long"),
            org.apache.spark.sql.functions.col("key").cast("array<float>"))
            .rdd.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
          OpqTrain.TrainSample, seed = 7L)
        // id-ascending like PqCodebook.train's smallest-id init convention
        val rows = sample.collect { case (Some(id), v) => (id, v) }
          .sortBy(_._1).map(_._2)
        val dim = rows.headOption.map(_.length).getOrElse(
          throw new IllegalArgumentException("OPQ training corpus is empty"))
        val (rot, book) = OpqTrain.train(rows, dim, m, ksub)
        Opq(book, rot)
    }
}

/**
 * Node-vector storage behind [[HnswIndex]] — the seam that lets a graph
 * hold full-precision float32 vectors (the reference layout,
 * `ahnlich/similarity/src/hnsw/index.rs` node payloads) OR per-vector
 * min/max int8 codes (SQ8 — the 100 TB memory lever: the reference
 * budgets ~60-450 B/element of GRAPH overhead, docs/specs/hnsw.md:117-127,
 * but at 768 dims the 3 KB float payload dwarfs it; codes + two floats
 * are ~1/4 the bytes). All distances are smaller-is-closer per metric
 * (cosine → −cos, dot → −dot, euclidean → squared euclidean), double
 * accumulation in ascending index order — the [[graft.functions
 * .Similarity.jvm]] operation order, so the float store is bit-identical
 * to the pre-seam implementation and the SQ8 store is bit-identical to
 * scoring [[graft.functions.Quantize.dequantize]]d vectors.
 */
private[ann] sealed trait VecStore extends Serializable {
  def size: Int
  /** Append a float vector (encodes under SQ8 — [[graft.functions
    * .Quantize.int8Codes]] math: `min(255, floor((x−mn)·255/(mx−mn)))`,
    * constant vectors to all-zero codes). */
  def add(v: Array[Float]): Unit
  /** Append a stored-form payload without re-encoding (the compaction
    * path). A store refuses a payload of the other storage kind — mixing
    * would silently change the scoring scale mid-graph. */
  def addPayload(p: VecPayload): Unit
  def payload(i: Int): VecPayload
  /** Node i as floats — EXACT for the float store, dequantized
    * (`mn + q·(mx−mn)/255`, cast to float) for SQ8. */
  def export(i: Int): Array[Float]
  /** Internal distance between two STORED nodes (the build path — a
    * quantized graph is built on the codes it will search). */
  def distNodes(i: Int, j: Int): Double
  /** Internal distance between a float query and stored node i (the
    * search path — asymmetric under SQ8/PQ: the query stays exact). */
  def distQuery(q: Array[Float], i: Int): Double
  /** Per-query node scorer — the search-path currency. The default
    * closes over [[distQuery]]; stores with per-query preparation (PQ's
    * ADC lookup tables — O(d·ksub) once, then O(m) per scored node)
    * override to pay that preparation exactly once per query. Must be
    * bit-identical to [[distQuery]] on every node. */
  def queryScorer(q: Array[Float]): Int => Double = i => distQuery(q, i)
}

@SerialVersionUID(1L)
private[ann] final class FloatVecStore(metric: Algorithm) extends VecStore {
  private val vecs = mutable.ArrayBuffer[Array[Float]]()
  def size: Int = vecs.length
  def add(v: Array[Float]): Unit = vecs += v
  def addPayload(p: VecPayload): Unit = p match {
    case VecPayload.F32(v) => add(v)
    case other => throw new IllegalStateException(
      s"float vector store cannot absorb ${other.getClass.getSimpleName}")
  }
  def payload(i: Int): VecPayload = VecPayload.F32(vecs(i))
  def export(i: Int): Array[Float] = vecs(i)
  @inline private def dist(a: Array[Float], b: Array[Float]): Double =
    metric match {
      case Algorithm.EuclideanDistance => jvm.sqEuclidean(a, b)
      case Algorithm.DotProductSimilarity => -jvm.dot(a, b)
      case _ => -jvm.cosine(a, b)
    }
  def distNodes(i: Int, j: Int): Double = dist(vecs(i), vecs(j))
  def distQuery(q: Array[Float], i: Int): Double = dist(q, vecs(i))
}

/** Scalar (per-vector min/max) int8 node storage — 1 byte/dimension + two
  * floats instead of 4 bytes/dimension. Distances dequantize INLINE (no
  * intermediate arrays); the graph both builds and traverses on the
  * quantized values, so its recall is measured for exactly the
  * representation it serves — the [[IvfIndex.calibrate]] SQ8-arm
  * provenance rule. Exact ranking is restored downstream by the
  * shortlist rescore (engine hydration / [[RoutedAnnIndex
  * .topKJoinRescored]]), never claimed here. */
@SerialVersionUID(1L)
private[ann] final class Sq8VecStore(metric: Algorithm) extends VecStore {
  private val codes = mutable.ArrayBuffer[Array[Byte]]()
  private val mns = new FloatBuf()
  private val mxs = new FloatBuf()
  def size: Int = codes.length

  def add(v: Array[Float]): Unit = {
    var mn = Double.MaxValue; var mx = Double.MinValue
    var i = 0
    while (i < v.length) {
      val x = v(i).toDouble
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    if (v.length == 0) { mn = 0.0; mx = 0.0 }
    val c = new Array[Byte](v.length)
    if (mx != mn) {
      i = 0
      while (i < v.length) {
        // (x − mn) · 255 / (mx − mn) with the multiply-last order of
        // Quantize.int8Codes: (x − mn) * 255.0 / (mx − mn)
        val q = math.min(255.0, math.floor((v(i).toDouble - mn) * 255.0 / (mx - mn)))
        c(i) = q.toInt.toByte
        i += 1
      }
    }
    codes += c; mns += mn.toFloat; mxs += mx.toFloat
  }

  def addPayload(p: VecPayload): Unit = p match {
    case VecPayload.Sq8(c, mn, mx) => codes += c; mns += mn; mxs += mx
    case VecPayload.F32(v) => add(v)
    case other => throw new IllegalStateException(
      s"sq8 vector store cannot absorb ${other.getClass.getSimpleName}")
  }
  def payload(i: Int): VecPayload = VecPayload.Sq8(codes(i), mns(i), mxs(i))

  def export(i: Int): Array[Float] = {
    val c = codes(i); val mn = mns(i).toDouble; val mx = mxs(i).toDouble
    val out = new Array[Float](c.length)
    var j = 0
    while (j < c.length) {
      out(j) = dequantized((c(j) & 0xFF).toDouble, mn, mx).toFloat
      j += 1
    }
    out
  }

  // fused kernels: accumulate (dot, normA², normB²) / squared difference
  // over dequantized elements in one ascending pass — the jvm kernel
  // operation order over Quantize.dequantize values, zero allocations
  def distNodes(i: Int, j: Int): Double = {
    val ca = codes(i); val mna = mns(i).toDouble; val mxa = mxs(i).toDouble
    val cb = codes(j); val mnb = mns(j).toDouble; val mxb = mxs(j).toDouble
    metric match {
      case Algorithm.EuclideanDistance =>
        var s = 0.0; var x = 0
        while (x < ca.length) {
          val t = dequantized((ca(x) & 0xFF).toDouble, mna, mxa) -
            dequantized((cb(x) & 0xFF).toDouble, mnb, mxb)
          s += t * t; x += 1
        }
        s
      case Algorithm.DotProductSimilarity =>
        var s = 0.0; var x = 0
        while (x < ca.length) {
          s += dequantized((ca(x) & 0xFF).toDouble, mna, mxa) *
            dequantized((cb(x) & 0xFF).toDouble, mnb, mxb)
          x += 1
        }
        -s
      case _ =>
        var dp = 0.0; var na = 0.0; var nb = 0.0; var x = 0
        while (x < ca.length) {
          val a = dequantized((ca(x) & 0xFF).toDouble, mna, mxa)
          val b = dequantized((cb(x) & 0xFF).toDouble, mnb, mxb)
          dp += a * b; na += a * a; nb += b * b; x += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0
        else -(dp / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  def distQuery(q: Array[Float], i: Int): Double = {
    val c = codes(i); val mn = mns(i).toDouble; val mx = mxs(i).toDouble
    metric match {
      case Algorithm.EuclideanDistance =>
        var s = 0.0; var x = 0
        while (x < c.length) {
          val t = q(x).toDouble - dequantized((c(x) & 0xFF).toDouble, mn, mx)
          s += t * t; x += 1
        }
        s
      case Algorithm.DotProductSimilarity =>
        var s = 0.0; var x = 0
        while (x < c.length) {
          s += q(x).toDouble * dequantized((c(x) & 0xFF).toDouble, mn, mx)
          x += 1
        }
        -s
      case _ =>
        var dp = 0.0; var nq = 0.0; var nb = 0.0; var x = 0
        while (x < c.length) {
          val a = q(x).toDouble
          val b = dequantized((c(x) & 0xFF).toDouble, mn, mx)
          dp += a * b; nq += a * a; nb += b * b; x += 1
        }
        if (nq == 0.0 || nb == 0.0) 0.0
        else -(dp / (math.sqrt(nq) * math.sqrt(nb)))
    }
  }
}

/** Product-quantized node storage — m BYTES per vector (one codebook
  * index per subspace; the [[PqCodebook]] the graph was built with ships
  * on the [[NodeStorage.Pq]] handle, not per row). The byte-budget end of
  * the seam: at 768-d / m=96 a node costs 96 B where SQ8 costs 768 B and
  * f32 3072 B — 32× under float. The graph both builds and traverses on
  * RECONSTRUCTED vectors (x̂ᵢ = concat of each subspace's codebook entry),
  * so its recall is measured for exactly the representation it serves
  * (the [[Sq8VecStore]] provenance rule); exact ranking is restored by
  * the downstream shortlist rescore — at the WIDER
  * [[NodeStorage.Pq.rescoreSlack]], since PQ's codebook-bounded error is
  * much larger than SQ8's per-vector min/max error.
  *
  * Distance discipline: all-double accumulation, one partial sum per
  * subspace in ascending sub order, partials summed in ascending sub
  * order — the SAME grouping in [[distQuery]], [[queryScorer]] (whose ADC
  * lookup tables hold exactly those per-subspace partials, computed once
  * per query — Jégou et al. 2011 §V's asymmetric distance) and
  * [[distNodes]], so the scorer is bit-identical to distQuery and a graph
  * rebuilt from carried codes is bit-identical to the one that produced
  * them. Cosine denominators reuse the codebook's reconstructed norms
  * ([[PqCodebook.n2Flat]] — chunks are disjoint coordinates, so
  * Σᵢ ‖cᵢ[codeᵢ]‖² = ‖x̂‖² exactly). */
@SerialVersionUID(1L)
private[ann] final class PqVecStore(metric: Algorithm,
    book: PqCodebook) extends VecStore {
  private val codes = mutable.ArrayBuffer[Array[Byte]]()
  private val m = book.m
  private val ksub = book.ksub
  private val dsub = book.dsub
  // flat [sub][code][dim] codebook + per-(sub,code) reconstructed norms²;
  // derived views of the book — rebuilt lazily after deserialization
  @transient private lazy val flat: Array[Float] = book.flatBook
  @transient private lazy val n2: Array[Double] = book.n2Flat

  def size: Int = codes.length

  def add(v: Array[Float]): Unit = {
    require(v.length == book.dim,
      s"vector of dim ${v.length} against a pq codebook of dim ${book.dim}")
    val enc = book.encodeJvm(v)
    val c = new Array[Byte](m)
    var s = 0
    while (s < m) { c(s) = enc(s).toByte; s += 1 }
    codes += c
  }

  def addPayload(p: VecPayload): Unit = p match {
    case VecPayload.PqCode(c) =>
      require(c.length == m,
        s"pq payload of ${c.length} codes against m=$m subspaces")
      codes += c
    case VecPayload.F32(v) => add(v)
    case other => throw new IllegalStateException(
      s"pq vector store cannot absorb ${other.getClass.getSimpleName}")
  }
  def payload(i: Int): VecPayload = VecPayload.PqCode(codes(i))

  def export(i: Int): Array[Float] = {
    val c = codes(i)
    val out = new Array[Float](book.dim)
    var s = 0
    while (s < m) {
      System.arraycopy(flat, ((s * ksub) + (c(s) & 0xFF)) * dsub,
        out, s * dsub, dsub)
      s += 1
    }
    out
  }

  @inline private def qNorm2(q: Array[Float]): Double = {
    var nq = 0.0; var x = 0
    while (x < q.length) { nq += q(x).toDouble * q(x).toDouble; x += 1 }
    nq
  }

  def distNodes(i: Int, j: Int): Double = {
    val ci = codes(i); val cj = codes(j)
    metric match {
      case Algorithm.EuclideanDistance =>
        var tot = 0.0; var s = 0
        while (s < m) {
          val ba = ((s * ksub) + (ci(s) & 0xFF)) * dsub
          val bb = ((s * ksub) + (cj(s) & 0xFF)) * dsub
          var part = 0.0; var p = 0
          while (p < dsub) {
            val t = flat(ba + p).toDouble - flat(bb + p).toDouble
            part += t * t; p += 1
          }
          tot += part; s += 1
        }
        tot
      case Algorithm.DotProductSimilarity =>
        var tot = 0.0; var s = 0
        while (s < m) {
          val ba = ((s * ksub) + (ci(s) & 0xFF)) * dsub
          val bb = ((s * ksub) + (cj(s) & 0xFF)) * dsub
          var part = 0.0; var p = 0
          while (p < dsub) {
            part += flat(ba + p).toDouble * flat(bb + p).toDouble; p += 1
          }
          tot += part; s += 1
        }
        -tot
      case _ =>
        var dp = 0.0; var na = 0.0; var nb = 0.0; var s = 0
        while (s < m) {
          val ba = ((s * ksub) + (ci(s) & 0xFF)) * dsub
          val bb = ((s * ksub) + (cj(s) & 0xFF)) * dsub
          var part = 0.0; var p = 0
          while (p < dsub) {
            part += flat(ba + p).toDouble * flat(bb + p).toDouble; p += 1
          }
          dp += part
          na += n2((s * ksub) + (ci(s) & 0xFF))
          nb += n2((s * ksub) + (cj(s) & 0xFF))
          s += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0
        else -(dp / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  /** One subspace's exact query partial against codebook entry (s, c):
    * squared euclidean or dot product, double accumulation in ascending
    * element order — the single op sequence [[distQuery]] and the ADC
    * tables share, so the two paths are bit-identical by construction. */
  @inline private def qPartial(q: Array[Float], s: Int, c: Int,
      euclid: Boolean): Double = {
    val base = ((s * ksub) + c) * dsub
    val off = s * dsub
    var part = 0.0; var p = 0
    if (euclid) while (p < dsub) {
      val t = q(off + p).toDouble - flat(base + p).toDouble
      part += t * t; p += 1
    }
    else while (p < dsub) {
      part += q(off + p).toDouble * flat(base + p).toDouble; p += 1
    }
    part
  }

  def distQuery(q: Array[Float], i: Int): Double = {
    val c = codes(i)
    metric match {
      case Algorithm.EuclideanDistance =>
        var tot = 0.0; var s = 0
        while (s < m) { tot += qPartial(q, s, c(s) & 0xFF, euclid = true); s += 1 }
        tot
      case Algorithm.DotProductSimilarity =>
        var tot = 0.0; var s = 0
        while (s < m) { tot += qPartial(q, s, c(s) & 0xFF, euclid = false); s += 1 }
        -tot
      case _ =>
        var dp = 0.0; var nb = 0.0; var s = 0
        while (s < m) {
          dp += qPartial(q, s, c(s) & 0xFF, euclid = false)
          nb += n2((s * ksub) + (c(s) & 0xFF))
          s += 1
        }
        val nq = qNorm2(q)
        if (nq == 0.0 || nb == 0.0) 0.0
        else -(dp / (math.sqrt(nq) * math.sqrt(nb)))
    }
  }

  /** ADC search path: ONE m × ksub table of exact per-subspace partials
    * per query (O(d·ksub)), then every scored node costs m lookups —
    * where the default scorer would re-derive the same partials per node
    * (O(d) each). Entry (s, c) is [[qPartial]] itself, so the scorer
    * returns bit-identical values to [[distQuery]]. */
  override def queryScorer(q: Array[Float]): Int => Double = {
    val euclid = metric == Algorithm.EuclideanDistance
    val lut = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        lut((s * ksub) + c) = qPartial(q, s, c, euclid)
        c += 1
      }
      s += 1
    }
    metric match {
      case Algorithm.EuclideanDistance => (i: Int) => {
        val ci = codes(i)
        var tot = 0.0; var x = 0
        while (x < m) { tot += lut((x * ksub) + (ci(x) & 0xFF)); x += 1 }
        tot
      }
      case Algorithm.DotProductSimilarity => (i: Int) => {
        val ci = codes(i)
        var tot = 0.0; var x = 0
        while (x < m) { tot += lut((x * ksub) + (ci(x) & 0xFF)); x += 1 }
        -tot
      }
      case _ =>
        val nq = qNorm2(q)
        (i: Int) => {
          val ci = codes(i)
          var dp = 0.0; var nb = 0.0; var x = 0
          while (x < m) {
            val at = (x * ksub) + (ci(x) & 0xFF)
            dp += lut(at); nb += n2(at); x += 1
          }
          if (nq == 0.0 || nb == 0.0) 0.0
          else -(dp / (math.sqrt(nq) * math.sqrt(nb)))
        }
    }
  }
}

/** OPQ node storage — a [[PqVecStore]] operating in a LEARNED rotated
  * basis ([[OpqRotation]], x' = Rᵀx): encode and query-side ADC rotate
  * first, export rotates BACK, and every metric score delegates
  * untouched — an orthogonal rotation preserves dot, euclidean, and
  * norms, so scores in the rotated basis ARE the original-space scores
  * (cosine included: both norms are invariant). The measured point of
  * the whole construction (ScaleOpq): at 64-d the rotation recovers
  * plain PQ's low-dim loss (served 0.951 → 0.996) at identical bytes
  * per node. Codes stored/carried by payloads live in the ROTATED basis
  * — consistent across compaction because the rotation is part of the
  * [[NodeStorage.Opq]] handle, exactly like the codebook. */
@SerialVersionUID(1L)
private[ann] final class OpqVecStore(metric: Algorithm,
    book: PqCodebook, rot: OpqRotation) extends VecStore {
  private val inner = new PqVecStore(metric, book)
  def size: Int = inner.size
  def add(v: Array[Float]): Unit = inner.add(rot.rotate(v))
  def addPayload(p: VecPayload): Unit = p match {
    case c: VecPayload.PqCode => inner.addPayload(c) // rotated-basis codes
    case VecPayload.F32(v) => add(v) // overlay-tail folds rotate-then-encode
    case other => throw new IllegalStateException(
      s"opq vector store cannot absorb ${other.getClass.getSimpleName}")
  }
  def payload(i: Int): VecPayload = inner.payload(i)
  def export(i: Int): Array[Float] = rot.rotateBack(inner.export(i))
  def distNodes(i: Int, j: Int): Double = inner.distNodes(i, j)
  def distQuery(q: Array[Float], i: Int): Double =
    inner.distQuery(rot.rotate(q), i)
  override def queryScorer(q: Array[Float]): Int => Double =
    inner.queryScorer(rot.rotate(q))
}
