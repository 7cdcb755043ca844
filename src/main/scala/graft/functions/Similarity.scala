package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Similarity / distance kernels as Catalyst Column expressions over
 * ARRAY<FLOAT>, replacing the reference's SIMD kernels
 * (/root/reference/ahnlich/similarity/src/distance.rs:159-323).
 *
 * All built from higher-order functions (`zip_with` + `aggregate`), which
 * whole-stage-codegen to a tight loop — no UDF / deserialization on the hot
 * path. Math is done in DOUBLE with a sequential left-fold so results are
 * bit-reproducible and match any oracle that folds left in double precision.
 *
 * Direction safety (distance.rs:9-112): `closeness` unifies both directions —
 * similarities (cosine, dot) pass through, distances (euclidean) are negated —
 * so one `ORDER BY closeness DESC, id ASC` works for every metric with the
 * reference's deterministic id tie-break (db/src/algorithm/mod.rs:41-75).
 */
object Similarity {

  import org.apache.spark.sql.graftbridge.{ColumnBridge, FloatVecKernel, VecOp}

  private def kernel(a: Column, b: Column, op: VecOp): Column =
    ColumnBridge.column(FloatVecKernel(
      ColumnBridge.expression(a), ColumnBridge.expression(b), op))

  /** Σ aᵢ·bᵢ — fused native kernel; sequential left fold in double. */
  def dotProduct(a: Column, b: Column): Column = kernel(a, b, VecOp.Dot)

  /** dot/(‖a‖‖b‖) — larger = closer (distance.rs:159-206); single-pass
    * three-accumulator fused kernel, zero-norm → 0.0. */
  def cosineSimilarity(a: Column, b: Column): Column = kernel(a, b, VecOp.Cosine)

  /** √Σ(aᵢ−bᵢ)² — smaller = closer (distance.rs:276-323). */
  def euclideanDistance(a: Column, b: Column): Column =
    sqrt(kernel(a, b, VecOp.SqEuclidean))

  /** Σ(aᵢ−bᵢ)² without the sqrt — KD-tree internal ordering metric
    * (distance.rs:327-343). */
  def squaredEuclidean(a: Column, b: Column): Column =
    kernel(a, b, VecOp.SqEuclidean)

  /** The higher-order-function formulations (codegen'd but allocating) —
    * kept as the independent reference implementation the native kernels
    * are pinned against in NativeKernelSpec. */
  object hof {
    private def d(c: Column): Column = transform(c, x => x.cast("double"))

    def dotProduct(a: Column, b: Column): Column =
      aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

    def l2Norm(a: Column): Column =
      sqrt(aggregate(d(a), lit(0.0), (acc, x) => acc + x * x))

    def cosineSimilarity(a: Column, b: Column): Column =
      dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

    def euclideanDistance(a: Column, b: Column): Column =
      sqrt(aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))

    def squaredEuclidean(a: Column, b: Column): Column =
      aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
  }

  /** Unified larger-is-closer ordering key (algorithm/mod.rs:41-75). */
  def closeness(algorithm: graft.types.Algorithm, a: Column, b: Column): Column = {
    import graft.types.Algorithm._
    algorithm match {
      case CosineSimilarity     => cosineSimilarity(a, b)
      case DotProductSimilarity => dotProduct(a, b)
      case EuclideanDistance    => -euclideanDistance(a, b)
      case KDTree               => -squaredEuclidean(a, b)
      case HNSW                 => cosineSimilarity(a, b)
    }
  }

  /** [[closeness]] of two vectors already in hand as Catalyst arrays,
    * with the kernel's own interpreted arithmetic
    * ([[FloatVecKernel.eval]]) — bit-equal to the column form, for
    * rescoring rows on the driver. */
  def closenessOf(algorithm: graft.types.Algorithm,
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    import graft.types.Algorithm._
    algorithm match {
      case CosineSimilarity | HNSW => FloatVecKernel.eval(VecOp.Cosine, a, b)
      case DotProductSimilarity    => FloatVecKernel.eval(VecOp.Dot, a, b)
      case EuclideanDistance       => -math.sqrt(FloatVecKernel.eval(VecOp.SqEuclidean, a, b))
      case KDTree                  => -FloatVecKernel.eval(VecOp.SqEuclidean, a, b)
    }
  }

  /** Whether an algorithm reports a distance (similarity = −closeness)
    * rather than a similarity (similarity = closeness). */
  def reportsDistance(algorithm: graft.types.Algorithm): Boolean = {
    import graft.types.Algorithm._
    algorithm == EuclideanDistance || algorithm == KDTree
  }

  /** The user-visible similarity value for each algorithm
    * (non_linear.rs:151-175: KDTree reports squared euclidean). */
  def similarityValue(algorithm: graft.types.Algorithm, a: Column, b: Column): Column = {
    import graft.types.Algorithm._
    algorithm match {
      case CosineSimilarity     => cosineSimilarity(a, b)
      case DotProductSimilarity => dotProduct(a, b)
      case EuclideanDistance    => euclideanDistance(a, b)
      case KDTree               => squaredEuclidean(a, b)
      case HNSW                 => cosineSimilarity(a, b)
    }
  }

  /** JVM-side reference kernels (used by ANN index structures + tests). */
  object jvm {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def norm(a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val na = norm(a); val nb = norm(b)
      if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
    }
    def sqEuclidean(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i).toDouble - b(i).toDouble; s += t * t; i += 1 }
      s
    }
    def euclidean(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(sqEuclidean(a, b))

    def closeness(algo: graft.types.Algorithm, a: Array[Float], b: Array[Float]): Double = {
      import graft.types.Algorithm._
      algo match {
        case CosineSimilarity     => cosine(a, b)
        case DotProductSimilarity => dot(a, b)
        case EuclideanDistance    => -euclidean(a, b)
        case KDTree               => -sqEuclidean(a, b)
        case HNSW                 => cosine(a, b)
      }
    }
  }
}
