package graft

import org.apache.spark.sql.SparkSession

import graft.types.Algorithm
import graft.functions.Similarity.jvm

/**
 * Deterministic test fixtures (FIXTURES.md §2-3): seeded synthetic vectors
 * standing in for the reference's synthetic_embeddings_{100,1k}.json and the
 * SIFT-small 10k×128 dataset (ground truth recomputed by brute force per
 * metric, exactly as sift_dataset_validation.rs:42-47 does).
 */
object TestFixtures {

  /** One shared local SparkSession for every suite in the forked test JVM. */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def splitmix64(seed: Long): Long = Scale.SiftGen.splitmix64(seed)

  /** Uniform [0,1) double from a (seed, index) pair — replayable anywhere. */
  def u01(seed: Long, i: Long): Double = Scale.SiftGen.u01(seed, i)

  /** Deterministic pseudo-gaussian-ish vector (sum of two uniforms, centered). */
  def vec(seed: Long, idx: Long, dim: Int): Array[Float] = Scale.SiftGen.vec(seed, idx, dim)

  /** n deterministic vectors with ids 0..n-1 (id = index, so tie-breaks are
    * directly comparable to brute force). */
  def dataset(seed: Long, n: Int, dim: Int): (Array[Long], Array[Array[Float]]) =
    (Array.tabulate(n)(_.toLong), Array.tabulate(n)(i => vec(seed, i.toLong, dim)))

  /** SIFT-shaped vectors from the scale harness's generator
    * ([[Scale.SiftGen]]): points on a low-intrinsic-dimension manifold, like
    * real descriptor corpora (SIFT's intrinsic dim ≈ 12-16). Uniform random
    * high-dim points are near-equidistant — the degenerate case no real ANN
    * corpus looks like, and the one graph-based ANN provably can't index
    * well. */
  def siftLikeDataset(seed: Long, n: Int, dim: Int,
      intrinsic: Int = 10): (Array[Long], Array[Array[Float]], Scale.SiftGen) = {
    val gen = new Scale.SiftGen(seed, dim, intrinsic)
    (Array.tabulate(n)(_.toLong), Array.tabulate(n)(i => gen(i.toLong)), gen)
  }

  /** Exact brute-force top-k as (id, closeness) with (closeness DESC, id ASC)
    * ordering — the ground-truth oracle for every ANN test. */
  def bruteTopK(algo: Algorithm, ids: Array[Long], vecs: Array[Array[Float]],
      q: Array[Float], k: Int, accept: Long => Boolean = null): Seq[(Long, Double)] = {
    val scored = ids.indices.iterator
      .filter(i => accept == null || accept(ids(i)))
      .map(i => (ids(i), jvm.closeness(algo, q, vecs(i))))
      .toSeq
    scored.sortBy { case (id, c) => (-c, id) }.take(k)
  }

  def recallAtK(expected: Seq[Long], got: Seq[Long]): Double = {
    if (expected.isEmpty) return 1.0
    val e = expected.toSet
    got.count(e.contains).toDouble / expected.size
  }
}
