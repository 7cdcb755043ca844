package graft.ann

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.functions.Similarity.jvm
import graft.types.{Algorithm, NonLinearConfig}

/** The float store's cached cosine norms: every score bit-equal to
  * [[jvm.cosine]] (so graphs, tie order and oracle hashes cannot move),
  * the same neighbour lists as a store that recomputes the norms, and a
  * deserialized store rebuilding its transient norms on first use. */
class NormCacheSpec extends AnyFunSuite {

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  /** The pre-cache float store: both norms recomputed on every score. */
  private final class RecomputingStore extends VecStore {
    private val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    def size: Int = vecs.length
    def add(v: Array[Float]): Unit = vecs += v
    def addPayload(p: VecPayload): Unit = p match {
      case VecPayload.F32(v) => add(v)
      case _ => throw new IllegalStateException("float payloads only")
    }
    def payload(i: Int): VecPayload = VecPayload.F32(vecs(i))
    def export(i: Int): Array[Float] = vecs(i)
    def distNodes(i: Int, j: Int): Double = -jvm.cosine(vecs(i), vecs(j))
    def distQuery(q: Array[Float], i: Int): Double = -jvm.cosine(q, vecs(i))
  }

  test("distNodes / distQuery / queryScorer are bit-equal to -jvm.cosine (10k pairs, dims 4-1024, zero vectors)") {
    val rnd = new scala.util.Random(17L)
    var pairs = 0
    for (dim <- Seq(4, 7, 64, 128, 384, 1024)) {
      val n = 40
      val vs = Array.tabulate(n)(i =>
        if (i % 13 == 0) Array.fill(dim)(0f)
        else Array.fill(dim)((rnd.nextGaussian() * (1 + i % 5)).toFloat))
      val st = NodeStorage.F32.newStore(Algorithm.CosineSimilarity)
      vs.foreach(st.add)
      // a second store whose norms are rebuilt lazily after a round trip
      val rt = {
        val bo = new java.io.ByteArrayOutputStream()
        val oo = new java.io.ObjectOutputStream(bo); oo.writeObject(st); oo.close()
        new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bo.toByteArray))
          .readObject().asInstanceOf[VecStore]
      }
      val qs = Array.tabulate(n)(i =>
        if (i == 0) Array.fill(dim)(0f) else Array.fill(dim)(rnd.nextGaussian().toFloat))
      for (i <- 0 until n; j <- 0 until n) {
        val want = bits(-jvm.cosine(vs(i), vs(j)))
        assert(bits(st.distNodes(i, j)) == want, s"distNodes dim=$dim ($i,$j)")
        assert(bits(rt.distNodes(i, j)) == want, s"deserialized distNodes dim=$dim ($i,$j)")
        pairs += 1
      }
      qs.foreach { q =>
        val scorer = st.queryScorer(q)
        for (i <- 0 until n) {
          val want = bits(-jvm.cosine(q, vs(i)))
          assert(bits(st.distQuery(q, i)) == want, s"distQuery dim=$dim node $i")
          assert(bits(scorer(i)) == want, s"queryScorer dim=$dim node $i")
          pairs += 1
        }
      }
    }
    assert(pairs >= 10000, s"$pairs pairs")
  }

  test("the serialized float store keeps the pre-cache fields, so saved shards still load") {
    // JVM field names as written by the store before the norm cache; a
    // renamed field deserializes as null from an existing artifact
    val fields = java.io.ObjectStreamClass.lookup(classOf[FloatVecStore]).getFields
      .map(_.getName).toSet
    assert(fields == Set("graft$ann$FloatVecStore$$metric", "vecs"))
  }

  test("a 2000-vector HNSW builds the same neighbour lists as one whose store recomputes norms") {
    val dim = 32
    val (ids, vecs, _) = siftLikeDataset(seed = 23L, n = 2000, dim = dim)
    val cfg = NonLinearConfig.HNSWConfig(efConstruction = 40, metric = Algorithm.CosineSimilarity)
    val cached = HnswIndex(dim, cfg)
    val recomputing = HnswIndex(dim, cfg)
    val storeField = classOf[HnswIndex].getDeclaredFields
      .find(f => classOf[VecStore].isAssignableFrom(f.getType)).get
    storeField.setAccessible(true)
    storeField.set(recomputing, new RecomputingStore)
    ids.indices.foreach { i => cached.insert(ids(i), vecs(i)); recomputing.insert(ids(i), vecs(i)) }
    assert(storeField.get(cached).isInstanceOf[FloatVecStore])
    assert(cached.neighborLists == recomputing.neighborLists)
    val q = vec(seed = 5L, 1L, dim)
    assert(cached.search(q, 10, 64).map(t => (t._1, bits(t._2))) ==
      recomputing.search(q, 10, 64).map(t => (t._1, bits(t._2))))
  }
}
