package perfbench

import graft.ai.Embedders
import graft.ann.HnswIndex
import graft.dsl.DslParser
import graft.functions.Similarity
import graft.types.{MetadataValue, NonLinearConfig}

/** Single-threaded probes of the layers below the engine, on this
  * workload's own vectors and texts: `ann` (a standalone HNSW graph),
  * `functions` (the JVM similarity kernels), `dsl` and `ai`. */
object Probes {
  private def perCall(n: Int)(f: Int => Unit): Double = {
    var i = 0
    while (i < n) { f(i); i += 1 } // warm the JIT on the same code path
    val t = System.nanoTime()
    i = 0
    while (i < n) { f(i); i += 1 }
    (System.nanoTime() - t).toDouble / n
  }

  def run(wl: Workload, l: Runner.Loop): Seq[Metric] = {
    val vecs = wl.sampleVectors
    val dim = vecs.head.length
    val n = math.min(2000, vecs.length - 200)
    val idx = HnswIndex(dim, NonLinearConfig.HNSWConfig())
    val t0 = System.nanoTime()
    (0 until n).foreach(i => idx.insert(i.toLong, vecs(i)))
    val insertUs = (System.nanoTime() - t0) / 1e3 / n
    val searchUs = perCall(200)(i => idx.search(vecs(n + i), Sizes.K, 16)) / 1e3

    var sink = 0.0
    val pairs = 100000
    def pair(i: Int) = (vecs(i % n), vecs((i * 7 + 1) % n))
    val cosNs = perCall(pairs) { i => val (a, b) = pair(i); sink += Similarity.jvm.cosine(a, b) }
    val dotNs = perCall(pairs) { i => val (a, b) = pair(i); sink += Similarity.jvm.dot(a, b) }
    val sqNs = perCall(pairs) { i => val (a, b) = pair(i); sink += Similarity.jvm.sqEuclidean(a, b) }
    require(!sink.isNaN)

    val texts = wl.sampleTexts
    val parsed = l.ops.filter(op => op.parseEnd > op.start)
    val parseUs =
      if (parsed.nonEmpty) Stats.mean(parsed.map(op => (op.parseEnd - op.start) / 1e3))
      else {
        val stmts = (0 until 200).map { i =>
          s"GETSIMN ${Sizes.K} WITH [${texts(i % texts.length)}] USING cosinesimilarity " +
            "IN log WHERE (grp = g1)"
        }
        perCall(stmts.length)(i => DslParser.parseAi(stmts(i))) / 1e3
      }

    val embedder = Embedders.forModel(SideStore.Model)
    val embedUs = perCall(500)(i =>
      embedder.embedOne(MetadataValue.RawString(texts(i % texts.length)))) / 1e3

    Seq(
      Metric("ann.hnsw_insert_us", insertUs, "us", n),
      Metric("ann.hnsw_search_us", searchUs, "us", 200),
      Metric("functions.cosine_ns", cosNs, "ns", pairs),
      Metric("functions.dot_ns", dotNs, "ns", pairs),
      Metric("functions.sq_euclidean_ns", sqNs, "ns", pairs),
      Metric("dsl.parse_us", parseUs, "us", if (parsed.nonEmpty) parsed.length else 200),
      Metric("ai.embed_us", embedUs, "us", 500))
  }
}
