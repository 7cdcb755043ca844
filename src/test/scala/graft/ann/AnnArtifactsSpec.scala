package graft.ann

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures._
import graft.types.{Algorithm, NonLinearConfig}

/**
 * Serialized ANN shard artifacts ([[RoutedAnnIndex.save]]/[[RoutedAnnIndex.load]],
 * the one format of every index kind; here the id-hash `hnsw` arm):
 * restart must restore the EXACT graphs it saved (the build is
 * deterministic, so equality of search results over many probes is the
 * contract), a stale source stamp must rebuild the whole index, and
 * unusable artifacts (config change, missing or pre-unification manifest,
 * corrupt shard) must fall back to a rebuild, never fail.
 * Reference analog: non-linear indexes ride the persistence image
 * (ahnlich/utils/src/persistence.rs; SURVEY §2.4 "binary files next to the
 * table").
 */
class AnnArtifactsSpec extends AnyFunSuite {

  private val N = 3000
  private val Dim = 32
  private val Shards = 16 // == GraftEngine.NumBuckets at test scale
  private val K = 10
  private val NQueries = 25

  private lazy val (ids, vecs, gen) = siftLikeDataset(seed = 777L, n = N, dim = Dim)
  private lazy val queries: Array[Array[Float]] =
    Array.tabulate(NQueries)(i => gen((N + i).toLong))

  private val cfg = NonLinearConfig.HNSWConfig(efConstruction = 60,
    maximumConnections = 16, maximumConnectionsZero = 32,
    efSearch = 32, metric = Algorithm.CosineSimilarity)

  private def toDf(ids: Array[Long], vecs: Array[Array[Float]]) = {
    val s = spark
    import s.implicits._
    ids.indices.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "key")
  }

  private def searchAll(index: RoutedAnnIndex): Seq[Seq[(Long, Double)]] =
    queries.toSeq.map(q => index.search(q, K, index.numShards))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-ann-artifacts").toString

  test("save/load round-trip restores identical graphs (zero build shuffles)") {
    val df = toDf(ids, vecs)
    val built = RoutedAnnIndex.buildHashed(df, Dim, cfg, numShards = Shards)
    val expected = searchAll(built)
    val dir = tmpDir()
    RoutedAnnIndex.save(built, dir, "v1")

    // a current stamp -> every shard deserializes; the restore must not
    // run ANY multi-stage (shuffle) job — a graph build shuffles its rows
    val stageCounts = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        stageCounts.synchronized { stageCounts += s.stageInfos.size }
    }
    spark.sparkContext.addSparkListener(listener)
    val loaded = try {
      val l = RoutedAnnIndex.load(spark, dir, cfg, "v1")
      spark.sparkContext.parallelize(Seq(1), 1).count() // listener flush marker
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stageCounts.synchronized(stageCounts.isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      l
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(loaded.isDefined, "artifacts did not load")
    assert(stageCounts.synchronized(stageCounts.forall(_ == 1)),
      s"restore ran a shuffle job (stage counts: $stageCounts)")
    assert(searchAll(loaded.get) == expected,
      "restored index diverges from the saved one")
    loaded.get.unpersist(); built.unpersist()
  }

  test("a stale source stamp rebuilds the whole index and re-stamps it") {
    val df = toDf(ids, vecs)
    val built = RoutedAnnIndex.buildHashed(df, Dim, cfg, numShards = Shards)
    val dir = tmpDir()
    RoutedAnnIndex.save(built, dir, "v1")
    // "mutation": shard 3's rows halve and the store moves to v2
    val keep: ((Long, Int)) => Boolean = { case (id, b) => b != 3 || id % 2 == 0 }
    val newIds = ids.filter(id => keep((id, (id % Shards).toInt)))
    val newVecs = ids.indices.filter(i => keep((ids(i), (ids(i) % Shards).toInt)))
      .map(vecs(_)).toArray
    val newDf = toDf(newIds, newVecs)
    assert(RoutedAnnIndex.load(spark, dir, cfg, "v2").isEmpty,
      "a stale stamp must not restore any shard")
    val rebuilt = RoutedAnnIndex.buildHashedOrLoad(newDf, Dim, cfg, Shards, dir, "v2")
    // must equal a from-scratch build on the mutated corpus
    val fresh = RoutedAnnIndex.buildHashed(newDf, Dim, cfg, numShards = Shards)
    assert(searchAll(rebuilt) == searchAll(fresh))
    // the rebuild saved under the new stamp: a second load restores (and agrees)
    val again = RoutedAnnIndex.load(spark, dir, cfg, "v2")
    assert(again.isDefined && searchAll(again.get) == searchAll(fresh))
    Seq(rebuilt, fresh, again.get, built).foreach(_.unpersist())
  }

  test("config change / missing manifest fall back to None (rebuild)") {
    val df = toDf(ids, vecs)
    val built = RoutedAnnIndex.buildHashed(df, Dim, cfg, numShards = Shards)
    val dir = tmpDir()
    RoutedAnnIndex.save(built, dir, "v1")
    val other = cfg.copy(maximumConnections = 8)
    assert(RoutedAnnIndex.load(spark, dir, other, "v1").isEmpty,
      "a changed config must invalidate the artifacts")
    assert(RoutedAnnIndex.load(spark, tmpDir(), cfg, "v1").isEmpty,
      "no manifest must mean no restore")
    // corrupted shard file: the manifest says present, bytes are garbage ->
    // the whole load degrades to a rebuild signal, never an exception
    Files.write(Paths.get(dir, "s5.bin"), Array[Byte](1, 2, 3))
    assert(RoutedAnnIndex.load(spark, dir, cfg, "v1").isEmpty,
      "corrupt artifacts must fall back to rebuild")
    built.unpersist()
  }

  test("a dir holding only the pre-unification hash-format manifest.json is refused, logged and rebuilt once") {
    val df = toDf(ids, vecs)
    val fresh = RoutedAnnIndex.buildHashed(df, Dim, cfg, numShards = Shards)
    // the old layout: manifest.json with per-shard bucket stamps beside
    // java-serialized s<i>.bin shards, and no routed manifest
    val dir = tmpDir()
    RoutedAnnIndex.save(fresh, dir, "v1")
    Files.delete(Paths.get(dir, "routed_manifest.json"))
    Files.writeString(Paths.get(dir, "manifest.json"),
      s"""{"kind":"hnsw","parts":$Shards,"config":"$cfg","shards":{""" +
        (0 until Shards).map(i => s""""$i":{"src":"v1/_b=$i","present":true}""")
          .mkString(",") + "}}")
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = org.apache.logging.log4j.core.LoggerContext.getContext(false)
      .getLogger(RoutedAnnIndex.getClass.getName)
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "legacy-manifest", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(org.apache.logging.log4j.Level.INFO)
    val rebuilt = try RoutedAnnIndex.buildHashedOrLoad(df, Dim, cfg, Shards, dir, "v1")
    finally { logger.removeAppender(appender); logger.setLevel(level) }
    assert(logged.toArray.exists(_.toString.contains("manifest.json")),
      s"no refusal logged: $logged")
    assert(searchAll(rebuilt) == searchAll(fresh), "the rebuild answers differently")
    // rebuilt once: the dir now holds the routed format only, and restores
    assert(!Files.exists(Paths.get(dir, "manifest.json")))
    val again = RoutedAnnIndex.load(spark, dir, cfg, "v1")
    assert(again.isDefined && searchAll(again.get) == searchAll(fresh))
    Seq(rebuilt, fresh, again.get).foreach(_.unpersist())
  }

  test("IVF artifacts: bit-identical restore, stamp staleness, corrupt fallback") {
    val df = toDf(ids, vecs)
    val built = IvfIndex.build(df, nCells = 8, iters = 2)
    val dir = tmpDir()
    IvfIndex.save(built, dir, sourceStamp = "v1")

    // restore: centroids must be BIT-identical (intBits round-trip), so
    // probe routing and cell assignment can never diverge from the build
    val loaded = IvfIndex.load(spark, dir, built.metric, "v1")
    assert(loaded.isDefined, "fresh stamp must restore")
    assert(loaded.get.centroids.length == built.centroids.length)
    loaded.get.centroids.zip(built.centroids).foreach { case (a, b) =>
      assert(a.map(java.lang.Float.floatToRawIntBits).toSeq ==
        b.map(java.lang.Float.floatToRawIntBits).toSeq,
        "centroids must round-trip bit-exactly")
    }
    // identical search results through the restored cell-partitioned
    // parquet (exhaustive probe => exact, so equality is the contract)
    queries.take(5).foreach { q =>
      def hits(ix: IvfIndex) = ix.search(q, K, nProbe = 8).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Float]("similarity"))).toSeq
      assert(hits(built) == hits(loaded.get),
        "restored index must answer identically")
    }

    // staleness: a different source stamp or metric means None (rebuild)
    assert(IvfIndex.load(spark, dir, built.metric, "v2").isEmpty,
      "a mutated source must invalidate the artifacts")
    assert(IvfIndex.load(spark, dir, Algorithm.CosineSimilarity, "v1").isEmpty,
      "a different metric must invalidate the artifacts")
    assert(IvfIndex.load(spark, tmpDir(), built.metric, "v1").isEmpty,
      "no manifest must mean no restore")

    // buildOrLoad: second call restores (bit-equal centroids), no retrain
    val viaBuildOrLoad = IvfIndex.buildOrLoad(df, 8, dir, "v1", iters = 2)
    assert(viaBuildOrLoad.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq)

    // corrupt manifest: fall back to rebuild, never an exception
    Files.writeString(Paths.get(dir, "ivf_manifest.json"), "{not json")
    assert(IvfIndex.load(spark, dir, built.metric, "v1").isEmpty,
      "corrupt manifest must fall back to rebuild")

    Seq(Some(built), loaded, Some(viaBuildOrLoad)).flatten.foreach(_.unpersist())
  }
}
