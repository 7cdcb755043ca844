package graft.engine

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.types._
import graft.types.MetadataValue.RawString
import graft.types.PredicateCondition._

/** Tables-as-truth persistence: restart preserves stores, data, indexes
  * (reference analog: db/src/tests/server_tests.rs persistence suites at
  * :772 and :3219; atomicity discipline utils/src/persistence.rs). */
class PersistenceSpec extends AnyFunSuite {

  private def meta(kvs: (String, String)*): Map[String, MetadataValue] =
    kvs.map { case (k, v) => k -> (RawString(v): MetadataValue) }.toMap

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-persist").toString

  test("engine restart preserves stores, entries, metadata, and index configs") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("s", 3, predicates = Set("tag"))
    e1.setSeq("s", Seq(
      (Array(1f, 2f, 3f), meta("tag" -> "a")),
      (Array(4f, 5f, 6f), meta("tag" -> "b"))))
    e1.createNonLinearIndex("s", Seq(NonLinearConfig.KDTreeConfig()))
    e1.createStore("other", 2, schema = "t2") // stays empty — must survive too

    // "restart": brand-new engine from the same root
    val e2 = GraftEngine.load(spark, root)
    assert(e2.listStores().map(_.name) == Seq("s"))
    assert(e2.listStores("t2").map(_.name) == Seq("other"))
    val info = e2.getStore("s")
    assert(info.len == 2 && info.dimension == 3)
    assert(info.predicateIndexes == Seq("tag"))
    assert(info.nonLinearIndexes == Seq("kdtree"))
    // data readable, predicates work
    assert(e2.getPred("s", Equals("tag", RawString("a"))).count() == 1)
    // rebuilt ANN index serves
    val top = e2.getSimN("s", Array(1f, 2f, 3f), 1, Algorithm.KDTree).collect()
    assert(top.head.getAs[Float]("similarity") == 0.0f)
    e2.purgeStores()
  }

  test("AI session config (preprocess action / execution provider) survives restart") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    val ai1 = new graft.ai.AiEngine(e1)
    ai1.createStore("aip", "all-minilm-l6-v2", "all-minilm-l6-v2", storeOriginal = true)
    ai1.set("aip", Seq((RawString("doc") : MetadataValue) -> Map.empty[String, MetadataValue]),
      preprocessAction = "modelpreprocessing", executionProvider = Some("tensorrt"))
    val e2 = GraftEngine.load(spark, root)
    val info = e2.getStore("aip")
    assert(info.preprocessAction == Some("modelpreprocessing"))
    assert(info.executionProvider == Some("tensorrt"))
    // a later SET without an EP keeps the recorded one, updates the action
    val ai2 = new graft.ai.AiEngine(e2)
    ai2.set("aip", Seq((RawString("doc2") : MetadataValue) -> Map.empty[String, MetadataValue]),
      preprocessAction = "nopreprocessing")
    assert(e2.getStore("aip").preprocessAction == Some("nopreprocessing"))
    assert(e2.getStore("aip").executionProvider == Some("tensorrt"))
    // unknown values are rejected before any write
    intercept[GraftException](ai2.set("aip",
      Seq((RawString("x") : MetadataValue) -> Map.empty[String, MetadataValue]),
      preprocessAction = "bogus"))
    e2.purgeStores()
  }

  test("mutations after reload persist; unreferenced version dirs are GCed") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("s", 1)
    e1.setSeq("s", Seq((Array(1f), meta("k" -> "1"))))
    e1.setSeq("s", Seq((Array(2f), meta("k" -> "2"))))
    e1.delKey("s", Seq(Array(1f)))

    val e2 = GraftEngine.load(spark, root)
    assert(e2.storeDf("s").count() == 1)
    e2.setSeq("s", Seq((Array(3f), meta("k" -> "3"))))
    val e3 = GraftEngine.load(spark, root)
    assert(e3.storeDf("s").count() == 2)
    // on-disk version dirs == exactly the set referenced by the catalog
    // (incremental buckets keep old versions alive only while referenced)
    val onDisk = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(Paths.get(root, "data", "public", "s")).iterator())
      .asScala.map(_.getFileName.toString).filter(_.startsWith("v")).toSet
    val referenced = Persistence.readCatalog(root)
      .find(_.meta.name == "s").get.bucketPaths.values
      .map(_.split("/")(0)).toSet
    assert(onDisk == referenced, s"disk $onDisk != referenced $referenced")
    e3.purgeStores()
  }

  test("incremental writes touch only the mutated buckets") {
    val root = tmpRoot()
    val e = new GraftEngine(spark, Some(root))
    e.createStore("s", 1)
    // bulk load spreads across buckets
    e.setSeq("s", (0 until 200).map(i => (Array(i.toFloat), meta("i" -> i.toString))))
    val before = Persistence.readCatalog(root).find(_.meta.name == "s").get.bucketPaths
    // single-row write: most buckets must carry forward untouched
    e.setSeq("s", Seq((Array(0.5f), meta("i" -> "new"))))
    val after = Persistence.readCatalog(root).find(_.meta.name == "s").get.bucketPaths
    val unchanged = before.count { case (b, p) => after.get(b).contains(p) }
    assert(unchanged >= GraftEngine.NumBuckets - 1,
      s"expected ≥${GraftEngine.NumBuckets - 1} untouched buckets, got $unchanged of ${before.size}")
    assert(after != before) // the touched bucket moved to the new version
    assert(e.storeDf("s").count() == 201)
    // restart still sees the full store stitched across versions
    assert(GraftEngine.load(spark, root).storeDf("s").count() == 201)
    e.purgeStores()
  }

  test("DelKey and Upsert rewrite only the mutated buckets (the ScaleMutate invariant)") {
    val root = tmpRoot()
    val e = new GraftEngine(spark, Some(root))
    e.createStore("m", 1)
    e.setSeq("m", (0 until 200).map(i => (Array(i.toFloat), meta("i" -> i.toString))))
    def buckets() = Persistence.readCatalog(root).find(_.meta.name == "m").get.bucketPaths
    def untouched(before: Map[Int, String]) = {
      val after = buckets()
      before.count { case (b, p) => after.get(b).contains(p) }
    }
    // DelKey of one key → at most 1 bucket rewritten
    val b1 = buckets()
    val victim = e.storeDf("m").limit(1).select("key")
      .collect().head.getSeq[Float](0).toArray
    assert(e.delKey("m", Seq(victim)) == 1L)
    assert(untouched(b1) >= GraftEngine.NumBuckets - 1,
      s"DelKey of one key rewrote more than one bucket")
    // Upsert of one entry → at most 2 buckets (old id's and new id's)
    val b2 = buckets()
    val (_, updated) = e.upsert("m",
      graft.types.PredicateCondition.Equals("i",
        graft.types.MetadataValue.RawString("7")),
      newValue = Some(meta("i" -> "7", "touched" -> "1")))
    assert(updated == 1L)
    assert(untouched(b2) >= GraftEngine.NumBuckets - 2,
      s"Upsert of one entry rewrote more than two buckets")
    assert(e.storeDf("m").count() == 199)
    e.purgeStores(); Persistence.deleteDir(root)
  }

  test("a bulk set writes one parquet file per touched bucket, not per task") {
    val root = tmpRoot()
    val e = new GraftEngine(spark, Some(root))
    e.createStore("files", 1)
    e.setSeq("files", (0 until 300).map(i => (Array(i.toFloat), meta("i" -> i.toString))))
    val files = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.walk(Paths.get(root, "data")).iterator()).asScala
      .count(p => p.toString.endsWith(".parquet"))
    // without the pre-write repartition this is (tasks x buckets) tiny files
    assert(files <= GraftEngine.NumBuckets,
      s"$files parquet files for one bulk set (expected <= ${GraftEngine.NumBuckets})")
    assert(e.storeDf("files").count() == 300)
    e.purgeStores(); Persistence.deleteDir(root)
  }

  test("dropStore removes data dirs; dropped store absent after reload") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("gone", 1)
    e1.setSeq("gone", Seq((Array(1f), meta("x" -> "y"))))
    e1.dropStore("gone")
    assert(!Files.exists(Paths.get(root, "data", "public", "gone")))
    val e2 = GraftEngine.load(spark, root)
    assert(e2.listStores().isEmpty)
  }

  test("differential: persistent and in-memory engines agree across a mutation chain") {
    // same op sequence on both engine kinds; the persistent side exercises
    // bucket-pruned reads + incremental writes, the in-memory side the
    // cached-df rewrites — any bucket-math bug shows as a divergence
    val root = tmpRoot()
    val em = new GraftEngine(spark)
    val ep = new GraftEngine(spark, Some(root))
    val engines = Seq(em, ep)
    def entries(r: Range) = r.map(i =>
      (Array(i.toFloat), meta("n" -> (i % 5).toString, "g" -> (i % 3).toString)))
    def snapshot(e: GraftEngine): Seq[(Float, String, String)] =
      e.storeDf("diff").collect().map { r =>
        val v = r.getMap[String, org.apache.spark.sql.Row](r.fieldIndex("value"))
        (r.getSeq[Float](r.fieldIndex("key")).head,
          v("n").getString(1), v.get("g").map(_.getString(1)).getOrElse("-"))
      }.sortBy(_._1).toSeq
    def assertAgree(step: String): Unit = {
      assert(snapshot(em) == snapshot(ep), s"divergence after $step")
      assert(em.storeLen("diff") == ep.storeLen("diff"), s"len divergence after $step")
    }
    engines.foreach { e =>
      e.createStore("diff", 1, predicates = Set("n", "g"))
      e.setSeq("diff", entries(0 until 40))
    }
    assertAgree("initial set")
    engines.foreach(_.delPred("diff", Equals("n", RawString("2"))))
    assertAgree("delPred")
    engines.foreach(_.setSeq("diff", entries(35 until 50))) // re-insert overlap
    assertAgree("overlapping set")
    engines.foreach(_.setSeq("diff", Seq((Array(1000f), meta("n" -> "u")))))
    engines.foreach(_.upsert("diff", Equals("n", RawString("u")),
      newValue = Some(meta("tag" -> "t")), mergeMetadata = true))
    assertAgree("upsert")
    engines.foreach { e =>
      // 9 (n=4) and 11 (n=1) survived the delPred(n=2); 999 never existed
      val deleted = e.delKey("diff", Seq(Array(9f), Array(11f), Array(999f)))
      assert(deleted == 2)
    }
    assertAgree("delKey")
    ep.purgeStores(); Persistence.deleteDir(root)
  }

  test("a crashed write (version dir without catalog flip) is ignored on reload and GCed") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("c", 1, predicates = Set("n"))
    e1.setSeq("c", Seq(
      (Array(1f), meta("n" -> "1")), (Array(2f), meta("n" -> "2"))))
    // simulate a crash mid-mutation: a version dir landed on disk but the
    // catalog was never flipped (the write discipline is dir-then-flip)
    val stray = Paths.get(root, "data", "public", "c", "v99", "_b=0")
    Files.createDirectories(stray)
    Files.writeString(stray.resolve("garbage.parquet"), "not parquet")
    // reload: the catalog is the truth — the stray version is invisible
    val e2 = GraftEngine.load(spark, root)
    assert(e2.storeLen("c") == 2)
    assert(e2.getPred("c", Equals("n", RawString("1"))).count() == 1)
    // the next mutation's GC removes every version dir the catalog no
    // longer references, including the orphan
    e2.setSeq("c", Seq((Array(3f), meta("n" -> "3"))))
    assert(!Files.exists(Paths.get(root, "data", "public", "c", "v99")),
      "orphaned version dir survived GC")
    assert(e2.storeLen("c") == 3)
    e2.purgeStores(); Persistence.deleteDir(root)
  }

  test("mutating store A does not rewrite store B's catalog record") {
    val root = tmpRoot()
    val e = new GraftEngine(spark, Some(root))
    e.createStore("a", 1)
    e.createStore("b", 1)
    e.setSeq("b", Seq((Array(9f), meta("k" -> "b"))))
    val bPath = Persistence.recordPath(root, "public", "b")
    val bBytes = Files.readAllBytes(bPath)
    val bMtime = Files.getLastModifiedTime(bPath)
    // a chain of mutations on A: set, delKey, pred-index churn
    e.setSeq("a", Seq((Array(1f), meta("k" -> "1")), (Array(2f), meta("k" -> "2"))))
    e.delKey("a", Seq(Array(1f)))
    e.createPredIndex("a", Set("k"))
    // B's record file is bit-identical AND was never rewritten (mtime)
    assert(java.util.Arrays.equals(Files.readAllBytes(bPath), bBytes))
    assert(Files.getLastModifiedTime(bPath) == bMtime,
      "store B's record was rewritten by a mutation of store A")
    e.purgeStores(); Persistence.deleteDir(root)
  }

  test("load runs zero Spark jobs; ANN indexes build lazily on first query") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("lz", 2, nonLinearIndexes = Seq(
      NonLinearConfig.KDTreeConfig(), NonLinearConfig.HNSWConfig()))
    e1.setSeq("lz", (0 until 50).map(i =>
      (Array(i.toFloat, (i * 2).toFloat), meta("i" -> i.toString))))

    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e2 = GraftEngine.load(spark, root)
      // a marker job AFTER load (an RDD action = exactly one job): the
      // listener bus is FIFO, so once the marker's event has been observed,
      // every job load submitted has too
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs == 1, s"load(root) ran ${jobs - 1} Spark jobs; expected 0")
      // only configs attached — no structure built yet
      assert(e2.annIndex("lz", "kdtree").isEmpty && e2.annIndex("lz", "hnsw").isEmpty)
      assert(e2.getStore("lz").nonLinearIndexes == Seq("hnsw", "kdtree"))
      // first non-linear query builds the index and answers exactly
      val top = e2.getSimN("lz", Array(10f, 20f), 1, Algorithm.KDTree).collect()
      assert(top.head.getAs[Float]("similarity") == 0.0f)
      assert(e2.annIndex("lz", "kdtree").isDefined, "lazy build not cached")
      assert(e2.annIndex("lz", "hnsw").isEmpty, "unqueried index was built")
      // and a mutation maintains ONLY the built index (hnsw stays lazy)
      e2.setSeq("lz", Seq((Array(500f, 500f), meta("i" -> "new"))))
      assert(e2.annIndex("lz", "hnsw").isEmpty, "mutation built an unqueried index")
      val top2 = e2.getSimN("lz", Array(500f, 500f), 1, Algorithm.KDTree).collect()
      assert(top2.head.getAs[Float]("similarity") == 0.0f)
      e2.purgeStores()
    } finally spark.sparkContext.removeSparkListener(listener)
    Persistence.deleteDir(root)
  }

  test("restart restores ANN indexes from artifacts: no graph build, results identical") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("art", 4)
    e1.setSeq("art", (0 until 300).map(i => (
      Array(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, (i % 3).toFloat),
      meta("i" -> i.toString))))
    e1.createNonLinearIndex("art", Seq(
      NonLinearConfig.HNSWConfig(), NonLinearConfig.KDTreeConfig()))
    val q = Array(10f, 3f, 10f, 1f)
    val before = e1.getSimN("art", q, 5, Algorithm.HNSW).collect().toSeq
    assert(Files.exists(Paths.get(root, "index", "public", "art", "hnsw", "routed_manifest.json")),
      "index artifacts were not written")

    val e2 = GraftEngine.load(spark, root)
    // first HNSW query after restart must RESTORE, not rebuild: a graph
    // build shuffles (keyedRows partitionBy => a multi-stage job); the
    // restore path runs only single-stage jobs (deserialize, search,
    // bucket-pruned hydrate)
    val stageCounts = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        stageCounts.synchronized { stageCounts += s.stageInfos.size }
    }
    spark.sparkContext.addSparkListener(listener)
    val after = try {
      val r = e2.getSimN("art", q, 5, Algorithm.HNSW).collect().toSeq
      spark.sparkContext.parallelize(Seq(1), 1).count() // listener flush marker
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stageCounts.synchronized(stageCounts.isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stageCounts.synchronized(stageCounts.forall(_ == 1)),
      s"first post-restart HNSW query ran a build shuffle (stages: $stageCounts)")
    assert(after == before, "restored index answers differently")

    // a mutation keeps artifacts current (incremental save) — the NEXT
    // restart restores the patched graphs and sees the new row
    e2.setSeq("art", Seq((Array(1000f, 1000f, 1000f, 1000f), meta("i" -> "new"))))
    val mutated = e2.getSimN("art", Array(1000f, 1000f, 1000f, 1000f), 1,
      Algorithm.HNSW).collect().toSeq
    val e3 = GraftEngine.load(spark, root)
    val restored = e3.getSimN("art", Array(1000f, 1000f, 1000f, 1000f), 1,
      Algorithm.HNSW).collect().toSeq
    assert(restored == mutated)
    assert(restored.head.getAs[Float]("similarity") == 1.0f)
    e3.purgeStores(); Persistence.deleteDir(root)
  }

  test("randomized differential: both engine kinds track a driver model through 30 ops") {
    // seeded fuzz over set/delKey/delPred, applied identically to an
    // in-memory engine, a persistent engine, AND a driver-side model map
    // keyed by vector value (dim 1 ⇒ content identity = the float).
    // Catches bucket-math, pruned-read, and len-accounting bugs the fixed
    // differential chain can't reach; ends with a reload, so the on-disk
    // state must equal the in-memory one too.
    val rnd = new scala.util.Random(20260813L)
    val root = tmpRoot()
    val em = new GraftEngine(spark)
    val ep = new GraftEngine(spark, Some(root))
    val engines = Seq(em, ep)
    engines.foreach(_.createStore("fuzz", 1, predicates = Set("n")))
    val model = scala.collection.mutable.Map[Float, String]() // vec -> n
    def snapshot(e: GraftEngine): Map[Float, String] =
      e.storeDf("fuzz").collect().map { r =>
        val v = r.getMap[String, org.apache.spark.sql.Row](r.fieldIndex("value"))
        (r.getSeq[Float](r.fieldIndex("key")).head, v("n").getString(1))
      }.toMap
    (0 until 30).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => // batch set from a small value domain (collisions intended)
          val batch = (0 until 1 + rnd.nextInt(6)).map { _ =>
            val v = rnd.nextInt(30).toFloat
            (Array(v), meta("n" -> (rnd.nextInt(5)).toString))
          }
          engines.foreach(_.setSeq("fuzz", batch))
          batch.foreach { case (k, m) => model(k.head) = m("n").asInstanceOf[
            graft.types.MetadataValue.RawString].s }
        case 1 => // delKey over a mix of present and absent vectors
          val keys = (0 until 1 + rnd.nextInt(4)).map(_ => Array(rnd.nextInt(40).toFloat))
          val expected = keys.map(_.head).distinct.count(model.contains)
          val deleted = engines.map(_.delKey("fuzz", keys)).distinct
          assert(deleted == Seq(expected.toLong), s"step $step delKey: $deleted vs $expected")
          keys.foreach(k => model.remove(k.head))
        case 2 => // delPred on the indexed key
          val n = rnd.nextInt(5).toString
          val expected = model.valuesIterator.count(_ == n)
          val deleted = engines.map(_.delPred("fuzz",
            Equals("n", RawString(n)))).distinct
          assert(deleted == Seq(expected.toLong), s"step $step delPred: $deleted vs $expected")
          model.filterInPlace { case (_, v) => v != n }
        case 3 => // upsert: move the matched entry to a (possibly colliding)
          // new vector — exercises delete+reinsert, the new-key collision
          // squash, and exactly-one enforcement, with both engines agreeing
          // on success result AND failure
          val n = rnd.nextInt(5).toString
          val newV = rnd.nextInt(30).toFloat
          val newN = rnd.nextInt(5).toString
          if (model.valuesIterator.count(_ == n) == 1) {
            val res = engines.map(_.upsert("fuzz", Equals("n", RawString(n)),
              newKey = Some(Array(newV)), newValue = Some(meta("n" -> newN)))).distinct
            assert(res == Seq((0L, 1L)), s"step $step upsert result: $res")
            val oldKey = model.find(_._2 == n).get._1
            model.remove(oldKey)
            model(newV) = newN
          } else
            engines.foreach(e => intercept[GraftException](
              e.upsert("fuzz", Equals("n", RawString(n)),
                newKey = Some(Array(newV)), newValue = Some(meta("n" -> newN)))))
      }
      engines.foreach(e => assert(e.storeLen("fuzz") == model.size,
        s"step $step len drift (persist=${e.persistRoot.isDefined})"))
    }
    val want = model.toMap
    assert(snapshot(em) == want, "in-memory diverged from the model")
    assert(snapshot(ep) == want, "persistent diverged from the model")
    val reloaded = GraftEngine.load(spark, root)
    assert(snapshot(reloaded) == want, "reloaded root diverged")
    assert(reloaded.storeLen("fuzz") == want.size)
    reloaded.purgeStores(); Persistence.deleteDir(root)
  }

  test("a committed v1 (whole-catalog) root loads and migrates to per-store records") {
    // the fixture is the OLD on-disk format, committed verbatim — it pins
    // the legacy reader against writer drift (reference analog: loading an
    // old flat snapshot fixture, db/src/tests/fixtures/db_old_flat_snapshot
    // .json via db/src/engine/versioned.rs)
    val root = tmpRoot()
    Files.copy(Paths.get("src/test/resources/legacy_root_v1/catalog.json"),
      Paths.get(root, "catalog.json"))
    val e = GraftEngine.load(spark, root)
    // meta survived the legacy read
    val info = e.getStore("vintage")
    assert(info.dimension == 3 && info.len == 0)
    assert(info.predicateIndexes == Seq("lang", "tag"))
    assert(info.nonLinearIndexes == Seq("hnsw", "kdtree"))
    assert(e.getStore("empty_store", "archive").dimension == 8)
    // the migration materialized: current-format records exist, stamped
    // with the engine's format version; the old file is retired
    assert(Files.exists(Persistence.recordPath(root, "public", "vintage")))
    assert(Files.readString(Persistence.recordPath(root, "public", "vintage"))
      .contains(s""""formatVersion" : ${Persistence.FormatVersion}"""))
    assert(!Files.exists(Paths.get(root, "catalog.json")))
    assert(Files.exists(Paths.get(root, "catalog.json.migrated")))
    // the migrated root is fully live: mutate, reload, data intact
    e.setSeq("vintage", Seq((Array(1f, 2f, 3f), meta("tag" -> "a"))))
    val e2 = GraftEngine.load(spark, root)
    assert(e2.storeLen("vintage") == 1)
    assert(e2.getPred("vintage", Equals("tag", RawString("a"))).count() == 1)
    // the migrated AI store serves through the proxy (reference analog:
    // ai/src/tests/migration_test.rs — an old snapshot's AI stores must be
    // usable, not just listed): model meta + reserved predicate survived,
    // so set/getKey by raw input work immediately
    val ai = new graft.ai.AiEngine(e2)
    import graft.types.MetadataValue.RawString
    ai.set("vintage_ai",
      Seq((RawString("doc"): graft.types.MetadataValue) -> meta("topic" -> "x")))
    val got = ai.getKey("vintage_ai", Seq(RawString("doc"))).collect()
    assert(got.length == 1)
    assert(got.head.getMap[String, org.apache.spark.sql.Row](1)("topic")
      .getString(1) == "x")
    e2.purgeStores(); Persistence.deleteDir(root)
  }

  test("a data-bearing root demoted to v1 migrates with its data intact") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("d", 1, predicates = Set("n"))
    e1.setSeq("d", (0 until 30).map(i => (Array(i.toFloat), meta("n" -> (i % 3).toString))))
    // demote: merge the per-store records into one v1 catalog.json (strip
    // the version stamp — v1 records carried none) and drop catalog/
    val records = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(Paths.get(root, "catalog")).iterator()).asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => JsonMethods.parse(Files.readString(p)).removeField {
        case ("formatVersion", _) => true; case _ => false
      }).toList
    Files.writeString(Paths.get(root, "catalog.json"),
      JsonMethods.pretty(JsonMethods.render(JObject("stores" -> JArray(records)))))
    Persistence.deleteDir(Paths.get(root, "catalog").toString)
    // load migrates; every row and predicate behavior survives
    val e2 = GraftEngine.load(spark, root)
    assert(e2.storeLen("d") == 30)
    assert(e2.getPred("d", Equals("n", RawString("1"))).count() == 10)
    assert(Files.exists(Paths.get(root, "catalog.json.migrated")))
    assert(Files.isDirectory(Paths.get(root, "catalog")))
    val e3 = GraftEngine.load(spark, root) // second load: current-format path
    assert(e3.storeLen("d") == 30)
    e3.purgeStores(); Persistence.deleteDir(root)
  }

  test("a crash mid-migration (some records written, legacy file not retired) loses nothing") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("ma", 1); e1.setSeq("ma", Seq((Array(1f), meta("k" -> "a"))))
    e1.createStore("mb", 1); e1.setSeq("mb", Seq((Array(2f), meta("k" -> "b"))))
    // demote to v1, then simulate a crashed migration: ONLY ma's v2 record
    // landed before the "crash" — catalog.json still present
    val maRecord = Files.readString(Persistence.recordPath(root, "public", "ma"))
    val records = scala.jdk.CollectionConverters.IteratorHasAsScala(
        Files.list(Paths.get(root, "catalog")).iterator()).asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => JsonMethods.parse(Files.readString(p)).removeField {
        case ("formatVersion", _) => true; case _ => false
      }).toList
    Files.writeString(Paths.get(root, "catalog.json"),
      JsonMethods.pretty(JsonMethods.render(JObject("stores" -> JArray(records)))))
    Persistence.deleteDir(Paths.get(root, "catalog").toString)
    Files.createDirectories(Paths.get(root, "catalog"))
    Files.writeString(Persistence.recordPath(root, "public", "ma"), maRecord)
    // load: BOTH stores visible (dir record wins for ma, legacy fills mb);
    // the migration then completes and retires the file
    val e2 = GraftEngine.load(spark, root)
    assert(e2.storeLen("ma") == 1 && e2.storeLen("mb") == 1)
    assert(!Files.exists(Paths.get(root, "catalog.json")))
    assert(Files.exists(Persistence.recordPath(root, "public", "mb")))
    val e3 = GraftEngine.load(spark, root)
    assert(e3.storeLen("ma") == 1 && e3.storeLen("mb") == 1)
    e3.purgeStores(); Persistence.deleteDir(root)
  }

  test("a record stamped with a FUTURE format version refuses to load") {
    val root = tmpRoot()
    val e1 = new GraftEngine(spark, Some(root))
    e1.createStore("f", 1)
    val p = Persistence.recordPath(root, "public", "f")
    Files.writeString(p, Files.readString(p).replace(
      s""""formatVersion" : ${Persistence.FormatVersion}""",
      s""""formatVersion" : ${Persistence.FormatVersion + 1}"""))
    val err = intercept[RuntimeException](GraftEngine.load(spark, root))
    assert(err.getMessage.contains("newer than"),
      s"expected a format-version refusal, got: ${err.getMessage}")
    Persistence.deleteDir(root)
  }

  test("persistent store/schema names must be filesystem-safe; in-memory stays free") {
    val root = tmpRoot()
    val ep = new GraftEngine(spark, Some(root))
    Seq("a/b", "..", "a\\b", "x y", "").foreach { bad =>
      intercept[Exception](ep.createStore(bad, 1))
    }
    intercept[GraftException](ep.createStore("ok", 1, schema = "../escape"))
    assert(ep.listStores().isEmpty)
    // the reference allows arbitrary store names — the in-memory engine
    // keeps that freedom (no paths involved)
    val em = new GraftEngine(spark)
    em.createStore("weird name/with slash", 1)
    assert(em.listStores().map(_.name) == Seq("weird name/with slash"))
    em.purgeStores(); Persistence.deleteDir(root)
  }

  test("in-memory engines (no persistRoot) keep working with zero disk IO") {
    val e = new GraftEngine(spark)
    e.createStore("mem", 2)
    e.setSeq("mem", Seq((Array(1f, 1f), meta("a" -> "b"))))
    assert(e.storeDf("mem").count() == 1)
    e.dropStore("mem")
  }
}
