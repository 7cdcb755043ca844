package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.ann.{AnnSearch, IdFilter}
import graft.types._
import graft.types.MetadataValue.RawString
import graft.types.PredicateCondition.Equals

/** Bounded point reads ([[GraftEngine.pointRows]]): GetKey and indexed
  * GetSimN hydration read the generation's planned rows in one job and
  * return an eager local frame. Pinned against the SQL forms they replace
  * (a left-semi probe join; `linearTopK` over the `isin`-filtered store)
  * row for row — similarity bits, tie order, zero-norm keys — on the
  * in-memory and persistent arms, plus snapshot isolation and bucket
  * pruning. */
class PointReadSpec extends AnyFunSuite {

  private val Dim = 8
  private def meta(t: String): Map[String, MetadataValue] = Map("t" -> RawString(t))
  private val tagA = Equals("t", RawString("a"))

  /** Random rows, each with a twin whose coords 0 and 1 are swapped (equal
    * closeness to [[query]] under every metric: q(0) == q(1)), plus the
    * zero vector. Tag "a" on every third row. */
  private val rows: Seq[(Array[Float], Map[String, MetadataValue])] = {
    val rnd = new scala.util.Random(11L)
    val base = (0 until 150).flatMap { i =>
      val v = Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)
      val twin = v.clone(); twin(0) = v(1); twin(1) = v(0)
      Seq(v, twin)
    } :+ Array.fill(Dim)(0f)
    base.zipWithIndex.map { case (v, i) => (v, meta(if (i % 3 == 0) "a" else "b")) }
  }
  private val query: Array[Float] = Array(0.5f, 0.5f, -0.25f, 0.1f, 0.9f, -0.6f, 0.3f, 0.2f)

  private def tmpRoot(): String = Files.createTempDirectory("graft-point").toString

  private def engines(): Seq[(String, GraftEngine)] =
    Seq("in-memory" -> new GraftEngine(spark), "persistent" -> new GraftEngine(spark, Some(tmpRoot())))

  /** A row as comparable values: key bits, metadata, similarity bits. */
  private def canon(r: Row): (Seq[Int], Map[String, String], Option[Int]) =
    (r.getSeq[Float](0).map(java.lang.Float.floatToRawIntBits),
      r.getMap[String, Row](1).map { case (k, m) => k -> m.getString(1) }.toMap,
      if (r.length > 2) Some(java.lang.Float.floatToRawIntBits(r.getFloat(2))) else None)

  private def rowsOf(df: DataFrame) = df.collect().toSeq.map(canon)

  /** The SQL hydrate this path replaces. */
  private def sqlHydrate(e: GraftEngine, name: String, ids: Seq[Long], n: Int,
      algo: Algorithm, cond: Option[PredicateCondition]): DataFrame = {
    val base = e.storeDf(name).where(col("id").isin(ids: _*))
    e.linearTopK(cond.fold(base)(c =>
      base.where(graft.functions.Predicates.toColumn(c, col("value")))), query, n, algo)
  }

  /** The SQL GetKey this path replaces: a left-semi join on probe ids. */
  private def sqlGetKey(e: GraftEngine, name: String, keys: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    val probe = keys.map(_.toSeq).toDF("key").select(e.keyId(col("key")).as("_pid"))
    e.storeDf(name).join(broadcast(probe), col("id") === col("_pid"), "left_semi")
      .select("key", "value")
  }

  test("hydration equals the SQL form row for row: every algorithm, both arms, ties and zero norm") {
    engines().foreach { case (arm, e) =>
      e.createStore("pr", Dim, predicates = Set("t"))
      e.setSeq("pr", rows)
      val st = e.state(e.DefaultSchema, "pr")
      val all = st.df.select("id").collect().map(_.getLong(0)).toSeq
      // a hit list holding both twins of some pairs and the zero vector
      val zeroId = st.df.where(aggregate(col("key"), lit(0.0),
        (acc, x) => acc + x * x) === 0.0).select("id").head().getLong(0)
      val hits = (all.take(60) :+ zeroId).distinct.map(id => (id, 0.0))
      val algos = Seq(Algorithm.EuclideanDistance, Algorithm.DotProductSimilarity,
        Algorithm.CosineSimilarity, Algorithm.KDTree, Algorithm.HNSW)
      for (algo <- algos; n <- Seq(10, 100); cond <- Seq(None, Some(tagA))) {
        val got = AnnSearch.hydrate(e, st, hits, query, n, algo, cond)
        val want = sqlHydrate(e, "pr", hits.map(_._1), n, algo, cond)
        assert(got.schema == want.schema, s"$arm $algo: schema")
        assert(rowsOf(got) == rowsOf(want), s"$arm $algo n=$n cond=$cond")
      }
      // the hit list really holds equal-closeness pairs and a zero-norm key
      val sims = rowsOf(AnnSearch.hydrate(e, st, hits, query, 100, Algorithm.CosineSimilarity, None))
        .map(_._3.get)
      assert(sims.distinct.size < sims.size, s"$arm: no ties exercised")
      assert(sims.contains(java.lang.Float.floatToRawIntBits(0f)), s"$arm: no zero-norm key")
      e.purgeStores()
    }
  }

  test("indexed GetSimN: unfiltered and Bloom-filtered (with false positives) hydrate like SQL") {
    engines().foreach { case (arm, e) =>
      e.createStore("prx", Dim, predicates = Set("t"))
      e.setSeq("prx", rows)
      e.createNonLinearIndex("prx", Seq(NonLinearConfig.HNSWConfig(efSearch = 64),
        NonLinearConfig.KDTreeConfig()))
      val st = e.state(e.DefaultSchema, "prx")
      Seq("hnsw" -> Algorithm.HNSW, "kdtree" -> Algorithm.KDTree).foreach { case (kind, algo) =>
        val (idx, _) = e.ensureIndex("prx", kind).get
        // unfiltered: the engine's answer equals the SQL hydrate of its own hits
        val hits = idx.search(query, 10 + idx.storage.rescoreSlack, idx.numShards, null)
        assert(rowsOf(e.getSimN("prx", query, 10, algo)) ==
          rowsOf(sqlHydrate(e, "prx", hits.map(_._1), 10, idx.metric, None)), s"$arm $kind")
        // a loose sketch: rejected rows pass the Bloom test and must be
        // dropped by the exact predicate on the row
        val accepted = st.df.where(graft.functions.Predicates.toColumn(tagA, col("value")))
          .select("id")
        val cnt = accepted.count()
        val bloom = accepted.stat.bloomFilter("id", cnt, 0.5)
        val fHits = idx.search(query, 10 + AnnSearch.FalsePositiveSlack, idx.numShards,
          IdFilter.Bloom(bloom, cnt))
        val acceptedIds = accepted.collect().map(_.getLong(0)).toSet
        assert(fHits.exists(h => !acceptedIds(h._1)), s"$arm $kind: no false positive")
        val got = AnnSearch.hydrate(e, st, fHits, query, 10, idx.metric, Some(tagA))
        assert(rowsOf(got) == rowsOf(sqlHydrate(e, "prx", fHits.map(_._1), 10, idx.metric,
          Some(tagA))), s"$arm $kind filtered")
        assert(got.collect().forall(_.getMap[String, Row](1)("t").getString(1) == "a"))
      }
      e.purgeStores()
    }
  }

  test("GetKey: duplicate, missing and >256 probe keys return the SQL form's rows") {
    val rnd = new scala.util.Random(3L)
    def missing() = Array.fill(Dim)(rnd.nextFloat() + 5f)
    engines().foreach { case (arm, e) =>
      e.createStore("pk", Dim)
      e.setSeq("pk", rows)
      val keys = rows.map(_._1)
      val probes = Seq(
        Seq(keys(0), keys(0), missing(), keys(7)),
        Seq(missing()),
        Seq.empty[Array[Float]],
        keys.take(200) ++ keys.take(40) ++ Seq.fill(60)(missing()))
      probes.foreach { p =>
        val got = e.getKey("pk", p)
        val want = sqlGetKey(e, "pk", p)
        assert(got.schema == want.schema, s"$arm: schema")
        assert(rowsOf(got).sortBy(_.toString) == rowsOf(want).sortBy(_.toString),
          s"$arm: ${p.size} probe keys")
      }
      e.purgeStores()
    }
  }

  test("results are snapshots: collected after the next mutation (and after GC) they hold the pre-mutation rows") {
    engines().foreach { case (arm, e) =>
      e.createStore("ps", Dim)
      e.setSeq("ps", rows)
      e.createNonLinearIndex("ps", Seq(NonLinearConfig.HNSWConfig(efSearch = 64)))
      val k = rows(5)._1
      val wantKey = rowsOf(sqlGetKey(e, "ps", Seq(k)))
      val wantSim = rowsOf(e.getSimN("ps", query, 5, Algorithm.HNSW))
      val keyDf = e.getKey("ps", Seq(k))
      val simDf = e.getSimN("ps", query, 5, Algorithm.HNSW)
      // rows right beside the query (they take the top 5) in every
      // bucket, so the whole first version is superseded
      val near = (0 until 200).map(i => (query.map(_ + 1e-4f * (i + 1)), meta("n")))
      e.setSeq("ps", near)
      assert(e.delKey("ps", Seq(k)) == 1L)
      if (arm == "persistent") {
        val v1 = Paths.get(e.persistRoot.get, "data", e.DefaultSchema, "ps", "v1")
        assert(!Files.exists(v1), s"v1 should be garbage-collected")
      }
      assert(rowsOf(keyDf) == wantKey && wantKey.size == 1, arm)
      assert(rowsOf(simDf) == wantSim, arm)
      assert(rowsOf(e.getSimN("ps", query, 5, Algorithm.HNSW)) != wantSim, arm)
      assert(e.getKey("ps", Seq(k)).collect().isEmpty, arm)
      e.purgeStores()
    }
  }

  test("persistent GetKey runs tasks only on its bucket's scan partitions, whatever the root's name") {
    // a root that itself has a `_b=N` component must not decide the buckets
    val odd = Files.createDirectories(Paths.get(tmpRoot(), "_b=0", "graft")).toString
    Seq(tmpRoot(), odd).foreach { root =>
      val e = new GraftEngine(spark, Some(root))
      e.createStore("pp", Dim)
      e.setSeq("pp", rows)
      val st = e.state(e.DefaultSchema, "pp")
      val pb = st.partitionBuckets.getOrElse(fail(s"$root: scan partitions name no buckets"))
      assert(pb.flatten.toSet == (0 until GraftEngine.NumBuckets).toSet, root)
      assert(pb.length >= 4, s"$root: ${pb.length} scan partitions")
      val k = rows(9)._1
      val id = st.df.where(col("key") === typedLit(k.toSeq)).select("id").head().getLong(0)
      val bucket = java.lang.Math.floorMod(id, GraftEngine.NumBuckets.toLong).toInt
      val sc = spark.sparkContext
      ListenerBridge.drain(sc)
      val before = ListenerBridge.lastJobId(sc)
      val got = e.getKey("pp", Seq(k)).collect()
      ListenerBridge.drain(sc)
      val jobs = ListenerBridge.jobsAfter(sc, before)
      assert(got.length == 1, root)
      assert(jobs.size == 1, jobs)
      val expectTasks = pb.count(_.contains(bucket))
      assert(jobs.head.tasks == expectTasks.toLong, jobs)
      assert(expectTasks < pb.length, root)
      e.purgeStores()
    }
  }
}
