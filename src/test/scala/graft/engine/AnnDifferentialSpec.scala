package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.functions.Predicates
import graft.types._
import graft.types.MetadataValue.RawString
import graft.types.PredicateCondition._

/**
 * Cross-arm differential over the ANN index kinds. One fixed-seed op
 * sequence (Set with re-sets of live and of deleted rows, DelKey, DelPred,
 * metadata-only and key-changing Upsert, and a restart of the persistent
 * engine) runs through an in-memory and a persistent engine. Each engine
 * holds an `hnsw` + `kdtree` store and an `hnsw_routed` store (f32 nodes,
 * probes = numShards). Every graph beam is wider than the store, so the
 * indexes are exhaustive: after every op each indexed GetSimN(10), with
 * and without a predicate, must equal the same store's linear GetSimN
 * under the index metric row for row. Every returned count — Set's
 * (inserted, updated), delete counts, Upsert's (0, 1), result row counts
 * and store lengths — must match a pure-Scala model of the reference
 * semantics: identity by content, last-wins Set, exactly-one Upsert.
 */
class AnnDifferentialSpec extends AnyFunSuite {

  private val Dim = 4
  private val PoolSize = 160
  private val N = 10
  private val Tags = Seq("a", "b", "c", "d")

  /** The vector domain: Set, DelKey and Upsert draw keys from this pool,
    * so re-sets and deletes of existing rows are common. */
  private val pool: IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(7L)
    IndexedSeq.fill(PoolSize)(Array.fill(Dim)(rnd.nextFloat() * 2f - 1f))
  }

  private val hnsw = NonLinearConfig.HNSWConfig(efSearch = 512)
  private val routed = NonLinearConfig.RoutedHNSWConfig(hnsw = hnsw,
    numShards = 4, probes = 4)

  private def meta(serial: Int, tag: String): Map[String, MetadataValue] =
    Map("i" -> RawString(serial.toString), "tag" -> RawString(tag))

  /** key, similarity and the row's serial, in result order. */
  private def rows(df: DataFrame): Seq[(Seq[Float], Float, String)] =
    df.select("key", "value", "similarity").collect().toSeq.map { r =>
      val v = r.getMap[String, org.apache.spark.sql.Row](1)
      (r.getSeq[Float](0), r.getFloat(2), v("i").getString(1))
    }

  test("hnsw, kdtree and hnsw_routed equal linear search on both engine arms through a 30-op sequence") {
    val root = Files.createTempDirectory("graft-ann-diff").toString
    val rnd = new scala.util.Random(20261017L)
    var engines = Map[String, GraftEngine](
      "mem" -> new GraftEngine(spark), "persist" -> new GraftEngine(spark, Some(root)))
    // model: pool index -> (serial, tag)
    val model = scala.collection.mutable.Map[Int, (Int, String)]()
    var serial = 0
    def nextSerial(): Int = { serial += 1; serial }

    def forAll[T](f: (String, GraftEngine, String) => T): Seq[T] =
      for ((arm, e) <- engines.toSeq.sortBy(_._1); s <- Seq("hk", "rt"))
        yield f(arm, e, s)

    def set(batch: Seq[(Int, Int, String)]): Unit = {
      val lastWins = batch.groupBy(_._1).map { case (p, xs) => p -> xs.last }
      val expect = (lastWins.keys.count(p => !model.contains(p)).toLong,
        lastWins.keys.count(model.contains).toLong)
      forAll { (arm, e, s) =>
        val got = e.setSeq(s, batch.map { case (p, sr, t) => (pool(p), meta(sr, t)) })
        assert(got == expect, s"$arm/$s Set counts")
      }
      lastWins.foreach { case (p, (_, sr, t)) => model(p) = (sr, t) }
    }

    def check(step: Int): Unit = {
      val q = Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)
      val tag = Tags(rnd.nextInt(Tags.size))
      val pred = Equals("tag", RawString(tag))
      forAll { (arm, e, s) =>
        assert(e.storeLen(s) == model.size, s"step $step $arm/$s len")
        Seq(None, Some(pred)).foreach { cond =>
          val live = cond.fold(model.size)(_ => model.values.count(_._2 == tag))
          val want = math.min(N, live)
          val where = s"step $step $arm/$s filtered=${cond.isDefined}"
          val cosine = rows(e.getSimN(s, q, N, Algorithm.CosineSimilarity, cond))
          assert(cosine.size == want, s"$where linear count")
          assert(rows(e.getSimN(s, q, N, Algorithm.HNSW, cond)) == cosine,
            s"$where: indexed HNSW != linear cosine")
          if (s == "hk") {
            val base = cond.fold(e.storeDf(s))(c =>
              e.storeDf(s).where(Predicates.toColumn(c,
                org.apache.spark.sql.functions.col("value"))))
            val sq = rows(e.linearTopK(base, q, N, Algorithm.KDTree))
            assert(sq.size == want, s"$where linear kd count")
            assert(rows(e.getSimN(s, q, N, Algorithm.KDTree, cond)) == sq,
              s"$where: indexed KD-tree != linear squared euclidean")
          }
        }
      }
    }

    engines.values.foreach { e =>
      e.createStore("hk", Dim, predicates = Set("i", "tag"))
      e.createStore("rt", Dim, predicates = Set("i", "tag"))
    }
    set((0 until 100).map(p => (p, nextSerial(), Tags(p % Tags.size))))
    engines.values.foreach { e =>
      e.createNonLinearIndex("hk", Seq(hnsw, NonLinearConfig.KDTreeConfig()))
      e.createNonLinearIndex("rt", Seq(routed))
    }
    check(-1)

    val deleted = scala.collection.mutable.Set[Int]()
    (0 until 30).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => // Set: new rows, re-sets of live rows, re-sets of deleted rows
          val fresh = Seq.fill(1 + rnd.nextInt(3))(100 + rnd.nextInt(PoolSize - 100))
          val live = Seq.fill(rnd.nextInt(3))(rnd.nextInt(PoolSize)).filter(model.contains)
          val back = rnd.shuffle(deleted.toSeq.sorted).take(2)
          val ps = fresh ++ live ++ back ++ fresh.take(1) // a repeat: last wins
          set(ps.map(p => (p, nextSerial(), Tags(rnd.nextInt(Tags.size)))))
          deleted --= ps
        case 2 => // DelKey over live and absent keys
          val ps = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(PoolSize)).distinct
          val expect = ps.count(model.contains).toLong
          forAll { (arm, e, s) =>
            assert(e.delKey(s, ps.map(pool)) == expect, s"step $step $arm/$s DelKey")
          }
          ps.filter(model.contains).foreach { p => model.remove(p); deleted += p }
        case 3 => // DelPred on a tag shared by about a quarter of the rows
          val t = Tags(rnd.nextInt(Tags.size))
          val gone = model.collect { case (p, (_, tg)) if tg == t => p }.toSeq
          forAll { (arm, e, s) =>
            assert(e.delPred(s, Equals("tag", RawString(t))) == gone.size.toLong,
              s"step $step $arm/$s DelPred")
          }
          gone.foreach { p => model.remove(p); deleted += p }
        case 4 if model.nonEmpty => // Upsert: metadata-only or a (possibly colliding) key change
          val (p, (sr, _)) = model.toSeq.sortBy(_._1).apply(rnd.nextInt(model.size))
          val newSerial = nextSerial()
          val t = Tags(rnd.nextInt(Tags.size))
          val newKey = if (rnd.nextBoolean()) None else Some(rnd.nextInt(PoolSize))
          forAll { (arm, e, s) =>
            assert(e.upsert(s, Equals("i", RawString(sr.toString)),
              newKey = newKey.map(pool), newValue = Some(meta(newSerial, t))) == ((0L, 1L)),
              s"step $step $arm/$s Upsert")
          }
          val target = newKey.getOrElse(p)
          if (target != p) { model.remove(p); deleted += p }
          model(target) = (newSerial, t)
          deleted -= target
        case _ => // restart the persistent arm (also when an Upsert has nothing to match)
          engines = engines.updated("persist", GraftEngine.load(spark, root))
      }
      check(step)
    }
    engines.values.foreach(_.purgeStores())
    Persistence.deleteDir(root)
  }
}
