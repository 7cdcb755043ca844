package graft.scenario

import org.apache.spark.sql.functions._

import graft.Scale._
import graft.engine.{GraftEngine, Persistence}
import graft.types.{MetadataValue, PredicateCondition}

/**
 * `mutate`: bucket-level mutation cost at scale. Bulk vdb mutations touch
 * every bucket and say nothing about the case the hash-bucketed
 * persistence layer exists for — a SMALL mutation against a BIG store.
 * Builds a persisted store from the dir's embeddings, then measures Set /
 * DelKey / Upsert batches confined to one content bucket: wall and, from
 * the catalog's bucketPaths, how many of [[GraftEngine.NumBuckets]]
 * buckets each rewrote. Write amplification is (touched buckets /
 * NumBuckets) × store size, and the touched set follows the batch's
 * content hashes, not its size.
 *
 * Reads `SPARK_GRAFT_SF_DIR` (default scale/sf1).
 */
object Mutate {

  def run(r: Run): Unit = {
    val spark = r.spark
    val root = java.nio.file.Files.createTempDirectory("graft-scale-mutate").toString
    val e = new GraftEngine(spark, Some(root))
    val nb = GraftEngine.NumBuckets

    def buckets(): Map[Int, String] = Persistence.readCatalog(root)
      .find(_.meta.name == "big").get.bucketPaths
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def report(op: String, batch: Long, before: Map[Int, String], wall: Double): Unit = {
      val after = buckets()
      val moved = (0 until nb).count(b => before.get(b) != after.get(b))
      rows += f"| $op | $batch | $moved/$nb | $wall%.2f |"
      println(rows.last)
    }

    try {
      e.createStore("big", 64)
      val entries = graft.queries.TestStores.embEntries(spark, r.sfDir)

      // bulk load: every bucket written (the full-frame baseline)
      val b0 = buckets()
      val (_, wLoad) = timed("bulk Set") { e.set("big", entries) }
      val n = e.storeDf("big").count()
      report(s"bulk Set (initial load, $n rows)", n, b0, wLoad)

      // 100 new vectors whose content ids all hash to bucket 3 (content id =
      // xxhash64(key); candidates are rescaled existing embeddings, filtered
      // by their would-be bucket)
      val batch = entries.limit(20000)
        .select(transform(col("key"), x => (x * lit(1.5f)).cast("float")).as("key"),
          col("value"))
        .withColumn("_b", pmod(xxhash64(col("key")), lit(nb)))
        .where(col("_b") === 3).drop("_b")
        .limit(100)
        .persist()
      val batchN = batch.count()
      val b1 = buckets()
      val (_, wSet) = timed("Set") { e.set("big", batch) }
      report("Set, batch confined to 1 bucket", batchN, b1, wSet)

      // 100 existing keys from bucket 5
      val victims = e.storeDf("big")
        .where(pmod(col("id"), lit(nb)) === 5).limit(100)
        .select("key").collect().map(_.getSeq[Float](0).toArray).toSeq
      val b2 = buckets()
      val (deleted, wDel) = timed("DelKey") { e.delKey("big", victims) }
      report("DelKey, keys confined to 1 bucket", deleted, b2, wDel)

      // one entry: touches the old id's and the new id's buckets
      val probeId = e.storeDf("big")
        .select(element_at(col("value"), "vec_id").getField("str").as("v"))
        .limit(1).collect().head.getString(0)
      val b3 = buckets()
      val (_, wUp) = timed("Upsert") {
        e.upsert("big",
          PredicateCondition.Equals("vec_id", MetadataValue.RawString(probeId)),
          newValue = Some(Map("touched" -> MetadataValue.RawString("1"))),
          mergeMetadata = true)
      }
      report("Upsert, single entry", 1, b3, wUp)
      batch.unpersist()
      println()
      table("operation", "batch rows", "buckets rewritten", "wall s")(rows)
    } finally {
      e.purgeStores()
      Persistence.deleteDir(root)
    }
  }
}
