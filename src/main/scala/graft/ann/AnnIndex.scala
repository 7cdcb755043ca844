package graft.ann

import java.util.Arrays

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.types.{Algorithm, GraftException, NonLinearConfig, PredicateCondition, StoreSchema}
import graft.engine.GraftEngine
import graft.functions.Predicates

/**
 * Distributed ANN index: one HNSW graph or KD-tree per partition, built with
 * `mapPartitions` and kept as a cached RDD of shards — the Spark-native
 * reshaping of the reference's single in-memory index
 * (SURVEY.md §2.4 "Spark mapping for ANN").
 *
 * Search: broadcast the query (+ optional accept-set), each shard returns its
 * local top-n, the driver merges (tiny: shards × n rows) and results are
 * hydrated back from the store table by id — the same "ids → id_to_value
 * lookup" the reference does (db/src/engine/store.rs:386-398).
 *
 * Determinism: shard assignment = hash-repartition on the content id, insert
 * order = id-ascending within each shard, level RNG seeded from the id —
 * so the graph (and therefore results) is stable across runs/replicas
 * (docs/specs/hnsw.md:1071-1093).
 *
 * Scale note: at 100 TB the accept-set broadcast becomes a Bloom filter +
 * post-verification; shard count follows the table's partitioning, and
 * shards spill to disk via the MEMORY_AND_DISK storage level.
 */
sealed trait AnnShard extends Serializable {
  /** Local top-k as (id, closeness DESC-better). */
  def topK(q: Array[Float], k: Int, accept: Long => Boolean): Seq[(Long, Double)]
}

@SerialVersionUID(1L)
final class HnswShard(val index: HnswIndex, efSearch: Int) extends AnnShard {
  def topK(q: Array[Float], k: Int, accept: Long => Boolean): Seq[(Long, Double)] =
    index.search(q, k, efSearch, accept)
}

@SerialVersionUID(1L)
final class KdShard(val tree: KdTree) extends AnnShard {
  def topK(q: Array[Float], k: Int, accept: Long => Boolean): Seq[(Long, Double)] =
    tree.nNearest(q, k, accept).map { case (id, d) => (id, -d) }
}

/** Immutable append OVERLAY: the base graph stays frozen, appended rows
  * live in a flat tail searched exactly (brute force) and merged with the
  * graph's candidates — the memtable-beside-immutable-index pattern, used
  * by [[RoutedAnnIndex.append]] so insert-only growth never rebuilds a
  * shard. Scoring mirrors [[HnswIndex]]'s closeness exactly (same
  * [[graft.functions.Similarity.jvm]] kernels, closeness = -distance), so
  * a merged ordering is indistinguishable from one grown graph; appended
  * rows are scored EXACTLY, which can only help recall. Overlays nest
  * (append-on-append); compaction is the caller's rebuild guard. */
@SerialVersionUID(1L)
final class PatchedShard(val base: AnnShard, extraIds: Array[Long],
    extraVecs: Array[Array[Float]], metric: Algorithm) extends AnnShard {
  def extraRows: Int = extraIds.length
  def extraEntries: Iterator[(Long, Array[Float])] =
    extraIds.iterator.zip(extraVecs.iterator)
  def extraIdsIterator: Iterator[Long] = extraIds.iterator
  def topK(q: Array[Float], k: Int, accept: Long => Boolean): Seq[(Long, Double)] = {
    val fromBase = base.topK(q, k, accept)
    val fromExtra = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    var i = 0
    while (i < extraIds.length) {
      if (accept == null || accept(extraIds(i)))
        fromExtra += ((extraIds(i), RoutedAnnIndex.closenessOf(metric, q, extraVecs(i))))
      i += 1
    }
    (fromBase ++ fromExtra)
      .sortBy { case (id, c) => (-c, id) }.take(k)
  }
}

/** Broadcastable id-membership filter for predicate-filtered ANN search —
  * a Bloom sketch (bounded memory at any scale; the rare false positives
  * are removed by exact post-verification at hydration). Accept sets small
  * enough for an exact filter (≤ 4096) never reach the index at all: the
  * dispatch brute-forces them, matching the reference's cutover. */
sealed trait IdFilter extends Serializable { def accept(id: Long): Boolean }
object IdFilter {
  /** `expected` is the accept set's known cardinality (the count the
    * Bloom filter was sized with — every composition site has it), −1 =
    * unknown. It is what lets batch consumers AUTO-ROUTE on selectivity
    * ([[RoutedAnnIndex.topKJoin]]'s sharp-filter cutover) instead of
    * silently running a sparse accept set through a starved graph beam. */
  @SerialVersionUID(1L)
  final case class Bloom(bf: org.apache.spark.util.sketch.BloomFilter,
      expected: Long = -1L) extends IdFilter {
    def accept(id: Long): Boolean = bf.mightContainLong(id)
  }
}

final class AnnIndex(
    val kind: String,
    val config: NonLinearConfig,
    val shards: RDD[AnnShard],
    val numShards: Int) extends Serializable {

  def unpersist(): Unit = shards.unpersist(blocking = false)

  /** EXACT slice scan for sharp-filtered search over the hash-sharded
    * HNSW graphs — the single-query [[graft.ann.AnnSearch]] three-way
    * dispatch's middle arm (see [[RoutedAnnIndex.scanSearch]], the routed
    * twin, for the measured basis): each partition filters its graph's
    * stored rows through the accept function once into a bounded k-heap
    * — the id is tested BEFORE the vector materializes
    * ([[RoutedAnnIndex.acceptedRowsOf]]), and the query + Bloom filter
    * ship as broadcasts (once per executor, as [[search]] does — r16
    * advice); driver merge as [[search]]. HNSW graphs only — a KD-tree's
    * filtered search is already exact (geometry pruning, not a starvable
    * beam), so its dispatch never routes here. Hash shards always store
    * f32, so scores — and the scan — are exact. */
  def scanSearch(q: Array[Float], k: Int, filter: IdFilter = null): Seq[(Long, Double)] = {
    val metric = config match {
      case h: NonLinearConfig.HNSWConfig => h.metric
      case c => throw GraftException(
        s"scanSearch is an HNSW-arm dispatch; unexpected index config $c")
    }
    RoutedAnnIndex.sliceScan(shards, metric, q, k, Array.emptyLongArray, filter)
  }

  /** Merged top-k across shards (driver-side bounded merge —
    * TakeOrdered-equivalent over shards × k candidates). */
  def search(q: Array[Float], k: Int, filter: IdFilter = null): Seq[(Long, Double)] = {
    val sc = shards.sparkContext
    val bq = sc.broadcast(q)
    val bf = sc.broadcast(filter) // null = accept all
    val local = shards.flatMap { shard =>
      val f = bf.value
      val accept: Long => Boolean = if (f == null) null else f.accept _
      shard.topK(bq.value, k, accept)
    }.collect()
    bq.destroy(); bf.destroy()
    local.sortBy { case (id, c) => (-c, id) }.take(k).toSeq
  }
}

object AnnIndex {

  /** Bucket-identity partitioner: shard index == pmod(id, numShards) bucket
    * — the SAME bucketing as the persistence layer, so a mutation's touched
    * buckets name exactly the shards to rebuild. */
  private final class BucketPartitioner(val buckets: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = buckets
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case b: BucketPartitioner => b.buckets == buckets; case _ => false
    }
    override def hashCode: Int = buckets
  }

  /** (bucket, (id, vec)) rows, identity-partitioned and id-sorted within
    * each shard (id order fixes HNSW insertion order → deterministic
    * graphs, hnsw.md:1071-1093). */
  private def keyedRows(df: DataFrame, parts: Int): RDD[(Long, Array[Float])] =
    df.select(pmod(col("id"), lit(parts)).cast("int").as("_b"), col("id"), col("key"))
      .rdd.map(r => (r.getInt(0), (r.getLong(1), toFloats(r.getSeq[Float](2)))))
      .partitionBy(new BucketPartitioner(parts))
      .mapPartitions(it => it.map(_._2).toArray.sortBy(_._1).iterator,
        preservesPartitioning = true)

  private def buildShard(dim: Int, config: NonLinearConfig,
      it: Iterator[(Long, Array[Float])]): Iterator[AnnShard] = config match {
    case h: NonLinearConfig.HNSWConfig =>
      val idx = HnswIndex(dim, h)
      it.foreach { case (id, v) => idx.insert(id, v) }
      if (idx.size == 0) Iterator.empty
      else Iterator(new HnswShard(idx, h.efSearch): AnnShard)
    case _: NonLinearConfig.KDTreeConfig =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val t = new KdTree(dim)
        t.build(rows.map(_._1), rows.map(_._2))
        Iterator(new KdShard(t): AnnShard)
      }
    case r: NonLinearConfig.RoutedHNSWConfig =>
      // routed shards are content-assigned, not id-hashed — they can never
      // be built through the hash-sharded path (see RoutedAnnIndex.build)
      throw GraftException(
        s"${r.kind} cannot be built as a hash-sharded index")
  }

  /** Batch index-build job (CreateNonLinearAlgorithmIndex,
    * store.rs:240-254, 1160-1186). The shard count is rounded UP to a
    * multiple of [[GraftEngine.NumBuckets]] so that every shard's rows live
    * entirely inside one persistence bucket — a mutation's pruned
    * touched-bucket read is then a complete source for delta-patching its
    * touched shards. `numShards` overrides the default (tests / explicit
    * shard sizing) but is still subject to the same rounding — a request
    * that is not already a multiple of NumBuckets (≥ NumBuckets) is adjusted
    * up and the adjustment logged, never applied silently. */
  def build(df: DataFrame, dim: Int, config: NonLinearConfig,
      numShards: Option[Int] = None): AnnIndex = {
    val nb = GraftEngine.NumBuckets
    val raw = numShards.getOrElse(math.max(1, df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt))
    val parts = math.max(nb, ((raw + nb - 1) / nb) * nb)
    numShards.filter(_ != parts).foreach(req =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"AnnIndex.build: requested numShards=$req adjusted to $parts " +
        s"(must be a multiple of NumBuckets=$nb, minimum $nb)"))
    val shards = keyedRows(df, parts)
      .mapPartitions(it => buildShard(dim, config, it), preservesPartitioning = true)
    val cached = shards.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    new AnnIndex(config.kind, config, cached, parts)
  }

  /** Delta-patch after a mutation: rebuild ONLY the shards whose bucket was
    * touched (same bucket math as the incremental persistence layer);
    * untouched shard structures are reused as-is from the previous index —
    * the per-shard analog of the reference's live index maintenance
    * (non_linear.rs:244-251), with write cost proportional to the batch. */
  def patch(old: AnnIndex, df: DataFrame, dim: Int,
      touched: Set[Int]): AnnIndex = {
    val parts = old.numShards
    val touchedNorm = touched.map(b => ((b % parts) + parts) % parts)
    val config = old.config
    val rebuilt = keyedRows(df.where(
        pmod(col("id"), lit(parts)).cast("int").isin(touchedNorm.toSeq: _*)), parts)
      .mapPartitionsWithIndex((i, it) =>
        if (touchedNorm.contains(i)) buildShard(dim, config, it)
        else Iterator.empty,
        preservesPartitioning = true)
    // partition-ALIGNED merge (shard index == bucket must survive patch
    // chains — a pruning+union would renumber partitions and desync the
    // next patch's bucket math): zip the equal-width RDDs, pick the new
    // shard for touched buckets (even when it's now empty), old otherwise
    val merged = old.shards.zipPartitions(rebuilt, preservesPartitioning = true) {
      (oldIt, newIt) => Iterator((oldIt.toArray, newIt.toArray))
    }.mapPartitionsWithIndex((i, it) => {
      val (o, n) = it.next()
      if (touchedNorm.contains(i)) n.iterator else o.iterator
    }, preservesPartitioning = true)
    val cached = merged.persist(StorageLevel.MEMORY_AND_DISK)
    // truncate lineage at materialization: without this, every patch chains
    // the predecessor's (soon-unpersisted) shards RDD, and an evicted
    // partition would recompute through shuffle stages whose source version
    // dirs may since be GC'd. localCheckpoint trades that unbounded chain
    // for node-local durability — on executor loss a cluster deployment
    // rebuilds the index from the table (it is derived state).
    cached.localCheckpoint()
    cached.count() // materialize before the caller releases the old index
    new AnnIndex(old.kind, old.config, cached, parts)
  }

  private def toFloats(s: Seq[Float]): Array[Float] = s.toArray

  // ------------------------------------------------------ artifact IO
  //
  // Serialized per-shard index structures next to the store (SURVEY §2.4's
  // "binary files next to the table"; the reference snapshots its
  // non-linear indexes inside the persistence image,
  // ahnlich/utils/src/persistence.rs + db/src/engine/versioned.rs). Layout:
  //
  //   <dir>/manifest.json   # parts, config identity, per-shard source stamp
  //   <dir>/s<i>.bin        # java-serialized AnnShard (absent = empty shard)
  //
  // Each shard's manifest entry records the PERSISTENCE BUCKET PATH its
  // rows came from (shard i ⊆ bucket i % NumBuckets — shard counts are
  // multiples of NumBuckets by construction). That string IS the version
  // stamp: a mutation moves its touched buckets to a new version dir, so
  // on load a shard is fresh iff its recorded source equals the store's
  // current bucket path — untouched shards deserialize (no graph build),
  // touched ones rebuild via the same delta-[[patch]] a live mutation uses.
  // Artifacts are DERIVED state: any read failure falls back to a rebuild,
  // never an error. Task-side java.nio IO (executors and driver share the
  // filesystem here; a cluster deployment routes through the Hadoop
  // FileSystem API like the parquet layer).

  private def shardFile(dir: String, i: Int) =
    java.nio.file.Paths.get(dir, s"s$i.bin")

  /** Source stamp for shard `i` of a `parts`-shard index: the persistence
    * path of the bucket its rows live in ("" = bucket currently empty). */
  private def srcStamp(bucketPaths: Map[Int, String], i: Int, parts: Int): String =
    bucketPaths.getOrElse(i % GraftEngine.NumBuckets, "")

  /** Persist the index's shard structures under `dir`. `touchedOnly`
    * restricts the write to the given shard indices (the mutation path's
    * incremental save — cost proportional to the batch, like the parquet
    * write it rides behind); `None` writes every shard (initial build).
    * One Spark job; the manifest flips last (tmp+rename), so a crash
    * mid-save leaves stale-but-consistent stamps that simply rebuild. */
  def save(index: AnnIndex, dir: String, bucketPaths: Map[Int, String],
      touchedOnly: Option[Set[Int]] = None): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parts = index.numShards
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val written = index.shards.mapPartitionsWithIndex { (i, it) =>
      if (!touchedOnly.forall(_.contains(i))) Iterator.empty
      else {
        val target = shardFile(dir, i)
        val shards = it.toArray
        if (shards.isEmpty) {
          java.nio.file.Files.deleteIfExists(target)
          Iterator.single(i -> false)
        } else {
          // suffix the tmp name with the task attempt id: with speculative
          // execution (or a retry racing a slow first attempt) two attempts
          // of the same shard write concurrently — a shared tmp path could
          // interleave and ATOMIC_MOVE would publish a truncated object.
          // Distinct tmp files keep each attempt's rename-into-place atomic.
          val attempt = Option(org.apache.spark.TaskContext.get())
            .fold(0L)(_.taskAttemptId())
          val tmp = target.resolveSibling(s"s$i.bin.tmp.$attempt")
          val os = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(tmp)))
          try os.writeObject(shards.head) finally os.close()
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Iterator.single(i -> true)
        }
      }
    }.collect().toMap
    // carry forward untouched shards' manifest entries on incremental saves
    val previous: Map[Int, (String, Boolean)] = touchedOnly match {
      case Some(_) => readManifest(dir).map(_.shards).getOrElse(Map.empty)
      case None => Map.empty
    }
    val entries = (0 until parts).map { i =>
      written.get(i) match {
        case Some(present) => i -> (srcStamp(bucketPaths, i, parts), present)
        case None => i -> previous.getOrElse(i, ("", false))
      }
    }.toMap
    val json = JObject(
      "kind" -> JString(index.kind),
      "parts" -> JInt(parts),
      "config" -> JString(index.config.toString),
      "shards" -> JObject(entries.toList.sortBy(_._1).map { case (i, (src, p)) =>
        i.toString -> (JObject("src" -> JString(src), "present" -> JBool(p)): JValue)
      }))
    val target = java.nio.file.Paths.get(dir, "manifest.json")
    val tmp = target.resolveSibling("manifest.json.tmp")
    java.nio.file.Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private final case class Manifest(kind: String, parts: Int, config: String,
      shards: Map[Int, (String, Boolean)])

  private def readManifest(dir: String): Option[Manifest] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = java.nio.file.Paths.get(dir, "manifest.json")
    if (!java.nio.file.Files.exists(p)) return None
    try {
      val j = JsonMethods.parse(java.nio.file.Files.readString(p))
      val kind = (j \ "kind") match { case JString(s) => s; case _ => return None }
      val parts = (j \ "parts") match {
        case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => return None }
      val config = (j \ "config") match { case JString(s) => s; case _ => return None }
      val shards = (j \ "shards") match {
        case JObject(fields) => fields.collect {
          case (k, v) if k.forall(_.isDigit) =>
            val src = (v \ "src") match { case JString(s) => s; case _ => "" }
            val present = (v \ "present") == JBool(true)
            k.toInt -> (src, present)
        }.toMap
        case _ => Map.empty[Int, (String, Boolean)]
      }
      Some(Manifest(kind, parts, config, shards))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Restore an index from artifacts, rebuilding ONLY stale shards (stamp
    * mismatch = their bucket was mutated since the save; missing file;
    * unknown shard). Returns None — caller falls back to a full build —
    * when there is no usable manifest, the config changed, or every shard
    * is stale. The fresh-shard path runs ZERO build work: partition i
    * deserializes s<i>.bin; the stale set goes through [[patch]]. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
      config: NonLinearConfig, bucketPaths: Map[Int, String],
      df: DataFrame, dim: Int): Option[AnnIndex] =
    try {
      val m = readManifest(dir).getOrElse(return None)
      if (m.config != config.toString || m.parts < 1 ||
          m.parts % GraftEngine.NumBuckets != 0) return None
      val parts = m.parts
      val stale = (0 until parts).filter { i =>
        m.shards.get(i) match {
          case None => true
          case Some((src, present)) =>
            src != srcStamp(bucketPaths, i, parts) ||
              (present && !java.nio.file.Files.exists(shardFile(dir, i)))
        }
      }.toSet
      if (stale.size == parts) return None
      val fresh = (0 until parts).toSet -- stale
      val present = fresh.filter(i => m.shards(i)._2)
      val loaded = spark.sparkContext
        .parallelize(0 until parts, parts)
        .mapPartitionsWithIndex { (i, _) =>
          if (!present.contains(i)) Iterator.empty
          else {
            val is = new java.io.ObjectInputStream(new java.io.BufferedInputStream(
              java.nio.file.Files.newInputStream(shardFile(dir, i))))
            try Iterator.single(is.readObject().asInstanceOf[AnnShard])
            finally is.close()
          }
        }
      val base = new AnnIndex(config.kind, config, loaded, parts)
      if (stale.isEmpty) {
        val cached = loaded.persist(StorageLevel.MEMORY_AND_DISK)
        cached.count()
        Some(new AnnIndex(config.kind, config, cached, parts))
      } else {
        val patched = patch(base, df, dim, stale) // persists + materializes
        // self-heal: refresh the artifacts for exactly the shards rebuilt,
        // so the next restart deserializes them instead of patching again
        save(patched, dir, bucketPaths, Some(stale))
        Some(patched)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"AnnIndex.load($dir) failed — falling back to rebuild", e)
        None
    }
}

/** The non-linear arms of GetSimN's 4-way dispatch (store.rs:314-383). */
object AnnSearch {

  /** accept_list ≤ 4096 → exact brute force over the accepted set
    * (hnsw/index.rs:24,233-235). */
  val BruteForceCutover = 4096L

  /** Where a predicate-filtered GetSimN runs, as a pure directly-testable
    * function of the accept-set cardinality (AnnSearchSpec pins the
    * three-way rule). */
  sealed trait FilteredRoute
  object FilteredRoute {
    /** ≤ [[BruteForceCutover]]: exact brute force over the filtered STORE
      * slice — the reference's absolute rule, kept as the floor. */
    case object Exact extends FilteredRoute
    /** ≤ [[RoutedAnnIndex.FilteredScanFraction]] of live rows: exact
      * in-shard slice scan ([[RoutedAnnIndex.scanSearch]] /
      * [[AnnIndex.scanSearch]]) — in-memory stored rows, distances only
      * on accepted ids. */
    case object SliceScan extends FilteredRoute
    /** Broad filters ride the graph beam (in-filtering; at corpus scale
      * their slice is too large to scan per query). */
    case object Graph extends FilteredRoute
  }

  /** The three-way dispatch rule (round-16, mirroring the batch join's
    * round-15 auto-cutover into the single-query path): the reference's
    * ABSOLUTE ≤4096 rule alone is scale-dishonest — at 100× scale a 5%
    * predicate on a 20M-row store accepts ~1M ids, far above 4096, so it
    * ran a starved graph beam (recall degrades as the accept set
    * sparsifies — 0.96 at 1/2 selectivity vs 0.83 at 1/100, ScaleJoin)
    * and, under a recall target, paid exhaustive probes. Between the
    * absolute rule and [[RoutedAnnIndex.FilteredScanFraction]] of live
    * rows, an exact in-shard slice scan wins on BOTH axes (measured,
    * ScaleJoin filtered AUTO + the round-16 single-query selectivity
    * table) — and meets ANY recall target, filter-geometry independent,
    * EXACTLY under f32 node storage; under SQ8/PQ/OPQ the scan's
    * shortlist is ranked on decoded quantized scores before the exact
    * hydration rescore, so "exact" degrades to the storage's shortlist
    * error (bounded by the rescoreSlack over-fetch — see
    * [[RoutedAnnIndex.scanSearch]]). `scannable` = the index kind has a scan arm (HNSW
    * graphs; a KD-tree's filtered search is already exact, so it never
    * needs one). `liveRows` ≤ 0 (unknown) keeps the graph arm — the
    * conservative direction. */
  private[graft] def filteredRoute(cnt: Long, liveRows: Long,
      scannable: Boolean): FilteredRoute =
    if (cnt <= BruteForceCutover) FilteredRoute.Exact
    else if (scannable && liveRows > 0 &&
        cnt <= RoutedAnnIndex.FilteredScanFraction * liveRows)
      FilteredRoute.SliceScan
    else FilteredRoute.Graph

  /** Probe count for one routed GetSimN — the recallTarget serving rule
    * as a pure, directly-testable function (AnnSearchSpec pins it):
    * no target → the raw `probes` knob; a target serves off the
    * calibrated curveS only on a measured operating point — an
    * UNFILTERED request at n ≤ some calibrated k, answered by the
    * tightest covering curve ([[RoutedAnnIndex.probesForN]]: the engine
    * calibrates a k ladder, default {10, 50}, so an n ≤ 50 request
    * serves PRUNED probes; recall@n at fixed probes falls as n grows,
    * so a covering curve is a conservative floor). It widens to
    * EXHAUSTIVE for n above every calibrated k, or for any predicate
    * filter that reaches the graph arm (the curves are measured
    * unfiltered; a sparse accept set starves the beam — the measured
    * ScaleJoin selectivity degradation — and a filter CORRELATED with
    * shard geometry breaks any selectivity-derated floor: the measured
    * ScaleCalibrate filtered rejection). SHARP filters never get here —
    * [[filteredRoute]] sends them to the slice scan, which meets any
    * floor exactly under f32 storage (up to the rescore-slack-bounded
    * shortlist error under quantized storage). Uncalibrated or 1.0 targets are exhaustive inside
    * [[RoutedAnnIndex.probesForN]] already. */
  private[graft] def effectiveProbes(cfg: NonLinearConfig.RoutedHNSWConfig,
      idx: RoutedAnnIndex, n: Int, filtered: Boolean): Int =
    cfg.recallTarget match {
      case None => cfg.probes
      case Some(t) =>
        if (filtered) idx.numShards
        else idx.probesForN(t, n)
    }

  /** Extra per-shard candidates fetched when filtering through a Bloom
    * sketch, so a false positive can't displace a true top-n hit. */
  val FalsePositiveSlack = 32

  def getSimN(engine: GraftEngine, st: GraftEngine#StoreState,
      q: Array[Float], n: Int, algorithm: Algorithm,
      condition: Option[PredicateCondition]): DataFrame = {
    // HNSW resolves to the hash-sharded graph when one was created, else
    // to the coarse-ROUTED sharded index ("hnsw_routed" extension kind) —
    // so the reference-parity GetSimN call reaches the 100 TB read path
    // the moment the store's index is the routed one, with no API change
    val kind = algorithm match {
      case Algorithm.KDTree => "kdtree"
      case Algorithm.HNSW
          if !st.meta.nonLinearIndexes.contains("hnsw") &&
            st.meta.nonLinearIndexes.contains("hnsw_routed") => "hnsw_routed"
      case Algorithm.HNSW   => "hnsw"
      case other => throw GraftException(s"$other is not a non-linear algorithm")
    }
    // empty store: nothing to search — short-circuit AFTER the kind is
    // known but BEFORE any lazy structure build (the routed builder's
    // k-means needs >= 1 row; the result is empty either way). The
    // index-not-found error still fires first for a store that never
    // created one (config check inside ensure*Index below).
    if (st.meta.nonLinearIndexes.contains(kind) && st.len == 0)
      return emptyResult(engine)
    // ensure*Index: post-restart the index structure is built lazily here,
    // on the first query that needs it (GraftEngine.load attaches configs
    // only); (search closure, exact-scan closure + live-row count for the
    // three-way filtered dispatch, the metric the index orders by)
    val (search, scan, liveRows, scoringAlgo): (
        (Array[Float], Int, IdFilter) => Seq[(Long, Double)],
        Option[(Array[Float], Int, IdFilter) => Seq[(Long, Double)]],
        Long, Algorithm) =
      if (kind == "hnsw_routed") {
        val (idx, cfg) = engine.ensureRoutedIndex(st.meta.name, st.meta.schema)
          .getOrElse(throw GraftException(
            s"Non linear algorithm index $kind not found in store, create one"))
        // a recall-targeted config reads probes off the calibrated curve
        // (LCB selection; exhaustive when uncalibrated or target = 1.0 —
        // RoutedAnnIndex.probesFor); raw `probes` otherwise. The curve
        // only answers for requests ON its operating point: it was
        // measured at k = recallK (the engine calibrates at 10) over
        // UNFILTERED queries, and recall@n at fixed probes FALLS as n
        // grows (more of a deeper true top-n lives in unprobed shards)
        // while a selective predicate can concentrate its accepted rows
        // in unprobed shards — so a request with n > recallK or a
        // predicate filter widens to EXHAUSTIVE probes instead of
        // serving a floor the curve never measured (round-13 advice;
        // the dsl RECALL arm's recallK check is the same rule).
        // quantized shards (sq8/pq) rank on stored-form scores:
        // over-fetch the storage's rescore slack so the exact hydration
        // rescore below can restore true final ranking (a
        // quantization-flipped ordering inside the slack window never
        // displaces a true top-n hit; PQ's wider coarse error gets the
        // wider slack — NodeStorage.rescoreSlack)
        val slack = idx.storage.rescoreSlack
        ((q2, k2, f) => idx.search(q2, k2 + slack,
          effectiveProbes(cfg, idx, k2, filtered = f != null), f),
          Some((q2: Array[Float], k2: Int, f: IdFilter) =>
            idx.scanSearch(q2, k2 + slack, f)),
          idx.liveLogicalRows,
          cfg.hnsw.metric)
      } else {
        val index = engine.ensureAnnIndex(st.meta.name, kind, st.meta.schema).getOrElse(
          throw GraftException(s"Non linear algorithm index $kind not found in store, create one"))
        val sa = index.config match {
          case _: NonLinearConfig.KDTreeConfig => Algorithm.KDTree
          case h: NonLinearConfig.HNSWConfig   => h.metric
          case c => throw GraftException(s"unexpected hash-sharded index config $c")
        }
        // the scan arm exists for HNSW only: a KD-tree's filtered search
        // is already exact — no beam to starve (filteredRoute's scannable)
        val scanArm = index.config match {
          case _: NonLinearConfig.HNSWConfig =>
            Some((q2: Array[Float], k2: Int, f: IdFilter) =>
              index.scanSearch(q2, k2, f))
          case _ => None
        }
        ((q2, k2, f) => index.search(q2, k2, f), scanArm, st.len, sa)
      }

    condition match {
      case Some(cond) =>
        val predCol = Predicates.toColumn(cond, col("value"))
        // ids-only projection of the accept set, cached for the query: the
        // count materializes it (the ONLY scan of the filtered store) and
        // the Bloom build below reads the cache — 8 bytes/row, so the cache
        // stays tiny even when the predicate accepts billions of rows
        val acceptedIds = st.df.where(predCol).select("id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val cnt = acceptedIds.count()
          if (cnt == 0) emptyResult(engine) // short-circuit store.rs:318-320
          else filteredRoute(cnt, liveRows, scan.isDefined) match {
            case FilteredRoute.Exact =>
              engine.linearTopK(st.df.where(predCol), q, n, scoringAlgo)
            case route =>
              // above the absolute rule: broadcast Bloom sketch from the
              // cached ids in one distributed aggregation (bounded driver
              // memory at any scale — never a full id collect, tightly
              // sized by cnt), then either scan the accepted slice exactly
              // in-shard (sharp filters — meets any recall floor, no
              // starved beam) or search the graphs with slack; either way
              // hydration post-verifies the merged candidates against the
              // exact predicate, so Bloom false positives never surface.
              val bloom = acceptedIds.stat.bloomFilter("id", cnt, 0.001)
              val f = IdFilter.Bloom(bloom, cnt)
              val hits = route match {
                case FilteredRoute.SliceScan =>
                  org.slf4j.LoggerFactory.getLogger(getClass).info(
                    s"AnnSearch: filter accepts $cnt of ~$liveRows live " +
                      s"rows (<= ${RoutedAnnIndex.FilteredScanFraction}) — " +
                      "scanning the accepted slice exactly instead of the " +
                      "graph beam")
                  scan.get(q, n + FalsePositiveSlack, f)
                case _ => search(q, n + FalsePositiveSlack, f)
              }
              hydrate(engine, st, hits, q, n, scoringAlgo, Some(cond))
          }
          // safe to release in all arms: the Bloom/empty results are already
          // materialized, and the brute-force arm's lazy plan reads
          // st.df.where(predCol), not the cached ids
        } finally acceptedIds.unpersist(blocking = false)
      case None =>
        hydrate(engine, st, search(q, n, null), q, n, scoringAlgo, None)
    }
  }

  /** ids → rows, recompute exact similarity on the tiny result set
    * (store.rs:386-398 hydration). The predicate, when present, is re-applied
    * exactly here so Bloom false positives never reach the result. The scan
    * is bucket-pruned by the hit ids (engine.pointView), so hydration opens
    * O(touched buckets) files, not the store. */
  private def hydrate(engine: GraftEngine, st: GraftEngine#StoreState,
      hits: Seq[(Long, Double)], q: Array[Float], n: Int,
      scoringAlgo: Algorithm, condition: Option[PredicateCondition]): DataFrame = {
    if (hits.isEmpty) return emptyResult(engine)
    val ids = hits.map(_._1)
    val base = engine.pointView(st.meta.name, ids, st.meta.schema)
      .where(col("id").isin(ids: _*))
    val verified = condition.fold(base)(c =>
      base.where(Predicates.toColumn(c, col("value"))))
    engine.linearTopK(verified, q, n, scoringAlgo)
  }

  private def emptyResult(engine: GraftEngine): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      StoreSchema.entrySchema.drop(1) :+
        org.apache.spark.sql.types.StructField("similarity",
          org.apache.spark.sql.types.FloatType))
    engine.spark.createDataFrame(
      engine.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
