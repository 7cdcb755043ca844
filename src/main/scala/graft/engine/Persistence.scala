package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.types.{Algorithm, NonLinearConfig, StoreMeta}

/**
 * Parquet tables-as-truth persistence (SURVEY.md §7.3), replacing the
 * reference's versioned JSON snapshots (utils/src/persistence.rs,
 * utils/src/snapshot.rs) with the batch-native layout:
 *
 * {{{
 *   <root>/catalog/<schema>@<name>.json      # one record file PER STORE (tmp + rename)
 *   <root>/data/<schema>/<store>/v<N>/       # one immutable parquet dir per version
 * }}}
 *
 * Every mutation writes the NEW version dir first, then flips ONLY its own
 * store's record file — the same tempfile+rename atomicity discipline as the
 * reference (persistence.rs:108+), so a crash mid-write leaves the previous
 * version live. Per-store records keep the catalog write O(1) per mutation
 * instead of O(total stores) (mutations are per-store, so no cross-store
 * atomicity is ever needed); filename components are URL-encoded, and '@'
 * never appears in encoded output, so the separator cannot collide. A legacy
 * single-file `<root>/catalog.json` is still READ when no catalog/ dir
 * exists. Non-linear index CONFIGS round-trip through the catalog; the index
 * structures themselves are rebuilt from data on load (they are derived
 * state, and rebuilding beats deserializing per-partition graphs at scale).
 *
 * Local-filesystem IO here; on a cluster the same layout goes through the
 * Hadoop FileSystem API (rename is atomic on HDFS, and object stores use a
 * conditional-put catalog flip instead).
 */
object Persistence {

  /** Catalog record format version, stamped into every store record (the
    * reference versions its snapshot images the same way and migrates old
    * ones on load — db/src/engine/versioned.rs). History:
    *  - (unstamped) v1: one whole-catalog `<root>/catalog.json` with a
    *    `stores` array; len/bucketPaths may be absent (defaults apply).
    *  - v2: per-store record files under `<root>/catalog/`, explicit
    *    len/bucketPaths.
    * Records stamped NEWER than this engine understands fail the load
    * loudly — silently misreading a future format corrupts stores. Old
    * roots load through the lenient legacy path and are MIGRATED in place
    * by [[GraftEngine.load]] (per-store records written, the old file
    * retired), so the migration runs once, not on every restart. */
  val FormatVersion = 2

  /** bucketPaths: bucket index → the version dir that last rewrote it
    * (relative to the store's data dir). A mutation writes ONLY its touched
    * buckets into the new version dir; untouched buckets carry forward by
    * reference — the partition-pruned incremental rewrite that keeps write
    * amplification proportional to the batch, not the store. */
  final case class StoreRecord(meta: StoreMeta, version: Long,
      bucketPaths: Map[Int, String] = Map.empty,
      len: Long = -1L)

  def dataPath(root: String, schema: String, name: String, version: Long): String =
    s"$root/data/$schema/$name/v$version"

  def bucketPath(root: String, schema: String, name: String,
      versionDir: String, bucket: Int): String =
    s"$root/data/$schema/$name/$versionDir/b$bucket"

  /** Serialized ANN shard artifacts for one (store, index-kind), in the
    * one routed manifest format of every kind — see
    * [[graft.ann.RoutedAnnIndex.save]]. Derived state: safe to delete
    * anytime. */
  def indexDir(root: String, schema: String, name: String, kind: String): String =
    s"$root/index/$schema/$name/$kind"

  // ------------------------------------------------------------- catalog IO

  private def hnswJson(kind: String, h: NonLinearConfig.HNSWConfig): JObject =
    JObject(
      "kind" -> JString(kind),
      "efConstruction" -> JInt(h.efConstruction),
      "maximumConnections" -> JInt(h.maximumConnections),
      "maximumConnectionsZero" -> JInt(h.maximumConnectionsZero),
      "efSearch" -> JInt(h.efSearch),
      "metric" -> JString(h.metric.toString),
      "extendCandidates" -> JBool(h.extendCandidates),
      "keepPrunedConnections" -> JBool(h.keepPrunedConnections))

  private def metaToJson(r: StoreRecord): JValue = {
    val m = r.meta
    JObject(
      "formatVersion" -> JInt(FormatVersion),
      "schema" -> JString(m.schema),
      "name" -> JString(m.name),
      "dimension" -> JInt(m.dimension),
      "version" -> JLong(r.version),
      "len" -> JLong(r.len),
      "predicateIndexes" -> JArray(m.predicateIndexes.toList.sorted.map(JString(_))),
      "nonLinearIndexes" -> JArray(m.nonLinearIndexes.values.toList.sortBy(_.kind).map {
        case NonLinearConfig.KDTreeConfig() => JObject("kind" -> JString("kdtree"))
        case h: NonLinearConfig.HNSWConfig => hnswJson("hnsw", h)
        case r: NonLinearConfig.RoutedHNSWConfig => JObject(
          ("kind" -> (JString("hnsw_routed"): JValue)) ::
            hnswJson("hnsw", r.hnsw).obj.tail :::
            List[(String, JValue)](
              "numShards" -> JInt(r.numShards),
              "probes" -> JInt(r.probes),
              "iters" -> JInt(r.iters),
              "replicationEps" -> JString(r.replicationEps.toString),
              "maxReplicas" -> JInt(r.maxReplicas),
              "recallTarget" -> r.recallTarget
                .map(t => JString(t.toString): JValue).getOrElse(JNull)))
      }),
      "storeOriginal" -> JBool(m.storeOriginal),
      "queryModel" -> m.queryModel.map(JString(_)).getOrElse(JNull),
      "indexModel" -> m.indexModel.map(JString(_)).getOrElse(JNull),
      "preprocessAction" -> m.preprocessAction.map(JString(_)).getOrElse(JNull),
      "executionProvider" -> m.executionProvider.map(JString(_)).getOrElse(JNull),
      "bucketPaths" -> JObject(r.bucketPaths.toList.sortBy(_._1)
        .map { case (b, p) => b.toString -> (JString(p): JValue) }))
  }

  private def metaFromJson(j: JValue): StoreRecord = {
    // unstamped = v1 (legacy whole-catalog file); anything beyond this
    // engine's FormatVersion is a FUTURE format — refuse rather than
    // misread (a silently-dropped field here corrupts the store later)
    val recVersion = (j \ "formatVersion") match {
      case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => 1
    }
    if (recVersion > FormatVersion)
      sys.error(s"store record has formatVersion $recVersion, newer than " +
        s"this engine's $FormatVersion — upgrade the engine to load this root")
    def str(k: String): String = (j \ k) match { case JString(s) => s; case other => sys.error(s"bad $k: $other") }
    def optStr(k: String): Option[String] = (j \ k) match { case JString(s) => Some(s); case _ => None }
    def int(k: String): Int = (j \ k) match { case JInt(i) => i.toInt; case JLong(l) => l.toInt; case other => sys.error(s"bad $k: $other") }
    def bool(k: String): Boolean = (j \ k) match { case JBool(b) => b; case _ => false }
    val nl = (j \ "nonLinearIndexes") match {
      case JArray(items) => items.map { it =>
        def iint(k: String, d: Int) = (it \ k) match { case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => d }
        def hnswOf: NonLinearConfig.HNSWConfig = {
          val metric = (it \ "metric") match {
            case JString("EuclideanDistance") => Algorithm.EuclideanDistance
            case JString("DotProductSimilarity") => Algorithm.DotProductSimilarity
            case _ => Algorithm.CosineSimilarity
          }
          NonLinearConfig.HNSWConfig(
            efConstruction = iint("efConstruction", 100),
            maximumConnections = iint("maximumConnections", 16),
            maximumConnectionsZero = iint("maximumConnectionsZero", 32),
            efSearch = iint("efSearch", 16),
            metric = metric,
            extendCandidates = (it \ "extendCandidates") == JBool(true),
            keepPrunedConnections = (it \ "keepPrunedConnections") == JBool(true))
        }
        (it \ "kind") match {
          case JString("kdtree") => NonLinearConfig.KDTreeConfig(): NonLinearConfig
          case JString("hnsw") => hnswOf: NonLinearConfig
          case JString("hnsw_routed") =>
            NonLinearConfig.RoutedHNSWConfig(
              hnsw = hnswOf,
              numShards = iint("numShards", 16),
              probes = iint("probes", 4),
              iters = iint("iters", 2),
              replicationEps = (it \ "replicationEps") match {
                case JString(s) => s.toDouble; case _ => 0.0 },
              maxReplicas = iint("maxReplicas", 2),
              recallTarget = (it \ "recallTarget") match {
                case JString(s) => Some(s.toDouble); case _ => None }): NonLinearConfig
          case other => sys.error(s"unknown index kind $other")
        }
      }
      case _ => Nil
    }
    val version = (j \ "version") match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => 0L }
    val len = (j \ "len") match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => -1L }
    val preds = (j \ "predicateIndexes") match {
      case JArray(items) => items.collect { case JString(s) => s }.toSet
      case _ => Set.empty[String]
    }
    val buckets = (j \ "bucketPaths") match {
      case JObject(fields) => fields.collect {
        case (b, JString(p)) if b.forall(_.isDigit) => b.toInt -> p
      }.toMap
      case _ => Map.empty[Int, String]
    }
    StoreRecord(StoreMeta(str("schema"), str("name"), int("dimension"), preds,
      nl.map(c => c.kind -> c).toMap, bool("storeOriginal"),
      optStr("queryModel"), optStr("indexModel"),
      optStr("preprocessAction"), optStr("executionProvider")),
      version, buckets, len)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** The record file for one store: catalog/<enc(schema)>@<enc(name)>.json. */
  def recordPath(root: String, schema: String, name: String): Path =
    Paths.get(root, "catalog", s"${enc(schema)}@${enc(name)}.json")

  /** Atomic per-store record flip: serialize → tmp file → ATOMIC_MOVE.
    * Touches ONLY this store's file — mutating store A never rewrites B. */
  def writeStoreRecord(root: String, rec: StoreRecord): Unit = {
    val target = recordPath(root, rec.meta.schema, rec.meta.name)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(metaToJson(rec))))
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def deleteStoreRecord(root: String, schema: String, name: String): Unit = {
    val p = recordPath(root, schema, name)
    try Files.deleteIfExists(p) catch { case _: Exception => () }
  }

  /** True while `root` still carries the v1 whole-catalog file (even
    * alongside a partially-written catalog/ dir — a crashed migration) —
    * [[GraftEngine.load]] (re-)runs the migration until the file retires. */
  def isLegacyRoot(root: String): Boolean =
    Files.exists(Paths.get(root, "catalog.json"))

  /** After a legacy root's stores have been re-recorded in the current
    * format, retire the old file (kept as .migrated for operator forensics,
    * invisible to every reader) so the migration runs exactly once. */
  def retireLegacyCatalog(root: String): Unit = {
    val p = Paths.get(root, "catalog.json")
    if (Files.exists(p))
      Files.move(p, p.resolveSibling("catalog.json.migrated"),
        StandardCopyOption.REPLACE_EXISTING)
  }

  def readCatalog(root: String): Seq[StoreRecord] = {
    val dir = Paths.get(root, "catalog")
    val fromDir: Seq[StoreRecord] =
      if (!Files.isDirectory(dir)) Nil
      else Files.list(dir).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".json"))
        .sortBy(_.getFileName.toString)
        .map(p => metaFromJson(JsonMethods.parse(Files.readString(p))))
    // the legacy single-file layout is read WHENEVER catalog.json is still
    // present — not only when catalog/ is absent — and merged with the dir
    // (dir records win per store). A crash mid-migration (some records
    // written, catalog.json not yet retired) must not hide the
    // not-yet-migrated stores; retireLegacyCatalog ends the merge era.
    val legacyPath = Paths.get(root, "catalog.json")
    val fromLegacy: Seq[StoreRecord] =
      if (!Files.exists(legacyPath)) Nil
      else JsonMethods.parse(Files.readString(legacyPath)) \ "stores" match {
        case JArray(items) => items.map(metaFromJson)
        case _ => Nil
      }
    val seen = fromDir.map(r => (r.meta.schema, r.meta.name)).toSet
    fromDir ++ fromLegacy.filterNot(r => seen((r.meta.schema, r.meta.name)))
  }

  /** Best-effort cleanup of superseded version dirs / dropped stores. */
  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f =>
        try Files.delete(f) catch { case _: Exception => () })
  }

  /** Drop version dirs no bucket references anymore (a version stays live
    * as long as ANY bucket still points into it). */
  def gcOldVersions(root: String, schema: String, name: String,
      referenced: Set[String]): Unit = {
    val dir = Paths.get(root, "data", schema, name)
    if (!Files.exists(dir)) return
    Files.list(dir).iterator().asScala.toSeq.foreach { p: Path =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && !referenced.contains(n))
        deleteDir(p.toString)
    }
  }
}
