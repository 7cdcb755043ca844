package graft.types

/**
 * Core type system of the engine, mirroring the reference's protobuf surface
 * field-for-field (see /root/reference/protos/keyval.proto:13-39,
 * protos/metadata.proto:7-13, protos/predicate.proto:11-56,
 * protos/algorithm/algorithm.proto:7-13) so parity tests can be driven from
 * either side, while the *representation* is Spark-native (Row/Column).
 *
 * Spark row shape of a store table (SURVEY.md §1.3):
 * {{{
 *   id:    LONG                 -- deterministic content-hash of `key`
 *   key:   ARRAY<FLOAT>         -- the embedding; dimension enforced by catalog
 *   value: MAP<STRING, STRUCT<kind: STRING, str: STRING, bin: BINARY>>
 * }}}
 */
object StoreSchema {
  import org.apache.spark.sql.types._

  val metadataValueType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("str", StringType, nullable = true),
    StructField("bin", BinaryType, nullable = true)))

  val valueType: MapType =
    MapType(StringType, metadataValueType, valueContainsNull = false)

  val entrySchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("key", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("value", valueType, nullable = false)))
}

/** Tagged union over string / image-bytes / audio-bytes metadata
  * (reference: protos/metadata.proto:7-13). */
sealed trait MetadataValue extends Serializable {
  def kind: String
}
object MetadataValue {
  final case class RawString(s: String) extends MetadataValue { def kind = "raw_string" }
  final case class Image(bytes: Array[Byte]) extends MetadataValue {
    def kind = "image"
    override def equals(o: Any): Boolean = o match {
      case Image(b) => java.util.Arrays.equals(bytes, b); case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(bytes)
  }
  final case class Audio(bytes: Array[Byte]) extends MetadataValue {
    def kind = "audio"
    override def equals(o: Any): Boolean = o match {
      case Audio(b) => java.util.Arrays.equals(bytes, b); case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(bytes)
  }
}

/** Predicate algebra — leaves over one metadata key, And/Or combinators
  * (reference: protos/predicate.proto:11-56). No <, >, NOT, or functions. */
sealed trait PredicateCondition extends Serializable
object PredicateCondition {
  final case class Equals(key: String, value: MetadataValue) extends PredicateCondition
  final case class NotEquals(key: String, value: MetadataValue) extends PredicateCondition
  final case class In(key: String, values: Set[MetadataValue]) extends PredicateCondition
  final case class NotIn(key: String, values: Set[MetadataValue]) extends PredicateCondition
  final case class And(left: PredicateCondition, right: PredicateCondition) extends PredicateCondition
  final case class Or(left: PredicateCondition, right: PredicateCondition) extends PredicateCondition
}

/** Similarity / search algorithm choice
  * (reference: protos/algorithm/algorithm.proto:7-13). */
sealed trait Algorithm extends Serializable
object Algorithm {
  case object EuclideanDistance extends Algorithm
  case object DotProductSimilarity extends Algorithm
  case object CosineSimilarity extends Algorithm
  case object KDTree extends Algorithm
  case object HNSW extends Algorithm
}

/** Non-linear index configs (reference: protos/algorithm/nonlinear.proto:9-31,
  * defaults ahnlich/similarity/src/hnsw/mod.rs:285-296). */
sealed trait NonLinearConfig extends Serializable { def kind: String }
object NonLinearConfig {
  final case class KDTreeConfig() extends NonLinearConfig { def kind = "kdtree" }
  final case class HNSWConfig(
      efConstruction: Int = 100,
      maximumConnections: Int = 16,
      maximumConnectionsZero: Int = 32,
      efSearch: Int = 16,
      metric: Algorithm = Algorithm.CosineSimilarity,
      extendCandidates: Boolean = false,
      keepPrunedConnections: Boolean = false) extends NonLinearConfig { def kind = "hnsw" }

  /** EXTENSION (no reference analog): the k-means router of the one
    * sharded index family ([[graft.ann.RoutedAnnIndex]], the 100 TB read
    * path; `hnsw` and `kdtree` are the same index under the id-hash
    * router). k-means routing centroids assign rows to content-based
    * shards, one HNSW graph per shard; a query searches only the `probes`
    * nearest shards, so per-query work scales with `probes`, not shard
    * count. probes >= numShards is exhaustive (identical result set to the
    * `hnsw` kind's all-shard fan-out); smaller probes trades recall
    * exactly like IVF nProbe. Mutations are absorbed LSM-style, as for
    * every kind (exact overlay tails on insert, tombstones on delete,
    * guard-routed local compaction — see [[graft.ann.RoutedAnnIndex]]);
    * only a drift-guard trip or an unbounded DelPred invalidates whole
    * and reclusters lazily.
    *
    * `recallTarget`: name the probes knob by what it buys — when set,
    * the engine CALIBRATES the index at build (measured recall-vs-probes
    * curve vs exact ground truth, [[graft.ann.RoutedAnnIndex.calibrate]])
    * and every GetSimN searches at `probesFor(recallTarget)` (one-sided
    * 95% lower-confidence-bound selection) instead of the raw `probes`.
    * A 1.0 target always searches exhaustively — a sample can certify
    * an estimate, never perfection. The curves' operating points are
    * the serving-k ladder (default {10, 50} —
    * `spark.graft.routedRecallKs`), unfiltered: a GetSimN at n ≤ some
    * calibrated k serves pruned probes off the tightest covering curve;
    * n above the ladder, or any predicate condition, widens to
    * exhaustive probes (the measured floor does not transfer —
    * recall@n falls with n at fixed probes, and a selective filter can
    * concentrate accepted rows in unprobed shards). */
  final case class RoutedHNSWConfig(
      hnsw: HNSWConfig = HNSWConfig(),
      numShards: Int = 16,
      probes: Int = 4,
      iters: Int = 2,
      replicationEps: Double = 0.0,
      maxReplicas: Int = 2,
      recallTarget: Option[Double] = None,
      /** Node storage in the shard graphs ([[graft.ann.StorageSpec]]
        * keys): "f32" (full-precision floats, the default), "sq8"
        * (per-vector min/max int8 codes — ~1/4 the vector bytes per
        * stored row) or "pq"/"pq(m=..,ksub=..)" (product-quantized
        * codes — m bytes/vector, the byte-budget end; bare "pq"
        * resolves its split from the store dimension). The 100 TB
        * memory lever: graphs build and traverse on the codes, and the
        * engine restores exact final ranking by over-fetching the
        * storage's rescore slack ([[graft.ann.NodeStorage
        * .rescoreSlack]] — wider under PQ, whose coarse error is
        * codebook-bounded) and rescoring against the store table at
        * hydration. With `recallTarget`, calibration runs THROUGH the
        * quantized path against the exact store — the curve prices
        * quantization error in. */
      storage: String = "f32") extends NonLinearConfig { def kind = "hnsw_routed" }
}

/** Per-store catalog record, mirroring StoreInfo
  * (reference: protos/db/server.proto:71-78, db/src/engine/store.rs:739-758). */
final case class StoreMeta(
    schema: String,
    name: String,
    dimension: Int,
    predicateIndexes: Set[String] = Set.empty,
    nonLinearIndexes: Map[String, NonLinearConfig] = Map.empty,
    storeOriginal: Boolean = false,
    queryModel: Option[String] = None,
    indexModel: Option[String] = None,
    // AI-layer session config, recorded from the last SET/UPSERT that
    // declared them (the catalog analog of the reference's per-model
    // session state, ai/src/manager/mod.rs:35-140) and surfaced by GetStore
    preprocessAction: Option[String] = None,
    executionProvider: Option[String] = None)

/** Engine errors, mirroring db/src/errors.rs. */
final case class GraftException(msg: String) extends RuntimeException(msg)

object GraftErrors {
  def storeNotFound(schema: String, name: String): GraftException =
    GraftException(s"Store $name not found in schema $schema")
  def storeAlreadyExists(schema: String, name: String): GraftException =
    GraftException(s"Store $name already exists in schema $schema")
  def dimensionMismatch(expected: Int, got: Int): GraftException =
    GraftException(s"Store dimension is [$expected], input dimension of [$got] was specified")
  def schemaNotFound(schema: String): GraftException =
    GraftException(s"Schema $schema not found")
  def cannotDropPublic: GraftException =
    GraftException("Schema public cannot be dropped")
}
