package graft.dsl

import graft.types.{Algorithm, MetadataValue, NonLinearConfig, PredicateCondition}

/**
 * The command ADT — the single IR of the system, mirroring the reference's
 * protobuf query messages field-for-field
 * (/root/reference/protos/db/query.proto, protos/ai/query.proto) so parity
 * tests can be driven from either side (SURVEY.md §3 "one IR" note).
 */
sealed trait Command extends Serializable

object Command {
  // ---- DB statements (protos/db/query.proto; grammar syntax.pest db_statement)
  case object Ping extends Command
  case object InfoServer extends Command
  case object ListClients extends Command
  final case class ListStores(schema: Option[String]) extends Command
  final case class GetStore(store: String, schema: Option[String]) extends Command
  final case class DropStore(store: String, errorIfNotExists: Boolean,
      schema: Option[String]) extends Command
  final case class DropSchema(schema: String) extends Command
  final case class CreatePredIndex(store: String, keys: Seq[String],
      schema: Option[String]) extends Command
  final case class DropPredIndex(store: String, keys: Seq[String],
      errorIfNotExists: Boolean, schema: Option[String]) extends Command
  final case class CreateNonLinearAlgorithmIndex(store: String,
      indexes: Seq[NonLinearConfig], schema: Option[String]) extends Command
  final case class DropNonLinearAlgorithmIndex(store: String, kinds: Seq[String],
      errorIfNotExists: Boolean, schema: Option[String]) extends Command
  final case class GetKey(store: String, keys: Seq[Array[Float]],
      schema: Option[String]) extends Command
  final case class DelKey(store: String, keys: Seq[Array[Float]],
      schema: Option[String]) extends Command
  final case class GetPred(store: String, condition: PredicateCondition,
      schema: Option[String]) extends Command
  final case class GetSimN(store: String, searchInput: Array[Float],
      closestN: Int, algorithm: Algorithm,
      condition: Option[PredicateCondition], schema: Option[String]) extends Command
  final case class CreateStore(store: String, dimension: Int,
      createPredicates: Seq[String], nonLinearIndexes: Seq[NonLinearConfig],
      errorIfExists: Boolean, schema: Option[String]) extends Command
  final case class Set(store: String,
      entries: Seq[(Array[Float], Map[String, MetadataValue])],
      schema: Option[String]) extends Command
  final case class Upsert(store: String, newKey: Option[Array[Float]],
      newValue: Option[Map[String, MetadataValue]],
      condition: PredicateCondition, merge: Boolean,
      schema: Option[String]) extends Command

  // ---- AI statements (protos/ai/query.proto; grammar ai_statement).
  // Raw inputs are MetadataValue (text/image/audio) embedded by the store's
  // configured model before delegation to the DB ops above.
  case object PurgeStores extends Command
  final case class AiCreateStore(store: String, queryModel: String,
      indexModel: String, createPredicates: Seq[String],
      nonLinearIndexes: Seq[NonLinearConfig], errorIfExists: Boolean,
      storeOriginal: Boolean, schema: Option[String]) extends Command
  final case class AiSet(store: String,
      entries: Seq[(MetadataValue, Map[String, MetadataValue])],
      preprocessAction: String, executionProvider: Option[String],
      schema: Option[String]) extends Command
  final case class AiGetSimN(store: String, searchInput: MetadataValue,
      closestN: Int, algorithm: Algorithm,
      condition: Option[PredicateCondition], schema: Option[String]) extends Command
  final case class AiGetKey(store: String, keys: Seq[MetadataValue],
      schema: Option[String]) extends Command
  final case class AiDelKey(store: String, keys: Seq[MetadataValue],
      schema: Option[String]) extends Command
  final case class AiUpsert(store: String, newInput: Option[MetadataValue],
      newValue: Option[Map[String, MetadataValue]],
      condition: PredicateCondition, preprocessAction: String,
      executionProvider: Option[String],
      schema: Option[String]) extends Command
  /** AI-pipeline GETPRED must route through the AI engine so the reserved
    * `_ahnlich_input_key` is stripped back into the `input` slot
    * (ai/src/engine/operations.rs:276-278) — NOT the DB GetPred. */
  final case class AiGetPred(store: String, condition: PredicateCondition,
      schema: Option[String]) extends Command
  /** AI-pipeline DROPPREDINDEX keeps the reserved index alive
    * (operations.rs:276-278; the `keys - ReservedKey` guard). */
  final case class AiDropPredIndex(store: String, keys: Seq[String],
      errorIfNotExists: Boolean, schema: Option[String]) extends Command

  // ---- Extension statements (graft-only — the reference has none; the
  // LLM-data-pipeline operators of SURVEY §2.7 exposed to DSL scripting).
  // They act on REGISTERED TABLES (SCAN registers parquet as a view), not
  // engine stores: pipeline operators are corpus-relational, the store ops
  // above are vector-key-value — conflating the two surfaces would force
  // every corpus through a store schema it doesn't have.
  /** format ∈ parquet (default) | jsonl | csv — non-parquet formats read
    * through the schema'd PERMISSIVE corpus reader (good rows only). */
  final case class ExtScan(path: String, view: String,
      format: String = "parquet") extends Command
  final case class ExtDedupExact(view: String, id: String, text: String)
      extends Command
  /** method ∈ minhash | simhash | jaccard. */
  final case class ExtDedupNear(view: String, id: String, text: String,
      method: String, n: Int, threshold: Double) extends Command
  final case class ExtDedupKeepOne(view: String, id: String, text: String,
      method: String, n: Int, threshold: Double) extends Command
  /** Quality-ranked keep-one (ConnectedComponents.dropNearDuplicatesKeepBest). */
  final case class ExtDedupKeepBest(view: String, id: String, text: String,
      rank: String, method: String, n: Int, threshold: Double) extends Command
  /** SemDeDup-style embedding-cosine keep-one (Dedup.semanticKeepOne). */
  final case class ExtDedupSemantic(view: String, id: String, vec: String,
      threshold: Double) extends Command
  final case class ExtSplit(view: String, id: String, trainPct: Int,
      valPct: Int) extends Command
  /** Leakage-safe split (Corpus.leakageSafeSplit): near-dup clusters —
    * pairs from the named method — land whole on one side. */
  final case class ExtSplitSafe(view: String, id: String, text: String,
      method: String, n: Int, threshold: Double, trainPct: Int,
      valPct: Int) extends Command
  final case class ExtSample(view: String, id: String, fraction: Double)
      extends Command
  final case class ExtBudgetSelect(view: String, id: String, text: String,
      budget: Long) extends Command
  /** Seeded k-means cluster assignment (pipeline.Cluster.assign). */
  final case class ExtClusterAssign(view: String, id: String, vec: String,
      k: Int) extends Command
  /** Cluster-balanced sampling (pipeline.Cluster.balancedSample). */
  final case class ExtClusterSample(view: String, id: String, vec: String,
      k: Int, per: Int) extends Command
  /** Full iterated k-means (pipeline.Cluster.kmeans). */
  final case class ExtClusterKmeans(view: String, id: String, vec: String,
      k: Int, iters: Int) extends Command
  /** Embedding-space outlier report (pipeline.Cluster.embeddingOutliers). */
  final case class ExtClusterOutliers(view: String, id: String, vec: String,
      k: Int, factor: Int) extends Command
  /** Corpus-wide n-gram heavy hitters (text.HeavyHitters.ngramTopK). */
  final case class ExtNgramTopK(view: String, text: String, n: Int,
      k: Int) extends Command
  /** Hard-negative mining (ann.Negatives.hardNegatives); `ivf` routes
    * through a per-statement labeled cosine IVF build (cells, probe) —
    * the million-anchor arm (IvfIndex.hardNegatives). */
  final case class ExtNegatives(k: Int, qView: String, qId: String,
      qVec: String, qLabel: String, cView: String, cId: String,
      cVec: String, cLabel: String,
      ivf: Option[(Int, Int)] = None) extends Command
  /** Cross-source n-gram overlap matrix (pipeline.Overlap.overlapMatrix). */
  final case class ExtOverlap(view: String, group: String, text: String,
      n: Int) extends Command
  /** Token-distribution drift matrix (pipeline.Overlap.tokenDrift). */
  final case class ExtDrift(view: String, group: String,
      text: String) extends Command
  /** Row-level corpus version diff (pipeline.Overlap.corpusDiff). */
  final case class ExtDiff(oldView: String, newView: String, id: String,
      text: String) extends Command
  final case class ExtPack(view: String, id: String, text: String,
      budget: Int, shards: Int) extends Command
  /** Deterministic epoch shuffle (Corpus.epochShuffle). */
  /** Materialized training-shard sink (pipeline.Corpus.writeShards):
    * returns the read-back per-shard manifest. */
  final case class ExtWriteShards(dir: String, view: String, id: String,
      text: String, epoch: Int, shards: Int) extends Command
  final case class ExtShuffle(view: String, id: String, epoch: Int,
      shards: Int) extends Command
  /** Per-group cap (Corpus.capPerGroup). */
  final case class ExtCap(view: String, id: String, group: String,
      max: Int) extends Command
  /** Temperature-flattened mixture sampling (Corpus.temperatureMix). */
  final case class ExtMix(view: String, id: String, group: String,
      target: Double, alpha: Double) extends Command
  /** Line-level boilerplate removal (Dedup.removeBoilerplateLines). */
  final case class ExtLines(view: String, id: String, text: String,
      maxDf: Int) extends Command
  /** N-gram benchmark decontamination (Dedup.decontaminate). */
  final case class ExtDecon(view: String, id: String, text: String,
      benchView: String, benchId: String, benchText: String, n: Int)
      extends Command
  /** Substring-level dedup (Dedup.removeRepeatedSpans). */
  final case class ExtSpans(view: String, id: String, text: String,
      n: Int) extends Command
  /** Corpus-trained bigram perplexity scoring (LangModel.bigramPerplexity). */
  final case class ExtPpl(view: String, id: String, text: String)
      extends Command
  /** Gopher quality-rule flags (TextOps.gopherFlags). */
  /** Gopher repetition-signal suite (text.TextOps.repetitionSignals). */
  final case class ExtRepetition(view: String, id: String, text: String)
      extends Command
  /** C4 blocklist filter (text.TextOps.blocklistHits). */
  final case class ExtBlocklist(view: String, id: String, text: String,
      words: Seq[String]) extends Command
  final case class ExtGopher(view: String, id: String, text: String)
      extends Command
  /** BM25 lexical top-k retrieval (Bm25.bm25TopK). */
  final case class ExtBm25(k: Int, queriesView: String, qId: String,
      qText: String, corpusView: String, cId: String, cText: String)
      extends Command
  /** DSIR importance weights vs a target corpus (Dsir.importanceWeights). */
  final case class ExtDsir(view: String, id: String, text: String,
      targetView: String, tId: String, tText: String) extends Command
  /** Naive Bayes classifier filtering (Classify.trainNaiveBayes +
    * predict): train on a labeled view, score the corpus view. */
  final case class ExtClassify(view: String, id: String, text: String,
      trainView: String, tId: String, tText: String, label: String)
      extends Command
  final case class ExtChunk(view: String, id: String, text: String,
      size: Int, overlap: Int) extends Command
  final case class ExtVocab(view: String, id: String, text: String)
      extends Command
  final case class ExtTextStats(view: String, id: String, text: String)
      extends Command
  /** Line-shape signals (text.TextOps.lineSignals). */
  final case class ExtLineSignals(view: String, id: String, text: String)
      extends Command
  /** Acceleration arm for [[ExtTopK]] — mirrors the library's top-k
    * family, every arm an alias over the one batch top-k core
    * (ann.TopKJoin): a candidate source (broadcast cross join, IVF probed
    * cells, routed shard graphs) × a coarse scorer (exact closeness, SQ8,
    * PQ ADC) × the exact rescore tail for the inexact scorers. Exact =
    * broadcast × exact; Quantized = broadcast × SQ8; Ivf = cells × exact
    * (or × SQ8 with a shortlist); Pq = broadcast × ADC; IvfPq = cells ×
    * ADC; Routed = routed graphs (rescored when the storage is quantized). */
  sealed trait TopKMode
  object TopKMode {
    case object Exact extends TopKMode
    final case class Quantized(shortlist: Int) extends TopKMode
    /** Exactly one of `probe` (PROBE p) and `recall` (RECALL r — the
      * [[Routed]] contract: calibrate once against the statement's query
      * view, pick the cheapest nProbe whose measured recall@k meets r at
      * the LCB, persist the curve when pinned) is set.
      * `indexDir`: USING INDEX <path> — load the stamped IVF artifact at
      * the path if present and shape-compatible, else build AND save
      * there, so a scripted pipeline pays the Lloyd training once across
      * invocations. The caller owns freshness (a pinned artifact dir is a
      * deployment decision, like ann.IvfIndex.buildOrLoad's sourceStamp). */
    final case class Ivf(cells: Int, probe: Option[Int],
        recall: Option[Double] = None,
        quantizedShortlist: Option[Int] = None,
        indexDir: Option[String] = None) extends TopKMode
    /** Product-quantized ADC arm (ann.PqCodebook.topKJoin). */
    final case class Pq(m: Int, ksub: Int, shortlist: Int) extends TopKMode
    /** IVF-ADC composition (ann.IvfIndex.pqTopKJoin). */
    final case class IvfPq(cells: Int, probe: Int, m: Int, ksub: Int,
        shortlist: Int) extends TopKMode
    /** Coarse-routed sharded HNSW batch join
      * (ann.RoutedAnnIndex.topKJoin — graph-speed partition pruning).
      * Exactly one of `probe` (PROBE p — the raw knob) and `recall`
      * (RECALL r — a measured target: the statement calibrates the index
      * once if needed and picks the cheapest probes whose measured
      * recall@k meets r, ann.RoutedAnnIndex.probesFor) is set.
      * `indexDir`: USING INDEX <path> — same load-or-build-and-save
      * contract as [[Ivf.indexDir]], via RoutedAnnIndex.buildOrLoad; a
      * RECALL statement also persists the calibration curve there, so
      * later invocations skip the measurement. */
    final case class Routed(shards: Int, probe: Option[Int],
        recall: Option[Double] = None,
        /** Node storage in the shard graphs (the memory-lever arm) — a
          * [[graft.ann.StorageSpec]] key: "f32" (default), "sq8" (the
          * SQ8 keyword), or "pq"/"pq(m=..,ksub=..)" (the PQ keyword,
          * optionally with M m KSUB k). A quantized statement
          * builds/loads a quantized index and serves through the
          * exact-rescored join; a RECALL target calibrates through that
          * same path against the exact corpus. RECALL 1.0 is refused
          * (the rescore shortlist is approximate at every probe count —
          * the IVF QUANTIZED rule). */
        storage: String = "f32",
        indexDir: Option[String] = None) extends TopKMode
  }
  final case class ExtTopK(k: Int, queriesView: String, qId: String,
      qVec: String, corpusView: String, cId: String, cVec: String,
      mode: TopKMode = TopKMode.Exact)
      extends Command
  /** RRF fusion of two ranked views (Hybrid.rrfFuse): each side needs
    * (qid, <docid>, rank); the per-side doc-id column is renamed to `did`
    * so BM25 output (did) and TOPK output (cid) fuse without projection
    * boilerplate. */
  final case class ExtFuse(k: Int, viewA: String, aDid: String,
      viewB: String, bDid: String, c: Int) extends Command
  /** Register the inner statement's result frame as a temp view — the
    * piping form that lets retrieval stages compose in one script:
    * `BM25 ... AS lex; TOPK ... AS vec; FUSE 5 FROM lex ID did IN vec
    * ID cid`. */
  final case class ExtAs(inner: Command, view: String) extends Command
  /** Engine-op tracing control (graft.obs.Trace): `TRACE ON|OFF` toggles
    * the recorder, `TRACE SHOW` returns the span frame, `TRACE RESET`
    * clears it. */
  final case class ExtTrace(action: String) extends Command
  /** As-of point-in-time enrichment (events.EventOps.asofJoin). */
  final case class ExtAsof(leftView: String, leftTs: String,
      rightView: String, rightTs: String, key: String, carry: Seq[String],
      toleranceUs: Option[Long]) extends Command
  /** Interval join (events.EventOps.intervalJoin). */
  final case class ExtInterval(leftView: String, leftTs: String,
      rightView: String, rightTs: String, key: String, carry: Seq[String],
      lowerUs: Long, upperUs: Long) extends Command
  /** URL canonicalization + domain keys (text.UrlOps): appends
    * url_canon / host / rdomain columns to the view. */
  final case class ExtUrlCanon(view: String, url: String) extends Command
  /** HTML → plain-text extraction (text.Html): appends a clean_text
    * column to the view. */
  final case class ExtHtmlExtract(view: String, html: String) extends Command
  /** Per-slice corpus data card (pipeline.Profile.dataCard). */
  final case class ExtDatacard(view: String, text: String,
      groups: Seq[String]) extends Command
  /** Per-slice embedding data card (pipeline.Profile.embeddingCard). */
  final case class ExtEmbedCard(view: String, vec: String,
      groups: Seq[String]) extends Command
  /** Build a persisted MinHash index from a view
    * (dedup.IncrementalDedup.buildIndex). */
  final case class ExtDedupIndex(dir: String, view: String, id: String,
      text: String, n: Int) extends Command
  /** Fold a batch view into an existing index (IncrementalDedup.append). */
  final case class ExtDedupAppend(dir: String, view: String, id: String,
      text: String) extends Command
  /** Dedup a batch view against a persisted index
    * (IncrementalDedup.dedupAgainst): (a = batch id, b = indexed id, jac). */
  final case class ExtDedupIncremental(dir: String, view: String, id: String,
      text: String, threshold: Double) extends Command
}

/** Parse failure with the offending statement's span in the input —
  * the analog of the reference's DslError::UnexpectedSpan
  * (dsl/src/error.rs). */
final case class DslParseError(message: String, start: Int, end: Int)
    extends RuntimeException(s"$message (at $start..$end)")
