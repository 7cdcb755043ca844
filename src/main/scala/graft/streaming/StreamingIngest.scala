package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.engine.GraftEngine

/**
 * Structured Streaming surface (an EXTENSION — the reference has no
 * streaming, SURVEY.md §2.7): continuous ingestion into engine stores and
 * event-stream analytics, built on the standard
 * readStream → transform → writeStream shape.
 *
 * Scale notes: ingestion rides foreachBatch so each micro-batch goes
 * through the SAME deterministic Set path as batch writes (dedup-by-content,
 * counts, index maintenance, parquet persistence when the engine is
 * persistent) — exactly-once per micro-batch via the sink's idempotent
 * upsert semantics. Aggregations use event-time windows + watermarks so
 * state is bounded; sessionization uses flatMapGroupsWithState with a
 * processing-time timeout as the custom-state example.
 */
object StreamingIngest {

  /** Continuous ingestion: a stream of (key ARRAY<FLOAT>, value MAP) entry
    * rows upserted into a store per micro-batch. Dedup-by-content makes
    * replayed batches idempotent — re-delivery updates instead of
    * duplicating. */
  def ingestEntries(engine: GraftEngine, store: String, entries: DataFrame,
      checkpointDir: String, schema: String = "public"): StreamingQuery =
    entries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { engine.set(store, batch, schema); () }
      }
      .start()

  /** CDC ingest into an engine STORE — the store-level twin of
    * [[streamingRoutedCdc]]: a change stream whose rows carry the entry
    * (key vector + value map) PLUS an op column (`insert`/`upsert`/`set`
    * — one tier, Set IS upsert-by-content — vs `delete`, value ignored)
    * and an optional sequence column. Each micro-batch compacts to the
    * last op per KEY VECTOR (the store's content identity; delete wins
    * equal-sequence ties), then net deletes go through
    * [[GraftEngine.delKey]] and net inserts through [[GraftEngine.set]] —
    * so every downstream maintenance path (bucket-incremental parquet,
    * predicate indexes, the ANN indexes' tombstone/append tiers)
    * composes exactly as in batch, and the final
    * store equals applying the net mutations directly (pinned in
    * StreamingSpec; oracle-gated by `vdb_cdc_stream`).
    *
    * Delete keys collect driver-side per micro-batch (delKey is
    * probe-shaped — the reference's DelKey takes an explicit key list);
    * `maxDeletesPerBatch` fails loudly past the bound rather than
    * accumulating an unbounded driver list — a corpus-sized delete is a
    * DelPred, not a CDC replay. */
  def ingestCdcEntries(engine: GraftEngine, store: String, cdc: DataFrame,
      keyCol: String, valueCol: String, opCol: String,
      seqCol: Option[String] = None, checkpointDir: Option[String] = None,
      schema: String = "public",
      maxDeletesPerBatch: Int = 1 << 18): StreamingQuery = {
    val w = cdc.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        {
          val op = lower(trim(col(opCol)))
          val opNorm = when(op.isin("insert", "upsert", "set"), lit("insert"))
            .when(op === "delete", lit("delete"))
            .otherwise(raise_error(concat(
              lit("ingestCdcEntries: unknown op '"), col(opCol).cast("string"),
              lit("' (expected insert/upsert/set/delete)"))))
          val compacted = batch.select(
              col(keyCol).cast("array<float>").as("key"),
              col(valueCol).as("value"), opNorm.as("op"),
              seqCol.fold(lit(0L))(c => col(c).cast("long")).as("seq"))
            .groupBy("key")
            .agg(max_by(struct(col("op"), col("value")),
              struct(col("seq"), (col("op") === "delete").cast("int"))).as("_l"))
            .select(col("key"), col("_l.op").as("op"), col("_l.value").as("value"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // ONE stats aggregate per micro-batch (r18, guide §1.2): it
            // materializes the compacted cache and resolves (total rows,
            // delete rows) together — replacing the batch.isEmpty probe +
            // the separate delete count, and letting a delete-only batch
            // skip the Set call (and an insert-only batch the DelKey)
            // outright. Count FIRST, collect after the batch is known
            // under the cap: the delete payload is full key VECTORS
            // (dim × 4 B each, plus Row overhead — 1-2 GB at embedding
            // dims near the cap), so a limit(cap+1).collect() probe would
            // OOM the driver before the loud GraftException it exists to
            // raise (round-13 advice).
            val stats = compacted.agg(count(lit(1)),
              sum((col("op") === "delete").cast("long"))).head()
            val total = stats.getLong(0)
            val nDel = if (stats.isNullAt(1)) 0L else stats.getLong(1)
            if (nDel > maxDeletesPerBatch)
              throw graft.types.GraftException(
                s"ingestCdcEntries: a micro-batch carries $nDel deletes " +
                  s"(cap $maxDeletesPerBatch) — use delPred for " +
                  s"corpus-scale deletion, not a CDC replay")
            if (nDel > 0)
              engine.delKey(store,
                compacted.where(col("op") === "delete").select("key")
                  .collect().map(_.getSeq[Float](0).toArray).toSeq, schema)
            if (total - nDel > 0) {
              engine.set(store, compacted.where(col("op") === "insert")
                .select(col("key"), col("value")), schema)
              ()
            }
          } finally compacted.unpersist(blocking = false)
        }
      }
      .start()
  }

  /** CDC ingest into an AI store — the AI-layer twin of
    * [[ingestCdcEntries]] (round-14): the change stream carries RAW
    * inputs (text/image/audio as the MetadataValue struct), not vectors,
    * so each micro-batch runs the FULL AI write machinery — embed with
    * the store's index model inside [[graft.ai.AiEngine.setDf]]
    * (mapPartitions, broadcast embedder), reserved `_ahnlich_input_key`
    * stashing, one-to-many expansion, and the composite stale-delete+Set
    * swap — while net deletes go through [[graft.ai.AiEngine.delKey]]
    * (delete by raw input via the reserved key). Downstream, everything
    * composes exactly as in batch: bucket-incremental parquet, predicate
    * indexes, the ANN indexes' tombstone/append tiers (the crawl-shaped
    * production pipeline:
    * Debezium log of a document table in front, vector store maintenance
    * behind, zero hand-written glue).
    *
    * The batch compacts to the last op per INPUT (delete wins
    * equal-sequence ties) — the raw input IS the AI identity (one input
    * embeds to one deterministic vector, the store's content id).
    * Requires a STOREORIGINAL store (delete-by-input needs the reserved
    * key — [[graft.ai.AiEngine.delKey]]'s own precondition, surfaced
    * loudly on the first delete). Delete inputs collect driver-side
    * per micro-batch, COUNT-checked before the collect (an input can be
    * megabytes of image/audio bytes — the [[ingestCdcEntries]] cap
    * discipline); a corpus-scale delete is a DelPred, not a CDC replay. */
  def ingestAiCdcEntries(ai: graft.ai.AiEngine, store: String, cdc: DataFrame,
      inputCol: String, valueCol: String, opCol: String,
      seqCol: Option[String] = None, checkpointDir: Option[String] = None,
      schema: String = "public",
      maxDeletesPerBatch: Int = 1 << 18): StreamingQuery = {
    val w = cdc.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        {
          val op = lower(trim(col(opCol)))
          val opNorm = when(op.isin("insert", "upsert", "set"), lit("insert"))
            .when(op === "delete", lit("delete"))
            .otherwise(raise_error(concat(
              lit("ingestAiCdcEntries: unknown op '"), col(opCol).cast("string"),
              lit("' (expected insert/upsert/set/delete)"))))
          val compacted = batch.select(
              col(inputCol).as("input"), col(valueCol).as("value"),
              opNorm.as("op"),
              seqCol.fold(lit(0L))(c => col(c).cast("long")).as("seq"))
            .groupBy("input")
            .agg(max_by(struct(col("op"), col("value")),
              struct(col("seq"), (col("op") === "delete").cast("int"))).as("_l"))
            .select(col("input"), col("_l.op").as("op"), col("_l.value").as("value"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // one stats aggregate per micro-batch — see [[ingestCdcEntries]]
            // (r18): materializes the cache, replaces the isEmpty probe +
            // delete count, and lets one-sided batches skip the unused
            // engine call. The count-before-collect cap discipline is
            // unchanged (an input can be megabytes of image/audio bytes).
            val stats = compacted.agg(count(lit(1)),
              sum((col("op") === "delete").cast("long"))).head()
            val total = stats.getLong(0)
            val nDel = if (stats.isNullAt(1)) 0L else stats.getLong(1)
            if (nDel > maxDeletesPerBatch)
              throw graft.types.GraftException(
                s"ingestAiCdcEntries: a micro-batch carries $nDel deletes " +
                  s"(cap $maxDeletesPerBatch) — use delPred for " +
                  s"corpus-scale deletion, not a CDC replay")
            if (nDel > 0)
              ai.delKey(store,
                compacted.where(col("op") === "delete").select("input").collect()
                  .map(r => graft.ai.AiEngine.rowToMeta(r.getStruct(0))).toSeq,
                schema)
            if (total - nDel > 0) {
              ai.setDf(store, compacted.where(col("op") === "insert")
                .select(col("input"), col("value")), schema)
              ()
            }
          } finally compacted.unpersist(blocking = false)
        }
      }
      .start()
  }

  /** Stream-side perplexity scoring: each micro-batch of documents is
    * scored against a BATCH-trained bigram model — the CCNet production
    * shape (the reference LM is static, the crawl is the stream). Pure
    * stream-static enrichment through foreachBatch: a document is one
    * row, so scoring needs no cross-batch state and no watermark, and the
    * result is independent of how the stream is batched (pinned against
    * the batch scorer in StreamingSpec). `sink` receives each scored
    * micro-batch. The model's count plans are persisted here so each
    * batch reuses the trained aggregations instead of re-running them
    * over the reference corpus; call `model.unpersist()` once the query
    * stops. */
  def scoreStreamPerplexity(docs: DataFrame,
      model: graft.text.LangModel.BigramModel, idCol: String,
      textCol: String, checkpointDir: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    model.persist()
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.text.LangModel.score(model, batch, idCol, textCol))
      }
      .start()
  }

  /** Event-time tumbling-window aggregation per event type; identical
    * semantics in batch and streaming (pass a watermark for streams so
    * state is dropped once the window closes). Money-style sums go through
    * DECIMAL so partial-aggregation order can't change the result. */
  def windowedEventStats(events: DataFrame, windowLength: String,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))
  }

  /** Streaming n-gram monitor: windowed event-time counts of a FIXED,
    * batch-mined gram set over a document stream — the ingest-side "is
    * this boilerplate/contamination marker surging" probe that pairs with
    * [[graft.text.HeavyHitters]] (mine candidates in batch, monitor them
    * continuously). State is bounded by |grams| × windows-in-horizon: the
    * watermark closes windows, and the membership test runs INSIDE the
    * [[org.apache.spark.sql.graftbridge.NgramResolve]] kernel, so only
    * candidate hits ever explode — a streaming top-k over the OPEN
    * vocabulary would need vocabulary-sized state and is deliberately not
    * this op. Candidate hashes are derived by running the SAME NgramHash
    * kernel over the candidate strings (one driver-bounded job over
    * |grams| rows), so the two passes share one gram byte image and can
    * never disagree; a candidate that does not tokenize to exactly one
    * n-gram is a caller error and fails loudly. Works identically on a
    * batch frame (the oracle twin) and a stream (agreement pinned in
    * StreamingSpec). Returns (window_start, ngram, n). */
  def ngramMonitor(docs: DataFrame, tsCol: String, textCol: String,
      n: Int, grams: Seq[String], windowLength: String,
      watermark: Option[String] = None): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(grams.nonEmpty, "ngramMonitor needs at least one gram to watch")
    import org.apache.spark.sql.graftbridge.{ColumnBridge, NgramHash, NgramResolve}
    import graft.text.TextOps
    val ss = docs.sparkSession
    import ss.implicits._
    val cand = grams.toDF("g")
      .select(col("g"), ColumnBridge.column(NgramHash(
        ColumnBridge.expression(TextOps.tokens(col("g"))), n)).as("hs"))
      .collect()
    cand.foreach { r =>
      require(r.getSeq[Long](1).length == 1,
        s"'${r.getString(0)}' does not tokenize to exactly one $n-gram")
    }
    val hashes = cand.map(_.getSeq[Long](1).head).distinct
    val src = watermark.fold(docs)(w => docs.withWatermark(tsCol, w))
    src.select(col(tsCol),
        explode(ColumnBridge.column(NgramResolve(
          ColumnBridge.expression(TextOps.tokens(col(textCol))),
          n, hashes))).as("ngram"))
      .groupBy(window(col(tsCol), windowLength).as("w"), col("ngram"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("ngram"), col("n"))
  }

  /** Streaming drift counts: windowed occurrence counts of a FIXED
    * reference vocabulary (typically the batch corpus's top-K tokens —
    * [[graft.pipeline.Overlap.tokenDrift]]'s continuous sibling) plus an
    * `__other__` bucket carrying all remaining token mass, so a window's
    * FULL unigram distribution is recoverable from K+1 rows. State is
    * (K+1) × windows-in-horizon — bounded no matter the stream's
    * vocabulary, which is the entire trick: open-vocabulary distribution
    * tracking would need vocab-sized state. Same kernel-membership /
    * shared-byte-image discipline as [[ngramMonitor]]. Returns
    * (window_start, token, n); feed [[driftFromCounts]] for the per-window
    * L1-vs-reference alarm. `__other__` is reserved and refused as a
    * reference token. */
  def streamingDriftCounts(docs: DataFrame, tsCol: String, textCol: String,
      refTokens: Seq[String], windowLength: String,
      watermark: Option[String] = None): DataFrame = {
    require(refTokens.nonEmpty, "drift counts need a reference vocabulary")
    require(!refTokens.contains("__other__"),
      "__other__ is the reserved remainder bucket")
    import org.apache.spark.sql.graftbridge.{ColumnBridge, NgramHash, NgramResolve}
    import graft.text.TextOps
    val ss = docs.sparkSession
    import ss.implicits._
    val cand = refTokens.toDF("g")
      .select(col("g"), ColumnBridge.column(NgramHash(
        ColumnBridge.expression(TextOps.tokens(col("g"))), 1)).as("hs"))
      .collect()
    cand.foreach { r =>
      require(r.getSeq[Long](1).length == 1,
        s"'${r.getString(0)}' does not tokenize to exactly one token")
    }
    val hashes = cand.map(_.getSeq[Long](1).head).distinct
    val src = watermark.fold(docs)(w => docs.withWatermark(tsCol, w))
      .where(trim(col(textCol)) =!= "") // [''] is not a token (tokenDrift rule)
    val hitsArr = ColumnBridge.column(NgramResolve(
      ColumnBridge.expression(TextOps.tokens(col(textCol))), 1, hashes))
    // ONE projection emits both the per-occurrence hit rows and the
    // per-doc `__other__` remainder row (a hits ∪ other UNION scanned the
    // corpus — and ran the resolve kernel — twice: measured 45.1 → 19.4 s
    // at 500k docs; inside one projection, subexpression elimination
    // evaluates the resolve array once)
    src.select(col(tsCol).as("_ts"),
        explode(concat(
          transform(hitsArr, t => struct(t.as("token"), lit(1L).as("cnt"))),
          array(struct(lit("__other__").as("token"),
            (TextOps.tokenCount(col(textCol)).cast("long") - size(hitsArr))
              .as("cnt"))))).as("p"))
      .where(col("p.cnt") > 0)
      .groupBy(window(col("_ts"), windowLength).as("w"), col("p.token").as("token"))
      .agg(sum(col("p.cnt")).as("n"))
      .select(col("w.start").as("window_start"), col("token"), col("n"))
  }

  /** Batch finisher for [[streamingDriftCounts]]: per window, the L1
    * distance between the window's (K+1)-bucket distribution and the
    * reference distribution. The reference is a RATIONAL distribution —
    * `refNum` maps token → numerator over the common denominator
    * `refDen`; the remaining mass, refDen − Σ numerators, is the
    * reference's own `__other__`. Reference tokens absent from a window
    * contribute their full reference mass — the window's count is zero,
    * not missing.
    *
    * Hash-robustness discipline (the [[graft.pipeline.Profile.dataCard]]
    * rule): with integer counts n_t, window total W and rational
    * reference p_t/refDen, every L1 term is |n_t/W − p_t/refDen| =
    * |refDen·n_t − p_t·W| / (refDen·W) — so the alarm ships the EXACT
    * integer numerator `l1_num` = Σ_t |refDen·n_t − p_t·W| and
    * denominator `l1_den` = refDen·W. Pure BIGINT arithmetic: identical
    * bytes on any engine, no double rounding anywhere (l1 = l1_num /
    * l1_den when a float is wanted). Overflow headroom: refDen·W tops
    * out at refDen × tokens-per-window — 2⁶³ leaves ~10¹⁴ tokens per
    * window at refDen ≤ 10⁵.
    *
    * Runs on the materialized counts table (or inside foreachBatch) — a
    * second streaming aggregation over an aggregation isn't a thing
    * Structured Streaming allows, and the finisher input is (K+1) ×
    * windows rows, driver-scale by construction. */
  def driftFromCounts(counts: DataFrame, refNum: Map[String, Long],
      refDen: Long): DataFrame = {
    require(refNum.nonEmpty, "empty reference distribution")
    require(refDen > 0, s"refDen must be positive, got $refDen")
    require(refNum.values.forall(p => p >= 0 && p <= refDen) &&
      refNum.values.sum <= refDen,
      "reference must be a (sub-)probability distribution: numerators in " +
        s"[0, $refDen] summing to at most $refDen")
    val ss = counts.sparkSession
    import ss.implicits._
    val otherNum = refDen - refNum.values.sum
    val ref = (refNum.toSeq :+ ("__other__" -> otherNum))
      .toDF("token", "rp")
    val wTotals = counts.groupBy("window_start").agg(sum(col("n")).as("wt"))
    // full (window × reference-token) grid so absent tokens count their
    // mass. grid and counts share attribute lineage (wTotals derives from
    // counts), so the right side is RE-PROJECTED under fresh names —
    // qualifier aliases alone cannot disambiguate shared expression ids
    val grid = wTotals.crossJoin(broadcast(ref))
    val rhs = counts.select(col("window_start").as("_w"),
      col("token").as("_k"), col("n").as("_n"))
    grid.join(rhs,
        col("window_start") === col("_w") && col("token") === col("_k"),
        "left")
      .withColumn("_t",
        abs(lit(refDen) * coalesce(col("_n"), lit(0L)) -
          col("rp") * col("wt")))
      .groupBy(col("window_start"), col("wt"))
      .agg(sum(col("_t")).cast("long").as("l1_num"))
      .select(col("window_start"), col("wt").as("n_tokens"),
        col("l1_num"), (col("wt") * lit(refDen)).cast("long").as("l1_den"))
  }

  /** Streaming embedding card — the vector-ingest health alarm: per
    * (event-time window, slice), the ALGEBRAIC half of
    * [[graft.pipeline.Profile.embeddingCard]] (counts, dimension range,
    * zero / non-finite vectors, decimal-exact norm stats). A ragged-dim
    * or NaN burst from an upstream embedder shows up in the window it
    * arrives, not at the next batch audit. Distinct/dup counting is
    * deliberately absent — distinct aggregates aren't streaming-legal and
    * dup auditing belongs to the batch card; every aggregate here
    * map-side-combines, so state is one partial row per (window, slice).
    * Identical semantics on a batch frame (the oracle twin). */
  def streamingEmbeddingCard(vecs: DataFrame, tsCol: String, vecCol: String,
      groupCols: Seq[String], windowLength: String,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(vecs)(w => vecs.withWatermark(tsCol, w))
    val feats = graft.pipeline.Profile.embFeatures(src, vecCol,
      col(tsCol) +: groupCols.map(col))
    val aggs = graft.pipeline.Profile.embAlgebraicAggs
    feats
      .groupBy(window(col(tsCol), windowLength).as("w") +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("window_start") +: groupCols.map(col) ++:
        Seq(col("n_vecs"), col("dims_min"), col("dims_max"), col("n_zero"),
          col("n_nonfinite"), col("norm_min_e6"), col("norm_max_e6"),
          col("norm_sum_e6"), col("n_finite")): _*)
  }

  /** Streaming exact dedup — the continuous twin of
    * [[graft.dedup.Dedup.dropExactDuplicates]]: keep the first arrival of
    * each content hash, drop re-arrivals. `dropDuplicatesWithinWatermark`
    * bounds the dedup state to the watermark horizon (a plain
    * dropDuplicates would grow state with every distinct document forever —
    * unusable on an unbounded corpus stream); re-arrivals separated by MORE
    * than the watermark delay pass through, which is the documented
    * horizon/state tradeoff, not a bug. The content hash column rides along
    * in the output for downstream exact verification. */
  def streamingDropDuplicates(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  // carries the watermarked ts COLUMN itself (not a derived epoch): the
  // event-time timeout's analyzer requires the watermark tag to survive
  // into the stateful operator's input
  final case class BandRow(band_key: Long, doc_id: Long, ts: java.sql.Timestamp)
  final case class BandState(docIds: List[Long], lastSeenMs: Long)
  final case class CandidatePair(a: Long, b: Long)

  /** Streaming near-dup CANDIDATE stream — the continuous twin of
    * [[graft.dedup.Dedup.minHashLshJoin]]'s candidate generation: each doc's
    * per-row MinHash signature ([[graft.dedup.Dedup.minHashSignature]] —
    * bit-identical to the batch aggregation) explodes into (band, value)
    * keys, and a stateful operator keyed on the band key pairs every
    * arrival against the docs already seen under that key. Emits UNVERIFIED
    * candidate pairs (a < b, possibly repeated across bands): exact Jaccard
    * verification stays a downstream batch join against stored text, the
    * same contract as the batch path — band collisions can't reach a dedup
    * decision unverified.
    *
    * State discipline (the part Spark's dropDuplicates can't express — a
    * doc must match ANY of its 16 band keys, not one composite): per-band
    * state is a bounded id list. `maxDocsPerBand` is the streaming analog
    * of [[graft.dedup.Dedup.jaccardJoin]]'s `maxShingleDf` skew guard — a
    * corpus-hot band (template text) would otherwise emit C(d,2) pairs and
    * hold unbounded state; ids beyond the cap neither pair nor enter state.
    * An EventTimeTimeout (watermark + `stateHorizonMs` past the band's last
    * arrival) drops idle band state, so total state is bounded by the
    * arrival rate × horizon, not the corpus. */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String, watermark: String,
      n: Int = 3, numHashes: Int = 16, maxDocsPerBand: Int = 64,
      stateHorizonMs: Long = 3600L * 1000L): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val sig = graft.dedup.Dedup.minHashSignature(col(textCol), n, numHashes)
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"), sig.as("sig"))
      .where(col("sig").isNotNull) // < n tokens: no shingles, no bands
      .select(col("doc_id"), col("ts"),
        posexplode(col("sig")).as(Seq("band", "value")))
      // one long key per (band ordinal, min-value) — same collision domain
      // as the batch join's (band, value) equality
      .select(xxhash64(col("band"), col("value")).as("band_key"),
        col("doc_id"), col("ts"))
      .as[BandRow]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[BandState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[BandRow], state: GroupState[BandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(BandState(Nil, 0L))
            var ids = st.docIds
            var lastMs = st.lastSeenMs
            val out = scala.collection.mutable.ArrayBuffer[CandidatePair]()
            // deterministic intra-batch order: by arrival time then id
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              if (!ids.contains(r.doc_id) && ids.size < maxDocsPerBand) {
                ids.foreach(prev => out +=
                  CandidatePair(math.min(prev, r.doc_id), math.max(prev, r.doc_id)))
                ids = r.doc_id :: ids
              }
              lastMs = math.max(lastMs, r.ts.getTime)
            }
            state.update(BandState(ids, lastMs))
            state.setTimeoutTimestamp(lastMs + stateHorizonMs)
            out.iterator
          }
      }
  }

  /** Stream-vs-HISTORY near-dup candidates — the stream-static twin of
    * [[graft.dedup.IncrementalDedup.dedupAgainst]]'s candidate stage: each
    * arriving doc's per-row MinHash signature
    * ([[graft.dedup.Dedup.minHashSignature]] — the same values the index's
    * band table persists, pinned in IncrementalDedupSpec) explodes into
    * (band, value) keys and inner-joins the PERSISTED band table. Emits
    * UNVERIFIED (doc_id, hist_id) collisions — STATELESS (a stream-static
    * join holds no state; the static side is the index, bounded on disk),
    * so unlike [[streamingNearDupCandidates]] there is no watermark, no
    * cap, no horizon: history isn't a stream, it's a table. A pair
    * colliding in several bands repeats; verification dedups — use
    * [[streamingDedupAgainstIndex]] for decisions. */
  def streamingIndexCandidates(index: graft.dedup.MinHashIndex,
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = graft.dedup.Dedup.minHashSignature(
      col(textCol), index.n, index.numHashes)
    docs
      .select(col(idCol).cast("long").as("doc_id"), sig.as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "value")))
      .join(index.bands
          .select(col("band"), col("value"), col("id").as("hist_id")),
        Seq("band", "value"))
      .select(col("doc_id"), col("hist_id"))
  }

  /** Stream-vs-history near-dup DECISIONS: each micro-batch runs the full
    * verified [[graft.dedup.IncrementalDedup.dedupAgainst]] (band probe +
    * size-ratio prune + exact-Jaccard verify) against the persisted index
    * — the CCNet/crawl production shape, like [[scoreStreamPerplexity]]:
    * history is static, the crawl is the stream, and the exact verify is
    * a batch join by construction (it needs both sides' shingle sets), so
    * foreachBatch is the honest seam, not a limitation. `sink` receives
    * each micro-batch's (a = stream id, b = history id, jac) pairs; the
    * result is independent of how the stream is batched (each doc verifies
    * against the INDEX, not against co-batched docs — pinned in
    * StreamingSpec). Callers who also need stream-vs-stream dedup within
    * the horizon compose [[streamingNearDupCandidates]] upstream. */
  def streamingDedupAgainstIndex(index: graft.dedup.MinHashIndex,
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      checkpointDir: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val w = docs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.dedup.IncrementalDedup.dedupAgainst(
            index, batch, idCol, textCol, threshold))
      }
      .start()
  }

  /** Live handle to a routed ANN index under continuous ingest
    * ([[streamingRoutedAppend]]): `current` is always a complete,
    * searchable index (readers never see a half-applied batch — each
    * micro-batch's append materializes before the reference swings), and
    * the maintenance counters say which LSM tier each batch took. A
    * RECLUSTER is [[graft.ann.RoutedAnnIndex.rebuild]]: the index keeps
    * its router kind, so an id-hash handle (`hnsw`, `kdtree`) rebuilds
    * id-hash and only a k-means handle runs new Lloyd rounds.
    *
    * SQ8 handles (a quantized initial index): appends/compactions/
    * deletes carry codes losslessly ([[graft.ann.VecPayload]]), but a
    * RECLUSTER here extracts via [[graft.ann.RoutedAnnIndex.rows]] —
    * dequantized floats — and re-encodes, costing ≤ one quantization
    * step per recluster (reclusters are drift-guard-rare by design).
    * A pipeline that must recluster losslessly keeps the exact vectors
    * in a table and rebuilds from it, as the ENGINE's routed maintenance
    * does (its recluster reads the store frame, never the index). */
  final class StreamingRoutedIndex(initial: graft.ann.RoutedAnnIndex) {
    @volatile private var idx: graft.ann.RoutedAnnIndex = initial
    @volatile private var nReclusters: Long = 0L
    @volatile private var nAppends: Long = 0L
    @volatile private var nCompacts: Long = 0L
    @volatile private var nTombstones: Long = 0L
    def current: graft.ann.RoutedAnnIndex = idx
    def reclusterCount: Long = nReclusters
    def appendCount: Long = nAppends
    def compactCount: Long = nCompacts
    def tombstoneCount: Long = nTombstones
    private[streaming] def ingest(batch: DataFrame): Unit = this.synchronized {
      val old = idx
      val spark = batch.sparkSession
      // each micro-batch lands in exactly one LSM tier; the tier is both
      // counted here and emitted as a Trace marker event, so an operator
      // reading the trace of a slow micro-batch sees WHY (it reclustered)
      // without opening the Spark UI
      old.appendOutcome(batch) match {
        case Some(out) =>
          idx = out.index // predecessor released inside appendOutcome
          if (out.tier == "compact") nCompacts += 1 else nAppends += 1
          graft.obs.Trace.event(spark, s"routed:${out.tier}", "stream-ingest")
        case None => // drift guard: recluster over everything + the batch
          import spark.implicits._
          val all = old.rows.toDF("id", "key")
            .select(col("id"), col("key").cast("array<float>").as("key"))
            .union(batch.select(col("id").cast("long"), col("key")))
          idx = old.rebuild(all)
          old.unpersist()
          nReclusters += 1
          graft.obs.Trace.event(spark, "routed:recluster", "stream-ingest")
      }
    }

    /** CDC variant of [[ingest]]: the micro-batch carries an op column
      * beside the vector — inserts AND deletes in one change stream. The
      * batch is first COMPACTED to the last op per id (max sequence; at
      * equal sequence delete wins, so replayed ties stay deterministic),
      * then net deletes take the tombstone tier
      * ([[graft.ann.RoutedAnnIndex.delete]] — work ≈ 0, guard-routed local
      * compaction) and net inserts the append tier, in that order. After
      * compaction no id is in both sets, and a cross-batch delete→insert
      * resurrects (append clears the tombstone — a content id names one
      * immutable vector). Net delete ids collect driver-side, bounded by
      * [[graft.ann.RoutedAnnIndex.DefaultMaxTombstones]] per batch; a
      * bigger delete batch RECLUSTERS over the net survivor set via a
      * distributed anti-join (at that churn the rebuild amortizes — the
      * same cutover rule as GraftEngine.RoutedDeleteCap), so no driver
      * structure ever scales with delete cardinality. One CDC batch can
      * take up to TWO maintenance tiers (its delete tier + its insert
      * tier); the counters and Trace markers record each. */
    private[streaming] def ingestCdc(batch: DataFrame,
        maxDeleteCollect: Int =
          graft.ann.RoutedAnnIndex.DefaultMaxTombstones): Unit = this.synchronized {
      val spark = batch.sparkSession
      import org.apache.spark.storage.StorageLevel
      // compact to the LAST op per id: max_by over (seq, opRank) — the
      // delete rank breaks equal-seq ties toward the conservative op
      val last = batch.groupBy("id")
        .agg(max_by(struct(col("op"), col("key")),
          struct(col("seq"), (col("op") === "delete").cast("int"))).as("_l"))
        .select(col("id"), col("_l.op").as("op"), col("_l.key").as("key"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE stats aggregate per micro-batch (r18): materializes the
        // compacted cache and resolves (total, deletes) together — the
        // empty-batch, delete-only and insert-only shapes each skip their
        // unused tier (and their probe jobs: the former limit-collect +
        // inserts.isEmpty pair, plus the caller's batch.isEmpty) outright.
        // Delete ids collect only when 0 < deletes ≤ the cutover — the
        // driver never materializes an over-cap delete set.
        val stats = last.agg(count(lit(1)),
          sum((col("op") === "delete").cast("long"))).head()
        val total = stats.getLong(0)
        val nDel = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        if (total == 0) return
        val old = idx
        if (nDel > maxDeleteCollect) {
          // churn past the tombstone guards: one recluster over the net
          // survivor set amortizes (the measured 20%-churn datapoint) and
          // the delete ids never materialize on the driver
          import spark.implicits._
          val dels = last.where(col("op") === "delete").select("id")
          val survivors = old.rows.toDF("id", "key")
            .join(dels, Seq("id"), "left_anti")
          val net = survivors
            .select(col("id"), col("key").cast("array<float>").as("key"))
            .union(last.where(col("op") === "insert")
              .select(col("id").cast("long"), col("key").cast("array<float>")))
          idx = old.rebuild(net)
          old.unpersist()
          nReclusters += 1
          graft.obs.Trace.event(spark, "routed:recluster", "stream-ingest")
          return
        }
        val afterDel =
          if (nDel == 0) old
          else {
            val delRows = last.where(col("op") === "delete").select("id").collect()
            val out = old.delete(delRows.map(_.getLong(0)).toSeq)
            if (out.tier == "compact") nCompacts += 1 else nTombstones += 1
            graft.obs.Trace.event(spark, s"routed:${out.tier}", "stream-ingest")
            out.index
          }
        val inserts = last.where(col("op") === "insert")
          .select(col("id"), col("key").cast("array<float>").as("key"))
        if (total - nDel == 0) { idx = afterDel; return }
        afterDel.appendOutcome(inserts) match {
          case Some(out) =>
            idx = out.index // predecessor released inside appendOutcome
            if (out.tier == "compact") nCompacts += 1 else nAppends += 1
            graft.obs.Trace.event(spark, s"routed:${out.tier}", "stream-ingest")
          case None => // drift guard: recluster over survivors + the batch
            import spark.implicits._
            val all = afterDel.rows.toDF("id", "key")
              .select(col("id"), col("key").cast("array<float>").as("key"))
              .union(inserts)
            idx = afterDel.rebuild(all)
            afterDel.unpersist()
            nReclusters += 1
            graft.obs.Trace.event(spark, "routed:recluster", "stream-ingest")
        }
      } finally last.unpersist(blocking = false)
    }
  }

  /** Continuous embedding ingest into a coarse-routed ANN index — the
    * streaming twin of [[graft.ann.RoutedAnnIndex.append]] and the ANN
    * analog of [[streamingDedupAgainstIndex]]: the index is the history,
    * the embedding stream is the crawl, and each micro-batch takes the
    * measured LSM maintenance tier (exact overlay append; local
    * compaction past the patch fraction; full recluster only when the
    * batch's assignment objective says the routing centroids went stale —
    * the ScaleStaleness trigger rule). `handle.current` serves queries
    * between batches with zero read/ingest contention beyond a reference
    * swap. Search results at exhaustive probes are independent of how
    * the stream was batched (overlay tails are exact — pinned in
    * StreamingSpec). */
  def streamingRoutedAppend(index: graft.ann.RoutedAnnIndex,
      vecs: DataFrame, idCol: String, keyCol: String,
      checkpointDir: Option[String] = None): (StreamingRoutedIndex, StreamingQuery) = {
    val handle = new StreamingRoutedIndex(index)
    val w = vecs.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    val q = w.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          handle.ingest(batch.select(
            col(idCol).cast("long").as("id"), col(keyCol).as("key")))
      }
      .start()
    (handle, q)
  }

  /** CDC ingest into a coarse-routed ANN index: the change-data-capture
    * twin of [[streamingRoutedAppend]] for streams that carry DELETES
    * beside inserts (a Debezium-shaped log of an upstream vector table).
    * `opCol` values: `insert`/`upsert`/`set` (one tier — a content id
    * names one immutable vector, so upsert IS re-insert, and re-inserting
    * a deleted id resurrects it), `delete` (key may be null); anything
    * else fails the batch loudly. `seqCol` orders ops WITHIN a micro-batch
    * (per id, the max-sequence op wins; delete wins equal-sequence ties) —
    * without it a batch must not carry both ops for one id or the delete
    * wins. Each micro-batch's net deletes take the tombstone tier and its
    * net inserts the append tier ([[StreamingRoutedIndex.ingestCdc]] —
    * guards route to local compaction / recluster exactly as in batch),
    * so the final index equals applying the same net mutations through
    * [[graft.ann.RoutedAnnIndex.delete]]/`append` in batch — pinned in
    * StreamingSpec, oracle-gated by `embed_topk_routed_cdc_stream`. */
  def streamingRoutedCdc(index: graft.ann.RoutedAnnIndex, cdc: DataFrame,
      idCol: String, keyCol: String, opCol: String,
      seqCol: Option[String] = None,
      checkpointDir: Option[String] = None): (StreamingRoutedIndex, StreamingQuery) = {
    val handle = new StreamingRoutedIndex(index)
    val w = cdc.writeStream.outputMode(OutputMode.Append)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    val q = w.foreachBatch { (batch: DataFrame, _: Long) =>
        {
          // no isEmpty probe: ingestCdc's own stats aggregate resolves an
          // empty batch in the one job the probe would have cost (r18)
          val op = lower(trim(col(opCol)))
          val opNorm = when(op.isin("insert", "upsert", "set"), lit("insert"))
            .when(op === "delete", lit("delete"))
            .otherwise(raise_error(concat(
              lit("streamingRoutedCdc: unknown op '"), col(opCol).cast("string"),
              lit("' (expected insert/upsert/set/delete)"))))
          val key = col(keyCol).cast("array<float>")
          // an insert with no vector is a malformed CDC row, not a no-op
          val keyChecked = when(opNorm === "insert" && key.isNull,
            raise_error(concat(lit("streamingRoutedCdc: null "), lit(keyCol),
              lit(" on insert op for id "), col(idCol).cast("string"))))
            .otherwise(key)
          handle.ingestCdc(batch.select(
            col(idCol).cast("long").as("id"), keyChecked.as("key"),
            opNorm.as("op"),
            seqCol.fold(lit(0L))(c => col(c).cast("long")).as("seq")))
        }
      }
      .start()
    (handle, q)
  }

  /** Stream-STREAM interval join — the continuous twin of
    * [[graft.events.EventOps.intervalJoin]]: both streams watermark their
    * event-time column, the join keys on `key` with the interval as the
    * time-range condition, and Spark's stream-stream join machinery keeps
    * BOTH sides' buffered state bounded by watermark + interval width
    * (the range condition is what lets it evict: without it a
    * stream-stream inner join must buffer forever). Output columns:
    * left's, then right's ts as `matched_ts_us`-style naming is left to
    * the caller's select — the raw join keeps `l_`/`r_` prefixes so
    * nothing collides. Batch/stream agreement is pinned in StreamingSpec
    * (same rows regardless of micro-batching). */
  def streamingIntervalJoin(left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String, key: String,
      watermark: String, lowerSec: Long, upperSec: Long): DataFrame = {
    require(lowerSec <= upperSec, s"empty interval [$lowerSec, $upperSec]")
    val l = left.withWatermark(leftTsCol, watermark)
      .select(left.columns.map(c => col(c).as(s"l_$c")): _*)
    val r = right.withWatermark(rightTsCol, watermark)
      .select(right.columns.map(c => col(c).as(s"r_$c")): _*)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$rightTsCol") >= col(s"l_$leftTsCol") +
          expr(s"make_interval(0, 0, 0, 0, 0, 0, $lowerSec)") &&
        col(s"r_$rightTsCol") <= col(s"l_$leftTsCol") +
          expr(s"make_interval(0, 0, 0, 0, 0, 0, $upperSec)"))
  }

  // ------------------------------------------------------- sessionization

  /** Batch twin of [[sessionize]]: gap-based sessions as a pure window
    * computation — lag to mark session starts, running sum to number them,
    * one aggregation per (user, session). ONE shuffle on user_id (the two
    * window functions and the groupBy all share its partitioning — Catalyst
    * reuses the exchange), so at 100 TB this is shuffle-minimal and skew
    * follows the per-user event distribution. Emits ALL sessions including
    * each user's final open one (batch has no notion of "still open");
    * timestamps compare at microsecond precision. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val em = unix_micros(col("ts"))
    val prev = lag(em, 1).over(w)
    val marked = events
      .withColumn("_new",
        when(prev.isNull || (em - prev) > gapSeconds * 1000000L, 1).otherwise(0))
      .withColumn("_sid", sum(col("_new")).over(w))
    marked.groupBy(col("user_id"), col("_sid"))
      .agg(
        min(em).as("session_start_us"),
        max(em).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .drop("_sid")
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, events: Int, total: Double)
  final case class Session(user_id: Long, startMs: Long, endMs: Long,
      events: Int, total: Double)

  /** Custom stateful operator: per-user sessions, closed when a later event
    * arrives more than `gapSeconds` after the previous one — the
    * KeyValueGroupedDataset.flatMapGroupsWithState pattern for state
    * Spark's windows can't express. Deterministic event-driven closing (a
    * processing-time timeout variant would also finalize idle sessions,
    * but makes micro-batch scheduling — and therefore tests — timing-
    * dependent; the open session stays in state until its user reappears). */
  def sessionize(events: Dataset[Event], gapSeconds: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[Session]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastSeen <= gapSeconds * 1000 =>
                cur = Some(s.copy(lastSeen = t, events = s.events + 1,
                  total = s.total + e.value))
              case Some(s) =>
                closed += Session(userId, s.start, s.lastSeen, s.events, s.total)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }
}
