package graft.scenario

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Scale._
import graft.streaming.StreamingIngest

/**
 * `stream`: the stateful streaming operators at the scale corpus, driven
 * from a FILE SOURCE (the production arrival shape) instead of the bench's
 * MemoryStream replays. The dir's tables are re-written as time-ordered
 * chunk files into landing dirs, `readStream` consumes a few files per
 * trigger, and each query runs to completion while wall time, micro-batch
 * count, peak state-store rows/bytes and output rows are recorded:
 *  1. sessionize — flatMapGroupsWithState per user over the events;
 *  2. windowed aggs — event-time tumbling windows with watermark;
 *  3. dedup-vs-index — each micro-batch of the 20% doc stream probes the
 *     persisted MinHash index of the other 80% (state lives in the index);
 *  4. drift counts — windowed (K+1)-bucket token distribution, then the
 *     exact integer L1 finisher over the collected counts;
 *  5. n-gram monitor — windowed counts of a fixed 3-gram watchlist;
 *  6. streaming embedding card — per (window, label) vector profile.
 *
 * Reads `SPARK_GRAFT_SF_DIR` (default scale/sf1).
 */
object Stream {

  /** Re-write `df` as `chunks` time-ordered part files in one flat dir:
    * sequential single-file appends so file mtimes ascend with event time,
    * the order FileStreamSource lists pre-existing files in — the stream
    * arrives (approximately) in event-time order and finite watermarks
    * behave. */
  private def writeChunks(df: DataFrame, orderCol: String, chunks: Int,
      dir: String): Unit = {
    val b = df.select(min(col(orderCol)).cast("long"),
      max(col(orderCol)).cast("long")).head
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hi - lo) / chunks + 1)
    val bucketed = df.withColumn("_b",
      ((col(orderCol).cast("long") - lo) / width).cast("int"))
    for (i <- 0 until chunks) {
      bucketed.where(col("_b") === i).drop("_b")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  private final case class QStats(name: String, seconds: Double,
      batches: Long, outRows: Long, peakStateRows: Long, peakStateBytes: Long)

  /** Run a started query to completion, harvesting progress metrics. */
  private def drain(name: String, q: StreamingQuery, outRows: () => Long): QStats = {
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val progress = q.recentProgress
    val states = progress.map(_.stateOperators).filter(_.nonEmpty)
    q.stop()
    QStats(name, (System.nanoTime() - t0) / 1e9, progress.length, outRows(),
      (0L +: states.map(_.map(_.numRowsTotal).sum)).max,
      (0L +: states.map(_.map(_.memoryUsedBytes).sum)).max)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val sfDir = r.sfDir
    // recentProgress must retain every micro-batch for the peak-state
    // harvest (the default keeps 100)
    val retention = "spark.sql.streaming.numRecentProgressUpdates"
    val prevRetention = spark.conf.getOption(retention)
    spark.conf.set(retention, "4096")
    val work = java.nio.file.Files.createTempDirectory("graft-scale-stream")
    def dir(s: String) = {
      val p = work.resolve(s); java.nio.file.Files.createDirectories(p); p.toString
    }
    def fileStream(path: String, filesPerTrigger: Int): DataFrame =
      spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(path)
    /** Start `agg` in append mode into a row counter and drain it. */
    def counted(name: String, agg: DataFrame, ck: String): QStats = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", dir(ck))
        .foreachBatch { (b: DataFrame, _: Long) => acc.addAndGet(b.count()); () }
        .start()
      drain(name, q, () => acc.get())
    }
    val stats = scala.collection.mutable.ArrayBuffer[QStats]()
    def record(s: QStats): Unit = { stats += s; println(s) }

    try {
      // landing dirs (untimed prep; a real feed writes these). eventsTable
      // normalizes the ts physical type to a session-TZ TIMESTAMP
      val events = graft.queries.TestStores.eventsTable(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
      val eventsDir = dir("events_landing")
      writeChunks(events.withColumn("ts_us", unix_micros(col("ts"))),
        "ts_us", chunks = 40, dir = eventsDir)
      val nEvents = spark.read.parquet(eventsDir).count()

      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // history = 80% of docs, indexed ONCE (the bench/TestStores slice
      // rule); stream = the other 20%, arriving in doc_id order
      val history = docs.where(col("doc_id") % 5 =!= 0)
      val streamSlice = docs.where(col("doc_id") % 5 === 0)
        .withColumn("ts", timestamp_micros(col("doc_id") * 1000L))
      val docsDir = dir("docs_landing")
      writeChunks(streamSlice.withColumn("ts_us", unix_micros(col("ts"))),
        "ts_us", chunks = 20, dir = docsDir)
      val (index, idxWall) = timed("MinHash index build") {
        graft.dedup.IncrementalDedup.buildIndex(
          history, "doc_id", "text", dir("mh_index"), sourceStamp = sfDir)
      }
      println(f"prep: $nEvents events in 40 chunks, " +
        f"${streamSlice.count()} stream docs in 20 chunks, " +
        f"${history.count()}-doc index built in $idxWall%.1f s")

      // 1. sessionize (per-user custom state)
      {
        val acc = new java.util.concurrent.atomic.AtomicLong()
        val src = fileStream(eventsDir, 2)
          .select(col("user_id"), col("ts"), col("value"))
          .as[StreamingIngest.Event]
        val q = StreamingIngest.sessionize(src, gapSeconds = 1800)
          .writeStream.outputMode("append")
          .option("checkpointLocation", dir("ck_sessionize"))
          .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingIngest.Session], _: Long) =>
            acc.addAndGet(b.count()); () }
          .start()
        record(drain("sessionize gap=30min", q, () => acc.get()))
        // the batch twin's total (streaming emits CLOSED sessions only;
        // each user's final open session stays in state)
        println(s"  (batch twin: ${StreamingIngest.sessionizeBatch(events, 1800).count()} " +
          "sessions incl. open tails)")
      }

      // 2. windowed aggregation with watermark
      record(counted("windowed aggs 1h/wm 2h", StreamingIngest.windowedEventStats(
        fileStream(eventsDir, 2), windowLength = "1 hour", watermark = Some("2 hours")),
        "ck_windows"))

      // 3. dedup-vs-index (stream probes history)
      {
        val acc = new java.util.concurrent.atomic.AtomicLong()
        val q = StreamingIngest.streamingDedupAgainstIndex(
          index, fileStream(docsDir, 2), "doc_id", "text", threshold = 0.8,
          checkpointDir = Some(dir("ck_dedup"))) { pairs => acc.addAndGet(pairs.count()); () }
        record(drain("dedup-vs-index thr=0.8", q, () => acc.get()))
      }

      // 4. drift counts (K+1 bucket distribution). Doc event times are
      // doc_id ms apart, so windows are 1 MINUTE and the watermark closes
      // windows mid-run
      {
        val acc = new java.util.concurrent.atomic.AtomicLong()
        val counts = scala.collection.mutable.ArrayBuffer[(java.sql.Timestamp, String, Long)]()
        val q = StreamingIngest.streamingDriftCounts(
            fileStream(docsDir, 2), "ts", "text", Seq("filter", "join", "table"), "1 minute",
            watermark = Some("2 minutes"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", dir("ck_drift"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            val rows = b.collect() // (K+1) × closed windows — tiny
            acc.addAndGet(rows.length)
            counts.synchronized {
              counts ++= rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
            }
            () }
          .start()
        record(drain("drift counts K=3 w=1min", q, () => acc.get()))
        // the exact-integer L1 finisher over the emitted counts (driver-scale)
        val drift = StreamingIngest.driftFromCounts(
          counts.toSeq.toDF("window_start", "token", "n"),
          Map("table" -> 4L, "filter" -> 2L, "join" -> 1L), 64L)
          .orderBy("window_start").collect()
        println(s"  (finisher: ${drift.length} windows, l1_num/l1_den head = " +
          drift.headOption.map(r => s"${r.getLong(2)}/${r.getLong(3)}").getOrElse("-") + ")")
      }

      // 5. n-gram monitor (fixed watchlist)
      record(counted("ngram monitor 3 grams w=1min", StreamingIngest.ngramMonitor(
        fileStream(docsDir, 2), "ts", "text", 2, Seq("table hash", "customer join", "big order"),
        "1 minute", watermark = Some("2 minutes")), "ck_ngram_mon"))

      // 6. streaming embedding card
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("label"), col("embedding").cast("array<float>").as("vec"))
        .withColumn("ts", timestamp_micros(col("vec_id") * 1000L))
      val embDir = dir("emb_landing")
      writeChunks(emb.withColumn("ts_us", unix_micros(col("ts"))),
        "ts_us", chunks = 20, dir = embDir)
      val nVecs = spark.read.parquet(embDir).count()
      record(counted(s"embedding card $nVecs vecs w=1min",
        StreamingIngest.streamingEmbeddingCard(fileStream(embDir, 2), "ts", "vec",
          Seq("label"), "1 minute", watermark = Some("2 minutes")), "ck_emb_card"))

      println()
      table("query", "wall s", "micro-batches", "output rows", "peak state rows",
          "peak state MB")(stats.map(s =>
        f"| ${s.name} | ${s.seconds}%.1f | ${s.batches} | ${s.outRows} " +
          f"| ${s.peakStateRows} | ${s.peakStateBytes / 1e6}%.1f |"))
    } finally {
      prevRetention.fold(spark.conf.unset(retention))(spark.conf.set(retention, _))
      graft.engine.Persistence.deleteDir(work.toString)
    }
  }
}
