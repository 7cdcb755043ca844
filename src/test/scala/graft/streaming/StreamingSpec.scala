package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark
import graft.engine.GraftEngine
import graft.types.StoreSchema

class StreamingSpec extends AnyFunSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streaming ingestion upserts per micro-batch with dedup-by-content") {
    val e = new GraftEngine(spark)
    e.createStore("stream_store", 2)
    val mem = MemoryStream[(Float, Float, String)]
    val entries = mem.toDF()
      .select(array(col("_1"), col("_2")).as("key"),
        map(lit("tag"), struct(lit("raw_string").as("kind"),
          col("_3").as("str"),
          lit(null).cast("binary").as("bin"))).as("value"))
    val ckpt = Files.createTempDirectory("graft-stream").toString
    val q = StreamingIngest.ingestEntries(e, "stream_store", entries, ckpt)
    try {
      mem.addData((1f, 2f, "a"), (3f, 4f, "b"))
      q.processAllAvailable()
      assert(e.storeDf("stream_store").count() == 2)
      // second batch: one replay (same vector → update) + one new
      mem.addData((1f, 2f, "a2"), (5f, 6f, "c"))
      q.processAllAvailable()
      assert(e.storeDf("stream_store").count() == 3)
      val m = e.getKey("stream_store", Seq(Array(1f, 2f))).collect()
        .head.getMap[String, Row](1)
      assert(m("tag").getString(1) == "a2") // replayed content updated
    } finally { q.stop(); e.dropStore("stream_store") }
  }

  test("streamingRoutedAppend: final index answers like the batch build; tiers counted") {
    val dim = 16
    val rnd = new scala.util.Random(31L)
    val all = (0 until 800).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    val initial = graft.ann.RoutedAnnIndex.build(
      all.take(400).map { case (i, v) => (i, v.toSeq) }.toDF("id", "key"),
      dim, cfg, numShards = 8, iters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val src = mem.toDF()
      .select(col("_1").as("id"), col("_2").cast("array<float>").as("key"))
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    val (handle, q) = StreamingIngest.streamingRoutedAppend(
      initial, src, "id", "key")
    try {
      // three micro-batches of in-distribution rows
      val late = all.drop(400).map { case (i, v) => (i, v.toSeq) }
      late.grouped(134).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = handle.current
    assert(handle.appendCount + handle.compactCount + handle.reclusterCount >= 3,
      "every micro-batch must take a maintenance tier")
    assert(handle.reclusterCount == 0,
      "in-distribution batches must never trip the drift guard")
    assert(streamed.storedRows == 800L)
    // exhaustive search over the streamed index equals the one-shot batch
    // build over the full corpus (both are the exact top-k at this beam)
    val batch = graft.ann.RoutedAnnIndex.build(
      all.map { case (i, v) => (i, v.toSeq) }.toDF("id", "key"),
      dim, cfg, numShards = 8, iters = 2)
    try (0 until 20).foreach { i =>
      val qv = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      assert(streamed.search(qv, 10, 8).map(_._1) ==
        batch.search(qv, 10, 8).map(_._1),
        "streamed index diverges from the batch build at exhaustive probes")
    } finally { batch.unpersist(); streamed.unpersist() }
  }

  test("streamingRoutedAppend: a drifted stream reclusters and stays searchable") {
    val dim = 16
    val rnd = new scala.util.Random(77L)
    val base = (0 until 400).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    val initial = graft.ann.RoutedAnnIndex.build(
      base.map { case (i, v) => (i, v.toSeq) }.toDF("id", "key"),
      dim, cfg, numShards = 8, iters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val src = mem.toDF()
      .select(col("_1").as("id"), col("_2").cast("array<float>").as("key"))
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    val (handle, q) = StreamingIngest.streamingRoutedAppend(
      initial, src, "id", "key")
    try {
      // a far-away manifold: the drift guard must route to recluster
      val shifted = (0 until 100).map(i =>
        (10000L + i, Seq.fill(dim)(9.0f + rnd.nextFloat())))
      mem.addData(shifted: _*); q.processAllAvailable()
    } finally q.stop()
    assert(handle.reclusterCount == 1, "drifted batch must recluster")
    val idx = handle.current
    try {
      assert(idx.storedRows == 500L)
      // post-recluster the new domain is routable: a shifted query's
      // nearest row is in the shifted region even at probes = 1
      val top = idx.search(Array.fill(dim)(9.5f), 1, 1)
      assert(top.headOption.exists(_._1 >= 10000L),
        "post-recluster routing must reach the new domain's shard")
    } finally idx.unpersist()
  }

  test("ingestCdcEntries: store CDC nets to the batch mutations; in-batch sequencing; delete cap fails loudly") {
    val e = new GraftEngine(spark)
    e.createStore("cdc_store", 2)
    val mem = MemoryStream[(Float, Float, String, String, Long)]
    val src = mem.toDF().select(
      array(col("_1"), col("_2")).as("key"),
      map(lit("tag"), struct(lit("raw_string").as("kind"),
        col("_3").as("str"), lit(null).cast("binary").as("bin"))).as("value"),
      col("_4").as("op"), col("_5").as("seq"))
    val q = StreamingIngest.ingestCdcEntries(
      e, "cdc_store", src, "key", "value", "op", seqCol = Some("seq"))
    try {
      mem.addData((1f, 2f, "a", "insert", 1L), (3f, 4f, "b", "insert", 1L),
        (5f, 6f, "c", "insert", 1L))
      q.processAllAvailable()
      assert(e.storeDf("cdc_store").count() == 3)
      // batch 2: delete (3,4); in-batch sequenced pair on (5,6):
      // delete@1 then insert@2 nets to LIVE with the new tag; and (1,2)
      // insert@1 then delete@2 nets to DEAD
      mem.addData((3f, 4f, "b", "delete", 1L),
        (5f, 6f, "x", "delete", 1L), (5f, 6f, "c2", "insert", 2L),
        (1f, 2f, "a2", "insert", 1L), (1f, 2f, "a2", "delete", 2L))
      q.processAllAvailable()
      val left = e.storeDf("cdc_store").count()
      assert(left == 1, s"net survivors: expected 1, got $left")
      val m = e.getKey("cdc_store", Seq(Array(5f, 6f))).collect()
        .head.getMap[String, Row](1)
      assert(m("tag").getString(1) == "c2",
        "delete->insert within one batch must net to the LAST op's value")
      // batch 3: resurrect (1,2) across batches
      mem.addData((1f, 2f, "back", "insert", 1L))
      q.processAllAvailable()
      assert(e.storeDf("cdc_store").count() == 2)
    } finally q.stop()
    // delete cap: a batch past maxDeletesPerBatch fails the query loudly
    val mem2 = MemoryStream[(Float, Float, String, String, Long)]
    val src2 = mem2.toDF().select(
      array(col("_1"), col("_2")).as("key"),
      map(lit("tag"), struct(lit("raw_string").as("kind"),
        col("_3").as("str"), lit(null).cast("binary").as("bin"))).as("value"),
      col("_4").as("op"), col("_5").as("seq"))
    val q2 = StreamingIngest.ingestCdcEntries(
      e, "cdc_store", src2, "key", "value", "op", seqCol = Some("seq"),
      maxDeletesPerBatch = 1)
    try {
      mem2.addData((9f, 9f, "", "delete", 1L), (8f, 8f, "", "delete", 1L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("carries 2 deletes (cap 1)")),
        s"expected the delete-cap message, got: ${msgs(ex)}")
    } finally { q2.stop(); e.dropStore("cdc_store") }
  }

  test("streamingRoutedCdc: inserts+deletes net to the batch application; tiers counted") {
    val dim = 16
    val rnd = new scala.util.Random(53L)
    val vecs = (0 until 800).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toMap
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    val initial = graft.ann.RoutedAnnIndex.build(
      (0 until 400).map(i => (i.toLong, vecs(i.toLong).toSeq)).toDF("id", "key"),
      dim, cfg, numShards = 8, iters = 2)
    val mem = MemoryStream[(Long, Option[Seq[Float]], String, Long)]
    val src = mem.toDF().select(col("_1").as("id"), col("_2").as("key"),
      col("_3").as("op"), col("_4").as("seq"))
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    val (handle, q) = StreamingIngest.streamingRoutedCdc(
      initial, src, "id", "key", "op", seqCol = Some("seq"))
    def ins(id: Long, seq: Long) = (id, Some(vecs(id).toSeq), "insert", seq)
    def del(id: Long, seq: Long) =
      (id, None: Option[Seq[Float]], "delete", seq)
    try {
      // batch 1: 150 new rows + 50 deletes
      mem.addData((400 until 550).map(i => ins(i.toLong, 1L)) ++
        (0 until 50).map(i => del(i.toLong, 1L)): _*)
      q.processAllAvailable()
      // batch 2: the rest of the corpus, 50 more deletes, one RESURRECT
      // (id 10 was tombstoned in batch 1 — re-inserting brings it back),
      // and an in-batch sequenced pair (id 120: delete@1 then insert@2
      // nets to LIVE — the last op per id wins)
      mem.addData((550 until 800).map(i => ins(i.toLong, 1L)) ++
        (100 until 120).map(i => del(i.toLong, 1L)) ++
        Seq(ins(10L, 2L), del(120L, 1L), ins(120L, 2L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = handle.current
    assert(handle.tombstoneCount >= 1, "deletes must take the tombstone tier")
    // each insert set is ~37% of the graph rows it lands on, so the
    // patch-fraction guard routes both to LOCAL compaction — still an
    // insert-side tier, never a recluster
    assert(handle.appendCount + handle.compactCount >= 2,
      "inserts must take an insert-side tier (append or compact)")
    assert(handle.reclusterCount == 0,
      "in-distribution CDC batches must never recluster")
    // net-live set: 0..799 minus deletes {0..49, 100..119} plus resurrect 10
    val live = (0 until 800).map(_.toLong).toSet -- (0 until 50).map(_.toLong) --
      (100 until 120).map(_.toLong) + 10L
    val batch = graft.ann.RoutedAnnIndex.build(
      live.toSeq.sorted.map(i => (i, vecs(i).toSeq)).toDF("id", "key"),
      dim, cfg, numShards = 8, iters = 2)
    try (0 until 20).foreach { _ =>
      val qv = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      assert(streamed.search(qv, 10, 8).map(_._1) ==
        batch.search(qv, 10, 8).map(_._1),
        "CDC-streamed index diverges from the batch build over the net-live set")
    } finally { batch.unpersist(); streamed.unpersist() }
  }

  test("streamingRoutedCdc: unknown op fails the batch loudly") {
    val dim = 8
    val rnd = new scala.util.Random(11L)
    val initial = graft.ann.RoutedAnnIndex.build(
      (0 until 64).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()))).toDF("id", "key"),
      dim, graft.types.NonLinearConfig.HNSWConfig(
        metric = graft.types.Algorithm.CosineSimilarity),
      numShards = 4, iters = 1)
    val mem = MemoryStream[(Long, Option[Seq[Float]], String, Long)]
    val src = mem.toDF().select(col("_1").as("id"), col("_2").as("key"),
      col("_3").as("op"), col("_4").as("seq"))
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    val (_, q) = StreamingIngest.streamingRoutedCdc(
      initial, src, "id", "key", "op", seqCol = Some("seq"))
    try {
      mem.addData((100L, Some(Seq.fill(dim)(0.5f)), "truncate", 1L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("unknown op") ||
        Option(e.getCause).exists(_.getMessage.contains("unknown op")))
    } finally { q.stop(); initial.unpersist() }
  }

  test("streamingRoutedCdc: a delete batch past the collect cap reclusters over survivors") {
    val dim = 8
    val rnd = new scala.util.Random(19L)
    val vecs = (0 until 256).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toMap
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    val initial = graft.ann.RoutedAnnIndex.build(
      (0 until 256).map(i => (i.toLong, vecs(i.toLong).toSeq)).toDF("id", "key"),
      dim, cfg, numShards = 4, iters = 2)
    val handle = new StreamingIngest.StreamingRoutedIndex(initial)
    // 64 deletes + 16 inserts through a tiny collect cap: the net survivor
    // set must rebuild via the distributed anti-join (no driver id list)
    val batch = ((0 until 64).map(i =>
        (i.toLong, null.asInstanceOf[Seq[Float]], "delete", 1L)) ++
      (256 until 272).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat()), "insert", 1L)))
      .toDF("id", "key", "op", "seq")
      .select(col("id"), col("key").cast("array<float>").as("key"),
        col("op"), col("seq"))
    handle.ingestCdc(batch, maxDeleteCollect = 10)
    assert(handle.reclusterCount == 1, "past the cap the batch must recluster")
    val idx = handle.current
    try {
      assert(idx.storedRows == 256L - 64L + 16L)
      assert(idx.tombstones.isEmpty, "a recluster leaves no tombstones")
      val qv = vecs(5L) // a deleted row's own vector must not surface
      assert(!idx.search(qv, 5, idx.numShards).exists(_._1 < 64L),
        "deleted ids must be physically absent after the recluster")
    } finally idx.unpersist()
  }

  test("streamingRoutedCdc: an id-hash index past the collect cap rebuilds id-hash over survivors") {
    val dim = 8
    val rnd = new scala.util.Random(23L)
    val vecs = (0 until 272).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))).toMap
    val cfg = graft.types.NonLinearConfig.HNSWConfig(efSearch = 4096,
      metric = graft.types.Algorithm.CosineSimilarity)
    def frame(ids: Seq[Long]) = ids.map(i => (i, vecs(i).toSeq)).toDF("id", "key")
    val initial = graft.ann.RoutedAnnIndex.buildHashed(
      frame((0L until 256L)), dim, cfg, numShards = 4)
    val handle = new StreamingIngest.StreamingRoutedIndex(initial)
    val batch = ((0 until 64).map(i =>
        (i.toLong, null.asInstanceOf[Seq[Float]], "delete", 1L)) ++
      (256 until 272).map(i => (i.toLong, vecs(i.toLong).toSeq, "insert", 1L)))
      .toDF("id", "key", "op", "seq")
      .select(col("id"), col("key").cast("array<float>").as("key"),
        col("op"), col("seq"))
    handle.ingestCdc(batch, maxDeleteCollect = 10)
    assert(handle.reclusterCount == 1, "past the cap the batch must rebuild")
    val idx = handle.current
    val fresh = graft.ann.RoutedAnnIndex.buildHashed(
      frame((64L until 272L)), dim, cfg, numShards = 4)
    try {
      assert(idx.router == graft.ann.RoutedAnnIndex.Router.IdHash(4, dim),
        "the rebuild must keep the id-hash router and its shard count")
      assert(idx.storedRows == 256L - 64L + 16L)
      assert(idx.tombstones.isEmpty)
      (0L until 272L by 17L).foreach { i =>
        assert(idx.search(vecs(i), 10, idx.numShards) == fresh.search(vecs(i), 10, 4),
          s"rebuilt index diverges from a fresh id-hash build (query $i)")
      }
    } finally { idx.unpersist(); fresh.unpersist() }
  }

  test("streamingNearDupCandidates emits the banded candidate pairs") {
    // the DedupSpec corpus: 0/1 near-dup, 2 exact dup of 0, 3 unrelated,
    // 4/5 near-dup — the batch minHashLshJoin verifies {0-1, 0-2, 1-2, 4-5}
    // at J >= 0.5, so the streaming candidate stream must contain them
    val corpus = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "completely different content about spark catalyst optimizer rules",
      4L -> "large language models need deduplicated training corpora to work",
      5L -> "large language models need deduplicated training corpora to work well")
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF()
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "doc_id")
      .withColumnRenamed("_3", "text")
    val out = StreamingIngest.streamingNearDupCandidates(
      docs, "doc_id", "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      mem.addData(corpus.zipWithIndex.map { case ((id, text), i) =>
        (Timestamp.valueOf(s"2026-01-01 10:0$i:00"), id, text) }: _*)
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)).subsetOf(pairs))
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated: no band hit
      // candidates are UNVERIFIED band collisions; the exact-verify contract
      // stays downstream — here the only collisions are the true near-dups
      assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)))
      // a replay of doc 0's content under a new id pairs against ALL of
      // 0/1/2 (state held all prior ids for those bands)
      mem.addData((Timestamp.valueOf("2026-01-01 10:06:00"), 6L,
        "the quick brown fox jumps over the lazy dog again and again"))
      q.processAllAvailable()
      val pairs2 = spark.table("neardup_stream").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(Set((0L, 6L), (1L, 6L), (2L, 6L)).subsetOf(pairs2))
    } finally q.stop()
  }

  test("streamingDropDuplicates keeps first arrival per content hash within the watermark") {
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF()
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "doc_id")
      .withColumnRenamed("_3", "text")
    val out = StreamingIngest.streamingDropDuplicates(docs, "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "alpha doc"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), 2L, "beta doc"),
        (Timestamp.valueOf("2026-01-01 10:02:00"), 3L, "alpha doc")) // dup of 1
      q.processAllAvailable()
      // a later micro-batch re-delivers a duplicate within the horizon
      mem.addData((Timestamp.valueOf("2026-01-01 10:03:00"), 4L, "beta doc"))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2026-01-01 10:04:00"), 5L, "gamma doc"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "alpha doc"), (2L, "beta doc"), (5L, "gamma doc")),
        s"got $got")
    } finally q.stop()
  }

  test("windowed event stats: streaming matches the batch computation") {
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val asEvents = (df: org.apache.spark.sql.DataFrame) => df
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "user_id")
      .withColumnRenamed("_3", "event_type").withColumnRenamed("_4", "value")
    val data = Seq(
      (Timestamp.valueOf("2026-01-01 10:05:00"), 1L, "click", 1.5),
      (Timestamp.valueOf("2026-01-01 10:20:00"), 2L, "click", 2.5),
      (Timestamp.valueOf("2026-01-01 10:40:00"), 1L, "buy", 10.0),
      (Timestamp.valueOf("2026-01-01 11:10:00"), 3L, "click", 0.5))
    val stream = StreamingIngest.windowedEventStats(
      asEvents(mem.toDF()), "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streaming = spark.table("win_agg")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      val batch = StreamingIngest.windowedEventStats(asEvents(data.toDF()), "1 hour")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(streaming == batch)
      assert(batch.contains(("2026-01-01 10:00:00.0", "click", 2L, 4.0)))
    } finally q.stop()
  }

  test("ngramMonitor: streaming matches batch; only watched grams ever count") {
    val mem = MemoryStream[(Timestamp, String)]
    val asDocs = (df: org.apache.spark.sql.DataFrame) => df
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "text")
    val data = Seq(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "alpha beta gamma alpha beta"),
      (Timestamp.valueOf("2026-01-01 10:20:00"), "alpha beta delta"),
      (Timestamp.valueOf("2026-01-01 11:10:00"), "gamma alpha beta"),
      (Timestamp.valueOf("2026-01-01 11:15:00"), "unwatched grams only here"))
    val watched = Seq("alpha beta", "gamma alpha")
    val stream = StreamingIngest.ngramMonitor(asDocs(mem.toDF()),
      "ts", "text", 2, watched, "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream.format("memory").queryName("ngram_mon")
      .outputMode("complete").start()
    try {
      mem.addData(data.take(2): _*); q.processAllAvailable()
      mem.addData(data.drop(2): _*); q.processAllAvailable()
      val streaming = spark.table("ngram_mon").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      val batch = StreamingIngest.ngramMonitor(asDocs(data.toDF()),
          "ts", "text", 2, watched, "1 hour").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(streaming == batch)
      assert(batch == Set(
        ("2026-01-01 10:00:00.0", "alpha beta", 3L),
        ("2026-01-01 10:00:00.0", "gamma alpha", 1L),
        ("2026-01-01 11:00:00.0", "alpha beta", 1L),
        ("2026-01-01 11:00:00.0", "gamma alpha", 1L)))
    } finally q.stop()
  }

  test("streamingDriftCounts: streaming matches batch; remainder bucket carries non-ref mass") {
    val mem = MemoryStream[(Timestamp, String)]
    val asDocs = (df: org.apache.spark.sql.DataFrame) => df
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "text")
    val data = Seq(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "alpha beta beta noise words"),
      (Timestamp.valueOf("2026-01-01 10:20:00"), "alpha alpha"), // all-ref doc
      (Timestamp.valueOf("2026-01-01 11:10:00"), "junk only here"))
    val ref = Seq("alpha", "beta")
    val stream = StreamingIngest.streamingDriftCounts(asDocs(mem.toDF()),
      "ts", "text", ref, "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream.format("memory").queryName("drift_cnt")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*); q.processAllAvailable()
      val streaming = spark.table("drift_cnt").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      val batch = StreamingIngest.streamingDriftCounts(asDocs(data.toDF()),
          "ts", "text", ref, "1 hour").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(streaming == batch)
      assert(batch == Set(
        ("2026-01-01 10:00:00.0", "alpha", 3L),
        ("2026-01-01 10:00:00.0", "beta", 2L),
        ("2026-01-01 10:00:00.0", "__other__", 2L),
        ("2026-01-01 11:00:00.0", "__other__", 3L)))
      // finisher (exact rationals, ref {alpha: 1/4, beta: 1/4}): the 11:00
      // window has zero ref mass → L1 = 1/4 + 1/4 + |1 − 1/2| = 1 exactly;
      // terms over denominator 4·wt: |4·0−1·3| + |4·0−1·3| + |4·3−2·3| = 12/12
      val drift = StreamingIngest.driftFromCounts(
          spark.table("drift_cnt"), Map("alpha" -> 1L, "beta" -> 1L), 4L)
        .collect().map(r => (r.getTimestamp(0).toString,
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(drift("2026-01-01 11:00:00.0") == ((3L, 12L, 12L)))
      // 10:00 window: dist {alpha 3/7, beta 2/7, other 2/7} vs {1/4,1/4,1/2}
      // → numerators |12−7| + |8−7| + |8−14| = 12 over 4·7 = 28, and the
      // integer pair IS the exact L1 the double formulation approximated
      assert(drift("2026-01-01 10:00:00.0") == ((7L, 12L, 28L)))
      val exp = math.abs(3.0/7 - 0.25) + math.abs(2.0/7 - 0.25) + math.abs(2.0/7 - 0.5)
      assert(math.abs(12.0 / 28.0 - exp) < 1e-12)
    } finally q.stop()
  }

  test("streamingEmbeddingCard: streaming matches batch; poison vectors surface in-window") {
    val mem = MemoryStream[(Timestamp, Int, Array[Float])]
    val asVecs = (df: org.apache.spark.sql.DataFrame) => df
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "label")
      .withColumnRenamed("_3", "vec")
    val data = Seq(
      (Timestamp.valueOf("2026-01-01 10:05:00"), 0, Array(3f, 4f)),
      (Timestamp.valueOf("2026-01-01 10:20:00"), 0, Array(0f, 0f)),      // zero
      (Timestamp.valueOf("2026-01-01 10:40:00"), 1, Array(1f, Float.NaN)), // poison
      (Timestamp.valueOf("2026-01-01 11:10:00"), 0, Array(6f, 8f, 0f)))  // ragged later window
    val stream = StreamingIngest.streamingEmbeddingCard(asVecs(mem.toDF()),
      "ts", "vec", Seq("label"), "1 hour", watermark = Some("10 minutes"))
    val q = stream.writeStream.format("memory").queryName("emb_card")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getTimestamp(0).toString, r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val streaming = rows(spark.table("emb_card"))
      val batch = rows(StreamingIngest.streamingEmbeddingCard(asVecs(data.toDF()),
        "ts", "vec", Seq("label"), "1 hour"))
      assert(streaming == batch)
      // 10:00 / label 0: two 2-d vecs, one zero; label 1: the NaN vector
      assert(batch(("2026-01-01 10:00:00.0", 0)) == ((2L, 2L, 2L, 1L, 0L)))
      assert(batch(("2026-01-01 10:00:00.0", 1)) == ((1L, 2L, 2L, 0L, 1L)))
      // 11:00 / label 0: the ragged 3-d vector shows dims 3
      assert(batch(("2026-01-01 11:00:00.0", 0)) == ((1L, 3L, 3L, 0L, 0L)))
    } finally q.stop()
  }

  test("streamingDriftCounts refuses the reserved bucket and bad references") {
    import spark.implicits._
    val docs = Seq((Timestamp.valueOf("2026-01-01 10:00:00"), "a b"))
      .toDF("ts", "text")
    intercept[IllegalArgumentException] {
      StreamingIngest.streamingDriftCounts(docs, "ts", "text",
        Seq("__other__"), "1 hour")
    }
    intercept[IllegalArgumentException] {
      StreamingIngest.driftFromCounts(
        Seq((Timestamp.valueOf("2026-01-01 10:00:00"), "a", 1L))
          .toDF("window_start", "token", "n"),
        Map("a" -> 9L, "b" -> 3L), 10L) // numerators sum over the denominator
    }
  }

  test("ngramMonitor refuses a candidate that is not exactly one n-gram") {
    import spark.implicits._
    val docs = Seq((Timestamp.valueOf("2026-01-01 10:00:00"), "a b c"))
      .toDF("ts", "text")
    intercept[IllegalArgumentException] {
      StreamingIngest.ngramMonitor(docs, "ts", "text", 2,
        Seq("three token gram"), "1 hour")
    }
    intercept[IllegalArgumentException] {
      StreamingIngest.ngramMonitor(docs, "ts", "text", 2, Seq.empty, "1 hour")
    }
  }

  test("sessionization closes sessions on event gaps (flatMapGroupsWithState)") {
    import StreamingIngest.{Event, Session}
    val mem = MemoryStream[Event]
    val sessions = StreamingIngest.sessionize(mem.toDS(), gapSeconds = 60)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 09:00:00").getTime
      // user 1: two events 30s apart (one session), then an event 10min
      // later → first session closes when the late event arrives
      mem.addData(
        Event(1L, new Timestamp(t0), 1.0),
        Event(1L, new Timestamp(t0 + 30000), 2.0))
      q.processAllAvailable()
      mem.addData(Event(1L, new Timestamp(t0 + 600000), 5.0))
      q.processAllAvailable()
      val out = spark.table("sessions").as[Session].collect()
      assert(out.length == 1)
      assert(out.head.events == 2 && out.head.total == 3.0)
      assert(out.head.startMs == t0 && out.head.endMs == t0 + 30000)
    } finally q.stop()
  }

  test("sessionizeBatch agrees with the streaming operator's closed sessions") {
    import StreamingIngest.Event
    import org.apache.spark.sql.functions._
    val t0 = Timestamp.valueOf("2026-01-01 09:00:00").getTime
    // user 1: sessions [0s,30s] and [10min]; user 2: [0s] and [5min, 5min+20s]
    val events = Seq(
      Event(1L, new Timestamp(t0), 1.0),
      Event(1L, new Timestamp(t0 + 30000), 2.0),
      Event(1L, new Timestamp(t0 + 600000), 5.0),
      Event(2L, new Timestamp(t0), 1.5),
      Event(2L, new Timestamp(t0 + 300000), 2.5),
      Event(2L, new Timestamp(t0 + 320000), 3.0)).toDF()
    val got = StreamingIngest.sessionizeBatch(events, gapSeconds = 60)
      .orderBy("user_id", "session_start_us")
      .select("user_id", "session_start_us", "session_end_us", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val us = 1000L // ms → µs factor
    assert(got.toSeq == Seq(
      (1L, t0 * us, (t0 + 30000) * us, 2L, 3.0),
      (1L, (t0 + 600000) * us, (t0 + 600000) * us, 1L, 5.0),
      (2L, t0 * us, t0 * us, 1L, 1.5),
      (2L, (t0 + 300000) * us, (t0 + 320000) * us, 2L, 5.5)))
  }

  test("stateless pipeline ops run unchanged on a stream (PII, chunking, quality)") {
    // the per-row extension columns are pure projections, so the SAME
    // Column expressions must plan inside a streaming micro-batch — this
    // pins that none of them secretly aggregates or sorts
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().withColumnRenamed("_1", "doc_id")
      .withColumnRenamed("_2", "text")
    val out = graft.pipeline.Corpus.chunkByTokens(
      docs.select(col("doc_id"),
        graft.text.Pii.redactAll(col("text")).as("text")),
      "doc_id", "text", chunkSize = 4, overlap = 0)
      .withColumn("lang", graft.text.TextOps.langId(col("chunk")))
    val q = out.writeStream.format("memory").queryName("stateless_ops")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "mail bob@example.com the cat and the dog sat here quietly"),
        (2L, "short doc"))
      q.processAllAvailable()
      val rows = spark.table("stateless_ops")
        .select("doc_id", "chunk_ix", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows == Set(
        (1L, 0L, "mail <EMAIL> the cat"),
        (1L, 1L, "and the dog sat"),
        (1L, 2L, "here quietly"),
        (2L, 0L, "short doc")))
    } finally q.stop()
  }

  test("streamingIntervalJoin matches the batch interval join regardless of batching") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    val clicks = Seq((1L, 1L, ts(100)), (2L, 1L, ts(200)), (3L, 2L, ts(150)))
    val views = Seq((10L, 1L, ts(80)), (11L, 1L, ts(190)), (12L, 2L, ts(160)))
    // batch twin over epoch-micros
    val batch = graft.events.EventOps.intervalJoin(
        clicks.toDF("event_id", "user_id", "t")
          .withColumn("ts_us", unix_micros($"t")).drop("t"),
        "ts_us",
        views.toDF("event_id", "user_id", "t")
          .withColumn("ts_us", unix_micros($"t")).drop("t"),
        "ts_us", "user_id", Seq("event_id"),
        lowerUs = -30L * 1000000L, upperUs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSet
    assert(batch == Set((1L, 10L), (2L, 11L)))

    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Long, Timestamp)]
    def named(df: org.apache.spark.sql.DataFrame) = df
      .withColumnRenamed("_1", "event_id").withColumnRenamed("_2", "user_id")
      .withColumnRenamed("_3", "ts")
    val joined = graft.streaming.StreamingIngest.streamingIntervalJoin(
      named(lMem.toDF()), "ts", named(rMem.toDF()), "ts", "user_id",
      watermark = "10 minutes", lowerSec = -30L, upperSec = 0L)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      // adversarial batching: sides arrive in different micro-batches
      lMem.addData(clicks.take(2): _*); q.processAllAvailable()
      rMem.addData(views.take(1): _*); q.processAllAvailable()
      lMem.addData(clicks.drop(2): _*)
      rMem.addData(views.drop(1): _*); q.processAllAvailable()
      val got = spark.table("ssj")
        .select("l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"$got vs $batch")
    } finally q.stop()
  }

  test("streamingDedupAgainstIndex matches the batch probe regardless of batching") {
    val history = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again"),
      (1L, "spark catalyst plans the query into stages"),
      (2L, "large language models need deduplicated corpora"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("stream-mh").toString
    val idx = graft.dedup.IncrementalDedup.buildIndex(
      history, "doc_id", "text", dir, "hist-v1")
    val arriving = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again today"),
      (101L, "totally novel content matching no history"),
      (102L, "large language models need deduplicated corpora as well"))
    val batchPairs = graft.dedup.IncrementalDedup.dedupAgainst(
        idx, arriving.toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.map(p => (p._1, p._2)) == Set((100L, 0L), (102L, 2L)))

    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().withColumnRenamed("_1", "doc_id")
      .withColumnRenamed("_2", "text")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = graft.streaming.StreamingIngest.streamingDedupAgainstIndex(
      idx, src, "doc_id", "text", 0.5) { pairs =>
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      buf.synchronized { buf ++= rows; () }
    }
    try {
      // batch boundary between the docs — each verifies against the INDEX,
      // so the split cannot change the pair set
      mem.addData(arriving.take(1): _*); q.processAllAvailable()
      mem.addData(arriving.drop(1): _*); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchPairs, s"${buf.toSet} vs $batchPairs")

    // the stateless candidate probe: every verified pair must appear among
    // the raw band collisions (candidates ⊇ decisions)
    val cands = graft.streaming.StreamingIngest.streamingIndexCandidates(
        idx, arriving.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.map(p => (p._1, p._2)).subsetOf(cands), s"$cands")
  }

  test("scoreStreamPerplexity matches the batch scorer regardless of batching") {
    val ref = Seq((100L, "x y x y z"), (101L, "x z y x")).toDF("id", "text")
    val model = graft.text.LangModel.train(ref, "id", "text")
    val docs = Seq((1L, "x y z"), (2L, "q r s"), (3L, "y x"))
    val batchScores = graft.text.LangModel.score(
        model, docs.toDF("id", "text"), "id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().withColumnRenamed("_1", "id")
      .withColumnRenamed("_2", "text")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = graft.streaming.StreamingIngest.scoreStreamPerplexity(
      src, model, "id", "text") { scored =>
      val rows = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
      buf.synchronized { buf ++= rows; () }
    }
    try {
      // two micro-batches that split the doc set — per-doc scores cannot
      // depend on the batch boundary (a doc is one row)
      mem.addData(docs.take(2): _*); q.processAllAvailable()
      mem.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally { q.stop(); model.unpersist() }
    assert(buf.toMap == batchScores, s"${buf.toMap} vs $batchScores")
  }
}
