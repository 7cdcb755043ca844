package graft.scenario

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scale.Run

/**
 * `gen`: the scale-stress data generator. Every 100 TB claim in the
 * scaladocs is asserted from sf0.1 runs (~600k lineitem rows, 5k docs), so
 * this manufactures a drop-in scale directory from sf0.1 parquet and lets
 * Bench run the dedup/retrieval/text families at 100x the document count.
 * Fully distributed (cross-join against a broadcast replica range; all
 * perturbation is codegen'd hash arithmetic), deterministic (xxhash64-keyed,
 * no RNG state), and honest about duplicate structure: a web-crawl-shaped
 * corpus is mostly unique with a heavy duplicated minority, so replicas are salted per-token into uniqueness
 * EXCEPT a hash-chosen ~10% exact-copy and ~15% near-dup slice. That gives
 * the LSH/SimHash/CC/span operators real cluster populations (~25-member
 * near-dup families) instead of a degenerate all-unique or all-dup corpus.
 *
 * Env knobs: SPARK_GRAFT_SCALE_SRC (the unscaled source dir, required),
 * SPARK_GRAFT_SCALE_OUT (default scale/sf1), SPARK_GRAFT_SCALE_DOCS /
 * _EMB / _EVENTS (multipliers, default 100/100/10), SPARK_GRAFT_CPUS.
 *
 * Id spaces stay disjoint per replica via a fixed stride larger than any
 * source id, so cross-replica joins (decontamination benchmark side,
 * BM25 query frames) keep their semantics.
 */
object Gen {
  private val DocStride = 1000000L // > max sf0.1 doc_id (4999)
  private val VecStride = 1000000L // > max sf0.1 vec_id (1999)
  private val EvStride = 100000000L

  def run(r: Run): Unit = {
    val spark = r.spark
    def env(k: String, d: String) = r.env.getOrElse(k, d)
    val src = r.required("SPARK_GRAFT_SCALE_SRC")
    val out = env("SPARK_GRAFT_SCALE_OUT", "scale/sf1")
    val docsMult = env("SPARK_GRAFT_SCALE_DOCS", "100").toInt
    val embMult = env("SPARK_GRAFT_SCALE_EMB", "100").toInt
    val evMult = env("SPARK_GRAFT_SCALE_EVENTS", "10").toInt

    // TPC-H star tables pass through unscaled: the scale families under
    // test (dedup/embed/text/hybrid/pipeline/events) never read them, but
    // Bench's shared-store prebuild and any q*/vdb_* spot-run expect the
    // full table set to exist in the directory.
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }

    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()

    // the stride comments below assert "larger than any source id" — check
    // it, don't assume it: pointing SPARK_GRAFT_SCALE_SRC at an already-
    // scaled dir (ids up to ~99e6) would silently collide replica id spaces
    def checkedRead(table: String, idCol: String, stride: Long): DataFrame = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val mx = df.agg(max(col(idCol))).head.getLong(0)
      require(mx < stride, s"$table: max($idCol)=$mx >= replica stride " +
        s"$stride — ids would collide across replicas. Point " +
        "SPARK_GRAFT_SCALE_SRC at an unscaled source directory.")
      df
    }

    counts("documents") = writeScaled(out, "documents",
      scaleDocuments(checkedRead("documents", "doc_id", DocStride), docsMult))
    counts("embeddings") = writeScaled(out, "embeddings",
      scaleEmbeddings(checkedRead("embeddings", "vec_id", VecStride), embMult))
    counts("events") = writeScaled(out, "events",
      scaleEvents(checkedRead("events", "event_id", EvStride), evMult))

    val cs = counts.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"scalegen":"$out","docs_mult":$docsMult,"emb_mult":$embMult,"events_mult":$evMult,"rows":$cs}""")
  }

  private def writeScaled(out: String, name: String, df: DataFrame): Long = {
    // repartition by the salted id so replicas of one base row scatter
    // across files — a scale dir whose file layout pre-groups duplicate
    // clusters would hand the dedup operators locality the real corpus
    // doesn't have. File count follows the configured core count (one
    // writer per core) instead of a fixed 32, so large multipliers don't
    // bottleneck on too few oversized output files.
    val parts = SparkSession.active.sparkContext.defaultParallelism
    df.repartition(parts, col(df.columns.head))
      .write.mode("overwrite").parquet(s"$out/$name.parquet")
    SparkSession.active.read.parquet(s"$out/$name.parquet").count()
  }

  private def replicate(df: DataFrame, mult: Int): DataFrame =
    df.crossJoin(broadcast(SparkSession.active.range(mult).toDF("rep")))

  /** doc_id offsets by replica; text keeps a hash-chosen 10% exact-copy and
   * 15% near-dup slice, and salts every token of the remaining 75% so they
   * shingle uniquely. n_chars tracks the rewritten text. */
  private[graft] def scaleDocuments(docs: DataFrame, mult: Int): DataFrame = {
    val rep = replicate(docs, mult)
      .withColumn("new_id", col("doc_id") + col("rep") * lit(DocStride))
      .withColumn("h", pmod(xxhash64(col("doc_id"), col("rep")), lit(100)))
    val toks = split(trim(col("text")), "\\s+")
    // near-dup: append two hash-chosen filler tokens — high-Jaccard kin of
    // the base doc with a distinct shingle tail. Modulus 1000 gives 1e6
    // tail combos, so members of one ~15-replica near-dup family stay
    // pairwise distinct (a small modulus made some "near-dups" exact
    // copies of each other by birthday collision)
    val nearText = concat_ws(" ", col("text"),
      concat(lit("nd"), pmod(xxhash64(col("new_id")), lit(1000))),
      concat(lit("nd"), pmod(xxhash64(col("new_id"), lit(2)), lit(1000))))
    // unique: every token carries a doc-keyed salt, so no shingle survives
    // across replicas (the 75% slice must not read as one giant near-dup family)
    val uniqueText = concat_ws(" ", transform(toks,
      t => concat(t, lit("_"), pmod(xxhash64(t, col("new_id")), lit(997)))))
    val text2 = when(col("rep") === 0, col("text"))
      .when(col("h") < 10, col("text"))
      .when(col("h") < 25, nearText)
      .otherwise(uniqueText)
    rep.select(
      col("new_id").as("doc_id"),
      text2.as("text"),
      col("lang"), col("source"),
      length(text2).cast("long").as("n_chars"))
  }

  /** vec_id offsets by replica; a hash-chosen 10% stays bit-identical (the
   * SemDeDup/exact-ANN population), the rest get +-2% per-element hash noise
   * so cosine neighborhoods stay near the base vector without collapsing
   * onto it. */
  private[graft] def scaleEmbeddings(emb: DataFrame, mult: Int): DataFrame = {
    val rep = replicate(emb, mult)
      .withColumn("new_id", col("vec_id") + col("rep") * lit(VecStride))
      .withColumn("h", pmod(xxhash64(col("vec_id"), col("rep")), lit(100)))
    // cast each jittered element back to float: the division promotes to
    // double, and a scaled table that silently widens embedding to
    // array<double> is not a drop-in replacement (the float-vector
    // kernels reject it — caught by the sf1 hybrid_retrieval run)
    val jittered = transform(col("embedding"), (x, i) =>
      (x + (pmod(xxhash64(col("new_id"), i), lit(1001)).cast("float") / lit(500.0f)
        - lit(1.0f)) * lit(0.02f)).cast("float"))
    val emb2 = when(col("rep") === 0 || col("h") < 10, col("embedding"))
      .otherwise(jittered)
    rep.select(col("new_id").as("vec_id"), emb2.as("embedding"), col("label"))
  }

  /** event_id offsets by replica; timestamps shift one hour per replica so
   * replica copies interleave instead of stacking on identical instants —
   * the source spans ~30 days, so the timeline gets denser, not longer;
   * user_id is kept so per-user state (sessionization) grows with the
   * multiplier — that growth is the stress. */
  private[graft] def scaleEvents(ev: DataFrame, mult: Int): DataFrame =
    replicate(ev, mult).select(
      (col("event_id") + col("rep") * lit(EvStride)).as("event_id"),
      (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, rep * 3600)")).as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
}
