package graft

/**
 * Benchmark main: runs every registered query against
 * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
 *
 * Bench hygiene:
 *  - the shared read-only stores (engine, AI engine, the 600k-row li4
 *    filtered-ANN probe) are built BEFORE the timed region, so per-query
 *    timings measure the QUERY — not whichever query touches a shared
 *    store first. Mutation-shaped queries still build their own private
 *    stores inside their timing; that write path IS what they measure.
 *  - every query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3,
 *    back-to-back) and reports the per-query MEDIAN — single-run timings
 *    at local[N] swing up to ±3× on sub-10 s queries (GC, page cache,
 *    JIT), which made round-over-round comparisons unattributable.
 *    `total` = sum of medians.
 *  - PROCESS ISOLATION (default for full runs): three consecutive rounds
 *    produced 1.2-2.8× "regressions" on UNCHANGED code that snapped back
 *    the moment the query ran alone — cross-query session pressure
 *    (accumulated block-manager state, codegen cache, GC heap shape from
 *    whatever ran before) charged to whichever family ran late in the
 *    alphabet. A full bench run therefore forks ONE FRESH JVM PER QUERY
 *    FAMILY (same classpath + JVM flags as this process, families defined
 *    in [[familyOf]]) and merges the per-family JSONs; the merged line
 *    records `"isolation":"process-per-family"` so the committed artifact
 *    says how it was measured. `SPARK_GRAFT_BENCH_ISOLATE=off` opts out;
 *    `SPARK_GRAFT_BENCH_ONLY=...` (the bisection lever) always runs
 *    in-process, single session — that IS the isolation instrument.
 */
object Bench {

  /** Query-name → isolation family. One family = one forked JVM = one
    * SparkSession; grouped so each family's shared prebuilds (engine
    * stores, AI store, the MinHash index) are paid once, and sized so a
    * full run stays under ~10 forks. New prefixes land in "misc" — safe
    * by construction (still isolated from every named family). */
  private[graft] def familyOf(n: String): String = n.split("_")(0) match {
    case "vdb" => "vdb"
    case "ai" => "ai"
    case "dedup" => "dedup"
    case "embed" | "ann" => "embed"
    case "events" | "docs" => "streams" // the MemoryStream replay harnesses
    case "text" | "hybrid" => "text"
    case "pipeline" | "source" => "pipeline"
    case _ => "misc" // mm_*, q1/q3/q5, future prefixes
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt).getOrElse(3))
    val isolate = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATE", "process")
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    // SPARK_GRAFT_BENCH_AB=<other classes dir>: the INTERLEAVED A/B
    // protocol (SCALE.md) as a standing Bench mode — the only sound way
    // to compare two binaries on a machine with co-tenant load
    val ab = sys.env.get("SPARK_GRAFT_BENCH_AB").map(_.trim).filter(_.nonEmpty)
    if (!isChild && ab.isDefined) {
      abOrchestrate(sfDir, runs, ab.get)
      return
    }
    if (!isChild && isolate != "off" &&
        !sys.env.get("SPARK_GRAFT_BENCH_ONLY").exists(_.trim.nonEmpty)) {
      orchestrate(sfDir, runs)
      return
    }
    val spark = Scale.localSession("4")

    // optional subset filter (comma-separated names / prefixes ending in
    // '*') — the regression-bisection lever: run one family, or replay an
    // old round's query set, inside the same binary
    // trailing .filter(_.nonEmpty): SPARK_GRAFT_BENCH_ONLY="" must mean
    // "unset", not "select nothing" — an empty token list would make
    // selected() false for every query and the bench would print a vacuous
    // total=0 that reads as a round-over-round speedup
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def selected(name: String): Boolean = only.forall(_.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p))
    val selectedNames = SparkEntry.queries.keys.filter(selected).toSeq

    // pre-build shared stores outside the timed region — but only the
    // stores the SELECTED queries touch. Queries build them lazily anyway
    // (TestStores memoizes), so gating can't break a run; it keeps
    // family-scoped sessions (BENCH_ONLY bisects, the ScaleGen stress run)
    // from paying an untimed multi-minute ai/vdb store build they never
    // read — at the 100×-docs scale dir the aiEngine build alone embeds
    // 500k documents.
    // (ann_ivf_exact reads the shared IVF artifact and q1/q3/q5 read bare
    // parquet tables — keeping them out of this gate saves their families'
    // sessions an unread emb+HNSW+KD store build)
    if (selectedNames.exists(_.startsWith("vdb_")))
      graft.queries.TestStores.engine(spark, sfDir)
    if (selectedNames.exists(_.startsWith("ai_")))
      graft.queries.TestStores.aiEngine(spark, sfDir)
    if (selectedNames.contains("vdb_sim_kdtree_filtered_large"))
      graft.queries.TestStores.li4Engine(spark, sfDir)
    if (selectedNames.contains("vdb_sim_hnsw_routed"))
      graft.queries.TestStores.routedEngine(spark, sfDir)
    if (selectedNames.contains("vdb_sim_hnsw_routed_filtered"))
      graft.queries.TestStores.li4RoutedEngine(spark, sfDir)
    // r18 (VERDICT r17 item 1): li4ScanEngine was the ONE shared read-only
    // store missing from this gate — the scan query's first timed run paid
    // the full-lineitem store + 16-shard HNSW build (the 42.5 s spread
    // outlier on a 0.4 s query; the store is memoized per process, so the
    // per-family fork guaranteed the build landed inside the timing)
    if (selectedNames.contains("vdb_sim_hnsw_routed_scan"))
      graft.queries.TestStores.li4ScanEngine(spark, sfDir)
    // same fixture split for the stamped routed artifacts: buildOrLoad
    // persists to /tmp, but the first process per data version (or after a
    // tmp wipe) trains INSIDE the first timed run without these gates
    if (selectedNames.exists(n => n == "embed_topk_hnsw_routed" ||
        n == "embed_topk_join_routed" || n == "embed_topk_join_routed_filtered"))
      graft.queries.TestStores.routedIndex(spark, sfDir)
    if (selectedNames.contains("embed_topk_join_routed_opq"))
      graft.queries.TestStores.routedOpqIndex(spark, sfDir)
    if (selectedNames.exists(n => n == "dedup_incremental" ||
        n == "docs_dedup_incr_stream"))
      graft.queries.TestStores.minHashIndex(spark, sfDir)
    // the shared ANN artifacts (stamped IVF index / PQ codebook): built or
    // loaded outside the timed region — the per-query timings measure the
    // PROBE, the production split (train-once is IvfSpec/PqSpec territory)
    if (selectedNames.exists(n => n == "ann_ivf_exact" ||
        (n.startsWith("embed_topk_") && n.endsWith("_ivf"))))
      graft.queries.TestStores.ivfIndex(spark, sfDir)
    if (selectedNames.contains("embed_topk_join_routed_sq8"))
      graft.queries.TestStores.routedSq8Index(spark, sfDir)
    if (selectedNames.contains("embed_topk_join_routed_pq"))
      graft.queries.TestStores.routedPqIndex(spark, sfDir)
    if (selectedNames.contains("embed_hard_negatives_ivf"))
      graft.queries.TestStores.ivfLabeledIndex(spark, sfDir)
    if (selectedNames.exists(n => n == "embed_topk_pq" || n == "embed_topk_pq_ivf"))
      graft.queries.TestStores.pqCodebook(spark, sfDir)

    // warm the near-dup/CC code paths on a toy corpus: whole-stage codegen
    // compilation and JIT otherwise land entirely on whichever family
    // member runs FIRST (alphabetically dedup_cluster — measured 10.4 s
    // cold vs 3.8 s warm for the same query), skewing per-query medians
    if (selectedNames.exists(n => n.startsWith("dedup_") || n.startsWith("embed_") ||
        n.startsWith("events_"))) {
      import spark.implicits._
      val toy = Seq(1L -> "a b c d e f", 2L -> "a b c d e g", 3L -> "x y z w q r")
        .toDF("doc_id", "text")
      val pairs = graft.dedup.Dedup.minHashLshJoin(toy, "doc_id", "text", 3, 0.5)
      graft.dedup.ConnectedComponents.label(pairs, "a", "b").count()
      ()
    }

    // first error per failed query, surfaced in the JSON: a silent -1 made
    // the 100×-corpus stress run undiagnosable without a per-query rerun
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
      val samples = (0 until runs).flatMap { _ =>
        // between RUNS too, not just between queries: the near-dup joins
        // unpersist their stage caches non-blocking, so a back-to-back
        // repeat races the still-draining block drops of its own previous
        // run — measured on dedup_minhash_lsh at sf0.1: 2.5/7.8/2.6 s
        // without this GC, 2.4/1.9/1.8 s with it. The spike lands in the
        // MEDIAN (run 2 of 3), which is exactly the number we report.
        System.gc()
        graft.obs.Trace.drainFixtureNs() // clear any carried accumulation
        val t0 = System.nanoTime()
        // full-materialization sink: toRdd.count() consumes every output
        // UnsafeRow, so ALL result columns are computed. A df.count() sink
        // would let Catalyst prune unused columns — pure-projection queries
        // (text_*, mm_*) would then measure parquet scan + row count, not
        // the expression work the query exists to measure.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(name,
              s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
                .replaceAll("[\"\\\\\n\r\t]", " "))
            false }
        val wall = (System.nanoTime() - t0) / 1e9
        // fixture split (Trace.fixture blocks inside the query body):
        // private store population / stream scaffolding vs the operator
        // exercise — kept per-sample so the reported pair comes from the
        // SAME run the median selects
        val fx = graft.obs.Trace.drainFixtureNs() / 1e9
        if (ok) Some((wall, fx)) else None
      }.sortBy(_._1)
      // (the near-dup joins return eager localCheckpoints whose blocks are
      // only freed when the ContextCleaner sees the RDD garbage-collected —
      // left to chance, the accumulated blocks trigger one giant GC+evict
      // wall inside whichever query happens to run when memory fills; the
      // per-run GC above pins that cleanup OUTSIDE every timed region)
      // a failing query reports -1, never a tiny fast-fail "time" that
      // would read as a round-over-round win
      name -> samples
    }
    // per-run samples are surfaced for HIGH-SPREAD queries (max/min > 2):
    // a bimodal query's median alone cannot distinguish "every run slow"
    // (real regression) from "one run spiked" (session pressure) — the
    // exact ambiguity that cost three rounds of weak-mark attribution
    val spread = results.collect {
      case (k, ss) if ss.length >= 2 && ss.head._1 > 0 &&
          ss.last._1 / ss.head._1 > 2.0 =>
        // Locale.ROOT: the f"" interpolator is locale-sensitive — under a
        // comma-decimal default locale it would emit invalid JSON, and the
        // parent's parse of a child's line would mark the family failed
        "\"" + k + "\":[" + ss.map(s =>
          String.format(java.util.Locale.ROOT, "%.3f", Double.box(s._1)))
          .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val medians = results.map { case (name, samples) =>
      name -> (if (samples.isEmpty) -1.0 else samples(samples.length / 2)._1)
    }
    // per-query fixture seconds of the MEDIAN run, for queries that
    // declared a fixture phase: `exercise = median - fixture` is the
    // round-over-round comparable component (the total otherwise grows
    // with mutation-coverage volume, not operator speed)
    val fixtures = results.collect {
      case (name, samples) if samples.nonEmpty &&
          samples(samples.length / 2)._2 > 0.005 =>
        "\"" + name + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(samples(samples.length / 2)._2))
    }.mkString("{", ",", "}")
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = medians.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // `total` sums PASSING medians only, so it is comparable round-over-round
    // ONLY when `failed` is empty — a failure must never read as a speedup
    val total = medians.map(_._2).filter(_ >= 0).sum
    // headline keys (`value`, `failed`) go LAST: the driver captures the
    // tail of stdout, so truncation must eat per-query detail, never the
    // round-over-round `total` (BENCH_r06 lost it to a head-side cut)
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // which binary produced this line: the code-source location of this
    // class — the A/B orchestrator verifies its two arms differ (a
    // classpath-swap miss once ran a silent a-vs-a and read as
    // "no regression"; see abOrchestrate)
    val binary = scala.util.Try(Bench.getClass.getProtectionDomain
      .getCodeSource.getLocation.toString).getOrElse("unknown")
      .replaceAll("[\"\\\\\n\r\t]", " ")
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"isolation":"single-session","binary":"$binary","spread":$spread,"fixture":$fixtures,"queries":$qs,"errors":$errs,"failed":$failed,"value":$total}"""
    // stdout gets the compact contract line; the full-fat line (spread,
    // fixture, binary stamp, full precision) goes to the JSON artifact —
    // see compactLine and the orchestrate-side comment (VERDICT r17 item 2)
    println(compactLine(sfDir, runs, "single-session", medians, errs, failed, total))
    // truncation-proof copy: the driver's stdout tail capture has twice
    // eaten per-query detail (18 queries in round 7, including the round's
    // #1 perf target); the full JSON also lands in a repo file so every
    // per-query median survives regardless of how stdout is captured.
    // A SUBSET run (BENCH_ONLY set, not an orchestrated child) must never
    // land on the round record by default — one did exactly that and
    // replaced the committed 103-query artifact with a single-query scratch
    // line. Side-runs default to a temp file; BENCH_LAST.json now requires
    // an explicit SPARK_GRAFT_BENCH_OUT (or a full orchestrated run).
    val defaultOut =
      if (only.nonEmpty && !isChild) "/tmp/graft-bench-only.json"
      else "BENCH_LAST.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outFile: $e") }
    spark.stop()
  }

  /** INTERLEAVED A/B of this binary (arm "a") against another build's
    * classes dir (arm "b"): the cross-round comparison protocol SCALE.md
    * established manually, promoted to a standing Bench mode. Sequential
    * re-measures on a co-tenant machine are not evidence — load drifts on
    * the scale of minutes, so arm runs must ALTERNATE (a,b,a,b,…) and be
    * compared as per-arm medians, letting load variation average out
    * (the ai_upsert and dedup_incremental attributions were settled
    * exactly this way). Each invocation is one fresh JVM running the
    * selected queries once (SPARK_GRAFT_BENCH_ONLY filters; default =
    * every query both binaries know). Arm "b"'s classpath is this
    * process's with the repo classes entry swapped for `abClasses` — the
    * unmanaged Spark jars are identical by construction. Queries missing
    * from one binary's registry report only in the other's medians.
    * Output: one `"metric":"ab"` JSON line with per-query
    * {a, b, ratio = a/b} (ratio > 1 ⇒ this binary is slower), written to
    * SPARK_GRAFT_BENCH_OUT (default BENCH_AB.json). */
  /** AUTO panel selection (round 15, closing the fixed-panel seam: the
    * round-14 A/B's 15 fixed queries missed all three of that round's
    * >1.5× driver movers, leaving them formally unattributed). With
    * `SPARK_GRAFT_BENCH_AB_BASELINE=<previous round's BENCH_LAST.json>`
    * set (and no explicit BENCH_ONLY), the panel becomes: the CURRENT
    * run's most-regressed dozen vs that baseline (by median ratio, among
    * queries ≥ 0.5 s — below that, ratios are noise) ∪ the routed/mutation
    * family (the standing attribution anchor). Current-run medians come
    * from `SPARK_GRAFT_BENCH_AB_CURRENT` (default BENCH_LAST.json — run
    * the full bench first). */
  private def autoPanel(names: Seq[String]): Option[Seq[String]] = {
    val basePath = sys.env.get("SPARK_GRAFT_BENCH_AB_BASELINE")
      .map(_.trim).filter(_.nonEmpty)
    if (basePath.isEmpty) return None
    val curPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_AB_CURRENT", "BENCH_LAST.json")
    // EXERCISE seconds (median minus the declared fixture component):
    // ranking raw medians would let grown mutation-fixture volume claim
    // panel slots and hide real exercise regressions under big constant
    // fixture terms — the exact distinction the fixture split exists for
    def qmap(p: String): Map[String, Double] =
      try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))
        def obj(field: String): Map[String, Double] = (j \ field) match {
          case JObject(fs) => fs.map { case (k, v) =>
            k -> v.asInstanceOf[JValue].values.toString.toDouble }.toMap
          case _ => Map.empty
        }
        val fx = obj("fixture")
        obj("queries").map { case (k, v) =>
          k -> (if (v < 0) v else math.max(0.001, v - fx.getOrElse(k, 0.0)))
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench-ab: could not read bench json $p: $e")
        Map.empty
      }
    val base = qmap(basePath.get)
    val cur = qmap(curPath)
    if (base.isEmpty || cur.isEmpty) return None
    val regressed = names
      .filter(n => cur.getOrElse(n, -1.0) >= 0.5 && base.getOrElse(n, -1.0) > 0)
      .sortBy(n => -(cur(n) / base(n)))
      .take(12)
    val routed = names.filter(_.contains("routed"))
    // CARRY list (round-16 ask #4, closing the auto rule's structural
    // blind spot): the auto dozen is selected from the BUILDER's run
    // against the DRIVER's baseline, so a query that regressed only in
    // the DRIVER's final run escapes selection — and next round the
    // inflated baseline makes it read "improved", so the auto rule alone
    // can NEVER pick it. The previous round's driver-flagged movers are
    // therefore unioned in unconditionally (env-overridable when the
    // next round's movers differ).
    val carry = sys.env.get("SPARK_GRAFT_BENCH_AB_CARRY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(carryFromArtifact())
      .filter(names.contains)
    val panel = (regressed ++ routed ++ carry).distinct.sorted
    System.err.println("bench-ab: AUTO panel = top-regressed dozen vs " +
      s"${basePath.get} + routed family + carry ${carry.mkString("{", ",", "}")}: " +
      panel.mkString(", "))
    Some(panel)
  }

  /** The carry panel, read from the COMMITTED `BENCH_CARRY.json` artifact
    * (round-17, closing VERDICT r16 "what's wrong" #1: the round-16 carry
    * list was a hardcoded source constant — round 15's movers baked into
    * `CarryPanel` — so each round's driver-flagged movers would silently
    * drop out of the next round's panel unless someone edited source.
    * Data-driven, the round workflow is: the verdict flags driver-run
    * movers → the next session rewrites BENCH_CARRY.json's `carry` array
    * from that list and commits it beside the code — no source edit, and
    * `git log BENCH_CARRY.json` is the audit trail of what was carried
    * when and why, via the required `source` field).
    *
    * Resolution order: SPARK_GRAFT_BENCH_AB_CARRY env (ad-hoc override) →
    * BENCH_CARRY.json (path overridable via SPARK_GRAFT_BENCH_CARRY_FILE;
    * relative to the working directory, which under sbt is the repo
    * root) → empty with a loud stderr note (a missing artifact must not
    * abort the A/B — the auto panel still runs — but it must not be
    * silent either, or the blind spot reopens invisibly). */
  private[graft] def carryFromArtifact(
      pathIn: String = sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_CARRY_FILE", "BENCH_CARRY.json")): Seq[String] = {
    val path = pathIn
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path)))
      (j \ "carry") match {
        case JArray(xs) =>
          xs.collect { case JString(s) if s.trim.nonEmpty => s.trim }
        case _ =>
          System.err.println(
            s"bench-ab: $path has no 'carry' string array — carry panel empty")
          Seq.empty
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench-ab: could not read carry artifact $path " +
          s"($e) — carry panel empty; driver-flagged movers from the " +
          "previous round will NOT be re-measured")
        Seq.empty
    }
  }

  private def abOrchestrate(sfDir: String, runs: Int, abClasses: String): Unit = {
    import scala.jdk.CollectionConverters._
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def selected(name: String): Boolean = only.forall(_.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p))
    val allNames = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    val names =
      if (only.isDefined) allNames
      else autoPanel(allNames).getOrElse(allNames)
    val cpA = System.getProperty("java.class.path")
    val sep = java.io.File.pathSeparator
    // the repo's code travels either as .../target/scala-2.13/classes
    // (direct java -cp) or packaged as ahnlichspark_*.jar (sbt's forked
    // run) — match BOTH, and fail LOUDLY if neither matched: a missed
    // swap silently measures a-vs-a and reads as "no regression" (the
    // round-14 incident this guard encodes; the per-arm "binary" stamps
    // in the output make it independently checkable)
    def isRepoEntry(e: String): Boolean =
      e.endsWith(s"target${java.io.File.separator}scala-2.13${java.io.File.separator}classes") ||
        new java.io.File(e).getName.startsWith("ahnlichspark")
    val cpB = cpA.split(sep).map(e => if (isRepoEntry(e)) abClasses else e)
      .mkString(sep)
    if (cpB == cpA) {
      System.err.println("bench-ab: could not locate this binary's repo " +
        "classpath entry to swap (looked for target/scala-2.13/classes " +
        s"or an ahnlichspark jar in: $cpA) — arm b would silently rerun " +
        "arm a. Aborting.")
      sys.exit(2)
    }
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-ab")
    val samples = scala.collection.mutable.LinkedHashMap[(String, String), List[Double]]()
    // per-arm binary stamps from the children's own JSON — the
    // independent proof the two arms ran DIFFERENT code ("pre-stamp"
    // for binaries older than the stamp field, which is itself evidence)
    val binaries = scala.collection.mutable.LinkedHashMap[String, String]()
    for (r <- 0 until runs; (arm, cp) <- Seq(("a", cpA), ("b", cpB))) {
      val outFile = tmp.resolve(s"$arm$r.json")
      val logFile = tmp.resolve(s"$arm$r.log").toFile
      val pb = new ProcessBuilder(
        (Seq("java") ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_RUNS", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
      pb.environment().remove("SPARK_GRAFT_BENCH_AB")
      pb.redirectOutput(logFile)
      pb.redirectErrorStream(true)
      System.err.println(s"bench-ab: round ${r + 1}/$runs arm $arm " +
        s"(${names.length} queries) in fresh JVM")
      val rc = pb.start().waitFor()
      if (!java.nio.file.Files.exists(outFile))
        System.err.println(s"bench-ab: arm $arm round $r produced no JSON " +
          s"(rc=$rc, log $logFile)")
      else try {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(java.nio.file.Files.readString(outFile))
        (j \ "binary") match {
          case JString(b) => binaries(arm) = b
          case _ => binaries.getOrElseUpdate(arm, "pre-stamp binary")
        }
        (j \ "queries") match {
          case JObject(fs) => fs.foreach { case (k, v) =>
            val t = v.asInstanceOf[JValue].values.toString.toDouble
            if (t >= 0) // a failing query must not pollute the arm median
              samples((k, arm)) = samples.getOrElse((k, arm), Nil) :+ t
          }
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench-ab: arm $arm round $r unparseable: $e") }
    }
    def medianOf(q: String, arm: String): Option[Double] =
      samples.get((q, arm)).filter(_.nonEmpty)
        .map { xs => val s = xs.sorted; s(s.length / 2) }
    val perQuery = names.map { q =>
      val (ma, mb) = (medianOf(q, "a"), medianOf(q, "b"))
      val ratio = for (a <- ma; b <- mb if b > 0) yield a / b
      def n(v: Option[Double]) = v.fold("null")(_.toString)
      "\"" + q + "\":{\"a\":" + n(ma) + ",\"b\":" + n(mb) +
        ",\"ratio\":" + n(ratio) + "}"
    }.mkString("{", ",", "}")
    val failed = names.filter(q => medianOf(q, "a").isEmpty)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalA = names.flatMap(medianOf(_, "a")).sum
    def bin(arm: String) = binaries.getOrElse(arm, "no JSON")
      .replaceAll("[\"\\\\\n\r\t]", " ")
    if (bin("a") == bin("b"))
      System.err.println("bench-ab: WARNING — both arms report the SAME " +
        s"binary stamp (${bin("a")}); the comparison below is a-vs-a noise, " +
        "not an A/B")
    val panelKind =
      if (only.isDefined) "explicit"
      else if (names.length != allNames.length) "auto-regressed+routed"
      else "all"
    val line = s"""{"metric":"ab","unit":"sec","sf":"$sfDir","runs":$runs,"isolation":"interleaved-ab","panel":"$panelKind","armABinary":"${bin("a")}","armBBinary":"${bin("b")}","armB":"$abClasses","queries":$perQuery,"failed":$failed,"value":$totalA}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_AB.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench-ab: could not write $outFile: $e") }
  }

  /** Fork one fresh JVM per query family, merge the per-family JSONs into
    * the single line the driver captures. Children reuse this process's
    * classpath and JVM flags (sbt's forked-run flags include the JDK-17
    * add-opens Spark needs) and the full environment, overridden with the
    * family filter + child marker; each child's stdout/stderr goes to a
    * log file surfaced only on failure. A child that dies marks its
    * queries failed — never silently absent. */
  private def orchestrate(sfDir: String, runs: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val names = SparkEntry.queries.keys.toSeq.sorted
    val families = names.groupBy(familyOf).toSeq.sortBy(_._1)
    val cp = System.getProperty("java.class.path")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-iso")
    val queries = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, String]()
    val fixtures = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((fam, qs) <- families) {
      val outFile = tmp.resolve(s"$fam.json")
      val logFile = tmp.resolve(s"$fam.log").toFile
      val cmd = (Seq("java") ++ jvmArgs ++
        Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", qs.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
      pb.redirectOutput(logFile)
      pb.redirectErrorStream(true)
      System.err.println(s"bench: family $fam (${qs.length} queries) in fresh JVM")
      val rc = pb.start().waitFor()
      val parsed: Option[(Map[String, Double], Map[String, String])] =
        if (!java.nio.file.Files.exists(outFile)) None
        else try {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val j = JsonMethods.parse(java.nio.file.Files.readString(outFile))
          val qm = (j \ "queries") match {
            case JObject(fs) => fs.map { case (k, v) =>
              k -> v.asInstanceOf[JValue].values.toString.toDouble }.toMap
            case _ => Map.empty[String, Double]
          }
          val em = (j \ "errors") match {
            case JObject(fs) => fs.map { case (k, v) =>
              k -> v.values.toString }.toMap
            case _ => Map.empty[String, String]
          }
          (j \ "spread") match {
            case JObject(fs) => fs.foreach { case (k, v) =>
              spreads(k) = JsonMethods.compact(JsonMethods.render(
                v.asInstanceOf[JValue])) }
            case _ => ()
          }
          (j \ "fixture") match {
            case JObject(fs) => fs.foreach { case (k, v) =>
              fixtures(k) = JsonMethods.compact(JsonMethods.render(
                v.asInstanceOf[JValue])) }
            case _ => ()
          }
          Some((qm, em))
        } catch { case scala.util.control.NonFatal(_) => None }
      parsed match {
        case Some((qm, em)) =>
          for (q <- qs) queries(q) = qm.getOrElse(q, -1.0)
          errors ++= em
          if (rc != 0) System.err.println(
            s"bench: family $fam exited rc=$rc (results parsed; see $logFile)")
        case None =>
          for (q <- qs) { queries(q) = -1.0
            errors.getOrElseUpdate(q, s"family $fam child JVM rc=$rc, no output") }
          System.err.println(s"bench: family $fam produced no JSON (rc=$rc) — " +
            s"last log lines:")
          scala.util.Try(scala.io.Source.fromFile(logFile).getLines().toSeq
            .takeRight(15).foreach(System.err.println))
      }
    }
    val qsJson = queries.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = queries.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = queries.values.filter(_ >= 0).sum
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" +
      v.replaceAll("[\"\\\\\n\r\t]", " ") + "\"" }.mkString("{", ",", "}")
    val famJson = families.map { case (f, qs) =>
      "\"" + f + "\":" + qs.length }.mkString("{", ",", "}")
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fixtureJson = fixtures.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"isolation":"process-per-family","families":$famJson,"spread":$spreadJson,"fixture":$fixtureJson,"queries":$qsJson,"errors":$errs,"failed":$failed,"value":$total}"""
    // STDOUT gets the COMPACT line (VERDICT r17 item 2): the driver's
    // stdout capture keeps only a bounded tail, and the full-fat line
    // (spread/families/fixture, full-precision doubles) had grown to
    // ~10 KB — truncated mid-object, it parsed as nothing in BOTH r16 and
    // r17. Per-query seconds are rounded to 1 ms on the LINE only; the
    // full-precision full-fat line still lands in BENCH_LAST.json, so no
    // measurement detail is lost — only the stdout transport got smaller.
    // Same methodology, same queries, same totals.
    println(compactLine(sfDir, runs, "process-per-family",
      queries.toSeq, errs, failed, total))
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outFile: $e") }
  }

  /** The driver-facing stdout line: contract keys only (metric, unit, sf,
    * runs, isolation, queries, errors, failed, value), 1 ms resolution.
    * Headline keys stay LAST so a tail-side cut eats per-query detail,
    * never `value`/`failed`. */
  private def compactLine(sfDir: String, runs: Int, isolation: String,
      queries: Seq[(String, Double)], errsJson: String, failedJson: String,
      total: Double): String = {
    def f3(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = queries.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"isolation":"$isolation","queries":$qs,"errors":$errsJson,"failed":$failedJson,"value":${f3(total)}}"""
  }
}
