package graft.scenario

import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.Scale.Run

/**
 * `plans`: the plan-shape record optimization claims are checked against.
 * For each named query it writes the formatted physical plan to
 * `plans/<SPARK_GRAFT_PLAN_TAG>/<name>_<suffix>.txt` (an absolute tag is
 * used as the directory itself) and prints a one-line build summary; with
 * `--run` it also executes the query (toRdd.count, the bench's sink) and
 * reports wall seconds plus job/stage/task counts. Counts come from
 * Spark's status store, read after the listener bus drains
 * ([[ListenerBridge]]); `--jobs` lists the slowest jobs with their
 * engine-op identity (run with SPARK_GRAFT_TRACE=1 so a Trace span names
 * each job). Never part of the bench or of the `SparkEntry` query registry.
 *
 * Args: <suffix> <query[,query...]|all> [--run] [--jobs]; reads
 * `SPARK_GRAFT_SF_DIR` (required) and `SPARK_GRAFT_PLAN_TAG` (default r17).
 */
object Plans {

  def run(r: Run): Unit = {
    val spark = r.spark
    val sc = spark.sparkContext
    val suffix = r.arg(0).getOrElse("before")
    val names0 = r.arg(1).getOrElse("all")
    val doRun = r.args.contains("--run")
    val verbose = r.args.contains("--jobs")
    val sfDir = r.required("SPARK_GRAFT_SF_DIR")
    val all = graft.SparkEntry.queries
    val names =
      if (names0 == "all") all.keys.toSeq.sorted
      else names0.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .flatMap(p => if (p.endsWith("*"))
          all.keys.filter(_.startsWith(p.dropRight(1))).toSeq.sorted
        else Seq(p))
    val dir = java.nio.file.Paths.get("plans")
      .resolve(r.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r17"))
    java.nio.file.Files.createDirectories(dir)

    /** Drain the bus, then the jobs since `mark`: (count, stages, tasks, jobs). */
    def since(mark: Int): (Int, Int, Long, Seq[ListenerBridge.JobStat]) = {
      ListenerBridge.drain(sc)
      val js = ListenerBridge.jobsAfter(sc, mark)
      (ListenerBridge.lastJobId(sc) - mark, js.map(_.stages).sum, js.map(_.tasks).sum, js)
    }
    def mark(): Int = { ListenerBridge.drain(sc); ListenerBridge.lastJobId(sc) }

    for (n <- names) {
      try {
        val m0 = mark()
        val t0 = System.nanoTime()
        val df = all(n)(spark, sfDir)
        val buildS = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        val exch = "(?m)^\\s*[+:]?[- ]*\\(?\\d*\\)?\\s*Exchange".r.findAllIn(plan).length
        java.nio.file.Files.write(dir.resolve(s"${n}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val (buildJobs, _, _, buildList) = since(m0)
        val jobList = if (doRun) {
          val m1 = mark()
          val t1 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val runS = (System.nanoTime() - t1) / 1e9
          val (jobs, stages, tasks, list) = since(m1)
          println(f"$n%-36s build=$buildS%6.2fs (jobs=$buildJobs) " +
            f"run=$runS%6.2fs jobs=$jobs stages=$stages tasks=$tasks exch=$exch")
          buildList ++ list
        } else {
          println(f"$n%-36s build=$buildS%6.2fs (jobs=$buildJobs) exch=$exch")
          buildList
        }
        if (verbose)
          jobList.sortBy(-_.wallMs).take(40).foreach(j =>
            println(f"    job ${j.id}%3d  ${j.wallMs / 1e3}%6.2fs  ${j.desc}"))
      } catch {
        case e: Throwable =>
          println(s"$n FAILED: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
  }
}
