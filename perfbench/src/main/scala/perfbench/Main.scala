package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints a report to stderr and, as the last line of
  * stdout, the result as one JSON object. */
object Main {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, Paths.get(get("work")).toAbsolutePath)
    require(Gen.Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Gen.Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // the traced run cross-checks its job attribution against the status
    // store, which must then keep every job of the traced loop
    val spark = (if (trace) builder.config("spark.ui.retainedJobs", "1000000") else builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      Files.createDirectories(o.work)
      // the engine's own span recorder stays off: the benchmark times
      // layers from outside
      graft.obs.Trace.enabled = false
      val spark = session(o.work, o.trace)
      try {
        val out = Runner.run(spark, o)
        val err = System.err
        err.println(s"== ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
        (out.metrics ++ out.report).foreach(m =>
          err.println(f"  ${m.name}%-40s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}"))
        err.println(s"  attempted=${out.attempted} failed=${out.failed}")
        out.failures.toSeq.sorted.foreach { case (f, n) => err.println(s"  FAILED x$n $f") }
        println(out.json)
        0
      } finally spark.stop()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }
}
