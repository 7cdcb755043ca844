package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.types.GraftException

/** Smoke test of the measurement harness: every declared scenario runs end
  * to end at its smallest size on the test session (generated corpora of
  * 2000 rows, directory scenarios on sf0.001), prints its closing table,
  * and leaves the session running. */
class ScaleSpec extends AnyFunSuite {

  private def spark = TestFixtures.spark
  private val SfDir = "/root/testdata/sf0.001"
  private val Small = "2000"

  /** Run `name` with stdout captured; the captured text. */
  private def run(name: String, args: Seq[String],
      env: Map[String, String] = Map.empty): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Scale.run(spark, name, args, env)
    }
    val out = buf.toString("UTF-8")
    assert(!spark.sparkContext.isStopped, s"$name stopped the session")
    out
  }

  private def smoke(name: String, args: Seq[String], expect: String,
      env: Map[String, String] = Map.empty): Unit =
    test(s"scenario $name runs end to end") {
      val out = run(name, args, env)
      assert(out.contains(expect), s"$name printed no '$expect':\n$out")
    }

  smoke("recall", Seq(Small, "hnsw,routed,ivf,pq,neg", "8"), "| configuration | cost knob | Recall@50 |")
  smoke("calibrate", Seq(Small), "| target | probesFor | workload-curve recall |")
  smoke("calibrate-mixed", Seq(Small), "ladder points outside the combined noise bound")
  smoke("calibrate-kladder", Seq(Small), "| probes | recall@10 | recall@50 |")
  smoke("calibrate-filtered", Seq(Small), "| filter | selectivity | auto route |")
  smoke("cdc", Seq(Small), "| survivor Recall@50 @ probes=8/64 |")
  smoke("cdc-pq", Seq(Small), "storage=pq")
  smoke("cdc-opq", Seq(Small), "storage=opq")
  smoke("delete", Seq(Small), "| deleted | tier | delete wall |")
  // the past-cap DelPred really took the whole-invalidate path at 2000 rows
  smoke("delete-cliff", Seq(Small),
    "routed delete cap 100: in-cap DelPred 10 rows, past-cap DelPred 664 rows, index invalidated whole")
  smoke("join", Seq(Small), "| 1,000 |")
  smoke("join-filtered", Seq(Small), "| selectivity | routed p=64 (wall / recall@10) |")
  smoke("mutate", Nil, "| Upsert, single entry | 1 |", Map("SPARK_GRAFT_SF_DIR" -> SfDir))
  smoke("opq", Seq(Small), "delta: OPQ - PQ")
  smoke("quant", Seq(Small), "768-d probes=16 Recall@50")
  smoke("staleness", Seq(Small, "8", "2"), "| drifted | 50% |")
  smoke("stream", Nil, "| embedding card", Map("SPARK_GRAFT_SF_DIR" -> SfDir))

  test("scenario gen runs end to end") {
    val out = Files.createTempDirectory("graft-scale-gen")
    try {
      val printed = run("gen", Nil, Map("SPARK_GRAFT_SCALE_SRC" -> SfDir,
        "SPARK_GRAFT_SCALE_OUT" -> out.toString, "SPARK_GRAFT_SCALE_DOCS" -> "2",
        "SPARK_GRAFT_SCALE_EMB" -> "2", "SPARK_GRAFT_SCALE_EVENTS" -> "2"))
      val docs = spark.read.parquet(s"$SfDir/documents.parquet").count()
      assert(printed.contains(s""""documents":${2 * docs}"""), printed)
    } finally graft.engine.Persistence.deleteDir(out.toString)
  }

  test("scenario plans runs end to end") {
    val tag = Files.createTempDirectory("graft-scale-plans")
    try {
      val printed = run("plans", Seq("smoke", "q1_agg,q3_join", "--run", "--jobs"),
        Map("SPARK_GRAFT_SF_DIR" -> SfDir, "SPARK_GRAFT_PLAN_TAG" -> tag.toString))
      assert(printed.linesIterator.count(_.contains(" run=")) == 2, printed)
      assert("q1_agg .* jobs=[1-9]".r.findFirstIn(printed).isDefined, printed)
      assert(Files.exists(tag.resolve("q1_agg_smoke.txt")))
    } finally graft.engine.Persistence.deleteDir(tag.toString)
  }

  test("every declared scenario is smoke-tested") {
    val tested = testNames.collect { case s"scenario $n runs end to end" => n }
    assert(tested == Scale.scenarios.map(_.name).toSet)
  }

  test("an unknown scenario fails with a GraftException listing the valid names") {
    val e = intercept[GraftException] { Scale.run(spark, "no-such", Nil) }
    Scale.scenarios.foreach(s => assert(e.getMessage.contains(s.name), e.getMessage))
  }

  test("SiftGen reproduces the pinned vectors") {
    def bits(g: Scale.SiftGen, idx: Long): Seq[String] = {
      val v = g(idx)
      Seq(0, 1, 2, v.length - 1).map(j => "0x%08x".format(java.lang.Float.floatToIntBits(v(j))))
    }
    val organic = Scale.SiftGen.organic()
    assert(bits(organic, 0L) == Seq("0xbeb15e87", "0x3eda3e02", "0xbf639a37", "0xbef0d7d8"))
    assert(bits(organic, 1L) == Seq("0xbe84d4c9", "0x3f354334", "0xbea9f2ce", "0xbd8e9f94"))
    assert(bits(organic, 10000000L) ==
      Seq("0x3ea72b6f", "0xbe1d8da0", "0x3f0f9c5a", "0x3f40321d"))
    assert(bits(new Scale.SiftGen(515L, 768, 16), 20000000L) ==
      Seq("0xbe49c251", "0x3f648476", "0x3e30d18a", "0xbf209827"))
  }
}
