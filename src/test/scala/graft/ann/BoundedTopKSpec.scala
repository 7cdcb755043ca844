package graft.ann

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.spark

/**
 * [[BoundedTopK]] — the bounded per-task fold that replaced every join's
 * `Window.partitionBy(qid)` rank. Its contract is BIT-IDENTITY with the
 * window formulation (same (score DESC, cid ASC) total order, same
 * tie-break), so the pin is a direct differential against a window over
 * the same frame — including score TIES, the flush path (partials merged
 * downstream must compose exactly), and the degenerate shapes.
 */
class BoundedTopKSpec extends AnyFunSuite {
  import spark.implicits._

  /** Deterministic frame with many groups, duplicates-free cids, and
    * DELIBERATE score ties (score quantized to few distinct values). */
  private def frame(nQ: Int, perQ: Int) = {
    val rows = for (q <- 0 until nQ; c <- 0 until perQ) yield {
      val h = (q * 1315423911L + c * 2654435761L) % 97
      (q.toLong, (c * 31 + q).toLong, (h % 7).toDouble / 7.0)
    }
    rows.toDF("qid", "cid", "s")
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("cid").asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("s").as("score"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
  }

  private def viaFold(df: org.apache.spark.sql.DataFrame, k: Int) =
    BoundedTopK.topK(df, "qid", "cid", "s", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("bit-identical to the window formulation, ties included") {
    val df = frame(nQ = 50, perQ = 200).repartition(8)
    for (k <- Seq(1, 7, 50)) {
      assert(viaFold(df, k) == viaWindow(df, k), s"diverged at k=$k")
    }
  }

  test("flush path: partials merged downstream compose exactly") {
    val df = frame(nQ = 40, perQ = 100).repartition(4)
    val expect = viaWindow(df, 5)
    // force a flush after every ~3 groups' worth of heap entries
    BoundedTopK.flushEntriesOverride.set(Integer.valueOf(15))
    try assert(viaFold(df, 5) == expect,
      "flushed partials must merge to the exact result")
    finally BoundedTopK.flushEntriesOverride.remove()
  }

  test("a repeated (qid, cid) ranks once, at its best score — flushed partials too") {
    // every pair twice: once as is, once with a different score — the
    // fold must equal the window over the per-pair max
    val base = frame(nQ = 30, perQ = 60)
    val dup = base.union(base.withColumn("s", (col("s") * 7.0 + 0.3) % 1.0))
      .repartition(4)
    val expect = viaWindow(dup.groupBy("qid", "cid").agg(max(col("s")).as("s")), 5)
    assert(viaFold(dup, 5) == expect)
    BoundedTopK.flushEntriesOverride.set(Integer.valueOf(15))
    try assert(viaFold(dup, 5) == expect, "merged partials must dedup ids too")
    finally BoundedTopK.flushEntriesOverride.remove()
  }

  test("degenerate shapes: k > candidates, empty input, null rows ignored") {
    val tiny = Seq((1L, 10L, 0.5), (1L, 11L, 0.5), (2L, 12L, 0.1))
      .toDF("qid", "cid", "s")
    assert(viaFold(tiny, 100) == viaWindow(tiny, 100))
    assert(BoundedTopK.topK(tiny.limit(0), "qid", "cid", "s", 3).count() == 0)
    val withNulls = Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 0.5), (1L, null, 0.9), (null, 11L, 0.9), (1L, 12L, null))
      .toDF("qid", "cid", "s")
    assert(viaFold(withNulls, 5) == Seq((1L, 10L, 0.5, 1L)),
      "rows with NULL qid/cid/score must be ignored")
  }
}
