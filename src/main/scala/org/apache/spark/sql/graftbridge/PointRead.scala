// lives inside org.apache.spark.sql so it can reach the private[sql]
// Dataset constructor and the session's analyzer; the logic is graft's own
package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.StructType

/**
 * Bounded point reads without a per-request Catalyst plan: the rows of a
 * store generation whose content id is in a small set, read in ONE job
 * over the generation's already-planned rows (`queryExecution.toRdd`,
 * planned once per generation), and returned as a [[DataFrame]] over a
 * `LocalRelation`. Collecting such a frame runs no job and reads nothing
 * back from the store, so a later mutation cannot break it.
 */
object PointRead {

  /** The directories of the files each partition of `rows` scans, read
    * from its planned file scan — no job. None unless every partition is a
    * file-scan partition (an in-memory store's cached frame is not). */
  def partitionDirs(rows: RDD[InternalRow]): Option[Array[Seq[String]]] = {
    val parts = rows.partitions.map {
      case fp: FilePartition => Some(fp.files.toSeq.map(_.filePath.toPath.getParent.toString))
      case _ => None
    }
    if (parts.forall(_.isDefined)) Some(parts.map(_.get)) else None
  }

  /** Resolve a predicate Column against `schema` and bind it to the
    * schema's ordinals, for interpretation over rows of that shape (the
    * [[ColumnBridge.evalConstants]] analyzer pass; no job). */
  def boundPredicate(spark: SparkSession, cond: Column, schema: StructType): Expression = {
    val output = DataTypeUtils.toAttributes(schema)
    val plan = Filter(
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(cond.node),
      LocalRelation(output))
    val analyzed = spark.sessionState.analyzer.execute(plan)
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    BindReferences.bindReference(analyzed.asInstanceOf[Filter].condition, output)
  }

  /** Copies of the rows of `rows` whose long column `idOrdinal` is in `ids`
    * and, when `pred` (bound by [[boundPredicate]]) is given, that satisfy
    * it — from the listed partitions only, in partition order. One job;
    * none when there is nothing to read. */
  def select(sc: SparkContext, rows: RDD[InternalRow], partitions: Seq[Int],
      idOrdinal: Int, ids: Set[Long], pred: Option[Expression]): Array[InternalRow] =
    if (ids.isEmpty || partitions.isEmpty) Array.empty
    else sc.runJob(rows, (it: Iterator[InternalRow]) => {
      val p = pred.map(Predicate.createInterpreted)
      it.filter(r => ids.contains(r.getLong(idOrdinal)) && p.forall(_.eval(r)))
        .map(_.copy()).toArray
    }, partitions).flatten

  /** A DataFrame of `schema` over driver-held rows. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(s,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
