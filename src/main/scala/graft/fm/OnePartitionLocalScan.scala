package graft.fm

import scala.collection.immutable.ArraySeq

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Plans every non-streaming LocalRelation as [[OnePartitionLocalTableScanExec]].
  * A driver-local `files` frame holds at most [[Corpus.LocalRows]] rows,
  * so it is one partition: its `SinglePartition` output satisfies every
  * distribution Aggregate, Sort, Window and TakeOrderedAndProject ask
  * for, `EnsureRequirements` adds no exchange, and the query runs as one
  * job with one task. Installed on [[QueryEngine]]'s private session only.
  */
object OnePartitionLocalScan extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: LocalRelation if !r.isStreaming => OnePartitionLocalTableScanExec(r.output, r.data) :: Nil
    case _ => Nil
  }
}

/** `LocalTableScanExec` in one partition. Not `CodegenSupport`, so it is
  * never the root of a whole-stage-codegen stage (Spark exempts only
  * `LocalTableScanExec` itself): a bare scan keeps the driver-local
  * collect/take paths below and runs no job. The name keeps
  * `LocalTableScan` for plan readers and guards.
  */
case class OnePartitionLocalTableScanExec(output: Seq[Attribute], @transient rows: Seq[InternalRow])
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  @transient private lazy val unsafeRows: Array[InternalRow] = {
    val proj = UnsafeProjection.create(output, output)
    rows.iterator.map(r => proj(r).copy(): InternalRow).toArray
  }

  override def outputPartitioning: Partitioning = SinglePartition

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    sparkContext.parallelize(ArraySeq.unsafeWrapArray(unsafeRows), 1).map { r => numOutputRows += 1; r }
  }

  private def counted(out: Array[InternalRow]): Array[InternalRow] = {
    longMetric("numOutputRows").add(out.length)
    out
  }

  override def executeCollect(): Array[InternalRow] = counted(unsafeRows)
  override def executeTake(limit: Int): Array[InternalRow] = counted(unsafeRows.take(limit))
  override def executeTail(limit: Int): Array[InternalRow] = counted(unsafeRows.takeRight(limit))

  // The rows are the corpus: print the schema only, as LocalTableScanExec does.
  override protected def stringArgs: Iterator[Any] =
    if (rows.isEmpty) Iterator("<empty>", output) else Iterator(output)
}
