package graft.operators

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Coalesces all of an RDD's partitions into one, in index order, even
  * when there are none. Spark's default coalescer is locality-aware: it
  * starts from a partition with a preferred location, so rows of cached
  * blocks could read before older partitions that have none. */
object InIndexOrder extends PartitionCoalescer with Serializable {
  def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
    val group = new PartitionGroup()
    group.partitions ++= parent.partitions
    Array(group)
  }
}

/** A small parquet scan reads as one split. The reference gives each
  * read stream at least `merge_tree_min_rows_for_concurrent_read` rows
  * (20 × 8192), so a SELECT below that is one stream and its aggregate
  * one complete pass with no merge step (SURVEY §3.1 `max_streams`,
  * §2.4 partial → final). Spark would spread the scan over the
  * session's cores, and every GROUP BY, ORDER BY or window above it
  * would plan a shuffle and a second stage.
  *
  * Wraps the scan in [[SingleSplitScanExec]], whose `SinglePartition`
  * satisfies every distribution an aggregate, sort or window asks for,
  * so `EnsureRequirements` plans no exchange. Fires only when
  *  - the scan is parquet and not bucketed;
  *  - the selected files' footer row counts ([[FooterStats]]: sidecar
  *    or cached footer, no Spark job) sum to at most 20 × 8192;
  *  - `spark.sql.files.minPartitionNum` is not set, so a session that
  *    asks for a spread scan gets one.
  * Post-planner rules run inside adaptive execution only; with AQE off
  * scans keep Spark's split. */
case class SingleSplitScan(spark: SparkSession) extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan match {
    case s: FileSourceScanExec if small(s) => SingleSplitScanExec(s)
    case p => p.mapChildren(apply)
  }

  private def small(s: FileSourceScanExec): Boolean =
    s.relation.fileFormat.isInstanceOf[ParquetFileFormat] && !s.bucketedScan &&
      !spark.sessionState.conf.contains("spark.sql.files.minPartitionNum") &&
      FooterStats.rowsAtMost(spark.sessionState.newHadoopConf(),
        s.selectedPartitions.filePartitionIterator.flatMap(_.files).map(_.fileStatus),
        SingleSplitScan.MinRowsForConcurrentRead)
}

object SingleSplitScan {
  /** The reference's `merge_tree_min_rows_for_concurrent_read`
    * (20 × the 8192-row index granule). */
  val MinRowsForConcurrentRead: Long = 20L * 8192

  /** Does every leaf of `plan` and its subqueries hold at most this many
    * rows by a known count (parquet footers, or its own size)? Any other
    * leaf (a dialect table's parts, a cached relation) answers false. */
  def fitsOneStream(spark: SparkSession, plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case l: LocalRelation => l.data.size <= MinRowsForConcurrentRead
      case _: OneRowRelation => true
      case r: Range => r.numElements <= MinRowsForConcurrentRead
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        FooterStats.rowsAtMost(spark.sessionState.newHadoopConf(),
          fs.location.listFiles(Nil, Nil).iterator.flatMap(_.files).map(_.fileStatus),
          MinRowsForConcurrentRead)
      case _ => false
    }
}

/** The scan's file partitions, in index order, as one partition. Stays
  * columnar when the scan is, so `ColumnarToRow` and the operators
  * above it keep one codegen stage. */
case class SingleSplitScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def supportsColumnar: Boolean = child.supportsColumnar

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().coalesce(1, shuffle = false, Some(InIndexOrder))
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.executeColumnar().coalesce(1, shuffle = false, Some(InIndexOrder))

  override protected def withNewChildInternal(c: SparkPlan): SingleSplitScanExec =
    copy(child = c)
}
