package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ↔ Expression bridge. `ExpressionUtils` is private[sql], so
  * this one-liner lives in an org.apache.spark.sql subpackage — the
  * supported pattern for extension libraries needing the classic
  * Column internals (no behavior, just visibility).
  *
  * `expression` converts RECURSIVELY via the classic
  * ColumnNodeToExpressionConverter: the lazy `ExpressionUtils
  * .expression` wrapper leaves ColumnNode shims in the tree, which
  * the analyzer accepts from Dataset.select but cannot resolve when
  * the tree is returned from a FunctionRegistry builder.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** The running task's memory-manager page size — what
    * HashAggregateExec hands UnsafeKVExternalSorter; taskMemoryManager
    * is private[spark]. */
  def taskPageSizeBytes(): Long =
    org.apache.spark.TaskContext.get().taskMemoryManager().pageSizeBytes()

  /** The overflow error the codegen ANSI Add path raises
    * (ARITHMETIC_OVERFLOW error class + hint) — QueryExecutionErrors
    * is private[sql]. */
  def arithmeticOverflowError(message: String, hint: String): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .arithmeticOverflowError(message, hint, null)

  /** DataFrame from a (transformed) logical plan — Dataset.ofRows is
    * private[sql]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over rows already in Spark's internal format, declaring
    * their partitioning and size — the classic LogicalRDD, whose
    * constructor takes the classic session (createDataFrame declares
    * neither). */
  def rddRelation(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      partitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning,
      sizeInBytes: BigInt): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rdd, partitioning)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes))))

  /** The schema of a positional UNION ALL of these schemas (Union's
    * output): the first's names and metadata, types widened by
    * nullability — StructType.unionLikeMerge is private[sql]. */
  def unionSchema(schemas: Seq[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      schemas.map(_.fields.toSeq).transpose.map { fs =>
        fs.head.copy(
          dataType = fs.map(_.dataType)
            .reduce(org.apache.spark.sql.types.StructType.unionLikeMerge),
          nullable = fs.exists(_.nullable))
      })
}
