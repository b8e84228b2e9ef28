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

  private val twins = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.classic.SparkSession, org.apache.spark.sql.classic.SparkSession]()

  /** `df`'s query in a twin of its session that plans no whole-stage code
    * and builds projections, predicates, orderings and deserializers
    * interpreted. Spark reads both settings from the Dataset's session, so
    * a twin sets them without touching the caller's. One twin per session,
    * cloned on first use, takes the session's settings afresh on every
    * call and reports its queries to the session's listeners. */
  def interpreted(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val parent = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val twin = twins.computeIfAbsent(parent, { p =>
      val t = p.cloneSession()
      t.listenerManager.clear()
      t.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          p.listenerManager.listListeners().foreach(_.onSuccess(f, qe, ns))
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
          p.listenerManager.listListeners().foreach(_.onFailure(f, qe, e))
      })
      t
    })
    val conf = twin.sessionState.conf
    val want = parent.sessionState.conf.getAllConfs ++ Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    conf.synchronized {
      conf.getAllConfs.keys.filterNot(want.contains).foreach(conf.unsetConf)
      want.foreach { case (k, v) => if (conf.getConfString(k, null) != v) conf.setConfString(k, v) }
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      twin, df.queryExecution.analyzed, df.queryExecution.tracker)
  }

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
