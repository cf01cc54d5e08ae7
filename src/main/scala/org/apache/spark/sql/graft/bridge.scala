package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the classic
  * bridge lives behind `private[sql]`. This shim (in the sql package
  * namespace, the sanctioned extension-library pattern) re-exposes the two
  * conversions custom Catalyst expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** V2 Predicate → V1 Filter translation (SupportsDeleteV2 receives V2
    * predicates; the manifest layer speaks V1 filters) — re-exposes the
    * private[sql] PredicateUtils. */
  def predicatesToV1(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(ps)

  /** A DataFrame over a DataSource V2 table instance — what
    * `spark.read.format(...)` builds for a provider, for callers that
    * construct the Table themselves (e.g. to hand it internal state no
    * read option can carry). Re-exposes the private[sql] Dataset.ofRows. */
  def v2Frame(
      spark: org.apache.spark.sql.SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table,
      options: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(classic,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(options.asJava)))
  }

  /** A predicate Column resolved against `schema` (analyzer type
    * coercion and time zones applied) and bound to its ordinals — ready
    * for Catalyst's `Predicate.create` over rows of that layout. */
  def boundPredicate(
      spark: org.apache.spark.sql.SparkSession,
      cond: Column,
      schema: org.apache.spark.sql.types.StructType): Expression = {
    import org.apache.spark.sql.catalyst.plans.logical
    val rel = logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val analyzed = classic.sessionState.analyzer.execute(logical.Filter(
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(cond.node), rel))
    val resolved = analyzed.collectFirst { case f: logical.Filter => f.condition }.get
    org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(resolved, rel.output)
  }

  /** Clone a session: an isolated copy of the SQLConf (and session state)
    * sharing the SparkContext — re-exposes the private[sql] cloneSession.
    * Used to build row-based reader factories without flipping
    * enableVectorizedReader on the LIVE conf (which races concurrent
    * scans — a streaming micro-batch planning columnar during the flip
    * window fails with `UnsafeRow cannot be cast to ColumnarBatch`). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The RDD backing a localCheckpoint'd Dataset (a LogicalRDD plan).
    * Dataset.unpersist goes through the CacheManager, which does NOT
    * track localCheckpoint blocks — freeing them before the
    * ContextCleaner gets around to it needs the RDD itself. Unpersisting
    * truncately-checkpointed RDDs destroys their only copy, so callers
    * must be done with the frame. */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Re-tag a batch DataFrame as streaming — what V1 streaming sources
    * (FileStreamSource et al.) do via the private[sql]
    * internalCreateDataFrame; MicroBatchExecution asserts
    * isStreaming=true on every getBatch result. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The reverse re-tag: a V1 Sink's addBatch receives a STREAMING
    * micro-batch frame whose plan batch writers refuse (the batch
    * UnsupportedOperationChecker rejects streaming sources); wrapping
    * the already-planned incremental toRdd as a batch frame is what
    * FileStreamSink effectively does with its own execution. */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
