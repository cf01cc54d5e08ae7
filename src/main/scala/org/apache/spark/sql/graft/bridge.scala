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

  /** Persisted frames behind the frames [[stage]] returned, keyed by the
    * staged frame's RDD, so [[release]] can drop the CacheManager entry.
    * Weak keys: a staged frame nobody releases (a per-call intermediate
    * whose result stays lazy) drops its entry once no plan references it;
    * the persisted frame does not reference the staged RDD. */
  private val staged = java.util.Collections.synchronizedMap(new java.util.WeakHashMap[
    org.apache.spark.rdd.RDD[_], org.apache.spark.sql.DataFrame]())

  /** Materialize `df` once (MEMORY_AND_DISK + one count) and return a
    * frame over the cached scan, for intermediates that several branches
    * of one action read. The returned plan is a `LogicalRDD` over the
    * cached scan's RDD, the construction `Dataset.checkpoint` uses:
    *  - lineage stays (unlike `localCheckpoint`), so a lost block
    *    recomputes;
    *  - the CacheManager entry stays, so [[release]] can unpersist it;
    *  - AQE canonicalizes the leaf, so it reuses exchanges above it. On
    *    Spark 4.1 it never reuses an exchange whose subtree scans an
    *    `InMemoryRelation`: a self-join of an aggregate over a plain
    *    persisted frame runs the aggregate's shuffle once per side.
    * A lazy persist is no substitute either: the branches race-compute
    * the whole subtree before any block lands in the cache. */
  def stage(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // fresh Datasets over the same plan: each looks the cache up when it
    // is planned, so it scans the blocks even if `df`'s own plan was
    // resolved before the persist
    def overCache() = org.apache.spark.sql.classic.Dataset.ofRows(classic,
      df.queryExecution.analyzed)
    // fill every block in one pass over the cached scan (Dataset.count
    // would add a job to build the cache and a shuffle to sum counts)
    val fill = overCache().queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(fill, Some("stage")) {
      fill.toRdd.count()
    }
    // planned after the fill, so the leaf carries the cache's measured size
    val scan = overCache()
    val rdd = scan.queryExecution.toRdd
    staged.put(rdd, df)
    org.apache.spark.sql.classic.Dataset.ofRows(classic,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, scan, isStreaming = false))
  }

  /** Unpersist the frame behind a [[stage]]d frame (no-op for any other
    * frame). A plan already built over it stays valid: it recomputes
    * from lineage instead of reading blocks. */
  def release(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Option(staged.remove(lr.rdd)).foreach(_.unpersist(blocking = false))
      case _ => ()
    }

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
