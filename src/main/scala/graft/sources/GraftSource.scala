package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SQLContext

/** Spark DataSource integration: `spark.read.format("graft").load(path)`
  * and `df.write.format("graft")...save(path)` — the Spark-native
  * equivalent of the reference connector's plugin registration
  * (ref: PrestoPlugin.java / PrestoConnectorFactory.java), so the table
  * format is usable from SQL (`CREATE TEMPORARY VIEW ... USING graft`)
  * without touching the library API.
  *
  * Read path pushes column pruning + filters into the GraftTable scan:
  * partition-key filters prune files at the manifest (driver-side, before
  * any task), and all filters are re-applied by Catalyst on the returned
  * relation so the parquet reader sees them too (the same double-apply
  * contract as PrestoFilterConverter: pushdown is best-effort, the engine
  * keeps the residual).
  */
class GraftSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))

  // ---- DataSource V2 (the batch product surface) ----------------------
  // Reads plan through GraftScan (columnar parquet partitions + manifest
  // pruning); non-PK batch writes through GraftWriteBuilder (executor-
  // side files + stats in commit messages). Table creation, PK upserts,
  // mergeSchema evolution and streaming reads intentionally report no V2
  // capability, so Spark falls back to the V1 paths below.

  /** A missing table infers an EMPTY schema (instead of throwing): the
    * first `df.write.format("graft").save(path)` probes getTable before
    * the table exists, and the capability-less result routes the write
    * to the V1 CreatableRelationProvider, which creates the table. */
  override def inferSchema(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    // incremental reads (Paimon's incremental-between) are a V1 relation:
    // an empty schema here reports no V2 capability, routing the read to
    // createRelation below, which builds from readIncrement
    if (options.containsKey("incremental-between") ||
        options.containsKey("incremental-between-timestamp")) return new StructType()
    Option(options.get("path")).filter(p => GraftTable.exists(spark, p))
      .map(p => GraftTable.load(spark, p).schema)
      .getOrElse(new StructType())
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): org.apache.spark.sql.connector.catalog.Table = {
    import scala.jdk.CollectionConverters._
    new GraftV2Table(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires a path")), schema,
      properties.asScala.toMap)
  }

  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String]): BaseRelation =
    GraftRelation(ctx.sparkSession, pathOf(parameters), parameters)

  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String], schema: StructType): BaseRelation =
    createRelation(ctx, parameters)

  override def sourceSchema(
      ctx: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", new GraftStreamSource(ctx.sparkSession, pathOf(parameters), parameters).schema)

  override def createSource(
      ctx: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(ctx.sparkSession, pathOf(parameters), parameters)

  /** T18: `writeStream.format("graft")` — each micro-batch is one
    * snapshot commit stamped with the batch id (see [[GraftSink]]). */
  override def createSink(
      ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new GraftSink(ctx.sparkSession, pathOf(parameters), parameters, outputMode,
      partitionColumns)

  override def createRelation(
      ctx: SQLContext, mode: SaveMode, parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val path = pathOf(parameters)
    val partitionKeys = parameters.get("partitionKeys")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val primaryKeys = parameters.get("primaryKeys")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    // `branch` is a per-write routing option, never a table property —
    // filtering it here keeps a create-with-branch from persisting it
    // into SchemaMeta.options forever
    // commit.watermark is likewise per-write (S59): each commit stamps
    // its own event-time watermark, it is not a table property
    val opts = parameters.view.filterKeys(k =>
      !Set("path", "partitionKeys", "primaryKeys", "branch",
        "commit.watermark").contains(k)).toMap
    val watermark = parameters.get("commit.watermark").map(_.toLong)
    val exists = GraftTable.exists(spark, path)
    val table =
      if (!exists) {
        // a branch can only be cut from an existing table: silently
        // creating the table and writing MAIN would strand the rows the
        // caller believes went to the branch
        require(!parameters.contains("branch"),
          s"cannot write branch '${parameters("branch")}' of a table that does not exist yet: $path")
        GraftTable.create(spark, path, data.schema, partitionKeys, primaryKeys, opts)
      }
      else {
        val t0 = GraftTable.load(spark, path)
        // write-time schema evolution (Paimon-style): with mergeSchema=true
        // new columns in the incoming df are added to the table schema
        if (parameters.get("mergeSchema").exists(_.toBoolean)) {
          // case-insensitive: a df column differing only by case from an
          // existing one must NOT add (ambiguous refs thereafter)
          data.schema.fields
            .filterNot(f => t0.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
            .foreach(f => t0.addColumn(f.name, f.dataType))
        }
        // `branch` write option (S36): commit onto the branch ref
        parameters.get("branch").map(t0.forBranch).getOrElse(t0)
      }
    mode match {
      case _ if !exists => // first write: every mode just writes
        table.append(data, watermark = watermark)
      case SaveMode.Append =>
        if (table.primaryKeys.nonEmpty) table.upsert(data, watermark = watermark)
        else table.append(data, watermark = watermark)
      case SaveMode.Overwrite if table.partitionKeys.nonEmpty => table.overwritePartitions(data)
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          "full-table overwrite: drop and recreate, or use overwritePartitions")
      case SaveMode.ErrorIfExists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore => () // table exists: no-op
    }
    GraftRelation(spark, path, parameters)
  }
}

final case class GraftRelation(
    spark: SparkSession,
    path: String,
    parameters: Map[String, String]) extends BaseRelation with PrunedFilteredScan {

  private lazy val table = GraftTable.load(spark, path)
  private def snapshotId: Option[Long] =
    parameters.get("snapshotId").map(_.toLong) // scan_version equivalent
  // Paimon's incremental-between = "from,to": rows ADDED by the APPEND
  // commits in (from, to] — rewrites (OVERWRITE/COMPACT) never re-emit.
  // Bounds are snapshot ids OR tag names (Paimon accepts both: tags are
  // the durable form — ids expire, a tagged bound survives by contract).
  private def incrementalBetween: Option[(Long, Long)] = {
    require(!(parameters.contains("incremental-between") &&
        parameters.contains("incremental-between-timestamp")),
      "set incremental-between OR incremental-between-timestamp, not both")
    parameters.get("incremental-between").map { v =>
      // tag lookup FIRST: digit-only tag names are legal, and a tagged
      // bound must not be shadowed by the raw-snapshot-id reading
      def bound(s: String): Long =
        table.tags.find(_.name == s).map(_.snapshotId).getOrElse(
          s.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"incremental-between bound '$s' is neither a snapshot id nor a tag")))
      v.split(",").map(_.trim) match {
        case Array(a, b) => (bound(a), bound(b))
        case _ => throw new IllegalArgumentException(
          s"incremental-between expects 'from,to' (snapshot ids or tag names), got: $v")
      }
    }.orElse(incrementalBetweenTimestamp)
  }

  /** S62 `incremental-between-timestamp` = "fromMs,toMs" (Paimon
    * CoreOptions): the APPEND delta between the table states AS OF the
    * two wall-clock instants — each bound resolves to the latest
    * snapshot at or before it (the S6 time-travel rule), so the read is
    * exactly "what arrived in (stateAt(from), stateAt(to)]". A `to`
    * before the first snapshot is an empty read, not an error; a `from`
    * before the first snapshot means "from the beginning" (bound 0). */
  private def incrementalBetweenTimestamp: Option[(Long, Long)] =
    parameters.get("incremental-between-timestamp").map { v =>
      v.split(",").map(_.trim) match {
        case Array(a, b) =>
          val (fromMs, toMs) = (
            a.toLongOption.getOrElse(throw new IllegalArgumentException(
              s"incremental-between-timestamp bound '$a' is not epoch millis")),
            b.toLongOption.getOrElse(throw new IllegalArgumentException(
              s"incremental-between-timestamp bound '$b' is not epoch millis")))
          require(fromMs <= toMs,
            s"incremental-between-timestamp bounds out of order: $fromMs > $toMs")
          (table.snapshotAsOfTime(fromMs).getOrElse(0L),
            table.snapshotAsOfTime(toMs).getOrElse(0L))
        case _ => throw new IllegalArgumentException(
          s"incremental-between-timestamp expects 'fromMs,toMs', got: $v")
      }
    }
  // session-property equivalents (ref PrestoSessionProperties:
  // partition_prune_enabled / query_pushdown_enabled)
  private def partitionPruneEnabled: Boolean =
    parameters.get("partitionPrune").forall(_.toBoolean)
  private def dataSkipEnabled: Boolean =
    parameters.get("dataSkip").forall(_.toBoolean)

  override def sqlContext: SQLContext = spark.sqlContext
  override def schema: StructType = table.schema

  /** Filters on partition keys prune at the manifest; everything is also
    * left to Spark (`unhandledFilters` = all) so the V2 scan `read`
    * returns pushes them again — manifest pruning is an optimization, not
    * a correctness gate. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    incrementalBetween.foreach { case (from, to) =>
      val df = table.readIncrement(from, to)
      return (if (requiredColumns.isEmpty) df
              else df.select(requiredColumns.map(col).toSeq: _*)).rdd
    }
    val (partFilter, dataFilters) = GraftFilters.planning(filters.toSeq,
      table.partitionKeys.toSet, partitionPruneEnabled, dataSkipEnabled)
    val df = table.read(snapshotId = snapshotId, partitionFilter = partFilter,
      dataFilters = dataFilters)
    val projected =
      if (requiredColumns.isEmpty) df else df.select(requiredColumns.map(col).toSeq: _*)
    projected.rdd
  }

}

/** Source-filter → Column translation shared by the V1 relation and the
  * V2 scan builder. */
private[sources] object GraftFilters {

  /** The manifest planning a scan's pushed filters ask for: the
    * partition-key filters as one Column when `partitionPrune` is on, and
    * every filter for data skipping (file stats and indexes) when
    * `dataSkip` is on. One translation for the V1 relation and the V2
    * scan. */
  def planning(filters: Seq[Filter], partCols: Set[String], partitionPrune: Boolean,
      dataSkip: Boolean): (Option[org.apache.spark.sql.Column], Seq[Filter]) =
    (if (partitionPrune) filters.flatMap(toColumn(_, partCols)).reduceOption(_ && _) else None,
      if (dataSkip) filters else Seq.empty)

  /** Translate the pushed-down source filters that touch ONLY partition
    * keys into Columns for manifest pruning (ref: the TupleDomain →
    * Paimon predicate conversion in PrestoFilterConverter.java:71).
    *
    * `exact=false` (the top-level default) allows a lossy partial-AND
    * translation — pruning with one conjunct of an AND keeps a superset,
    * still sound. Under NOT the translation must be EXACT: negating a
    * superset predicate would wrongly drop files, so `Not` recurses with
    * exact=true and gives up if any subtree fails to translate. */
  def toColumn(
      f: Filter, partCols: Set[String], exact: Boolean = false): Option[org.apache.spark.sql.Column] =
    f match {
      case EqualTo(a, v) if partCols(a) => Some(col(a) === v)
      case EqualNullSafe(a, v) if partCols(a) => Some(col(a) <=> v)
      case In(a, vs) if partCols(a) => Some(col(a).isin(vs.toSeq: _*))
      case GreaterThan(a, v) if partCols(a) => Some(col(a) > v)
      case GreaterThanOrEqual(a, v) if partCols(a) => Some(col(a) >= v)
      case LessThan(a, v) if partCols(a) => Some(col(a) < v)
      case LessThanOrEqual(a, v) if partCols(a) => Some(col(a) <= v)
      case IsNotNull(a) if partCols(a) => Some(col(a).isNotNull)
      case IsNull(a) if partCols(a) => Some(col(a).isNull)
      case StringStartsWith(a, v) if partCols(a) => Some(col(a).startsWith(v))
      case Not(child) => toColumn(child, partCols, exact = true).map(!_)
      case And(l, r) =>
        (toColumn(l, partCols, exact), toColumn(r, partCols, exact)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) if !exact => a.orElse(b) // partial AND is still a valid prune
          case _ => None
        }
      case Or(l, r) =>
        for { a <- toColumn(l, partCols, exact); b <- toColumn(r, partCols, exact) }
          yield a || b // OR prunes only if BOTH sides translate
      case _ => None
    }
}
