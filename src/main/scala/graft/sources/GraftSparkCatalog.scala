package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Spark V2 catalog plugin — the product surface that mirrors what the
  * reference connector gives Presto users (`paimon.db.t` SQL over a
  * warehouse; ref: PrestoPlugin.java / PrestoConnectorFactory.java /
  * PrestoMetadata.java):
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftSparkCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  * CREATE NAMESPACE graft.db;
  * CREATE TABLE graft.db.t (k INT, v STRING) PARTITIONED BY (bucket(4, k))
  *   TBLPROPERTIES ('primary-key'='k');
  * INSERT INTO graft.db.t VALUES (1, 'a');
  * SELECT * FROM graft.db.t VERSION AS OF 1;   -- scan_version equivalent
  * ALTER TABLE graft.db.t ADD COLUMN score DOUBLE;
  * }}}
  *
  * Also a FunctionCatalog: it serves the `bucket` transform function so
  * Spark can resolve the scan-reported KeyGroupedPartitioning and plan
  * storage-partitioned (zero-shuffle) joins between co-bucketed tables.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private def spark = SparkSession.active
  private def inner = new GraftCatalog(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(s"catalog $name requires the 'warehouse' option"))
  }

  override def name(): String = catalogName

  private def db(ident: Identifier): String = {
    if (ident.namespace.length != 1)
      throw new NoSuchTableException(ident)
    ident.namespace()(0)
  }

  private def tablePath(ident: Identifier): String =
    new Path(new Path(warehouse, s"${db(ident)}.db"), ident.name).toString

  // ---- procedures (S40, Paimon's CALL sys.* surface) ------------------
  // `CALL cat.sys.create_tag('db.t', 'v1')` etc. — maintenance ops as
  // first-class SQL, the Paimon procedure catalog re-expressed on
  // Spark 4's ProcedureCatalog API. Each returns a one-row LocalScan.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.unsafe.types.UTF8String

  private def loadByName(qualified: String): GraftTable = {
    val parts = qualified.split("\\.")
    require(parts.length == 2, s"procedures take a 'db.table' name, got: $qualified")
    GraftTable.load(spark, tablePath(Identifier.of(Array(parts(0)), parts(1))))
  }

  /** One graft procedure: fixed IN parameters (optional ones take SQL
    * DEFAULTs) and a body returning a single result row. */
  private final class GraftProcedure(
      procName: String,
      params: Seq[ProcedureParameter],
      resultSchema: StructType,
      body: InternalRow => InternalRow) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] =
      java.util.List.of[org.apache.spark.sql.connector.read.Scan](
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[InternalRow] = Array(body(input))
          override def readSchema(): StructType = resultSchema
        }).iterator()
  }

  private def pStr(n: String) = ProcedureParameter.in(n, org.apache.spark.sql.types.StringType).build()
  private def pLongOpt(n: String, dflt: String) =
    ProcedureParameter.in(n, org.apache.spark.sql.types.LongType).defaultValue(dflt).build()
  private val snapshotResult = StructType(Seq(
    org.apache.spark.sql.types.StructField("snapshot_id", org.apache.spark.sql.types.LongType)))
  private val okResult = StructType(Seq(
    org.apache.spark.sql.types.StructField("result", org.apache.spark.sql.types.BooleanType)))
  private def okRow(v: Boolean): InternalRow = InternalRow(v)

  private def procedures: Map[String, GraftProcedure] = Map(
    "create_tag" -> new GraftProcedure("create_tag",
      Seq(pStr("table"), pStr("tag"), pLongOpt("snapshot_id", "-1")), okResult,
      in => {
        val id = in.getLong(2)
        loadByName(in.getString(0)).createTag(in.getString(1),
          if (id < 0) None else Some(id))
        okRow(true)
      }),
    "delete_tag" -> new GraftProcedure("delete_tag",
      Seq(pStr("table"), pStr("tag")), okResult,
      in => okRow(loadByName(in.getString(0)).deleteTag(in.getString(1)))),
    "rollback" -> new GraftProcedure("rollback",
      Seq(pStr("table"), pLongOpt("version", "-1")), snapshotResult,
      in => InternalRow(loadByName(in.getString(0)).rollbackTo(in.getLong(1)))),
    // Paimon's rollback_to_timestamp: resolve the latest snapshot
    // committed at or before the epoch-millis bound, then roll back
    "rollback_to_timestamp" -> new GraftProcedure("rollback_to_timestamp",
      Seq(pStr("table"), pLongOpt("timestamp", "-1")), snapshotResult,
      in => {
        val t = loadByName(in.getString(0))
        val id = t.snapshotAsOfTime(in.getLong(1)).getOrElse(
          throw new IllegalArgumentException(
            s"no snapshot committed at or before ${in.getLong(1)}"))
        InternalRow(t.rollbackTo(id))
      }),
    "expire_snapshots" -> new GraftProcedure("expire_snapshots",
      // default retains 10 (Paimon's snapshot.num-retained.min): a
      // no-argument maintenance CALL must not destroy all history
      Seq(pStr("table"), pLongOpt("retain_last", "10")), StructType(Seq(
        org.apache.spark.sql.types.StructField("expired", org.apache.spark.sql.types.StringType))),
      in => InternalRow(UTF8String.fromString(
        loadByName(in.getString(0)).expireSnapshots(in.getLong(1).toInt).mkString(",")))),
    "create_branch" -> new GraftProcedure("create_branch",
      Seq(pStr("table"), pStr("branch"), pLongOpt("snapshot_id", "-1")), okResult,
      in => {
        val id = in.getLong(2)
        loadByName(in.getString(0)).createBranch(in.getString(1),
          if (id < 0) None else Some(id))
        okRow(true)
      }),
    "delete_branch" -> new GraftProcedure("delete_branch",
      Seq(pStr("table"), pStr("branch")), okResult,
      in => okRow(loadByName(in.getString(0)).deleteBranch(in.getString(1)))),
    "fast_forward" -> new GraftProcedure("fast_forward",
      Seq(pStr("table"), pStr("branch")), snapshotResult,
      in => InternalRow(loadByName(in.getString(0)).fastForward(in.getString(1)))),
    "compact" -> new GraftProcedure("compact",
      // Paimon's compact procedure: optional `where` (a partition-column
      // predicate as SQL text) restricts the rewrite to the matching
      // partitions — S30 targeted compaction composed onto the S40
      // procedure surface. Empty/NULL = full compaction.
      Seq(pStr("table"),
        ProcedureParameter.in("where", org.apache.spark.sql.types.StringType)
          .defaultValue("''").build()), snapshotResult,
      in => {
        val t = loadByName(in.getString(0))
        val w = if (in.isNullAt(1)) "" else in.getString(1).trim
        InternalRow(
          if (w.isEmpty) t.compact()
          else t.compactPartitions(org.apache.spark.sql.graft.Bridge.column(
            spark.sessionState.sqlParser.parseExpression(w))))
      }),
    "drop_partition" -> new GraftProcedure("drop_partition",
      // Paimon's drop_partition: remove whole partitions by spec
      // ("pt=v" or "pt=v,pt2=w") as ONE metadata commit — zero file
      // reads, zero rewrites (the S29 partition-delete path made
      // callable without SQL DELETE)
      Seq(pStr("table"), pStr("partition")), snapshotResult,
      in => {
        val t = loadByName(in.getString(0))
        // same soundness rule as the SQL DELETE metadata path
        // (GraftV2.partitionExact): on a PK table whose partition keys
        // are not contained in the primary key, dropping a partition's
        // files can resurrect stale versions of keys whose newest
        // version lives there — refuse, like DELETE does
        require(!t.isPkTable || t.partitionPruneSafe,
          "drop_partition on a primary-key table requires partition keys " +
            "contained in the primary key (file removal could resurrect " +
            "stale row versions); use DELETE (tombstones) instead")
        val filters = in.getString(1).split(",").map { kv =>
          val parts = kv.split("=", 2)
          require(parts.length == 2, s"partition spec must be col=value: $kv")
          val (k, v) = (parts(0).trim, parts(1).trim)
          require(t.partitionKeys.contains(k),
            s"$k is not a partition key of ${in.getString(0)} " +
              s"(keys: ${t.partitionKeys.mkString(",")})")
          val cast = GraftTable.castPartitionValue(v, t.schema(k).dataType)
          // the null partition needs null-safe equality (plain EqualTo
          // is UNKNOWN for null and would silently match nothing)
          if (cast == null) org.apache.spark.sql.sources.EqualNullSafe(k, null)
          else org.apache.spark.sql.sources.EqualTo(k, cast)
        }.toSeq
        val base = t.latestSnapshotId.getOrElse(0L)
        val id = t.commitV2("filter", Seq.empty, filters, base)
        require(id != base,
          s"no files in partition '${in.getString(1)}' — nothing dropped")
        InternalRow(id)
      }),
    "rescale" -> new GraftProcedure("rescale",
      // Paimon's rescale procedure: full re-hash rewrite under a new
      // bucket count (S42) — the 100 TB answer to a table whose write
      // parallelism was sized for 1 TB
      Seq(pStr("table"), pLongOpt("bucket", "-1")), snapshotResult,
      in => {
        val n = in.getLong(1)
        require(n >= 1, "rescale requires a bucket count >= 1")
        InternalRow(loadByName(in.getString(0)).rescaleBucket(n.toInt))
      }),
    "reset_consumer" -> new GraftProcedure("reset_consumer",
      // Paimon's reset_consumer: with next_snapshot_id, reposition the
      // consumer's retention pin; without it, delete the consumer.
      // A BACKWARD reposition deletes the higher versions first —
      // commitConsumer's cleanup keeps higher versions by design (racing
      // stream commits are monotonic) and consumers() resolves by max,
      // so a bare commit could not rewind the pin. Resetting while the
      // stream is live is inherently racy; pause it first.
      Seq(pStr("table"), pStr("consumer_id"), pLongOpt("next_snapshot_id", "-1")), okResult,
      in => {
        val t = loadByName(in.getString(0))
        val id = in.getString(1)
        val next = in.getLong(2)
        if (next < 0) okRow(t.deleteConsumer(id))
        else { t.deleteConsumer(id); t.commitConsumer(id, next); okRow(true) }
      }),
    "rewrite_file_index" -> new GraftProcedure("rewrite_file_index",
      // Paimon's rewrite_file_index (S47 + S55 + S66): build every
      // missing bloom, bitmap and BSI sidecar of live files that predate
      // their index options (legacy / migrated / ALTERed tables) in one
      // executor-side job — no data rewritten, no commit (sidecars are
      // derived metadata keyed to immutable files). Reports the number
      // of files that got at least one sidecar (0 = nothing to do).
      Seq(pStr("table")), StructType(Seq(
        org.apache.spark.sql.types.StructField("files", org.apache.spark.sql.types.LongType))),
      in => InternalRow(loadByName(in.getString(0)).rewriteFileIndex())),
    "expire_partitions" -> new GraftProcedure("expire_partitions",
      // Paimon's expire_partitions (S46): calendar retention — drop
      // every partition whose key value sorts strictly below `upto` as
      // ONE metadata commit (zero file reads; null partitions retained)
      Seq(pStr("table"), pStr("partition_key"), pStr("upto")), StructType(Seq(
        org.apache.spark.sql.types.StructField("snapshot_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dropped", org.apache.spark.sql.types.StringType))),
      in => {
        val (id, dropped) = loadByName(in.getString(0))
          .expirePartitions(in.getString(1), in.getString(2))
        InternalRow(id, UTF8String.fromString(dropped.mkString(",")))
      }),
    "migrate_table" -> new GraftProcedure("migrate_table",
      // Paimon's migrate_table (S45): adopt a raw parquet directory —
      // flat or hive-partitioned — as a graft table in place: footer
      // reads + renames + ONE commit, zero data rewritten (at 100 TB a
      // copy-based migration is a corpus rewrite)
      Seq(pStr("source_dir"), pStr("table")), StructType(Seq(
        org.apache.spark.sql.types.StructField("snapshot_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("files", org.apache.spark.sql.types.LongType))),
      in => {
        val qualified = in.getString(1)
        val parts = qualified.split("\\.")
        require(parts.length == 2, s"procedures take a 'db.table' name, got: $qualified")
        val t = GraftTable.migrate(spark, in.getString(0),
          tablePath(Identifier.of(Array(parts(0)), parts(1))))
        val snap = t.latestSnapshotId.get
        InternalRow(snap, t.filesOf(t.snapshots.last).length.toLong)
      }),
    "remove_orphan_files" -> new GraftProcedure("remove_orphan_files",
      Seq(pStr("table"), pLongOpt("older_than_ms", (3600L * 1000).toString)), StructType(Seq(
        org.apache.spark.sql.types.StructField("removed", org.apache.spark.sql.types.LongType))),
      in => InternalRow(
        loadByName(in.getString(0)).removeOrphanFiles(in.getLong(1)).length.toLong)))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("sys")))
      throw new RuntimeException(s"unknown procedure namespace: ${ident.namespace().mkString(".")}")
    procedures.getOrElse(ident.name,
      throw new RuntimeException(s"unknown procedure: sys.${ident.name}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("sys")))
      procedures.keys.toArray.sorted.map(n => Identifier.of(Array("sys"), n))
    else Array.empty

  // ---- namespaces (ref: PrestoMetadata listSchemaNames/createSchema) --

  override def listNamespaces(): Array[Array[String]] =
    inner.listDatabases().map(d => Array(d)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && inner.databaseExists(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1, s"graft uses single-level namespaces: ${namespace.mkString(".")}")
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    inner.createDatabase(namespace(0))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (cascade)
      GraftTable.fileSystem(spark, warehouse)
        .delete(new Path(warehouse, s"${namespace(0)}.db"), true)
    else inner.dropDatabase(namespace(0)) // refuses when non-empty
    true
  }

  // ---- tables (ref: PrestoMetadata create/drop/rename/listTables) -----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    inner.listTables(namespace(0)).map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && inner.tableExists(ident.namespace()(0), ident.name)

  private def load(ident: Identifier, pinned: Option[Long]): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val p = tablePath(ident)
    val t = GraftTable.load(spark, p)
    new GraftV2Table(p, t.schema,
      identName = Some(s"$catalogName.${db(ident)}.${ident.name}"),
      pinnedSnapshot = pinned)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v` — the reference's scan_version session property
    * (PrestoSessionProperties.java:39); accepts a bare snapshot id, a
    * "db.table.version|..." spec string, or a TAG name (scan.tag-name). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val pinned = inner.parseScanVersion(version, db(ident), ident.name)
      .orElse {
        if (!tableExists(ident)) None
        else GraftTable.load(spark, tablePath(ident))
          .tags.find(_.name == version).map(_.snapshotId)
      }
      .getOrElse(throw new IllegalArgumentException(s"cannot parse version: $version"))
    load(ident, Some(pinned))
  }

  /** `TIMESTAMP AS OF ts` (micros since epoch) ≈ scan.timestamp-millis. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident))
    val pinned = t.snapshotAsOfTime(timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $ident at or before timestamp $timestamp"))
    load(ident, Some(pinned))
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace)) throw new NoSuchNamespaceException(ident.namespace)
    var partitionKeys = Seq.empty[String]
    var opts = Map.empty[String, String]
    partitions.foreach { t =>
      t.name match {
        case "identity" =>
          partitionKeys :+= t.references()(0).fieldNames().mkString(".")
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value.toString.toInt
          }.getOrElse(throw new IllegalArgumentException(s"bucket transform without count: $t"))
          opts += ("bucket" -> n.toString,
            "bucket-key" -> t.references().map(_.fieldNames().mkString(".")).mkString(","))
        case other =>
          throw new UnsupportedOperationException(s"unsupported partition transform: $other")
      }
    }
    val props = properties.asScala.toMap
    val primaryKeys = props.get("primary-key")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val reserved = Set("primary-key", "path", TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_TABLE_TYPE)
    opts ++= props.view
      .filterKeys(k => !reserved.contains(k))
      .map { case (k, v) => k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v }
    GraftTable.create(spark, tablePath(ident), schema, partitionKeys, primaryKeys, opts)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, tablePath(ident))
    // property changes batch into ONE schema version (a multi-property
    // ALTER must apply atomically); structural changes apply in order
    val sets = changes.collect { case s: TableChange.SetProperty => s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty => r.property }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "graft supports top-level ADD COLUMN only")
        t.addColumn(add.fieldNames()(0), add.dataType())
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1, "graft supports top-level RENAME COLUMN only")
        t.renameColumn(rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "graft supports top-level DROP COLUMN only")
        t.dropColumn(del.fieldNames()(0))
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => () // batched below
      case other =>
        throw new UnsupportedOperationException(s"unsupported table change: $other")
    }
    t.updateOptions(sets.toMap, removes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (tableExists(ident)) { inner.dropTable(db(ident), ident.name); true }
    else false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    // the RENAME TO target arrives unresolved: strip a leading catalog
    // element, and treat a bare name as "same namespace"
    val newNs = newIdent.namespace match {
      case ns if ns.length == 2 && ns(0) == catalogName => ns.drop(1)
      case ns if ns.isEmpty => oldIdent.namespace
      case ns => ns
    }
    require(oldIdent.namespace.sameElements(newNs),
      "rename cannot move a table across namespaces")
    val target = Identifier.of(newNs, newIdent.name)
    if (tableExists(target)) throw new TableAlreadyExistsException(target)
    inner.renameTable(db(oldIdent), oldIdent.name, newIdent.name)
  }

  // ---- functions (bucket transform for storage-partitioned joins) -----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** The `bucket(n, cols...)` transform function, resolvable through the
  * catalog so Spark can bind the KeyGroupedPartitioning the graft scan
  * reports. Evaluates to EXACTLY the write path's bucket id —
  * pmod(murmur3(cols), n) built from the same catalyst expressions — so
  * partition values, bucket pruning, and storage-partitioned join keys
  * all agree. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "bucket(n, cols...): pmod(murmur3(cols), n)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2, "bucket(numBuckets, cols...)")
    require(inputType.fields(0).dataType == IntegerType, "first bucket() arg must be INT")
    GraftBucketBound(inputType.fields.drop(1).map(_.dataType).toIndexedSeq)
  }
}

final case class GraftBucketBound(argTypes: IndexedSeq[DataType]) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = (IntegerType +: argTypes).toArray
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val args = argTypes.zipWithIndex.map { case (dt, i) => Literal(input.get(i + 1, dt), dt) }
    Pmod(new Murmur3Hash(args), Literal(n)).eval(null).asInstanceOf[Int]
  }
}
