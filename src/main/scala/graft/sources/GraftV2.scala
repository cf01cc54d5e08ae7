package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BaseOrdering, BasePredicate, BoundReference, Descending, Expression, In, InSet, InterpretedOrdering, Predicate, SortDirection, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

/** DataSource V2 read surface of the graft table format.
  *
  * Spark-native re-expression of the reference connector's split/page
  * pipeline (ref: PrestoSplitManager.java split enumeration,
  * PrestoComputePushdown.java partition pruning) with the row bridge
  * deliberately inverted: instead of pulling rows one by one through a
  * connector page source (the PrestoPageSourceBase anti-pattern), the
  * scan hands Spark's own vectorized parquet reader factory a list of
  * manifest-planned file splits, so the SQL path keeps columnar batches
  * and whole-stage codegen end to end.
  *
  * Split planning is pure metadata: partition pruning, bucket grouping
  * and min/max data skipping all evaluate against the snapshot manifest
  * driver-side — no file-system listing, no task launch.
  */
final class GraftV2Table(
    path: String, tableSchema: StructType, writeOptions: Map[String, String] = Map.empty,
    identName: Option[String] = None, pinnedSnapshot: Option[Long] = None,
    // library reads that already planned their file set (bucket- or
    // data-filter-pruned reads, targeted compaction) scan exactly it
    pinnedFiles: Option[Seq[FileMeta]] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsAtomicPartitionManagement {

  /** S44: hidden `_file` metadata column (the Presto connector's `$path`
    * shape): per-row provenance for debugging, targeted compaction and
    * skew forensics — visible only when referenced, never in `SELECT *`.
    * Append tables only: a merged PK row folds versions from SEVERAL
    * files, so no single provenance path exists (declaring none makes
    * `_file` an analysis error there instead of a lie). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (loaded.isPkTable) Array.empty
    else {
      // S65: row-tracking tables additionally surface Paimon's lineage
      // metadata (`SELECT _row_id, _sequence_number FROM t` — the SQL
      // twin of readWithLineage); every non-PK parquet table surfaces
      // the physical `_pos` the delta row-level operation uses as
      // positional row identity (parquet-only: the positional read
      // discipline is proven for the parquet factories)
      val lineage =
        if (loaded.rowTracking)
          Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
            RowLineage.IdMetaColumn, RowLineage.SeqMetaColumn)
        else Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn]
      val pos =
        if (loaded.fileFormat == "parquet")
          Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
            RowLineage.PosMetaColumn)
        else Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn]
      Array(GraftV2Table.FileMetaColumn: org.apache.spark.sql.connector.catalog.MetadataColumn,
        GraftV2Table.PartMetaColumn, GraftV2Table.BucketMetaColumn) ++
        lineage ++ pos
    }

  /** UPDATE / MERGE INTO / rewrite-DELETE as group-based copy-on-write
    * (the Iceberg-style shape): Spark reads the affected groups through
    * the operation's scan, rebuilds their full row set with the command
    * applied, and the commit atomically swaps exactly the scanned files
    * for the rewritten ones. Metadata-only deletes still short-circuit
    * through SupportsDeleteV2 (OptimizeMetadataOnlyDeleteFromTable). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // a copy-on-write rewrite folds row history without emitting the
    // -U/+U pairs lookup-changelog CDC consumers rely on — reject rather
    // than silently break the changelog. DELETE passes through here
    // unconditionally: Spark plans its rewrite eagerly and only later
    // (OptimizeMetadataOnlyDeleteFromTable) converts translatable ones
    // to the SupportsDeleteV2 tombstone path, which DOES emit true
    // pre-images; an untranslatable DELETE that reaches the rewrite's
    // WRITE is rejected inside GraftRowLevelOperation.
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    if (loaded.isPkTable && loaded.lookupChangelog && info.command() != Command.DELETE)
      throw new UnsupportedOperationException(
        "UPDATE/MERGE are not supported with changelog-producer=lookup " +
          "(a rewrite cannot emit the -U/+U changelog); use upsert writes instead")
    // S65: row-tracking tables take the DELTA operation — dv deletes +
    // id-materializing appends preserve every surviving row's stable id,
    // where the CoW group rewrite would re-home (and re-number) them.
    // Deletion-vectors append tables take it too (Paimon's dv-mode
    // UPDATE/MERGE): write amplification O(changed rows), not O(touched
    // groups) — at 100 TB a CoW UPDATE of 0.1% of rows rewrites every
    // grazed group; the delta write touches exactly the changed rows.
    // A data column named like a delta identity column (_pos/_file)
    // SHADOWS the metadata column — Spark would bind the delta plan's
    // row identity to user data and the dv positions would mask
    // arbitrary rows. Tracking tables refuse such schemas at the source
    // (GraftTable.rowTracking); plain dv tables may carry them
    // legitimately, report not dv-enabled (GraftTable.dvEnabled) and
    // fall back to the CoW rewrite.
    if (loaded.rowTracking || loaded.dvEnabled)
      return () => new GraftDeltaRowLevelOperation(loaded, info.command())
    () => new GraftRowLevelOperation(loaded, info.command())
  }

  override def name(): String = identName.getOrElse(s"graft.`$path`")

  override def schema(): StructType = tableSchema

  /** Declared layout, surfaced for DESCRIBE / catalog introspection. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val parts = loaded.partitionKeys.map(Expressions.identity)
    val bucket =
      if (loaded.numBuckets > 1 && loaded.bucketKeys.nonEmpty)
        Seq(Expressions.bucket(loaded.numBuckets, loaded.bucketKeys: _*))
      else Seq.empty
    (parts ++ bucket).toArray
  }

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    loaded.options.foreach { case (k, v) => m.put(k, v) }
    if (loaded.primaryKeys.nonEmpty) m.put("primary-key", loaded.primaryKeys.mkString(","))
    m
  }

  // ---- S57: SupportsPartitionManagement (SHOW PARTITIONS / ALTER TABLE
  // DROP PARTITION through Spark's native SQL, mirroring Paimon's Spark
  // catalog surface). Partitions in a lakehouse MATERIALIZE from data —
  // listing derives from live manifests; ADD PARTITION has nothing to
  // create and is rejected (as in Paimon).

  override def partitionSchema(): StructType =
    StructType(loaded.partitionKeys.map(k => loaded.schema(loaded.schema.fieldIndex(k))))

  private def partInternal(rendered: Map[String, String]): InternalRow =
    InternalRow.fromSeq(loaded.partitionKeys.map { k =>
      GraftTable.toInternalValue(
        GraftTable.castPartitionValue(rendered(k), loaded.schema(k).dataType))
    })

  private lazy val partSchema: StructType = partitionSchema()

  /** External (Filter-literal) value of one partition-ident position. */
  private def partExternal(ident: InternalRow, i: Int): Any = {
    val dt = partSchema(i).dataType
    if (ident.isNullAt(i)) null
    else dt match {
      case StringType => ident.getUTF8String(i).toString
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ident.getInt(i)))
      case d: DecimalType => ident.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case _ => ident.get(i, dt)
    }
  }

  private def identFilters(ident: InternalRow): Seq[Filter] =
    loaded.partitionKeys.indices.map { i =>
      val k = loaded.partitionKeys(i)
      partExternal(ident, i) match {
        // the null partition needs null-safe equality (plain EqualTo is
        // UNKNOWN for null and would silently match nothing)
        case null => org.apache.spark.sql.sources.EqualNullSafe(k, null)
        case v => org.apache.spark.sql.sources.EqualTo(k, v)
      }
    }

  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    require(names.length == ident.numFields,
      s"the number of fields (${ident.numFields}) must match names (${names.length})")
    names.foreach(n => require(loaded.partitionKeys.contains(n),
      s"$n is not a partition key (keys: ${loaded.partitionKeys.mkString(",")})"))
    val schema = partitionSchema()
    val prefixIdx = names.map(n => loaded.partitionKeys.indexOf(n))
    val all = loaded.planFiles().map(_.partition).distinct.map(partInternal)
    all.filter { row =>
      prefixIdx.indices.forall { j =>
        val i = prefixIdx(j)
        val dt = schema(i).dataType
        val a = if (row.isNullAt(i)) null else row.get(i, dt)
        val b = if (ident.isNullAt(j)) null else ident.get(j, dt)
        a == b
      }
    }.toArray
  }

  override def createPartition(
      ident: InternalRow, properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions materialize from data — write rows instead of ADD PARTITION")

  override def replacePartitionMetadata(
      ident: InternalRow, properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft partitions carry no metadata")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  override def dropPartition(ident: InternalRow): Boolean =
    dropPartitions(Array(ident))

  /** S58: ATOMIC multi-partition drop — `ALTER TABLE t DROP PARTITION
    * (a), PARTITION (b)` lands as ONE metadata OVERWRITE snapshot (an
    * or-of-ands partition predicate), not one commit per spec: readers
    * never observe a half-dropped state and retention sees one
    * snapshot. Same PK soundness rule as SQL DELETE's metadata path
    * and CALL sys.drop_partition: file removal on a PK table whose
    * partition keys are not key-contained can resurrect stale versions. */
  override def dropPartitions(idents: Array[InternalRow]): Boolean = {
    if (loaded.isPkTable && !loaded.partitionPruneSafe)
      throw new UnsupportedOperationException(
        "DROP PARTITION on a primary-key table requires partition keys " +
          "contained in the primary key; use DELETE (tombstones) instead")
    if (idents.isEmpty) return true
    val anyIdent = idents.toSeq
      .map(identFilters(_).reduce(org.apache.spark.sql.sources.And))
      .reduce(org.apache.spark.sql.sources.Or)
    val base = loaded.latestSnapshotId.getOrElse(0L)
    loaded.commitV2("filter", Seq.empty, Seq(anyIdent), base) != base
  }

  override def createPartitions(
      idents: Array[InternalRow],
      properties: Array[java.util.Map[String, String]]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions materialize from data — write rows instead of ADD PARTITION")

  private def writeOpt(key: String): Option[String] =
    writeOptions.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Batch reads and batch writes are V2 — PK-table writes included:
    * they plan a strict key-clustered shuffle + sort so the task writers
    * dedup within the batch (see GraftWriteImpl). Deliberately V1: table
    * creation (empty schema = "does not exist yet" — the first write
    * probes getTable before creating; no capability at all routes it to
    * the V1 CreatableRelationProvider), `changelog-producer=lookup`
    * writes (the -U/+U classification is a join against current state,
    * a genuine query), mergeSchema writes (write-time schema evolution),
    * and streaming reads (the V1 snapshot-offset stream source). */
  override def capabilities(): java.util.Set[TableCapability] = {
    if (tableSchema.fields.isEmpty) return java.util.Collections.emptySet()
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ)
    val v2Writable =
      !(loaded.isPkTable && loaded.lookupChangelog) &&
        !loaded.isDynamicBucket &&
        !writeOpt("mergeSchema").exists(_.toBoolean)
    if (v2Writable) {
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.OVERWRITE_BY_FILTER)
      caps.add(TableCapability.OVERWRITE_DYNAMIC)
    } else if (loaded.isDynamicBucket) {
      // S48: dynamic-bucket writes need the key-hash→bucket index JOIN
      // (a query), which a pushed V2 row writer cannot run — route SQL
      // INSERT through Spark's V1Write fallback into the library path
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.OVERWRITE_BY_FILTER)
    }
    caps
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // `branch` write option (S36): commit onto the branch ref's log
    val t = Option(info.options.get("branch")).map(loaded.forBranch).getOrElse(loaded)
    if (t.isDynamicBucket) return dynamicBucketV1Builder(t)
    new GraftWriteBuilder(t, info)
  }

  /** S48: V1Write fallback for dynamic-bucket tables — the assignment
    * is a DataFrame join against the persisted index, so the write must
    * enter as a DataFrame (library append/overwriteAll), not as pushed
    * V2 rows. */
  private def dynamicBucketV1Builder(t: GraftTable)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var replaceAll = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replaceAll = true; this
      }
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        require(filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]),
          "dynamic-bucket tables support only full-table INSERT OVERWRITE")
        replaceAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write = {
        val all = replaceAll
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                if (all || overwrite) t.overwriteAll(data) else t.append(data)
                ()
              }
            }
        }
      }
    }

  // ---- SQL DELETE FROM / TRUNCATE TABLE --------------------------------

  /** DELETE FROM semantics, two sound strategies:
    *
    * METADATA delete — every predicate is an EXACT partition-column
    * predicate: drop the matching files in one OVERWRITE commit, no job.
    * On a PK table this requires `partitionPruneSafe` (partition keys ⊆
    * primary key): a key's versions then never span partitions, so
    * dropping a partition's files deletes those keys wholesale instead
    * of resurrecting older versions left elsewhere.
    *
    * TOMBSTONE delete — PK table, any predicate translatable to a row
    * Column: read the current merged state, filter the matches, and
    * write `-D` rows (the table's own delete path), which the
    * merge-on-read hides — the LSM delete, O(matches) new data.
    *
    * Anything else reports canDeleteWhere=false and Spark raises the
    * standard unsupported-delete error. */
  private def v1Filters(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Seq[Filter]] = {
    val fs = org.apache.spark.sql.graft.Bridge.predicatesToV1(predicates)
    if (fs.length == predicates.length) Some(fs.toSeq) else None
  }

  private def truncateRequested(filters: Seq[Filter]): Boolean =
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])

  private def partitionExact(filters: Seq[Filter]): Option[Seq[Filter]] = {
    val partCols = loaded.partitionKeys.toSet
    val metadataSafe = !loaded.isPkTable || loaded.partitionPruneSafe
    if (metadataSafe && partCols.nonEmpty &&
      filters.forall(f => GraftFilters.toColumn(f, partCols, exact = true).isDefined))
      Some(filters)
    else None
  }

  private def rowCond(filters: Seq[Filter]): Option[org.apache.spark.sql.Column] = {
    val allCols = loaded.schema.fieldNames.toSet
    val cols = filters.map(GraftFilters.toColumn(_, allCols, exact = true))
    if (cols.forall(_.isDefined)) cols.flatten.reduceOption(_ && _) else None
  }

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    v1Filters(predicates).exists(fs =>
      truncateRequested(fs) || partitionExact(fs).isDefined ||
        ((loaded.isPkTable || loaded.dvEnabled) && rowCond(fs).isDefined))

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val filters = v1Filters(predicates).getOrElse(
      throw new UnsupportedOperationException(s"untranslatable DELETE predicates: ${predicates.mkString(", ")}"))
    val base = loaded.latestSnapshotId.getOrElse(0L)
    if (truncateRequested(filters)) {
      loaded.commitV2("truncate", Seq.empty, Seq.empty, base); return
    }
    partitionExact(filters) match {
      case Some(fs) => loaded.commitV2("filter", Seq.empty, fs, base)
      case None =>
        val cond = rowCond(filters).filter(_ => loaded.isPkTable || loaded.dvEnabled)
          .getOrElse(throw new UnsupportedOperationException(
            s"DELETE supports partition predicates, row predicates on a primary-key " +
              s"table, or row predicates on a deletion-vectors append table; " +
              s"got: ${filters.mkString(", ")}"))
        if (loaded.isPkTable) loaded.delete(loaded.read().filter(cond))
        else loaded.dvDelete(cond, filters) // S37: position sidecars, no rewrite
    }
  }

  override def truncateTable(): Boolean = {
    loaded.commitV2("truncate", Seq.empty, Seq.empty, loaded.latestSnapshotId.getOrElse(0L))
    true
  }

  // one metadata load per table instance, shared by every scan builder
  // (inferSchema already paid one; reloading per-builder would read the
  // schema JSON again for each query)
  private lazy val loaded: GraftTable = GraftTable.load(SparkSession.active, path)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `branch` read option (S36): scan the branch ref's snapshot log —
    // a view sharing root/schema/manifests, so everything downstream
    // (pruning, MOR, pushdown) is unchanged
    val t = Option(options.get("branch")).map(loaded.forBranch).getOrElse(loaded)
    new GraftScanBuilder(SparkSession.active, t, options, pinnedSnapshot, pinnedFiles)
  }
}

object GraftScanBuilder {
  /** Read-option key carrying map-subscript predicates for bloom entry
    * pruning (injected by SubscriptFilterRule). */
  val SubscriptFiltersOption = "subscript.filters"

  /** Encode (col, key, op, value) records: NUL-separated fields,
    * SOH-joined records (control characters cannot appear in column
    * names and make the encoding unambiguous for arbitrary key/value
    * text). Op is one of = > >= < <=. */
  def encodeSubscriptFilters(subs: Seq[SubscriptPredicate]): String =
    subs.map(f => s"${f.col}\u0000${f.key}\u0000${f.op}\u0000${f.value}").mkString("\u0001")
}

/** One subscript predicate carried to the scan for file pruning:
  * `col[key] op value` with op in = > >= < <= (ref session property
  * range_filters_on_subscripts_enabled -- equality prunes via the bloom
  * entry hashes, ranges via the sidecar's per-entry min/max stats;
  * see SubscriptFilterRule / BloomIndex.Sidecar). */
final case class SubscriptPredicate(col: String, key: String, op: String, value: String)

/** Pushdown negotiation (ref: PrestoFilterConverter.java TupleDomain →
  * predicate conversion). All filters are returned as residual — like the
  * built-in parquet source, pushdown here is pruning (manifest files, row
  * groups), not row-exact evaluation, and Spark re-applies the predicate
  * above the scan. */
final class GraftScanBuilder(
    spark: SparkSession, table: GraftTable, options: CaseInsensitiveStringMap,
    pinnedSnapshot: Option[Long] = None,
    pinnedFiles: Option[Seq[FileMeta]] = None,
    // row-level replace reads (UPDATE/MERGE/rewrite-DELETE): the built
    // scan is reported to the operation (its files get replaced at
    // commit) and reader-level row-group pruning is disabled — a skipped
    // row group of a replaced file would silently drop its rows
    rowLevelReplace: Boolean = false,
    onBuild: GraftScan => Unit = _ => ())
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  // an explicit read option wins over a catalog VERSION AS OF pin;
  // `tag` resolves a named tag to its pinned snapshot (scan.tag-name)
  private val snapshotId = Option(options.get("snapshotId")).map(_.toLong)
    .orElse(Option(options.get("tag")).map(table.snapshotForTag))
    .orElse(pinnedSnapshot)
  // session-property equivalents (ref PrestoSessionProperties:
  // partition_prune_enabled / query_pushdown_enabled)
  private val partitionPrune = Option(options.get("partitionPrune")).forall(_.toBoolean)
  private val dataSkip = Option(options.get("dataSkip")).forall(_.toBoolean)
  private val aggPushdown = Option(options.get("aggPushdown")).forall(_.toBoolean)
  // S69 TABLESAMPLE SYSTEM (ref TestPrestoITCase :109/:1114): percent in
  // [0,100] → basis points; files kept by a deterministic hash rule (see
  // GraftScan.sampleKeep) straight from the MANIFEST — skipped files cost
  // zero I/O, and the rule composes with partition pruning / data
  // skipping (sampling applies to the pruned survivor set).
  private val sampleBps: Int = Option(options.get("sample-system")).map { s =>
    val pct = s.toDouble
    require(pct >= 0 && pct <= 100, s"sample-system must be in [0,100], got $pct")
    math.round(pct * 100).toInt
  }.getOrElse(10000)
  private val sampleKeyMode: String =
    Option(options.get("sample-key")).getOrElse("path")

  /** Map-subscript predicates for bloom entry pruning, injected by
    * SubscriptFilterRule (or set directly as a read option) as
    * `col<NUL>key<NUL>op<NUL>value` records joined by SOH — file pruning
    * only, always residual-safe (the Filter stays in the plan). */
  private val subscriptFilters: Seq[SubscriptPredicate] =
    Option(options.get(GraftScanBuilder.SubscriptFiltersOption)).toSeq
      .flatMap(_.split('\u0001').toSeq)
      .flatMap(_.split('\u0000') match {
        case Array(c, k, op, v) => Some(SubscriptPredicate(c, k, op, v))
        case _ => None
      })

  private var requiredSchema: StructType = table.schema
  private var pushed: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty
  private var aggScan: Option[GraftManifestAggScan] = None

  // ---- S55 claimed filters (bitmap.claim-filters, opt-in) --------------

  /** Opt-in: equality/IN predicates on bitmap-indexed columns are
    * reported FULLY pushed (removed from Spark's residual) and enforced
    * by position-masked reads; the payoff is sidecar-only COUNT
    * answering (see buildAggScan). Off by default — the claimed row
    * path reads row-based/unsplit, which is the wrong trade for plain
    * wide SELECTs where residual filtering + vectorized scan wins. */
  private val bitmapClaim = Option(options.get("bitmap.claim-filters")).exists(_.toBoolean)
  /** S66: the BSI twin — range/equality predicates on bsi-indexed
    * integral columns claim through the same masked-read machinery. */
  private val bsiClaim = Option(options.get("bsi.claim-filters")).exists(_.toBoolean)

  /** The files this builder's scan can read, resolved once: the caller's
    * pinned set, or the snapshot's live files ("latest" is listed here,
    * and only here). Claim scope, the scan's plan and description and a
    * runtime filter's re-plan all prune this one list, so a commit that
    * lands mid-planning is never half seen. */
  private val scopeFiles: Seq[FileMeta] = pinnedFiles.getOrElse(table.liveFiles(snapshotId))
  /** A filter is claimable when a position-exact index whose claim
    * option is on answers it on every file in scope (FileIndex). */
  private lazy val claimable: Filter => Boolean =
    table.fileIndex.claimable(scopeFiles,
      Map(FileIndex.BitmapRules -> bitmapClaim, FileIndex.BsiRules -> bsiClaim))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val known = table.schema.fieldNames.toSet
    // nested struct-leaf references ("r.f") participate in manifest
    // min/max + null-count file skipping (parquet footers record leaf
    // stats under the dotted path); they are never CLAIMED — the filter
    // stays residual and pruning is best-effort
    pushed = filters.filter(_.references.forall(r =>
      known(r) || FileStats.resolveField(table.schema, r).isDefined))
    // avro excluded conservatively: its reader factory has no
    // no-pushdown "clean" twin to guarantee physical-order row counting
    // (masking is only proven for the parquet/orc factories)
    claimed =
      if ((!bitmapClaim && !bsiClaim) || table.isPkTable || rowLevelReplace ||
          table.fileFormat == "avro")
        Array.empty
      else pushed.filter(claimable)
    // claimed filters are enforced by the masked read; everything else
    // is residual (pruning stays best-effort, Spark re-applies)
    filters.filterNot(claimed.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (aggScan.isEmpty) this.requiredSchema = requiredSchema

  // ---- manifest-only aggregates ---------------------------------------

  /** COUNT(*) / MIN / MAX answered from the snapshot manifest alone
    * (row counts and min/max stats the write tasks reported at commit):
    * the query plans a LocalTableScan — zero files opened, zero tasks.
    * Only COMPLETE pushdown, and only when it is provably exact:
    * filterless scans of non-PK tables (merge-on-read hides superseded
    * versions the stats still count), grouping only by partition
    * columns, MIN/MAX on types whose stats are exact (no string footer
    * stats — parquet may truncate them; no float/double — NaN handling
    * differs). */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    buildAggScan(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // a manifest-answered aggregate over a SAMPLED scan would need the
    // same file filter replayed here; decline instead — Spark computes
    // the aggregate over the (correctly sampled) row scan
    if (sampleBps < 10000) return false
    val built = buildAggScan(agg)
    built.foreach(s => aggScan = Some(s))
    built.isDefined // partial pushdown is never offered
  }

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  private sealed trait AggDef
  private case object CountStarDef extends AggDef
  private final case class MinDef(col: String) extends AggDef
  private final case class MaxDef(col: String) extends AggDef

  /** Types whose manifest stats are exact answers (see Scaladoc above). */
  private def exactStatType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType | TimestampType | _: DecimalType => true
    case _ => false
  }

  private def toInternal(v: Any): Any = GraftTable.toInternalValue(v)

  private def buildAggScan(agg: Aggregation): Option[GraftManifestAggScan] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // claimed (bitmap-enforced) filters stay compatible with COUNT
    // pushdown — the sidecar position sets ARE the filtered counts; any
    // other filter disables pushdown as before
    if (!aggPushdown || pushed.exists(f => !claimed.contains(f)) || table.isPkTable) return None
    val partKeys = table.partitionKeys.toSet

    val groupColsOpt = agg.groupByExpressions.toSeq
      .foldLeft(Option(Seq.empty[String])) { (acc, e) =>
        acc.flatMap(s => colName(e).filter(partKeys).map(s :+ _))
      }
    val groupCols = groupColsOpt.getOrElse(return None)

    val defsOpt = agg.aggregateExpressions.toSeq
      .foldLeft(Option(Seq.empty[AggDef])) { (acc, f) =>
        acc.flatMap { s =>
          f match {
            case _: CountStar => Some(s :+ CountStarDef)
            case m: Min =>
              colName(m.column)
                .filter(c => partKeys(c) || exactStatType(table.schema(c).dataType))
                .map(c => s :+ MinDef(c))
            case m: Max =>
              colName(m.column)
                .filter(c => partKeys(c) || exactStatType(table.schema(c).dataType))
                .map(c => s :+ MaxDef(c))
            case _ => None
          }
        }
      }
    val defs = defsOpt.getOrElse(return None)
    if (defs.isEmpty) return None

    val files = scopeFiles
    if (files.exists(_.rowCountOpt.isEmpty)) return None // legacy manifest: no counts
    // deletion vectors (S37): COUNT stays manifest-exact (dvCount is the
    // sidecar's exact cardinality), but a masked row may have BEEN the
    // min/max — stats are only conservative bounds on a dv'd file
    if (files.exists(_.hasDv) && defs.exists(_ != CountStarDef)) return None
    // S55 filtered COUNT: under claimed filters only COUNT(*) is
    // answerable (a masked-away row may have been the min/max), each
    // file's contribution being |∩ claimed match positions| from its
    // sidecar. Eligibility at claim time guarantees sidecar coverage;
    // re-verify per file and abort (fall back to the masked row scan)
    // rather than guess. A dv'd file declines: its keep set still
    // counts the rows the vector masks.
    val claimedCounts: Map[String, Long] =
      if (claimed.isEmpty) Map.empty
      else {
        if (defs.exists(_ != CountStarDef) || files.exists(_.hasDv)) return None
        files.map { f =>
          val n = table.fileIndex.keepOf(f, claimed.toSeq)
            .map(_.length.toLong)
            .getOrElse(return None)
          f.path -> n
        }.toMap
      }
    // every MIN/MAX target needs a stats entry in EVERY file (absence is
    // ambiguous between "all null" and "not collected" — don't guess)
    val statCols = defs.collect { case MinDef(c) => c case MaxDef(c) => c }
      .filterNot(partKeys).distinct
    if (statCols.exists(c => files.exists(f => !f.statsOrEmpty.contains(c)))) return None

    def statValue(f: FileMeta, c: String, min: Boolean): Option[Any] =
      if (partKeys(c))
        Option(GraftTable.castPartitionValue(f.partition(c), table.schema(c).dataType))
      else {
        val cs = f.statsOrEmpty(c)
        FileStats.parse(if (min) cs.min else cs.max, table.schema(c).dataType)
      }

    // a min/max stat that fails to parse (unexpected rendering) aborts
    if (statCols.exists(c => files.exists(f =>
      statValue(f, c, min = true).isEmpty || statValue(f, c, min = false).isEmpty)))
      return None

    val groups: Seq[(Seq[String], Seq[FileMeta])] =
      if (groupCols.isEmpty) Seq(Seq.empty[String] -> files)
      else files.groupBy(f => groupCols.map(f.partition)).toSeq
    def ordering(dt: DataType) =
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

    val rows: Seq[InternalRow] =
      if (files.isEmpty && groupCols.isEmpty)
        // global aggregate over an empty table: COUNT = 0, MIN/MAX = NULL
        Seq(InternalRow.fromSeq(defs.map { case CountStarDef => 0L; case _ => null }))
      else groups.flatMap { case (gv, fs) =>
        // GROUP BY semantics: a group materializes only from EXISTING
        // rows — a partition whose files hold zero surviving rows (all
        // dv-masked, or nothing matched the claimed filters) emits NO
        // row, not a zero/NULL row (the ungrouped global aggregate
        // keeps its count=0 row above)
        val groupRows =
          if (claimed.nonEmpty) fs.map(f => claimedCounts(f.path)).sum
          else fs.map(f => f.rowCountOpt.get - f.dvCountOrZero).sum
        if (groupCols.nonEmpty && groupRows == 0L) None
        else {
          val groupVals = groupCols.zip(gv).map { case (c, v) =>
            toInternal(GraftTable.castPartitionValue(v, table.schema(c).dataType))
          }
          val aggVals = defs.map {
            case CountStarDef => groupRows
            case MinDef(c) =>
              val ord = ordering(table.schema(c).dataType)
              val vs = fs.flatMap(f => statValue(f, c, min = true)).map(toInternal)
              if (vs.isEmpty) null else vs.min(ord)
            case MaxDef(c) =>
              val ord = ordering(table.schema(c).dataType)
              val vs = fs.flatMap(f => statValue(f, c, min = false)).map(toInternal)
              if (vs.isEmpty) null else vs.max(ord)
          }
          Some(InternalRow.fromSeq(groupVals ++ aggVals))
        }
      }

    val schema = StructType(
      groupCols.map(c => table.schema(c).copy(name = c)) ++
        defs.zipWithIndex.map {
          case (CountStarDef, i) => StructField(s"count_star_$i", LongType, nullable = false)
          case (MinDef(c), i) => StructField(s"min_${c}_$i", table.schema(c).dataType)
          case (MaxDef(c), i) => StructField(s"max_${c}_$i", table.schema(c).dataType)
        })
    Some(new GraftManifestAggScan(schema, rows.toArray,
      s"GraftManifestAgg files=${files.size} groupBy=[${groupCols.mkString(",")}]"))
  }

  override def build(): Scan = aggScan.getOrElse {
    val s = new GraftScan(spark, table, snapshotId, requiredSchema, pushed,
      partitionPrune, dataSkip, rowLevelReplace, subscriptFilters, claimed,
      sampleBps, sampleKeyMode, scopeFiles, pinnedFiles.isDefined)
    onBuild(s)
    s
  }
}

/** Group-based copy-on-write row-level operation (UPDATE / MERGE /
  * rewrite-DELETE). The scan Spark configures through [[newScanBuilder]]
  * determines the replace set: its (runtime-filtered) planned files are
  * the groups being rewritten, and [[GraftReplaceBatchWrite]] commits
  * `added = rewritten files, deleted = scanned files` as one OVERWRITE
  * snapshot — optimistic concurrency intact (a commit that raced in
  * after the base was captured fails the swap). On PK tables the scan
  * reads MERGED rows and the rewrite folds the groups' history, exactly
  * like a targeted compaction with the command applied. */
final class GraftRowLevelOperation(
    table: GraftTable,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var configuredScan: GraftScan = _

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, table, options,
      rowLevelReplace = true, onBuild = s => configuredScan = s)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // reached only when a rewrite actually executes (a DELETE converted
    // to the tombstone path never builds this write) — see the
    // lookup-changelog rationale in GraftV2Table
    // S48: a group rewrite routes replacement rows through the STATIC
    // bucket projection (disabled at bucket = -1 ⇒ everything lands in
    // bucket 0), so a rewritten key would leave its assigned bucket and
    // the bucket-local MOR merge would resurrect both versions — reject
    // loudly; dynamic tables change rows through the assignment-aware
    // upsert/delete paths instead
    if (table.isDynamicBucket)
      throw new UnsupportedOperationException(
        s"$cmd is not supported on dynamic-bucket tables (bucket = -1): " +
          "a group rewrite would move keys out of their assigned buckets; " +
          "use upsert/delete (library) or INSERT INTO (upsert semantics)")
    if (table.isPkTable && table.lookupChangelog)
      throw new UnsupportedOperationException(
        s"$cmd is not supported with changelog-producer=lookup " +
          "(a rewrite cannot emit the -U/+U changelog)")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new GraftReplaceWrite(table, info.schema(),
          () => Option(configuredScan).map(_.scannedFiles))
    }
  }

  override def description(): String = s"GraftRowLevelOperation[$cmd]"
}

/** The replace write: rows route through the ordinary task writers
  * (PK tables keep the strict key-clustered shuffle + sort, so the
  * rewritten files are sorted runs); commit swaps in the scan's files. */
final class GraftReplaceWrite(
    table: GraftTable, writeSchema: StructType, replaced: () => Option[Seq[FileMeta]])
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  // identical distribution contract to GraftWriteImpl (see its Scaladoc)
  private val delegate = new GraftWriteImpl(table, writeSchema, "append", Array.empty)
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    delegate.requiredDistribution()
  override def distributionStrictlyRequired(): Boolean = delegate.distributionStrictlyRequired()
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    delegate.requiredOrdering()

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GraftReplaceBatchWrite(table, writeSchema, replaced)
}

final class GraftReplaceBatchWrite(
    table: GraftTable, writeSchema: StructType, replaced: () => Option[Seq[FileMeta]])
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val base: Long = table.latestSnapshotId.getOrElse(0L)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spec =
      if (table.isPkTable)
        GraftWrite.spec(table.spark, table, writeSchema,
          hiddenSeq = Some(base + 1), hiddenKind = Some(GraftTable.RowKind.Insert),
          dedupKeys =
            if (table.mergeEngine == "deduplicate") table.primaryKeys else Seq.empty,
          keySorted = true)
      else GraftWrite.spec(table.spark, table, writeSchema)
    new GraftReplaceDataWriterFactory(spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.toSeq.flatMap { case GraftCommitMessage(f) => f }
    // None = the operation's scan was never tracked (re-planned builder,
    // defensive gap). Committing rewritten rows WITHOUT a replace set
    // would duplicate every carried row — fail loudly instead. A tracked
    // scan that legitimately matched nothing (e.g. insert-only MERGE into
    // empty groups) is Some(Seq.empty) and commits normally.
    val rep = replaced().getOrElse {
      if (added.nonEmpty)
        throw new IllegalStateException(
          "row-level rewrite produced data files but its scan was never tracked; " +
            "an empty replace set would duplicate every carried row")
      Seq.empty
    }
    table.commitReplace(added, rep, base)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fsys = GraftTable.fileSystem(table.spark, table.root)
    // commit() throwing does not always mean the snapshot failed to
    // publish (post-publish maintenance VirtualMachineError) — never
    // delete a file the latest snapshot references; unknown state skips
    // deletion entirely (orphan GC over corruption).
    val live = table.publishedDataPaths.getOrElse(return)
    messages.toSeq.filter(_ != null).flatMap { case GraftCommitMessage(f) => f }
      .filterNot(f => live.contains(f.path))
      .foreach(f => FileIndexBuilder.deleteWithSidecars(fsys,
        new org.apache.hadoop.fs.Path(table.root, f.path)))
  }
}

/** Aggregate answered from manifest metadata: a driver-local scan, no
  * tasks, no file reads (the lakehouse "metadata-only query"). */
final class GraftManifestAggScan(
    aggSchema: StructType, aggRows: Array[InternalRow], desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = aggRows
  override def description(): String = desc
}

/** One batch scan over the manifest-planned live file set.
  *
  * Non-PK tables: files split at `maxPartitionBytes` granularity and
  * packed into FilePartitions (the same open-cost/bytes-per-core formula
  * Spark's file sources use), read by the vectorized columnar parquet
  * factory.
  *
  * PK tables: merge-on-read happens INSIDE the scan. Files group by the
  * finest key-co-located unit — (partition, bucket) when bucket and
  * partition keys are contained in the primary key (every version of a
  * key provably lands in one group), coarsening to partition-only or
  * whole-table otherwise — and each group becomes ONE input partition
  * whose reader merges versions locally (latest sequence wins, deletes
  * dropped). No Exchange in the plan; parallelism = number of buckets,
  * the same contract Paimon's bucketed LSM gives its readers, and the
  * per-task working set is one bucket's live keys, which is exactly what
  * bucket sizing bounds. */
object GraftScan {
  // test observability: file reader factories built by scans of this JVM
  val fileFactoriesBuilt = new java.util.concurrent.atomic.AtomicLong(0)

  /** The file index handed to the ParquetScan/OrcScan that build reader
    * factories. `createReaderFactory` never reads it, but constructing an
    * `InMemoryFileIndex` copies the Hadoop conf and runs a listing
    * refresh, once per factory. One empty index per SparkContext serves
    * every scan. */
  @volatile private var noFiles: NoFilesIndex = _
  private[sources] def noFilesIndex(s: SparkSession)
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    val cur = noFiles
    if (cur != null && (cur.context eq s.sparkContext)) cur
    else { val fresh = new NoFilesIndex(s); noFiles = fresh; fresh }
  }

  private final class NoFilesIndex(s: SparkSession)
      extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
        s, Map.empty, None) {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val context: org.apache.spark.SparkContext = s.sparkContext
    override def partitionSpec() =
      org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
    override protected def leafFiles =
      scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    override protected def leafDirToChildrenFiles = Map.empty[Path, Array[FileStatus]]
    override def rootPaths: Seq[Path] = Seq.empty
    override def refresh(): Unit = ()
  }

  /** S69 TABLESAMPLE SYSTEM keep rule — a pure function of the MANIFEST
    * entry, so the decision costs zero data I/O and is DETERMINISTIC for
    * a given table state (unlike Trino's per-split coin flip):
    * keep iff floorMod(polyHash(key), 10000) < bps. Two key modes:
    *   - "path" (default): the file's root-relative path — true
    *     file-granular sampling; deterministic per table instance but
    *     not reproducible across table rebuilds (paths carry commit
    *     uuids), so it is spec-tested, not oracle-gated.
    *   - "partition": the file's `k=v/k2=v2` partition string (raw
    *     values) — partition-granular, content-derived, reproducible
    *     across engines: the DuckDB oracle replays the same polyHash
    *     rule over the partition value (q_sample_system). Requires a
    *     partitioned table.
    * The polynomial hash is the repo's shared oracle-expressible fold
    * (HashExpr.polyHash: mult 31, mod 1e9+7), FINISHED with a Fibonacci
    * multiplicative mix: the raw fold of near-identical keys is
    * SEQUENTIAL (".../m=1995-01" → consecutive values), so a bare
    * `% 10000` would keep contiguous key RUNS — a sampler correlated
    * with the partition value. `(h * 2654435761) mod 2^32`, scaled to
    * the bucket range by the top bits, strides consecutive inputs by
    * the golden ratio — dispersion without losing exact-integer
    * replayability (all intermediates < 2^46, exact BIGINT arithmetic
    * in both engines). */
  def sampleBucket(key: String): Long = {
    val h = graft.functions.PolyHash64Impl.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key), 31L, 1000000007L)
    ((h * 2654435761L) % 4294967296L) * 10000L / 4294967296L
  }

  def sampleKeep(table: GraftTable, f: FileMeta, bps: Int, mode: String): Boolean = {
    val key = mode match {
      case "path" => f.path
      case "partition" =>
        require(table.partitionKeys.nonEmpty,
          "sample-key=partition requires a partitioned table")
        table.partitionKeys.map(k => s"$k=${f.partition.getOrElse(k, "")}")
          .mkString("/")
      case other =>
        throw new IllegalArgumentException(
          s"unknown sample-key '$other' (expected path | partition)")
    }
    sampleBucket(key) < bps
  }
}

final class GraftScan(
    spark: SparkSession,
    table: GraftTable,
    snapshotId: Option[Long],
    requiredSchema: StructType,
    pushed: Array[Filter],
    partitionPrune: Boolean,
    dataSkip: Boolean,
    rowLevelReplace: Boolean = false,
    val subscriptFilters: Seq[SubscriptPredicate] = Seq.empty,
    // S55 claimed filters (bitmap.claim-filters): reported fully pushed
    // by the builder; THIS scan must enforce them (position-masked read)
    claimed: Array[Filter] = Array.empty,
    // S69 TABLESAMPLE SYSTEM: basis points of files kept (10000 = off)
    // and the sample-key mode ("path" | "partition")
    sampleBps: Int = 10000,
    sampleKeyMode: String = "path",
    // the live files the builder resolved: every plan of this scan prunes
    // them, unless `pinned` (the caller already planned them: scanned as
    // given, no manifest planning, no runtime filtering)
    live: Seq[FileMeta],
    pinned: Boolean)
    extends Scan with Batch with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeFiltering {

  // a sampled row-level rewrite would commit against an INCOMPLETE file
  // set (delete/update decisions over a subset of each key's history)
  require(!(rowLevelReplace && sampleBps < 10000),
    "sample-system cannot combine with row-level operations")

  /** A copy of this scan with map-subscript bloom pruning predicates —
    * used by SubscriptFilterRule when it rewrites an already-built
    * DataSourceV2ScanRelation (the rule also handles the pre-pushdown
    * DataSourceV2Relation shape via the read option). */
  def withSubscriptFilters(subs: Seq[SubscriptPredicate]): GraftScan =
    new GraftScan(spark, table, snapshotId, requiredSchema, pushed,
      partitionPrune, dataSkip, rowLevelReplace, subs, claimed,
      sampleBps, sampleKeyMode, live, pinned)

  private val partKeySet = table.partitionKeys.toSet
  // S44/S65: metadata columns (`_file`, and on row-tracking tables
  // `_row_id`/`_sequence_number`/`_pos`) are synthesized per file
  // partition, never read from parquet — carve them out of the
  // data/partition split. Requested order is preserved in the output.
  // a DATA column sharing a metadata column's name shadows it (Spark
  // hides the metadata column then, case-insensitively) — the carve-out
  // must not capture it
  private val metaColNames: Set[String] =
    (RowLineage.MetaColNames ++ GraftV2Table.ConstColNames) --
      table.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
  private val metaFields: Array[StructField] =
    requiredSchema.fields.filter(f => metaColNames(f.name)).map { f =>
      if (f.name == GraftV2Table.FileCol || f.name == GraftV2Table.PartCol)
        StructField(f.name, StringType, nullable = false)
      else if (f.name == GraftV2Table.BucketCol)
        StructField(f.name, IntegerType, nullable = false)
      // nullability mirrors the MetadataColumn declarations (_row_id and
      // _sequence_number declare nullable for MERGE's insert branch)
      else StructField(f.name, LongType, nullable = f.name != RowLineage.PosCol)
    }
  // any per-file-constant metadata column (_file/_partition/_bucket)
  // forces per-file planning + the constant-appending row-based read
  private val wantFile: Boolean =
    metaFields.exists(f => GraftV2Table.ConstColNames(f.name))
  private val wantPartCol: Boolean =
    metaFields.exists(_.name == GraftV2Table.PartCol)
  private val wantBucketCol: Boolean =
    metaFields.exists(_.name == GraftV2Table.BucketCol)
  // any lineage column forces the positional per-file read (S65)
  private val wantLineage: Boolean =
    metaFields.exists(f => RowLineage.MetaColNames(f.name))
  private val dataRequired: Array[StructField] =
    requiredSchema.fields.filterNot(f => metaColNames(f.name))
  // file-borne vs directory-borne halves of the requested schema
  private val readDataFields: Array[StructField] =
    dataRequired.filterNot(f => partKeySet(f.name))
  private val readPartFields: Array[StructField] =
    dataRequired.filter(f => partKeySet(f.name))

  override def readSchema(): StructType =
    StructType(readDataFields ++ readPartFields ++ metaFields)

  override def toBatch: Batch = this

  private def planWith(filters: Seq[Filter]): FilePlan = {
    val (partFilter, dataFilters) =
      GraftFilters.planning(filters, partKeySet, partitionPrune, dataSkip)
    val planned = table.plan(live, partFilter, dataFilters = dataFilters,
      subscriptFilters = if (dataSkip) subscriptFilters else Seq.empty)
    if (sampleBps >= 10000) planned
    else {
      val kept = planned.files.filter(f => GraftScan.sampleKeep(table, f, sampleBps, sampleKeyMode))
      planned.copy(files = kept,
        dropped = planned.dropped + (FilePlan.Sample -> (planned.files.size - kept.size)))
    }
  }

  private lazy val basePlan: FilePlan =
    if (pinned) FilePlan(live, live.size) else planWith(pushed.toSeq)

  // ---- runtime filtering (join-driven dynamic pruning) -----------------

  /** Runtime filters (e.g. the IN-set of join keys from a selective dim)
    * re-run MANIFEST pruning before the fact scan's tasks launch — the
    * V2 form of dynamic partition pruning, extended to min/max data
    * skipping. Sound by construction: pruning only drops files that
    * cannot match, and the join above still applies the exact predicate. */
  @volatile private var runtimePlan: FilePlan = _

  /** The plan this scan reads: the runtime-filtered one once a runtime
    * filter ran. */
  private def plan: FilePlan = { val r = runtimePlan; if (r != null) r else basePlan }

  private def plannedFiles: Seq[FileMeta] =
    if (rowLevelReplace && table.isPkTable) completeGroups(plan.files) else plan.files

  /** Row-level rewrites on PK tables must fold COMPLETE key histories:
    * file-granularity pruning (pk min/max stats, bloom sidecars, runtime
    * group filters) can drop a file holding a non-matching key's NEWEST
    * version while an older version of that key rides along in a
    * surviving file — the rewrite would re-commit the stale version with
    * a fresh __seq that out-ranks the newer one left behind. Expanding
    * the replace set to whole (partition, bucket) groups restores the
    * invariant compactBuckets documents: a key's versions never span
    * groups (partition/bucket keys ⊆ primary key), so a group-complete
    * fold is history-complete. Coarsens to partition-only or whole-table
    * when the layout keys are not key-contained. */
  private def completeGroups(pruned: Seq[FileMeta]): Seq[FileMeta] = {
    if (pruned.isEmpty) return pruned
    val all = live
    if (pruned.size == all.size) return pruned
    val pk = table.primaryKeys.toSet
    val partCo = table.partitionKeys.forall(pk)
    val bucketCo = table.bucketKeys.nonEmpty && table.bucketKeys.forall(pk)
    if (partCo && bucketCo) {
      val groups = pruned.map(f => (f.partition, f.bucket)).toSet
      all.filter(f => groups((f.partition, f.bucket)))
    } else if (partCo) {
      val parts = pruned.map(_.partition).toSet
      all.filter(f => parts(f.partition))
    } else all
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val cols =
      if (pinned) Seq.empty[String]
      else if (!table.isPkTable) table.schema.fieldNames.toSeq
      else (table.primaryKeys ++
        (if (table.partitionPruneSafe) table.partitionKeys else Seq.empty)).distinct
    // Only columns in the PRUNED output: Spark's dynamic-pruning rule
    // resolves these refs against the scan relation's output and throws
    // on a projected-away column. A runtime filter always comes from a
    // join key, which is necessarily in the output, so this loses nothing.
    val out = readSchema().fieldNames.toSet
    cols.filter(out)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    val known = table.schema.fieldNames.toSet
    val usable = filters.filter(_.references.forall(known))
    if (usable.nonEmpty) runtimePlan = planWith((pushed ++ usable).toSeq)
  }

  /** Filters safe to hand the file reader for row-group pruning. On a PK
    * table only version-invariant key/partition columns qualify — a
    * predicate on any other column (sequence fields included: they change
    * across versions) could prune the row group holding a key's newest
    * version and resurrect a stale one through the merge (same rule as
    * GraftTable.skipSafeCols). */
  private def readerFilters: Array[Filter] =
    if (rowLevelReplace) Array.empty // see GraftScanBuilder.rowLevelReplace
    else if (!table.isPkTable) pushed
    else pushed.filter(_.references.forall(table.skipSafeCols))

  /** Files this scan will read (runtime-filtered when a group filter
    * ran) — the replace set of a row-level operation's commit. */
  private[sources] def scannedFiles: Seq[FileMeta] = plannedFiles

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, plannedFiles.map(_.sizeBytes).sum))
    // manifest rowCounts, summed over the PRUNED file set — lets Spark's
    // CBO (join reorder, broadcast-threshold decisions) see true
    // cardinality instead of guessing from bytes. Only reported when
    // every planned file carries a count (legacy manifests read null —
    // a partial sum would understate and mis-broadcast a big side) and
    // the table is NOT merge-on-read: a PK table's reader collapses row
    // versions and drops deletes, so file counts OVERSTATE output rows
    // (the same reason buildAggScan refuses PK tables).
    override def numRows(): OptionalLong =
      if (!table.isPkTable && plannedFiles.nonEmpty &&
          plannedFiles.forall(_.rowCount != null))
        // dvCount is exact sidecar cardinality, so masked rows subtract
        // out of the CBO estimate manifest-only
        OptionalLong.of(plannedFiles.map(f => f.rowCount.longValue - f.dvCountOrZero).sum)
      else OptionalLong.empty()

    // S41: column-level CBO statistics folded from the manifest's
    // per-file footer stats over the PRUNED file set — min/max (range
    // join/filter selectivity) and null counts, zero file reads, zero
    // jobs (the same driver-side metadata CBO path as numRows; ANALYZE
    // TABLE at 100 TB is a corpus scan — the manifest already knows).
    // Same conservatism as numRows: non-PK tables only (a MOR fold
    // drops rows, so file-level aggregates overstate), and a column
    // reports only when EVERY planned file carries its stat (a partial
    // fold could understate the range and flip a CBO join order on
    // fiction). Bounds go out in the stats comparison domain
    // (FileStats.parse): numerics boxed, DateType days-int,
    // TimestampType epoch-micros-long — the internal forms Spark's
    // estimation arithmetic consumes; strings/decimals stay min/max-less
    // (estimation does not range over them; null counts still help).
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // deletion vectors mask rows the footer stats still count: numRows
      // subtracts dvCount exactly, but null counts / bounds cannot —
      // nullCount could exceed numRows and poison selectivity estimates.
      // Decline column stats whenever any planned file carries a vector.
      if (table.isPkTable || plannedFiles.isEmpty ||
          plannedFiles.exists(_.hasDv)) return out
      readSchema().fields.foreach { fld =>
        val perFile = plannedFiles.map(_.statsOrEmpty.get(fld.name))
        if (perFile.forall(_.isDefined)) {
          val cs = perFile.map(_.get)
          val nulls =
            if (cs.forall(_.nullCount >= 0)) OptionalLong.of(cs.map(_.nullCount).sum)
            else OptionalLong.empty()
          val rangeable = fld.dataType match {
            case IntegerType | LongType | DoubleType | FloatType |
                 DateType | TimestampType => true
            case _ => false
          }
          // an all-null file contributes NO values — it never widens the
          // bounds (its nulls still count above); files with UNKNOWN
          // stats (unparseable/absent bounds on a valued column) decline
          // the whole range instead of silently understating it
          val valued = cs.filterNot(_.isAllNull)
          val mins = valued.map(c => FileStats.parse(c.min, fld.dataType))
          val maxs = valued.map(c => FileStats.parse(c.max, fld.dataType))
          def fold(vs: Seq[Option[Any]], keepFirst: (Any, Any) => Boolean): Option[Any] =
            if (!rangeable || vs.isEmpty || vs.exists(_.isEmpty)) None
            else Some(vs.flatten.reduce((a, b) => if (keepFirst(a, b)) a else b))
          def cmp(a: Any, b: Any): Int = (a, b) match {
            case (x: Int, y: Int) => x.compareTo(y)
            case (x: Long, y: Long) => x.compareTo(y)
            case (x: Double, y: Double) => x.compareTo(y)
            case (x: Float, y: Float) => x.compareTo(y)
            case _ => 0
          }
          val mn = fold(mins, (a, b) => cmp(a, b) <= 0)
          val mx = fold(maxs, (a, b) => cmp(a, b) >= 0)
          if (nulls.isPresent || mn.isDefined || mx.isDefined) {
            out.put(
              org.apache.spark.sql.connector.expressions.Expressions.column(fld.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def nullCount(): OptionalLong = nulls
                override def min(): java.util.Optional[Object] =
                  mn.map(_.asInstanceOf[Object]).fold(
                    java.util.Optional.empty[Object]())(java.util.Optional.of)
                override def max(): java.util.Optional[Object] =
                  mx.map(_.asInstanceOf[Object]).fold(
                    java.util.Optional.empty[Object]())(java.util.Optional.of)
              })
          }
        }
      }
      out
    }
  }

  override def description(): String =
    s"GraftTable files=${plannedFiles.size}/${plan.considered} root=${table.root} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      (if (claimed.nonEmpty) s"ClaimedFilters: [${claimed.mkString(", ")}], " else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  // ---- split planning (driver-side, manifest-only) ---------------------

  private def absPath(f: FileMeta): String = s"${table.root.stripSuffix("/")}/${f.path}"

  /** Directory-encoded partition values of one file as an InternalRow in
    * `fields` order. */
  private def partValues(f: FileMeta, fields: Array[StructField]): InternalRow =
    InternalRow.fromSeq(fields.toSeq.map { fld =>
      GraftTable.toInternalValue(
        GraftTable.castPartitionValue(f.partition(fld.name), fld.dataType))
    })

  private def toPartitionedFile(
      f: FileMeta, fields: Array[StructField], start: Long, length: Long): PartitionedFile =
    PartitionedFile(
      partValues(f, fields),
      SparkPath.fromPathString(absPath(f)),
      start, length,
      Array.empty[String], 0L, f.sizeBytes,
      // piggyback the sorted-run flag and the deletion-vector pointer on
      // the metadata-column map (never read as a metadata column — the
      // scan requests no _metadata fields); the MOR factory reads the
      // former, PositionalReaderFactory the latter
      (if (f.isSorted) Map[String, Any](GraftMorReaderFactory.SortedKey -> true)
       else Map.empty[String, Any]) ++
        (if (f.hasDv) Map[String, Any](DeletionVector.DvKey -> f.dvPath)
         else Map.empty[String, Any]) ++
        // S65: the file's commit-assigned id range for the lineage read
        // (absent on compacted files — their ids are stored columns)
        (if (wantLineage)
           Option(f.firstRowId).map(v =>
             RowLineage.FirstRowIdKey -> (v.longValue: Any)).toMap ++
             Option(f.rowSeq).map(v => RowLineage.RowSeqKey -> (v.longValue: Any)).toMap
         else Map.empty[String, Any]) ++
        // per-file constants for the _partition/_bucket metadata columns
        (if (wantPartCol)
           Map[String, Any](GraftV2Table.PartValKey ->
             table.partitionKeys.map(k => s"$k=${f.partition(k)}").mkString("/"))
         else Map.empty[String, Any]) ++
        (if (wantBucketCol) Map[String, Any](GraftV2Table.BucketValKey -> f.bucket)
         else Map.empty[String, Any]))

  // ---- storage-partitioned scan (zero-shuffle bucketed joins) ----------

  /** Bucket-grouped planning is an opt-in trade (the same conf gate the
    * built-in V2 sources use): parallelism drops to `numBuckets` and each
    * bucket becomes one unsplittable partition, in exchange for a scan
    * whose KeyGroupedPartitioning lets Spark join two co-bucketed tables
    * with NO Exchange — the storage-partitioned join. Correct for PK
    * tables whenever bucket keys ⊆ primary key (every version of a key
    * hashes to the same bucket, so the per-bucket merge sees them all). */
  /** S42 layout guard: a bucket-partitioning claim keyed on the CURRENT
    * bucket option is a lie for files written under a different count —
    * a pre-rescale snapshot (time travel), or the crash window where
    * the new layout's schema is published but its rewrite commit is
    * not. Snapshots stamp the schemaId they were committed under;
    * require it to match, plus the cheap structural invariant. */
  private lazy val bucketLayoutCurrent: Boolean =
    snapshotId.orElse(table.latestSnapshotId).forall(id =>
      table.bucketLayoutAt(table.snapshotSchemaId(id)) ==
        table.bucketLayoutAt(table.currentSchemaId))

  private def bucketGrouped: Boolean =
    spark.sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
      table.numBuckets > 1 && table.bucketKeys.nonEmpty &&
      (!table.isPkTable || table.bucketKeys.forall(table.primaryKeys.toSet)) &&
      !wantFile && !wantLineage && // S44/S65: meta-col partitions are per-file, not per-bucket
      // S55: a claimed scan masks per-file through unsplit FilePartitions;
      // BucketedFilePartition would reach the mask factory unwrapped —
      // drop the SPJ claim rather than compose the two partition shapes
      claimed.isEmpty &&
      bucketLayoutCurrent && plannedFiles.forall(_.bucket < table.numBuckets)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (bucketGrouped)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(table.numBuckets, table.bucketKeys: _*)),
        table.numBuckets)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** One partition per bucket id, empties included: both sides of a
    * storage-partitioned join then report identical key sets, so the
    * join aligns partition-for-partition without value pushdown. */
  private def planBucketPartitions(): Array[InputPartition] = {
    val partFields = if (table.isPkTable) mergePartFields else readPartFields
    val byBucket = plannedFiles.groupBy(_.bucket)
    (0 until table.numBuckets).map { b =>
      val files = byBucket.getOrElse(b, Seq.empty)
        .map(f => toPartitionedFile(f, partFields, 0L, f.sizeBytes))
      BucketedFilePartition(FilePartition(b, files.toArray), b): InputPartition
    }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (bucketGrouped) return planBucketPartitions()
    if (plannedFiles.isEmpty) return Array.empty
    if (wantFile || wantLineage) return planPerFilePartitions()
    if (table.isPkTable) planMergePartitions() else planSplitPartitions()
  }

  /** S44: `_file` scans plan ONE partition per file — the synthesized
    * provenance value is a per-partition constant, so bin-packing or
    * splitting would mix files inside one reader. Metadata/forensics
    * queries trade a little split parallelism for the column. */
  private def planPerFilePartitions(): Array[InputPartition] =
    plannedFiles.zipWithIndex.map { case (f, i) =>
      FilePartition(i,
        Array(toPartitionedFile(f, readPartFields, 0L, f.sizeBytes))): InputPartition
    }.toArray

  /** Non-PK: split files to maxSplitBytes and bin-pack — Spark's own
    * open-cost formula, computed from manifest sizes (no listing). */
  private def planSplitPartitions(): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartitions = conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
    val totalBytes = plannedFiles.map(_.sizeBytes + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minPartitions)
    // floor of 1: openCost=0 on a high-parallelism cluster would
    // otherwise yield a 0 split size (and a zero range step below)
    val maxSplit = math.max(1L,
      math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore)))
    val splits = plannedFiles.flatMap { f =>
      // a dv-carrying file is planned UNSPLIT: its reader masks sidecar
      // positions against a physical row counter that must start at 0
      // and see every row (PositionalReaderFactory). Claimed bitmap
      // filters mask the same way, so every file of a claimed scan plans
      // unsplit.
      if (f.hasDv || claimed.nonEmpty)
        Seq(toPartitionedFile(f, readPartFields, 0L, f.sizeBytes))
      else (0L until math.max(1L, f.sizeBytes) by maxSplit).map { off =>
        toPartitionedFile(f, readPartFields, off, math.min(maxSplit, f.sizeBytes - off))
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }

  /** PK: one partition per co-located file group; the group's reader
    * performs the merge locally. */
  private def planMergePartitions(): Array[InputPartition] = {
    val pk = table.primaryKeys.toSet
    val partCo = table.partitionKeys.forall(pk)
    val bucketCo = table.bucketKeys.nonEmpty && table.bucketKeys.forall(pk)
    val groups: Iterable[Seq[FileMeta]] =
      // S61 cross-partition dynamic bucket: partition keys sit OUTSIDE
      // the pk, but the global index pins every live version of a key to
      // ONE (partition, bucket) and a move writes its tombstone into the
      // old group — each group folds complete on its own. Without this,
      // the conservative single-group fallback would merge the whole
      // table in one task AND see a move's same-sequence tombstone/row
      // pair together (arbitrary tie).
      if (table.isCrossPartitionUpsert)
        plannedFiles.groupBy(f => (f.partition, f.bucket)).values
      else if (partCo && bucketCo) plannedFiles.groupBy(f => (f.partition, f.bucket)).values
      else if (partCo) plannedFiles.groupBy(_.partition).values
      else Seq(plannedFiles)
    groups.zipWithIndex.map { case (fs, i) =>
      FilePartition(i, fs.map(f => toPartitionedFile(f, mergePartFields, 0L, f.sizeBytes)).toArray)
        : InputPartition
    }.toArray
  }

  // ---- merge-on-read schema plumbing -----------------------------------

  /** Partition columns the merge needs: the requested ones plus any
    * primary-key or sequence-field columns that are partition-borne (key
    * identity and version ordering must be complete even when the query
    * doesn't select them). */
  private lazy val mergePartFields: Array[StructField] = {
    val needed = readPartFields.map(_.name).toSet ++
      (table.primaryKeys ++ table.sequenceFields).filter(partKeySet)
    table.partitionKeys.filter(needed).map(n => table.schema(n)).toArray
  }

  /** File-borne columns the merge needs: requested + key + sequence +
    * hidden __seq/__kind, in on-disk order. */
  private lazy val mergeDataFields: Array[StructField] = {
    val needed = readDataFields.map(_.name).toSet ++
      (table.primaryKeys ++ table.sequenceFields).filterNot(partKeySet) ++
      // S49: the fold needs every group's sequence column even when the
      // query prunes it (it drives the group's accept decision)
      table.columnSequenceGroup.values.toSet ++
      Seq(GraftTable.SeqCol, GraftTable.KindCol)
    table.fileDataSchema.fields.filter(f => needed(f.name))
  }

  // ---- reader factories -------------------------------------------------

  /** The scan's one Hadoop configuration: every reader factory and every
    * shipped `SerializableConfiguration` of this scan share it. */
  private lazy val hadoopConf = spark.sessionState.newHadoopConf()
  private lazy val serializableConf =
    new org.apache.spark.util.SerializableConfiguration(hadoopConf)

  /** Build the vectorized reader factory by delegating to a real
    * ParquetScan/OrcScan (over the shared empty file index
    * [[GraftScan.noFilesIndex]] — createReaderFactory never touches
    * it): it installs every reader conf key (read-support
    * class, requested schema, timezone, rebase modes) exactly as the
    * built-in source does, so we inherit Spark's columnar read path
    * verbatim instead of re-plumbing it. Row reads go through the same
    * factory's `createReader` (the positional paths, see
    * [[PositionalReaderFactory]]); the PK merge clones it per run (see
    * GraftMorReaderFactory). */
  private def fileFactory(
      readData: StructType, readPart: StructType, filters: Array[Filter],
      // S65: extra physical columns some files carry (the lineage read's
      // stored __row_id/__row_seq) — declared in dataSchema so the
      // format resolves them by name and null-fills files lacking them
      extraDataCols: Seq[StructField] = Seq.empty): PartitionReaderFactory = {
    GraftScan.fileFactoriesBuilt.incrementAndGet()
    val dataSchema = StructType(table.fileDataSchema.fields ++ extraDataCols)
    // S54 avro: row-based by nature; every reader opened from this
    // factory is an independent DataFileReader (safe for the MOR k-way
    // merge's interleaving); pushed filters are ignored because the scan
    // declares them residual
    if (table.fileFormat == "avro")
      return new GraftAvroReaderFactory(serializableConf, readData, readPart)
    val emptyIndex = GraftScan.noFilesIndex(spark)
    if (table.fileFormat == "orc")
      new org.apache.spark.sql.execution.datasources.v2.orc.OrcScan(
        spark, hadoopConf, emptyIndex,
        dataSchema = dataSchema,
        readDataSchema = readData,
        readPartitionSchema = readPart,
        options = CaseInsensitiveStringMap.empty(),
        pushedAggregate = None,
        pushedFilters = filters,
        partitionFilters = Seq.empty,
        dataFilters = Seq.empty).createReaderFactory()
    else
      new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
        spark, hadoopConf, emptyIndex,
        dataSchema = dataSchema,
        readDataSchema = readData,
        readPartitionSchema = readPart,
        pushedFilters = filters,
        options = CaseInsensitiveStringMap.empty()).createReaderFactory()
  }

  /** The pushed predicates over primary-key columns, bound to the merge
    * row: the merge drops a row failing them before it enters the k-way
    * merge. `readerFilters` already keeps only key columns on a PK table
    * (and nothing for a row-level rewrite, which must see every row). */
  private def keyPredicate(mergeSchema: StructType): Option[Expression] = {
    val pk = table.primaryKeys.toSet
    readerFilters.toSeq.flatMap(GraftFilters.toColumn(_, pk)).reduceOption(_ && _)
      .flatMap { c =>
        // an optimization only (Spark re-applies every pushed filter): a
        // predicate the analyzer cannot resolve is simply not pushed
        try Some(org.apache.spark.sql.graft.Bridge.boundPredicate(spark, c, mergeSchema))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      // an IN list as a set (what Spark's OptimizeIn does): `In` inlines
      // its literals into the generated class, so every distinct key set
      // would compile a new predicate; `InSet` shares one class
      .map(_.transform {
        case In(v, list) if list.nonEmpty && list.forall(_.foldable) =>
          InSet(v, list.map(_.eval()).toSet)
      })
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    PlanMetric.all ++ (
      if (!table.isPkTable) Array(new DvRowsSkippedMetric, new ClaimRowsDroppedMetric)
      else Array(new MergeRowsDecodedMetric, new MergeRowsKeyFilteredMetric,
        new MergeVersionsMergedMetric))

  /** What planning pruned (see [[PlanMetric]]). */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val p = plan
    (ScanMetric.task(PlanMetric.Considered, p.considered) +: FilePlan.Steps.map(s =>
      ScanMetric.task(PlanMetric.name(s), p.dropped.getOrElse(s, 0).toLong))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner =
      if (wantFile || wantLineage ||
        (!table.isPkTable && (claimed.nonEmpty || plannedFiles.exists(_.hasDv))))
        positionalFactory()
      else if (!table.isPkTable)
        fileFactory(StructType(readDataFields), StructType(readPartFields), readerFilters)
      else {
        // merge rows materialize as [mergeDataFields ++ mergePartFields]
        val mergeSchema = StructType(mergeDataFields ++ mergePartFields)
        def idx(name: String): Int = mergeSchema.fieldIndex(name)
        val metaCols = Set(GraftTable.SeqCol, GraftTable.KindCol) ++
          table.primaryKeys ++ table.sequenceFields
        new GraftMorReaderFactory(
          fileFactory(StructType(mergeDataFields), StructType(mergePartFields), readerFilters),
          mergeSchema,
          keyIdx = table.primaryKeys.map(idx).toArray,
          seqIdx = (table.sequenceFields :+ GraftTable.SeqCol).map(idx).toArray,
          kindIdx = idx(GraftTable.KindCol),
          outIdx = readSchema().fields.map(f => idx(f.name)),
          engine = table.mergeEngine,
          // per-mergeSchema-column fold function ("" = key/meta, not folded)
          aggFns = mergeSchema.fields.map { f =>
            if (metaCols.contains(f.name)) ""
            else if (table.mergeEngine == "partial-update") "last_non_null_value"
            else table.fieldAggregates.getOrElse(f.name, "last_non_null_value")
          },
          // S49: column → its group-seq ordinal (meta columns excluded —
          // they track the latest version regardless of groups)
          groupSeqIdx = mergeSchema.fields.map { f =>
            if (metaCols.contains(f.name)) -1
            else table.columnSequenceGroup.get(f.name).map(idx).getOrElse(-1)
          },
          keyFilter = keyPredicate(mergeSchema))
      }
    if (bucketGrouped) new UnwrapBucketFactory(inner) else inner
  }

  /** S37/S44/S55/S65/S66: the per-file positional read. Files that need
    * every physical position read through a factory with no pushed
    * filters: dv files (the reader picks those per file) and, decided
    * here, every file of a claimed or lineage scan, which gets that
    * factory for both roles. The rest keep the filtered one. A scan
    * builds at most these two. */
  private def positionalFactory(): PartitionReaderFactory = {
    // `_pos`/`_file` alone (the delta write's row identity on a plain
    // dv-append table) need only the positional read; id/seq
    // additionally need the tracking vintage
    if (metaFields.exists(f => f.name == RowLineage.IdCol || f.name == RowLineage.SeqCol)) {
      require(table.rowTracking,
        s"lineage metadata columns require row-tracking.enabled at ${table.root}")
      plannedFiles.foreach(f => require(
        (f.firstRowId != null && f.rowSeq != null) || f.isCompacted,
        s"file ${f.path} predates row tracking — enable row-tracking.enabled " +
          "at table creation"))
    }
    // a lineage read carries the stored __row_id/__row_seq of compacted files
    val stored =
      if (!wantLineage) Seq.empty
      else Seq(StructField(GraftTable.RowIdCol, LongType), StructField(GraftTable.RowSeqCol, LongType))
    def files(filters: Array[Filter]) = fileFactory(StructType(readDataFields ++ stored),
      StructType(readPartFields), filters, extraDataCols = stored)
    val positional = wantLineage || claimed.nonEmpty
    val filtered = files(if (positional) Array.empty[Filter] else readerFilters)
    val unfiltered =
      if (positional || !plannedFiles.exists(_.hasDv)) filtered else files(Array.empty[Filter])
    new PositionalReaderFactory(filtered, unfiltered,
      readDataFields.map(_.dataType), readPartFields.map(_.dataType), stored.nonEmpty,
      metaFields.map(_.name), claimed.toSeq, table.root, serializableConf)
  }
}

object GraftV2Table {
  /** S44: hidden per-row provenance column name. */
  val FileCol = "_file"
  val FileMetaColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = FileCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "data file path relative to the table root"
    }

  /** Paimon's `__paimon_partition`/`__paimon_bucket` Spark surface,
    * graft-shaped: the owning partition rendered as the canonical
    * `k=v/k2=v2` string (byte-identical to the `$files`/`$partitions`
    * system-table rendering; "" on unpartitioned tables) and the file's
    * bucket id (0 on unbucketed layouts). Per-file constants — same
    * synthesis discipline as `_file`. */
  val PartCol = "_partition"
  val BucketCol = "_bucket"
  val PartMetaColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = PartCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "owning partition as the canonical k=v/k2=v2 string"
    }
  val BucketMetaColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = BucketCol
      override def dataType: DataType = IntegerType
      override def isNullable: Boolean = false
      override def comment: String = "bucket id of the row's data file"
    }
  /** PartitionedFile piggyback keys for the per-file constants. */
  val PartValKey = "__graft_part_str"
  val BucketValKey = "__graft_bucket_id"
  /** The metadata columns synthesized as per-file constants. */
  val ConstColNames: Set[String] = Set(FileCol, PartCol, BucketCol)
}

/** A FilePartition tagged with its bucket id — the partition key Spark
  * groups and aligns on in a storage-partitioned join. */
final case class BucketedFilePartition(underlying: FilePartition, bucketId: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucketId)
  override def preferredLocations(): Array[String] = underlying.preferredLocations()
}

/** Strips the bucket tag before handing splits to the real file/merge
  * reader factories (they expect plain FilePartitions). */
final class UnwrapBucketFactory(delegate: PartitionReaderFactory) extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case BucketedFilePartition(u, _) => u
    case other => other
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

object GraftMorReaderFactory {
  /** PartitionedFile metadata key marking a key-sorted run. */
  val SortedKey = "__graft_sorted"
  // test observability: how many file groups merged via each strategy
  // (local-mode executors share the JVM, so specs can assert the path)
  val streamedGroups = new java.util.concurrent.atomic.AtomicLong(0)
  val hashGroups = new java.util.concurrent.atomic.AtomicLong(0)

  /** Names of the streaming merge's task metrics, declared by
    * [[GraftScan.supportedCustomMetrics]]: rows the run readers decoded,
    * rows the key predicate dropped before the merge, and versions the
    * merge folded away (a key's versions minus one). */
  val RowsDecoded = "mergeRowsDecoded"
  val RowsKeyFiltered = "mergeRowsKeyFiltered"
  val VersionsMerged = "mergeVersionsMerged"
}

/** graft's scan metrics: the streaming merge's here, the positional
  * reader's next to [[PositionalReaderFactory]]. Spark re-creates a
  * metric from its class name to aggregate it, so each is a concrete
  * no-arg class. */
abstract class ScanMetric(metricName: String, desc: String)
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = desc
}
object ScanMetric {
  /** One reader's value of the metric named `n`. */
  def task(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}
/** Driver metrics of a scan's planning ([[FilePlan]]): the live files
  * it considered, and per step the files it dropped. */
abstract class PlanMetric(step: String, desc: String)
    extends ScanMetric(PlanMetric.name(step), s"planning: $desc")
object PlanMetric {
  def name(step: String): String = s"plannedFiles.$step"
  val Considered: String = name("considered")
  def all: Array[CustomMetric] = Array(new FilesConsideredMetric, new FilesPartitionPrunedMetric,
    new FilesStatsPrunedMetric, new FilesBloomPrunedMetric, new FilesBitmapPrunedMetric,
    new FilesBsiPrunedMetric, new FilesSampledOutMetric)
}
final class FilesConsideredMetric extends PlanMetric("considered", "files considered")
final class FilesPartitionPrunedMetric
    extends PlanMetric(FilePlan.Partition, "files pruned by partition")
final class FilesStatsPrunedMetric extends PlanMetric("stats", "files skipped by min/max stats")
final class FilesBloomPrunedMetric extends PlanMetric("bloom", "files skipped by the bloom index")
final class FilesBitmapPrunedMetric extends PlanMetric("bitmap", "files skipped by the bitmap index")
final class FilesBsiPrunedMetric extends PlanMetric("bsi", "files skipped by the BSI index")
final class FilesSampledOutMetric extends PlanMetric(FilePlan.Sample, "files sampled out by TABLESAMPLE")
final class MergeRowsDecodedMetric
    extends ScanMetric(GraftMorReaderFactory.RowsDecoded, "merge: rows decoded")
final class MergeRowsKeyFilteredMetric
    extends ScanMetric(GraftMorReaderFactory.RowsKeyFiltered, "merge: rows dropped by key filter")
final class MergeVersionsMergedMetric
    extends ScanMetric(GraftMorReaderFactory.VersionsMerged, "merge: versions merged away")

/** Executor-side merge-on-read: consume every row version of one
  * co-located file group, keep the winner per primary key (greatest
  * sequence.field values, then greatest commit __seq), drop deletes, and
  * emit survivors projected to the requested schema.
  *
  * `files` is the scan's one file reader factory (vectorized whenever the
  * format and schema allow). Two strategies, chosen per file group:
  *
  * STREAMING (every file in the group is a sorted run — FileMeta.sorted,
  * the normal state since all PK write paths key-sort): a k-way merge
  * across the runs advances key by key. Each run reads `ColumnarBatch`es
  * through its own copy of `files` and its head is a view into the
  * current batch. When the factory cannot read columnar (its
  * `supportColumnarReads` answers false — Avro, a disabled vectorized
  * reader, types the vectorized reader does not support) each run reads
  * rows through `createReader` of that same copy, and its head is the
  * reader's reused row. Either way a head stays valid only until its run advances, so
  * the merge copies just the versions it keeps: the winner (or, for a
  * folding engine, the key's versions). Rows are dropped before they
  * enter the merge when they are `-U` changelog markers or fail
  * `keyFilter` — the scan's pushed predicates over primary-key columns,
  * bound to `mergeSchema` and compiled once per task. That is sound
  * because every version of a key carries the same key, and Spark
  * re-applies the pushed filters above the scan. Resident memory is
  * runs × read columns × batch rows (`columnarReaderBatchSize`, 4,096 by
  * default) of column vectors, plus each open reader's current row
  * group pages, plus ONE key's versions — independent of how many keys
  * the bucket holds, the bounded contract of Paimon's sorted-run LSM
  * merge.
  *
  * HASH (legacy/unsorted files present, e.g. a compaction clustered by
  * non-key columns): buffer the group's live keys in an UnsafeRow-keyed
  * map — correct and spill-free only while a bucket's key set fits in
  * executor memory, which is what bucket sizing bounds. (ref: the
  * RecordReader merge in PrestoPageSourceBase pulls an already-merged
  * Paimon reader; here the merge IS the reader). */
final class GraftMorReaderFactory(
    files: PartitionReaderFactory,
    mergeSchema: StructType,
    keyIdx: Array[Int],
    seqIdx: Array[Int],
    kindIdx: Int,
    outIdx: Array[Int],
    engine: String = "deduplicate",
    aggFns: Array[String] = Array.empty,
    // S49 sequence groups: for each mergeSchema ordinal, the ordinal of
    // its group's sequence column (-1 = ungrouped/global order)
    groupSeqIdx: Array[Int] = Array.empty,
    // pushed primary-key predicates, bound to mergeSchema
    keyFilter: Option[Expression] = None) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  // asked once at construction, where the SQLConf is readable: some
  // factories (ORC) read it to answer, and it is unreadable once shipped
  // to an executor; file factories answer the same for every partition
  private val columnarRuns: Boolean =
    files.supportColumnarReads(FilePartition(0, Array.empty))

  private def ref(i: Int) = BoundReference(i, mergeSchema(i).dataType, mergeSchema(i).nullable)

  // S49: distinct group-seq ordinals + per-group value ordering
  private val groupIdxs: Array[Int] = groupSeqIdx.filter(_ >= 0).distinct
  @transient private lazy val groupOrds: Map[Int, Ordering[Any]] =
    groupIdxs.map(i => i ->
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(
        mergeSchema(i).dataType)).toMap

  /** Shared ascending left-fold for partial-update/aggregation (used by
    * BOTH the hash strategy and the streamed k-way merge so the two are
    * row-for-row identical). A `-D` resets the accumulator. Sequence
    * groups (S49): a row updates a group's columns only when its group
    * sequence is (null-safely) ≥ the accumulated one — a late-arriving
    * older partial row cannot clobber the group; within an accepted
    * update the partial non-null-wins rule still applies per column. */
  private def foldAscending(
      rows: scala.collection.mutable.ArrayBuffer[InternalRow],
      ordAsc: Ordering[InternalRow],
      combine: Array[(Any, Any) => Any]): InternalRow = {
    val n = mergeSchema.length
    val fieldTypes = mergeSchema.fields.map(_.dataType)
    val delete = UTF8String.fromString(GraftTable.RowKind.Delete)
    val sorted = rows.sorted(ordAsc)
    var acc: Array[Any] = null
    sorted.foreach { row =>
      if (row.getUTF8String(kindIdx) == delete) acc = null
      else if (acc == null) {
        acc = Array.tabulate[Any](n)(i => row.get(i, fieldTypes(i)))
      } else {
        // per-group accept decision for THIS row, against the
        // accumulated group sequence (acc of the group column)
        var accept: Map[Int, Boolean] = Map.empty
        var gi = 0
        while (gi < groupIdxs.length) {
          val g = groupIdxs(gi)
          val gv = row.get(g, fieldTypes(g))
          val cur = acc(g)
          accept += g -> (if (gv == null) cur == null
                          else cur == null || groupOrds(g).compare(gv, cur) >= 0)
          gi += 1
        }
        var i = 0
        while (i < n) {
          val v = row.get(i, fieldTypes(i))
          acc(i) =
            if (i < aggFns.length && aggFns(i).isEmpty) v // key/seq/kind track latest
            else {
              val g = if (i < groupSeqIdx.length) groupSeqIdx(i) else -1
              if (g < 0) combine(i)(acc(i), v)
              else if (accept(g)) { if (v != null) v else acc(i) }
              else acc(i)
            }
          i += 1
        }
      }
    }
    if (acc == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(acc)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val sortedRuns = partition match {
      case fp: FilePartition =>
        fp.files.nonEmpty && fp.files.forall(
          _.otherConstantMetadataColumnValues
            .getOrElse(GraftMorReaderFactory.SortedKey, false) == true)
      case _ => false
    }
    if (sortedRuns) {
      GraftMorReaderFactory.streamedGroups.incrementAndGet()
      streamingReader(partition.asInstanceOf[FilePartition])
    } else {
      GraftMorReaderFactory.hashGroups.incrementAndGet()
      engine match {
        case "deduplicate" | "first-row" => winnerReader(partition)
        case _ => foldReader(partition)
      }
    }
  }

  // ---- streaming k-way merge over sorted runs ---------------------------

  /** The streaming merge's counters, reported as task metrics. */
  private final class MergeCounts {
    var decoded = 0L
    var keyFiltered = 0L
    var merged = 0L
    def values: Array[CustomTaskMetric] = Array(
      ScanMetric.task(GraftMorReaderFactory.RowsDecoded, decoded),
      ScanMetric.task(GraftMorReaderFactory.RowsKeyFiltered, keyFiltered),
      ScanMetric.task(GraftMorReaderFactory.VersionsMerged, merged))
  }

  /** One open sub-reader per run with its head: the next row that is
    * neither a `-U` changelog marker (not a row version) nor rejected by
    * the key predicate. The head is a view — a batch row, or the row
    * reader's reused row — valid only until the next `advance()`.
    *
    * Each run reads through its OWN copy of the parquet factory: a
    * ParquetPartitionReaderFactory instance closes its current file's
    * reader when it opens the next (Spark's ParquetReaderCallback), so
    * through one shared instance every run but the last would be closed
    * while the merge still reads it — failing on its next row group, or
    * on snappy pages once its pooled decompressor is leased to a
    * concurrent task. */
  private final class Run(
      file: PartitionedFile, idx: Int, keep: BasePredicate, counts: MergeCounts) {
    // a serialization round trip, not copy(): the factory's constructor
    // reads the SQLConf, which is unreadable once shipped to an executor
    private val factory = files match {
      case p: ParquetPartitionReaderFactory =>
        val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
        ser.deserialize[PartitionReaderFactory](ser.serialize(p))
      case other => other
    }
    private val part = FilePartition(idx, Array(file))
    private val batches: PartitionReader[ColumnarBatch] =
      if (columnarRuns) factory.createColumnarReader(part) else null
    private val rows: PartitionReader[InternalRow] =
      if (batches == null) factory.createReader(part) else null
    private var batch: ColumnarBatch = _
    private var rowId = 0
    private val updateBefore = UTF8String.fromString(GraftTable.RowKind.UpdateBefore)
    private var closed = false
    var head: InternalRow = _
    advance()

    /** The run's next decoded row, or null once it is drained. */
    private def nextRow(): InternalRow =
      if (batches == null) { if (rows.next()) rows.get() else null }
      else {
        while (batch == null || rowId >= batch.numRows()) {
          if (!batches.next()) return null
          batch = batches.get()
          rowId = 0
        }
        rowId += 1
        batch.getRow(rowId - 1)
      }

    def advance(): Unit = {
      head = null
      while (head == null && !closed) {
        val r = nextRow()
        if (r == null) close()
        else {
          counts.decoded += 1
          if (r.getUTF8String(kindIdx) != updateBefore) {
            if (keep == null || keep.eval(r)) head = r
            else counts.keyFiltered += 1
          }
        }
      }
    }

    def close(): Unit = if (!closed) {
      closed = true
      batch = null
      if (batches != null) batches.close() else rows.close()
    }
  }

  /** Advance all runs past the globally-least key, combining that key's
    * versions on the fly: deduplicate/first-row keep a single winner
    * (O(1) per key); folding engines buffer ONE key's versions and fold
    * them ascending — identical results to the hash strategy because
    * versions are visited in the same per-file order the concatenated
    * scan would produce (runs drain in file-list order). */
  private def streamingReader(fp: FilePartition): PartitionReader[InternalRow] = {
    def ordering(idx: Array[Int], dir: SortDirection): BaseOrdering =
      GenerateOrdering.generate(idx.toSeq.map(i => SortOrder(ref(i), dir)))
    val keyOrd = ordering(keyIdx, Ascending)
    val winnerOrd = ordering(seqIdx, if (engine == "first-row") Ascending else Descending)
    val ordAsc = ordering(seqIdx, Ascending)
    val winnerEngine = engine == "deduplicate" || engine == "first-row"
    val combine: Array[(Any, Any) => Any] =
      if (winnerEngine) null
      else mergeSchema.fields.zipWithIndex.map { case (f, i) =>
        MergeFns.combiner(if (i < aggFns.length) aggFns(i) else "", f.dataType)
      }
    val delete = UTF8String.fromString(GraftTable.RowKind.Delete)
    val keep = keyFilter.map { e =>
      val p = Predicate.create(e)
      p.initialize(fp.index)
      p
    }.orNull
    val counts = new MergeCounts
    val runs = fp.files.zipWithIndex.map { case (f, i) => new Run(f, i, keep, counts) }
    // a kept version: heads are views, so whatever outlives an advance
    // is copied out of its run
    val copyVersion = UnsafeProjection.create(mergeSchema.indices.map(ref))
    val outProj = UnsafeProjection.create(outIdx.map(ref).toSeq)

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private val buf = new scala.collection.mutable.ArrayBuffer[InternalRow](4)

      /** Merge the least key across runs; null = key fully deleted.
        * `least` is a view into its run, valid until that run advances;
        * every version carries the key, so from the first kept copy on
        * the runs compare against that copy instead. */
      private def mergeLeastKey(): InternalRow = {
        var least: InternalRow = null
        var i = 0
        while (i < runs.length) {
          val h = runs(i).head
          if (h != null && (least == null || keyOrd.compare(h, least) < 0)) least = h
          i += 1
        }
        if (least == null) return null // all runs exhausted → sentinel handled by caller
        var versions = 0
        if (winnerEngine) {
          var winner: InternalRow = null
          i = 0
          while (i < runs.length) {
            val run = runs(i)
            while (run.head != null &&
                keyOrd.compare(run.head, if (winner == null) least else winner) == 0) {
              // strict <: ties keep the first-encountered row, the same
              // tie-break as the hash strategy's concatenated scan
              if (winner == null || winnerOrd.compare(run.head, winner) < 0)
                winner = copyVersion(run.head).copy()
              versions += 1
              run.advance()
            }
            i += 1
          }
          counts.merged += versions - 1
          if (winner.getUTF8String(kindIdx) == delete) null else winner
        } else {
          buf.clear()
          i = 0
          while (i < runs.length) {
            val run = runs(i)
            while (run.head != null &&
                keyOrd.compare(run.head, if (buf.isEmpty) least else buf(0)) == 0) {
              buf += copyVersion(run.head).copy()
              run.advance()
            }
            i += 1
          }
          counts.merged += buf.length - 1
          // the SHARED group-aware ascending fold (S49)
          foldAscending(buf, ordAsc, combine)
        }
      }

      override def next(): Boolean = {
        while (runs.exists(_.head != null)) {
          val merged = mergeLeastKey()
          if (merged != null) {
            current = outProj(merged)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[CustomTaskMetric] = counts.values
      override def close(): Unit = runs.foreach(_.close())
    }
  }

  /** deduplicate / first-row: stream the winner per key (greatest — or,
    * for first-row, least — (sequence fields, __seq)). */
  private def winnerReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyIdx.map(ref).toSeq)
    // Descending: the winner sorts FIRST (ascending for first-row)
    val dir = if (engine == "first-row") Ascending else Descending
    val ord = new InterpretedOrdering(seqIdx.toSeq.map(i => SortOrder(ref(i), dir)))
    val best = new java.util.HashMap[UnsafeRow, InternalRow]()
    val updateBefore = UTF8String.fromString(GraftTable.RowKind.UpdateBefore)
    val in = files.createReader(partition)
    try {
      while (in.next()) {
        val row = in.get().copy()
        // -U pre-images are changelog markers, not row versions
        if (row.getUTF8String(kindIdx) != updateBefore) {
          val k = keyProj(row).copy()
          val cur = best.get(k)
          if (cur == null || ord.compare(row, cur) < 0) best.put(k, row)
        }
      }
    } finally in.close()

    val outProj = UnsafeProjection.create(outIdx.map(ref).toSeq)
    val delete = UTF8String.fromString(GraftTable.RowKind.Delete)
    val it = best.values().iterator()
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val row = it.next()
          if (row.getUTF8String(kindIdx) != delete) {
            current = outProj(row)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }

  /** partial-update / aggregation: collect each key's versions, sort by
    * (sequence fields, __seq) ascending, and fold left — a `-D` resets
    * the accumulator (remove-record-on-delete), key/sequence/kind columns
    * track the latest version, data columns combine per [[MergeFns]].
    * Working set is one group's ALIVE versions (vs the winner-only map of
    * deduplicate) — the same per-bucket memory contract as Paimon's
    * sorted-run merge, one fold history deep until compaction folds it. */
  private def foldReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyIdx.map(ref).toSeq)
    val ordAsc = new InterpretedOrdering(seqIdx.toSeq.map(i => SortOrder(ref(i), Ascending)))
    val combine: Array[(Any, Any) => Any] =
      mergeSchema.fields.zipWithIndex.map { case (f, i) =>
        MergeFns.combiner(if (i < aggFns.length) aggFns(i) else "", f.dataType)
      }
    val versions = new java.util.HashMap[UnsafeRow, scala.collection.mutable.ArrayBuffer[InternalRow]]()
    val updateBefore = UTF8String.fromString(GraftTable.RowKind.UpdateBefore)
    val in = files.createReader(partition)
    try {
      while (in.next()) {
        val row = in.get().copy()
        if (row.getUTF8String(kindIdx) != updateBefore) {
          val k = keyProj(row).copy()
          var buf = versions.get(k)
          if (buf == null) {
            buf = new scala.collection.mutable.ArrayBuffer[InternalRow](4)
            versions.put(k, buf)
          }
          buf += row
        }
      }
    } finally in.close()

    // the SHARED group-aware ascending fold (S49) — identical rows out
    // of the hash and streamed strategies
    def fold(rows: scala.collection.mutable.ArrayBuffer[InternalRow]): InternalRow =
      foldAscending(rows, ordAsc, combine)

    val outProj = UnsafeProjection.create(outIdx.map(ref).toSeq)
    val it = versions.values().iterator()
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val merged = fold(it.next())
          if (merged != null) {
            current = outProj(merged)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Per-column combine functions for the fold merge engines (Paimon's
  * field aggregates): sum/min/max/bool/listagg skip nulls; *_value
  * functions take the row value as-is; *_non_null_value only
  * overwrite/keep non-null. */
private[sources] object MergeFns {
  import org.apache.spark.sql.types._

  def combiner(fn: String, dt: DataType): (Any, Any) => Any = fn match {
    case "" | "last_value" => (_, b) => b
    case "last_non_null_value" => (a, b) => if (b != null) b else a
    case "first_value" => (a, _) => a
    case "first_non_null_value" => (a, b) => if (a != null) a else b
    case "sum" => nullSkipping(add(dt))
    case "min" => nullSkipping { (a, b) => if (ordering(dt).compare(a, b) <= 0) a else b }
    case "max" => nullSkipping { (a, b) => if (ordering(dt).compare(a, b) >= 0) a else b }
    case "bool_and" => nullSkipping((a, b) => a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean])
    case "bool_or" => nullSkipping((a, b) => a.asInstanceOf[Boolean] || b.asInstanceOf[Boolean])
    // XOR-fold (T30): self-inverse — re-applying a value retracts it
    case "bit_xor" => nullSkipping(xor(dt))
    case "listagg" => nullSkipping((a, b) =>
      UTF8String.concat(a.asInstanceOf[UTF8String], Comma, b.asInstanceOf[UTF8String]))
    case "product" => nullSkipping(mult(dt))
    // sketch-typed columns (L63 SketchState bytes; the Paimon
    // hll_sketch/rbm field-agg shape): the rollup TABLE maintains its
    // sketches through the merge engine itself
    case "kmv_merge" | "kll_merge" | "mg_merge" =>
      require(dt == BinaryType,
        s"aggregate-function $fn needs a BINARY sketch column (got ${dt.simpleString})")
      val m: (Array[Byte], Array[Byte]) => Array[Byte] = fn match {
        case "kmv_merge" => graft.functions.SketchState.kmvMergeBytes
        case "kll_merge" => graft.functions.SketchState.kllMergeBytes
        case _ => graft.functions.SketchState.mgMergeBytes
      }
      nullSkipping((a, b) => m(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
    // S26d exact rbm64 id-set union (same BINARY-column shape as the
    // sketch merges, but lossless at any cardinality)
    case "rbm64_merge" =>
      require(dt == BinaryType,
        s"aggregate-function rbm64_merge needs a BINARY bitmap column (got ${dt.simpleString})")
      nullSkipping((a, b) => graft.functions.Bitmap64.mergeBytes(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
    case "collect" => dt match {
      case ArrayType(et, _) => nullSkipping { (a, b) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toObjectArray(et) ++
            b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toObjectArray(et))
      }
      case other => throw new IllegalArgumentException(
        s"aggregate-function collect needs an ARRAY column (got ${other.simpleString})")
    }
    case other => throw new IllegalArgumentException(s"unsupported aggregate-function: $other")
  }

  private val Comma = UTF8String.fromString(",")

  private def nullSkipping(f: (Any, Any) => Any): (Any, Any) => Any =
    (a, b) => if (a == null) b else if (b == null) a else f(a, b)

  private def ordering(dt: DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  private def add(dt: DataType): (Any, Any) => Any = dt match {
    case ByteType => (a, b) => (a.asInstanceOf[Byte] + b.asInstanceOf[Byte]).toByte
    case ShortType => (a, b) => (a.asInstanceOf[Short] + b.asInstanceOf[Short]).toShort
    case IntegerType => (a, b) => a.asInstanceOf[Int] + b.asInstanceOf[Int]
    case LongType => (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long]
    case FloatType => (a, b) => a.asInstanceOf[Float] + b.asInstanceOf[Float]
    case DoubleType => (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case _: DecimalType => (a, b) =>
      a.asInstanceOf[org.apache.spark.sql.types.Decimal] +
        b.asInstanceOf[org.apache.spark.sql.types.Decimal]
    case other => throw new IllegalArgumentException(s"sum unsupported for type $other")
  }

  private def xor(dt: DataType): (Any, Any) => Any = dt match {
    case ByteType => (a, b) => (a.asInstanceOf[Byte] ^ b.asInstanceOf[Byte]).toByte
    case ShortType => (a, b) => (a.asInstanceOf[Short] ^ b.asInstanceOf[Short]).toShort
    case IntegerType => (a, b) => a.asInstanceOf[Int] ^ b.asInstanceOf[Int]
    case LongType => (a, b) => a.asInstanceOf[Long] ^ b.asInstanceOf[Long]
    case other => throw new IllegalArgumentException(s"bit_xor unsupported for type $other")
  }

  /** product keeps the declared integral/floating type (overflow
    * behavior is undefined, as in Paimon's field agg). Decimal products
    * change precision/scale mid-fold and are rejected. */
  private def mult(dt: DataType): (Any, Any) => Any = dt match {
    case ByteType => (a, b) => (a.asInstanceOf[Byte] * b.asInstanceOf[Byte]).toByte
    case ShortType => (a, b) => (a.asInstanceOf[Short] * b.asInstanceOf[Short]).toShort
    case IntegerType => (a, b) => a.asInstanceOf[Int] * b.asInstanceOf[Int]
    case LongType => (a, b) => a.asInstanceOf[Long] * b.asInstanceOf[Long]
    case FloatType => (a, b) => a.asInstanceOf[Float] * b.asInstanceOf[Float]
    case DoubleType => (a, b) => a.asInstanceOf[Double] * b.asInstanceOf[Double]
    case other => throw new IllegalArgumentException(s"product unsupported for type $other")
  }
}
