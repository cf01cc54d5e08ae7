package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.collection.mutable

/** Metadata of one data file, recorded in the snapshot manifest. */
final case class FileMeta(
    path: String, // relative to table root
    partition: Map[String, String],
    sizeBytes: Long,
    bucket: Int,
    stats: Map[String, ColStats] = Map.empty,
    rowCount: java.lang.Long = null, // boxed: manifests written before counts existed read as null, not 0
    // true = rows are sorted by (primary key asc, version order desc) — a
    // sorted run the MOR reader can stream through a k-way merge instead
    // of buffering a hash map of the bucket's keys. Boxed for the same
    // legacy-manifest reason as rowCount (missing field reads as null).
    sorted: java.lang.Boolean = null,
    // deletion-vector sidecar (S37): root-relative path of the ascending
    // position list masking this file's deleted rows, plus its exact
    // cardinality (kept in the manifest so COUNT pushdown and CBO stats
    // stay manifest-only). Null = no deletions. Boxed/nullable for the
    // same legacy-manifest reason as rowCount.
    dvPath: String = null,
    dvCount: java.lang.Long = null,
    // S60: true = this file is the output of a history FOLD (compact /
    // targeted compactBuckets / rescale) — its rows are the final merged
    // state of its (partition, bucket) group at fold time, readable
    // without the MOR merge (Paimon's max-level contract; the `$ro`
    // read-optimized table serves exactly the live compacted files).
    // Boxed/nullable for the same legacy-manifest reason as rowCount.
    compacted: java.lang.Boolean = null,
    // S64 row tracking: stable row id of this file's FIRST row (row i
    // holds id firstRowId + i — Paimon's firstRowId contract), and the
    // snapshot id whose commit wrote these rows (the row's
    // _sequence_number). Assigned once at commit; preserved verbatim
    // when a file is re-added (rollback). Null = tracking off.
    firstRowId: java.lang.Long = null,
    rowSeq: java.lang.Long = null) {
  /** null-safe (snapshots written before stats existed). */
  def statsOrEmpty: Map[String, ColStats] = Option(stats).getOrElse(Map.empty)
  def rowCountOpt: Option[Long] = Option(rowCount).map(_.longValue)
  def isSorted: Boolean = sorted != null && sorted.booleanValue
  def isCompacted: Boolean = compacted != null && compacted.booleanValue
  def hasDv: Boolean = dvPath != null
  def dvCountOrZero: Long = if (dvCount == null) 0L else dvCount.longValue
  /** Storage paths this manifest entry keeps live (data file + sidecar) —
    * the unit expiry/orphan GC must retain. */
  def refPaths: Seq[String] = if (hasDv) Seq(path, dvPath) else Seq(path)
}

/** One ADD/DELETE action on a data file, the unit of a delta manifest
  * (the Spark-first analogue of Paimon's ManifestEntry FileKind). */
final case class ManifestEntry(kind: String, file: FileMeta)

object ManifestEntry {
  val Add = "ADD"
  val Delete = "DELETE"
}

/** One committed snapshot. The live file set is NOT inlined: the snapshot
  * carries an ordered chain of manifest file names (each a list of
  * ADD/DELETE [[ManifestEntry]]s under `manifest/`), and a commit appends
  * ONE delta manifest holding only its own added/deleted files — commit
  * metadata is O(delta), not O(table), which is what keeps a 100 TB table
  * with millions of live files committable (Paimon/Iceberg's
  * manifest-list design; the reference reads the same structure through
  * Paimon's FileStoreScan). The chain folds into a single base manifest
  * once it exceeds `manifest.merge-min-count` (amortized O(1) commits). */
final case class SnapshotMeta(
    id: Long,
    commitUser: String,
    commitIdentifier: Long,
    commitKind: String, // APPEND | OVERWRITE | COMPACT
    schemaId: Long,
    timestampMs: Long,
    manifests: Seq[String] = null, // ordered manifest chain under manifest/
    // S48 dynamic bucket mode: ordered chain of key-hash→bucket
    // assignment delta directories under index/ (first assignment wins;
    // inherited commit-over-commit like `manifests`, folded when long).
    // Null = table has never written dynamic assignments.
    bucketIndexes: Seq[String] = null,
    // S52 changelog-producer=full-compaction: root-relative directory of
    // THIS commit's changelog rows (rowkind + data columns), written by
    // the compaction that diffed the merged state before/after. Unlike
    // bucketIndexes this is NOT an inherited chain — each changelog
    // belongs to exactly one snapshot. Null = commit produced none.
    changelogDir: String = null,
    // Inherited pointer to the most recent changelog-BEARING snapshot
    // (this one if changelogDir is set): the next compaction's diff base
    // resolves in ONE snapshot read instead of a linear history walk,
    // and expiry pins it so the base state stays readable (an expired
    // base would force a degraded all-+I diff that re-emits unchanged
    // keys to consumers). Null = no changelog ever produced.
    lastChangelog: java.lang.Long = null,
    // S59 event-time watermark (Paimon Snapshot.watermark): epoch ms up
    // to which the writer asserts all event-time data has arrived.
    // Monotonic: a commit that supplies none inherits the base
    // snapshot's, so maintenance commits (compaction, expiry) never
    // regress the table's watermark. Null = no writer ever stamped one.
    watermark: java.lang.Long = null,
    // S64 row tracking (Paimon row-tracking.enabled / Snapshot's
    // nextRowId): first row id NOT yet assigned — commits with
    // row tracking on allocate [nextRowId, nextRowId + rows) to their
    // added files and advance it. Inherited monotonically; ids are never
    // reused (a rollback's re-adds keep their original ranges). Null =
    // tracking never enabled on this history.
    nextRowId: java.lang.Long = null,
    // Paths within an OVERWRITE-kind snapshot that are logically NEW
    // data (MERGE WHEN NOT MATCHED inserts from the delta row-level
    // path): incremental/streaming readers skip OVERWRITE rewrites —
    // correct for update/delete retractions — but rows INSERTED by the
    // same MERGE are genuinely new and must flow exactly as an append
    // would. Null = no append-visible component (every pre-existing
    // snapshot). */
    appendPaths: Seq[String] = null)

final case class SchemaMeta(
    id: Long,
    fieldsJson: String, // Spark StructType.json of DATA columns (incl. partition cols)
    partitionKeys: Seq[String],
    primaryKeys: Seq[String],
    options: Map[String, String])

/** A named pin of a snapshot (Paimon tag): `tag/tag-<name>.json`. */
final case class TagMeta(name: String, snapshotId: Long, createTimeMs: Long)

/** One registered stream consumer: `nextSnapshot` is the first snapshot
  * it has NOT yet consumed — expiry must keep `nextSnapshot` and later
  * readable (Paimon's consumer-id contract). */
final case class ConsumerMeta(consumerId: String, nextSnapshot: Long, updateTimeMs: Long)

/** Spark-native lakehouse table: snapshot-versioned parquet with
  * manifest-level partition pruning, primary-key merge-on-read, time
  * travel, and system tables.
  *
  * Re-expresses the table-format half of apache/paimon-presto (ref:
  * paimon-presto-common/src/main/java/org/apache/paimon/presto/
  * PrestoTableHandle.java, PrestoSplitManager.java,
  * PrestoSessionProperties.java:39 `scan_version`) Spark-first: the scan
  * is a plain vectorized parquet read of the pruned live-file list, so
  * Catalyst keeps predicate pushdown / column pruning / whole-stage
  * codegen; merge-on-read happens inside the scan's per-bucket reader
  * (GraftMorReaderFactory) instead of behind a connector page source like
  * the reference's PrestoPageSourceBase.
  *
  * Layout under `root`:
  *   schema/schema-<id>.json   table schema + keys + options
  *   snapshot/snap-<id>.json   manifest chain of version <id>
  *   manifest/<name>           ADD/DELETE file entries of one commit
  *   data/<k=v dirs>/<snap>-<bucket>-<uuid>.parquet
  *
  * PK tables carry hidden columns `__seq` (commit sequence = snapshot id)
  * and `__kind` ("I" insert / "D" delete). Merge order: the
  * `sequence.field` option (comma-separated columns, Paimon-style) wins,
  * then `__seq` (commit order).
  */
class GraftTable private (
    val spark: SparkSession,
    val root: String,
    private var schemaMeta: SchemaMeta,
    /** Which ref's snapshot log this view reads and commits to: None =
      * main. Branch views share the root (schema, manifests, data files
      * — all immutable/content-addressed) and differ ONLY in where the
      * snapshot log lives, so every read/write/commit path is
      * branch-local for free via [[snapDirRel]]. */
    val branchName: Option[String],
    /** The handle's one Hadoop configuration (a copy of every Hadoop
      * property, so built once by `create`/`load`) and the FileSystem of
      * `root` made from it; branch views share both. */
    hadoopConf: Configuration,
    private val fs: FileSystem) {

  import GraftTable._

  /** Snapshot-log directory of this view's ref, relative to root. */
  private def snapDirRel: String =
    branchName.map(b => s"branch/$b/snapshot").getOrElse("snapshot")

  /** Declared type lattice — may contain CHAR(n)/VARCHAR(n), which Spark
    * forbids in runtime DataFrame schemas (ref: the char/varchar/time
    * lattice of PrestoTypeUtils.java:39-100). */
  def lattice: StructType =
    DataType.fromJson(schemaMeta.fieldsJson).asInstanceOf[StructType]

  /** Runtime schema: the lattice with char/varchar normalized to string.
    * CHAR semantics (pad/truncate to n) are applied at write time, so
    * runtime values of a char(n) column are always exactly n chars. */
  def schema: StructType = normalizeRuntime(lattice).asInstanceOf[StructType]

  // TIME columns need the (4.1) TimeType feature flag for every read and
  // write of this session; flip it as soon as such a table is touched
  if (lattice.exists(f => hasTimeType(f.dataType)))
    spark.conf.set("spark.sql.timeType.enabled", "true")

  // Field-id column resolution (rename/drop schema evolution): the
  // lattice stamps a stable `parquet.field.id` on every column, the
  // write path embeds it in the parquet footers, and these session flags
  // make BOTH read paths (the library spark.read and the V2
  // ParquetPartitionReaderFactory) resolve columns by id instead of
  // name — so a renamed column keeps reading files written under its
  // old name, and a dropped-then-re-added name never resurrects old
  // data (fresh id ≠ old id). ignoreMissing turns a missing id into
  // NULL (files older than an ADD COLUMN) and falls back to name
  // matching for id-less legacy files. Safe globally: the flags only
  // engage when the REQUESTED schema carries ids, which only graft
  // lattices do. (ref: the field-id based schema of Paimon that
  // PrestoSqlMetadataBase.java:307/:328 rename/dropColumn rely on.)
  if (lattice.fields.exists(f => GraftTable.fieldId(f).isDefined)) {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
  }
  def partitionKeys: Seq[String] = schemaMeta.partitionKeys
  def primaryKeys: Seq[String] = schemaMeta.primaryKeys
  def options: Map[String, String] = schemaMeta.options
  private[sources] def numBuckets: Int = options.getOrElse("bucket", "1").toInt
  private[sources] def bucketKeys: Seq[String] = {
    val bk = options.getOrElse("bucket-key", primaryKeys.mkString(","))
    if (bk.isEmpty) Seq.empty else bk.split(",").map(_.trim).toSeq
  }
  private[sources] def sequenceFields: Seq[String] =
    options.get("sequence.field").map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
  /** S48 dynamic bucket mode (Paimon's `bucket = -1`): primary keys are
    * assigned to buckets through a persisted key-hash→bucket index
    * instead of a fixed `hash(key) % N` — the bucket count GROWS with
    * the data (each bucket holds ≤ `dynamic-bucket.target-row-num`
    * keys), so a table sized at creation for 1 TB never needs an
    * offline rescale to survive 100 TB. A key's assignment is immutable
    * (first assignment wins), which preserves the MOR invariant that
    * all versions of a key share one (partition, bucket). */
  private[sources] def isDynamicBucket: Boolean = numBuckets == -1

  /** S61: dynamic-bucket table whose partition keys are NOT all inside
    * the primary key — the key→bucket index is then GLOBAL (keyed by the
    * key hash alone, latest entry wins) and an upsert whose partition
    * value changed MOVES the key: tombstone into the old partition's
    * group, row + index update into the new (Paimon's cross-partition
    * update mode). */
  private[sources] def isCrossPartitionUpsert: Boolean =
    isDynamicBucket && partitionKeys.nonEmpty &&
      !partitionKeys.forall(primaryKeys.contains)
  private[sources] def dynamicTargetRows: Long =
    options.getOrElse("dynamic-bucket.target-row-num", "2000000").toLong
  private[sources] def isPkTable: Boolean = primaryKeys.nonEmpty
  /** Data-file format (Paimon's file.format option): parquet (default),
    * orc, or avro (S54). Parquet/orc ride Spark's vectorized columnar
    * readers; avro is row-based via [[GraftAvroFileFormat]] with
    * stats-absent manifests (row counts only — pruning declines). */
  private[sources] def fileFormat: String = {
    val f = options.getOrElse("file.format", "parquet")
    require(f == "parquet" || f == "orc" || f == "avro",
      s"unsupported file.format: $f")
    f
  }
  /** Paimon's `changelog-producer` lattice (CoreOptions):
    * `none` (default) — upserts write +I, CDC consumers cannot tell
    * update from insert; `input` (S51) — the caller's stream IS the
    * changelog, rows arrive with their own rowkinds via [[writeCdc]],
    * zero classification cost; `lookup` — classify each batch against
    * current state, emitting true -U/+U pairs per write;
    * `full-compaction` (S52) — changelog materializes only at
    * [[compact]] time by diffing the merged state before/after, the
    * zero-write-cost / compaction-latency trade. */
  /** S64 row tracking (Paimon's row-tracking.enabled): APPEND tables
    * only (a PK table's MOR fold re-homes row versions — ids would not
    * be stable), parquet only (the lineage read derives ids from the
    * scan's `_pos`, a metadata column declared for parquet). */
  private[sources] def rowTracking: Boolean = {
    val on = options.get("row-tracking.enabled").exists(_.toBoolean)
    if (on) {
      require(!isPkTable, "row-tracking.enabled requires an append (non-PK) table")
      require(fileFormat == "parquet", "row tracking requires file.format=parquet")
      // a data column named like a lineage metadata column would SHADOW
      // it (Spark suppresses the metadata column on a name conflict,
      // CASE-INSENSITIVELY under the default resolver) — lineage reads
      // would silently serve user data and the delta row-level plan
      // would bind its row identity to it. create() rejects such
      // schemas up front; this validate-on-read is the backstop for
      // tables written by older vintages.
      val clash = schema.fieldNames.filter(GraftTable.isReservedLineage)
      require(clash.isEmpty,
        s"row-tracking tables reserve column name(s) ${clash.mkString(", ")} " +
          "for lineage metadata")
    }
    on
  }

  private[sources] def changelogProducer: String = {
    val p = options.getOrElse("changelog-producer", "none")
    require(p == "none" || p == "input" || p == "lookup" || p == "full-compaction",
      s"unsupported changelog-producer: $p")
    p
  }
  private[sources] def lookupChangelog: Boolean = changelogProducer == "lookup"
  /** `deletion-vectors.enabled` (S37): row-predicate DELETE on an APPEND
    * table writes per-file position sidecars instead of a group rewrite.
    * PK tables already have a cheaper delete (RowKind tombstones through
    * the LSM merge), so the option targets append tables. Positions are
    * collected as the V2 scan's `_file`/`_pos` row identity, so the
    * table must be parquet (the format `_pos` is declared for) and no
    * data column may shadow those names (Spark would bind the identity
    * to user data). A table failing either reports NOT dv-enabled, so
    * SQL DELETE/UPDATE/MERGE fall back to the group rewrite instead of
    * failing in dvDelete. */
  private[sources] def dvEnabled: Boolean =
    !isPkTable && fileFormat == "parquet" &&
      options.getOrElse("deletion-vectors.enabled", "false").toBoolean &&
      !schema.fieldNames.exists(GraftTable.isReservedLineage)

  /** Paimon's `merge-engine` table option: how multiple versions of one
    * primary key resolve at read time.
    *  - `deduplicate` (default): latest version wins.
    *  - `first-row`: earliest version wins.
    *  - `partial-update`: per column, the latest NON-NULL value wins —
    *    nulls never overwrite data.
    *  - `aggregation`: per column, fold all versions with the function
    *    declared via `fields.<col>.aggregate-function` (sum, min, max,
    *    bool_and, bool_or, listagg, first_value, first_non_null_value,
    *    last_value, product, collect; unspecified columns default to
    *    last_non_null_value).
    * For partial-update/aggregation a `-D` delete RESETS the key: only
    * versions after the latest delete participate in the fold (the
    * remove-record-on-delete behavior).
    * (ref: Paimon CoreOptions MERGE_ENGINE, read by the connector's
    * table metadata; PrestoMetadata surfaces it as a table property.) */
  private[sources] def mergeEngine: String = {
    val e = options.getOrElse("merge-engine", "deduplicate")
    require(MergeEngines.contains(e), s"unsupported merge-engine: $e")
    e
  }
  private val MergeEngines =
    Set("deduplicate", "first-row", "partial-update", "aggregation")

  /** `fields.<col>.aggregate-function` options for merge-engine=aggregation. */
  private[sources] def fieldAggregates: Map[String, String] =
    options.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".aggregate-function") =>
        k.stripPrefix("fields.").stripSuffix(".aggregate-function") -> v
    }

  /** S49: `fields.<seqCol>.sequence-group = colA,colB` options for
    * merge-engine=partial-update (Paimon's sequence groups): each
    * group's columns are versioned by their OWN sequence column — a
    * partial row carrying an OLDER group sequence cannot clobber a
    * newer value of that group, no matter how late it commits (the
    * multi-source partial-update problem: feed A updates the price
    * columns with price_ts, feed B the status columns with status_ts,
    * and the feeds interleave arbitrarily). Ungrouped columns keep the
    * global (sequence.field, commit) order. The group's sequence column
    * belongs to its own group. Within a group, a null group-sequence
    * row sorts OLDEST (it asserts nothing about the group), and the
    * non-null-wins partial-update rule still applies per column. */
  private[sources] def sequenceGroups: Map[String, Seq[String]] =
    options.collect {
      case (k, v) if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
        val g = k.stripPrefix("fields.").stripSuffix(".sequence-group")
        g -> (v.split(",").map(_.trim).toSeq :+ g).distinct
    }

  /** column → its group's sequence column (validated disjoint). */
  private[sources] def columnSequenceGroup: Map[String, String] = {
    val groups = sequenceGroups
    if (groups.isEmpty) return Map.empty
    require(mergeEngine == "partial-update",
      "fields.<col>.sequence-group requires merge-engine=partial-update")
    val inverted = for ((g, cols) <- groups.toSeq; c <- cols) yield c -> g
    val dup = inverted.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1).keys
    require(dup.isEmpty, s"columns in multiple sequence-groups: ${dup.mkString(",")}")
    val missing = (groups.keys ++ inverted.map(_._1)).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"sequence-group references unknown columns: ${missing.mkString(",")}")
    require(!groups.keys.exists(primaryKeys.contains),
      "a primary-key column cannot be a sequence-group column")
    require(!groups.keys.exists(partitionKeys.contains),
      "a partition column cannot be a sequence-group column")
    // a global sequence.field is merge METADATA (tracked-latest in the
    // fold) — letting it double as a group sequence would compare the
    // accept decision against the last row seen instead of the max
    // accepted value
    require(!groups.keys.exists(sequenceFields.contains),
      "a sequence.field column cannot also be a sequence-group column")
    inverted.toMap
  }

  /** On-disk columns of data files (data cols minus partition cols, plus
    * hidden cols for PK tables) — what a parquet reader sees before
    * partition values are appended. */
  private[sources] def fileDataSchema: StructType = {
    val dataCols0 = schema.fields.filterNot(f => partitionKeys.contains(f.name))
    // PK tables store NON-key columns as OPTIONAL on disk even when the
    // table declares them NOT NULL: a Delete tombstone legitimately
    // carries NULL placeholders there (delete()'s contract ignores
    // non-key values), and a parquet REQUIRED column holding a null is
    // an unreadable file. Logical NOT NULL stays enforced for live rows
    // by the task writer (S70) — required-ness is a table constraint,
    // not a file-layout one (the Iceberg/Paimon convention).
    val dataCols =
      if (isPkTable)
        dataCols0.map(f => if (primaryKeys.contains(f.name)) f else f.copy(nullable = true))
      else dataCols0
    val hidden =
      if (isPkTable) Seq(StructField(SeqCol, LongType), StructField(KindCol, StringType))
      else Seq.empty
    StructType(dataCols ++ hidden)
  }

  /** Full on-disk schema incl. directory-borne partition columns. */
  private def fileSchema: StructType =
    StructType(fileDataSchema.fields ++ schema.fields.filter(f => partitionKeys.contains(f.name)))

  // ---- snapshot log ---------------------------------------------------

  def snapshots: Seq[SnapshotMeta] = {
    val dir = new Path(root, snapDirRel)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case SnapRe(id) => id.toLong }
      .sorted
      .map(readSnapshot)
  }

  def latestSnapshotId: Option[Long] = {
    val dir = new Path(root, snapDirRel)
    if (!fs.exists(dir)) return None
    val ids = fs.listStatus(dir).toSeq.map(_.getPath.getName).collect { case SnapRe(id) => id.toLong }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Snapshot JSONs are immutable once published (rename-in of complete
    * content), so each table instance parses a given id at most once —
    * split planning re-walks the manifest several times per query
    * (planned + total file counts, pruning passes) and must not pay a
    * filesystem read each time. */
  private val snapCache = scala.collection.concurrent.TrieMap[Long, SnapshotMeta]()
  private def readSnapshot(id: Long): SnapshotMeta =
    snapCache.getOrElseUpdate(id, {
      val parsed = mapper.readValue(
        readString(fs, new Path(root, s"$snapDirRel/snap-$id.json")), classOf[SnapshotMeta])
      // never CACHE a body that does not match its filename id: a legal
      // publish (tmp write + rename) is all-or-nothing, so a mismatch is
      // a corrupt/foreign file — caching it would poison every later
      // consumer of this id (a real snapshot may still legally land at
      // this id after the bad file is removed)
      require(parsed.id == id,
        s"corrupt snapshot file snap-$id.json at $root (body id ${parsed.id})")
      parsed
    })

  /** Schema version a snapshot was committed under — the SPJ layout
    * guard (S42): bucket-layout claims are honest only for snapshots
    * whose files were written under the CURRENT bucket option. */
  private[sources] def snapshotSchemaId(id: Long): Long = readSnapshot(id).schemaId

  /** Current schema version id (see [[snapshotSchemaId]]). */
  private[sources] def currentSchemaId: Long = schemaMeta.id

  /** The bucket layout a schema version declares: (count, keys). Column
    * evolution bumps the schema id without touching the layout, so the
    * SPJ guard compares LAYOUTS, not ids — an ADD COLUMN must not cost
    * a table its zero-Exchange joins. Schema files are immutable and
    * never GC'd, so the lookup is cacheable forever. */
  private val schemaAtCache = scala.collection.concurrent.TrieMap[Long, SchemaMeta]()
  private[sources] def bucketLayoutAt(schemaId: Long): (String, String) = {
    val m =
      if (schemaId == schemaMeta.id) schemaMeta
      else schemaAtCache.getOrElseUpdate(schemaId,
        mapper.readValue(
          readString(fs, new Path(root, s"schema/schema-$schemaId.json")),
          classOf[SchemaMeta]))
    (m.options.getOrElse("bucket", "1"),
      m.options.getOrElse("bucket-key", m.primaryKeys.mkString(",")))
  }

  // ---- manifest chain -------------------------------------------------

  /** Manifests are immutable once written (content-addressed names), so
    * both the parse and the per-snapshot resolved file set memoize. */
  private val manifestCache = scala.collection.concurrent.TrieMap[String, Seq[ManifestEntry]]()
  private val filesCache = scala.collection.concurrent.TrieMap[Long, Seq[FileMeta]]()

  private def readManifest(name: String): Seq[ManifestEntry] =
    manifestCache.getOrElseUpdate(name,
      mapper.readValue(readString(fs, new Path(root, s"manifest/$name")),
        classOf[Array[ManifestEntry]]).toSeq)

  private def writeManifest(entries: Seq[ManifestEntry]): String = {
    val name = s"mf-${UUID.randomUUID().toString.take(16)}.json"
    fs.mkdirs(new Path(root, "manifest"))
    writeString(fs, new Path(root, s"manifest/$name"), mapper.writeValueAsString(entries.toArray))
    manifestCache.put(name, entries)
    name
  }

  /** Fold a manifest chain into the live file set: ADD inserts by path,
    * DELETE removes; later manifests win. */
  private def resolveChain(chain: Seq[String]): Seq[FileMeta] = {
    val live = mutable.LinkedHashMap[String, FileMeta]()
    for (m <- chain; e <- readManifest(m)) e.kind match {
      case ManifestEntry.Add => live(e.file.path) = e.file
      case ManifestEntry.Delete => live.remove(e.file.path)
      case other => throw new IllegalStateException(s"unknown manifest entry kind: $other")
    }
    live.values.toSeq
  }

  /** Live file set of a snapshot (manifest chain or legacy inline list). */
  /** Data-file paths ANY retained snapshot of this ref references, for
    * write ABORT paths: Spark calls BatchWrite.abort when commit()
    * throws, and that includes a post-publish VirtualMachineError from a
    * maintenance hook — the snapshot is durable then and owns the
    * "aborted" files. The union must span the WHOLE retained log, not
    * just the latest snapshot: a concurrent rebase commit (compact) can
    * land after our publish and drop our files from the latest live set
    * while our snapshot — time-travel/rollback-visible until expiry —
    * still references them. Abort is rare, so the O(snapshots) walk is
    * fine. None = reference state unreadable; callers must then skip
    * deletion entirely (a leaked file is orphan-GC work, a deleted
    * referenced file is corruption). */
  private[graft] def publishedDataPaths: Option[Set[String]] =
    // refPaths, not path: a dv SIDECAR adopted as a snapshot-referenced
    // final (commitDelta's direct fast path) is published state exactly
    // like a data file — abort paths must not reclaim it either
    try Some(snapshots.flatMap(s => filesOf(s).flatMap(_.refPaths)).toSet)
    catch { case scala.util.control.NonFatal(_) => None }

  private[sources] def filesOf(snap: SnapshotMeta): Seq[FileMeta] =
    filesCache.getOrElseUpdate(snap.id, resolveChain(manifestsOf(snap)))

  private def manifestsOf(snap: SnapshotMeta): Seq[String] =
    Option(snap.manifests).getOrElse(Seq.empty)

  /** Fold the chain into one base manifest once it grows past this many
    * entries (Paimon's manifest.merge-min-count): commits stay O(delta)
    * amortized while the chain a reader must fold stays bounded. */
  private def manifestMergeMinCount: Int =
    options.getOrElse("manifest.merge-min-count", "30").toInt

  private def commit(kind: String, added: Seq[FileMeta]): Long =
    commitAt(latestSnapshotId.getOrElse(0L) + 1, kind, added)

  /** Commit targeting an explicit snapshot id — fails if another writer
    * claimed it (optimistic concurrency; the id is the version check).
    * The commit writes ONE delta manifest (its own `added`/`deleted`
    * files) and chains it onto the base snapshot's manifests; `rebase`
    * starts a fresh chain (full rewrite, e.g. compaction).
    * `commitUser`/`commitIdentifier` tag the snapshot's producer — the
    * streaming sink stores (query id, batch id) there and skips batches
    * it already committed (Paimon's commitIdentifier replay guard). */
  private[graft] def commitAt(
      id: Long, kind: String, added: Seq[FileMeta],
      deleted: Seq[FileMeta] = Seq.empty, rebase: Boolean = false,
      commitUser: String = "graft", commitIdentifier: Option[Long] = None,
      indexDirs: Seq[String] = Seq.empty,
      changelogDir: Option[String] = None,
      watermark: Option[Long] = None,
      appendPaths: Seq[String] = Seq.empty): Long = {
    // S59/S63: validate the tag.automatic-creation and
    // partition.expiration option families BEFORE the claim — a
    // misconfigured table fails the commit loudly here instead of after
    // the snapshot has published (when a thrown error would make a
    // durable write look failed and invite a duplicating retry).
    val autoTag = if (branchName.isEmpty) autoTagConf() else None
    val partExpire =
      if (branchName.isEmpty && kind != "OVERWRITE") partitionExpireConf() else None
    // S42 mid-rescale fence: if the bucket layout the CURRENT schema
    // declares differs from the layout the latest snapshot was committed
    // under, a rescale published its schema but its rewrite never landed
    // (crash / lost race). An incremental commit here would stamp the
    // new schemaId onto a file set still holding OLD-hash files — the
    // SPJ layout guard would then certify a mixed-hash layout and a
    // storage-partitioned join would silently mis-align. Only a FULL
    // rebase (rescaleBucket retry, whole-table compact) repairs the
    // state; everything else must fail loudly.
    if (!rebase) latestSnapshotId.foreach { latest =>
      // an unreadable/corrupt latest snapshot is NOT a rescale state —
      // skip the fence and let the claim/rename machinery below surface
      // the real conflict (S16's planted-file scenario)
      val layouts =
        try Some((bucketLayoutAt(snapshotSchemaId(latest)), bucketLayoutAt(schemaMeta.id)))
        catch {
          case _: IllegalArgumentException | _: java.io.IOException => None
        }
      layouts.foreach { case (stamped, current) =>
        if (stamped != current)
          throw new IllegalStateException(
            s"table at $root is mid-rescale (snapshot $latest layout $stamped, " +
              s"schema layout $current): finish it with rescaleBucket(${current._1}) " +
              "before writing")
      }
    }
    // Two-phase publish. (1) CLAIM the id with an exclusive create
    // (overwrite=false) of a side-car claim file — atomic on HDFS and
    // local FS, no exists-precheck TOCTOU; an object store would need a
    // conditional put / catalog lock. (2) Write the delta manifest(s),
    // then the COMPLETE snapshot JSON to a tmp path, renamed into place.
    // Readers list only snap-N.json names, so they never observe a
    // partial/empty snapshot (create-then-write on the final path would
    // expose one during every commit window and permanently on a writer
    // crash). A claim whose writer died before publishing is taken over
    // after ClaimTtlMs. Claiming BEFORE the manifest writes means a
    // losing committer leaves no orphan manifests behind.
    // S48: the bucket-index chain inherits UNCONDITIONALLY (a rebase
    // rewrites data files, never assignments — a key's bucket is
    // immutable), appends this commit's delta dirs, and folds like the
    // manifest chain. Only the INHERITED prefix folds: this commit's own
    // deltas stay explicit entries, so every delta dir is referenced by
    // the snapshot that introduced it (otherwise a same-commit fold
    // would orphan them from expiry's reachability sweep). The fold runs
    // a full Spark job (read + rewrite of the resolved index), so it
    // happens HERE — before the claim — not inside the critical section,
    // where it would lengthen the window in which concurrent writers
    // lose the snapshot race and must restage (ADVICE r10). If WE lose
    // the race after folding, the folded dir is unreferenced and the
    // orphan sweep reclaims it.
    // The base snapshot (id - 1) is consulted by several fields below
    // (index chain, watermark, manifest chain, row-id counter, changelog
    // pointer) — read and parse its JSON ONCE. Strict consumers rethrow
    // the original failure via Try.get; lenient ones see None, exactly
    // the per-site behavior before this was deduplicated.
    val baseSnapTry: Option[scala.util.Try[SnapshotMeta]] =
      if (id <= 1) None else Some(scala.util.Try(readSnapshot(id - 1)))
    def baseStrict: SnapshotMeta = baseSnapTry.get.get
    def baseLenient: Option[SnapshotMeta] = baseSnapTry.flatMap(_.toOption)
    val baseIdx: Seq[String] =
      if (id <= 1) Seq.empty else bucketIndexChainOf(baseStrict)
    val idxChain: Seq[String] =
      if (baseIdx.nonEmpty && baseIdx.length + indexDirs.length >= manifestMergeMinCount)
        foldIndexChain(baseIdx) ++ indexDirs
      else baseIdx ++ indexDirs

    val dst = new Path(root, s"$snapDirRel/snap-$id.json")
    val claim = new Path(root, s"$snapDirRel/.claim-$id")
    // RawLocalFileSystem.create(overwrite=false) is exists-check-then-
    // create — NOT atomic: two local writers can both believe they hold
    // the claim (found by ConcurrencySpec's fuzz). Route local claims
    // through NIO createFile (O_CREAT|O_EXCL — kernel-atomic); other
    // schemes keep the FS-contract create (atomic on HDFS; an object
    // store needs a conditional put / catalog lock, as documented above).
    def tryClaim(): Boolean =
      if ("file" == fs.getUri.getScheme)
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(
            fs.makeQualified(claim).toUri.getPath))
          true
        } catch { case _: java.io.IOException => false }
      else
        try { fs.create(claim, /*overwrite=*/ false).close(); true }
        catch { case _: java.io.IOException => false }
    if (!tryClaim()) {
      val stale =
        try !fs.exists(dst) &&
          System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime > ClaimTtlMs
        catch { case _: java.io.IOException => false }
      if (!stale)
        throw new IllegalStateException(s"conflicting commit for snapshot $id at $root")
      // dead claimant: break the claim and retake it exclusively
      fs.delete(claim, false)
      if (!tryClaim())
        throw new IllegalStateException(s"conflicting commit for snapshot $id at $root")
    }

    // S59: watermark is monotonic across commits — fold the provided
    // value with the base snapshot's so watermark-less maintenance
    // commits carry it forward instead of silently resetting it.
    // Declared BEFORE the claim try: the post-publish hooks below need it.
    val baseWatermark: Option[Long] =
      baseLenient.flatMap(s => Option(s.watermark)).map(_.longValue)
    val effWatermark: Option[Long] = (watermark, baseWatermark) match {
      case (Some(w), Some(b)) => Some(math.max(w, b))
      case (a, b) => a.orElse(b)
    }

    // From here on WE hold the claim exclusively. If anything below
    // fails before the rename publishes the snapshot, release the claim
    // — otherwise a retry of this id (the base is unchanged) would be
    // blocked behind our dead claim until ClaimTtlMs.
    try {
      val baseChain: Seq[String] =
        if (rebase || id <= 1) Seq.empty
        else manifestsOf(baseStrict)
      // S64 row-id assignment: allocate [nextRowId, nextRowId + rows) to
      // this commit's fresh files (re-adds — rollback — keep their
      // original ranges; ids are never reused) and stamp the committing
      // snapshot as their rows' sequence number. Non-tracking commits
      // still inherit the counter so toggling the option never reuses
      // an id range.
      // On a TRACKING table a failed base read must fail the commit: a
      // swallowed failure would restart the counter at 0 and re-issue
      // row ids already held by published rows — breaking the never-
      // reuse invariant the whole feature rests on. (id-1 is the live
      // predecessor, never expired, so a read failure is a real fault.)
      // Non-tracking tables keep the lenient read: the counter is only
      // carried as a courtesy for a later migration.
      val baseNextRowId: Option[Long] =
        if (id <= 1) None
        else if (rowTracking) {
          // every commit of a tracking table stamps the counter (the
          // option is creation-time immutable), so a null here is
          // corruption, not a legacy vintage
          val n = baseStrict.nextRowId
          require(n != null,
            s"row-tracking table missing nextRowId on snapshot ${id - 1} at $root")
          Some(n.longValue)
        }
        else baseLenient.flatMap(s => Option(s.nextRowId)).map(_.longValue)
      val (added2, nextRowIdOut): (Seq[FileMeta], java.lang.Long) =
        if (!rowTracking) (added, baseNextRowId.map(Long.box).orNull)
        else {
          var cur = baseNextRowId.getOrElse(0L)
          val out = added.map { f =>
            // compacted files carry MATERIALIZED __row_id/__row_seq
            // columns — no positional assignment (and no fresh ids)
            if (f.firstRowId != null || f.isCompacted) f
            else {
              val n = f.rowCountOpt.getOrElse(throw new IllegalStateException(
                s"row tracking requires per-file row counts (missing on ${f.path})"))
              val a = f.copy(firstRowId = Long.box(cur), rowSeq = Long.box(id))
              cur += n
              a
            }
          }
          (out, Long.box(cur))
        }
      val delta: Seq[ManifestEntry] =
        deleted.map(ManifestEntry(ManifestEntry.Delete, _)) ++
          added2.map(ManifestEntry(ManifestEntry.Add, _))
      var chain = if (delta.isEmpty) baseChain else baseChain :+ writeManifest(delta)
      if (chain.length >= manifestMergeMinCount)
        chain = Seq(writeManifest(resolveChain(chain).map(ManifestEntry(ManifestEntry.Add, _))))

      val snap = SnapshotMeta(
        id = id,
        commitUser = commitUser,
        commitIdentifier = commitIdentifier.getOrElse(id),
        commitKind = kind,
        schemaId = schemaMeta.id,
        timestampMs = System.currentTimeMillis(),
        manifests = chain,
        bucketIndexes = if (idxChain.isEmpty) null else idxChain,
        changelogDir = changelogDir.orNull,
        lastChangelog =
          if (changelogDir.isDefined) Long.box(id)
          else baseLenient.map(_.lastChangelog).orNull,
        watermark = effWatermark.map(Long.box).orNull,
        nextRowId = nextRowIdOut,
        appendPaths = if (appendPaths.isEmpty) null else appendPaths)
      val tmp = new Path(root, s"$snapDirRel/.tmp-$id-${UUID.randomUUID().toString.take(8)}")
      writeString(fs, tmp, mapper.writeValueAsString(snap))
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        // The rename is the REAL publish arbiter (defense in depth for
        // filesystems whose exclusive create is not atomic): if dst
        // already exists, another writer published this id — surface the
        // standard retryable conflict. Releasing the claim below stays
        // correct: with snap-id present, the stale-claim check can never
        // hand the id out (dst-exists vetoes it), and release is what
        // un-wedges the id after an operator deletes a corrupt planted
        // snapshot (S16's recovery contract).
        if (fs.exists(dst))
          throw new IllegalStateException(s"conflicting commit for snapshot $id at $root")
        throw new IllegalStateException(s"failed to publish snapshot $id at $root")
      }
      id
    } catch {
      case e: Throwable =>
        try fs.delete(claim, false) catch { case _: java.io.IOException => () }
        throw e
    }
    // S59/S63 post-publish hooks run OUTSIDE the claim try AND swallow
    // everything non-fatal-to-the-VM (including InterruptedException,
    // with the flag restored): the snapshot above is durable and
    // reader-visible, so NOTHING from here may propagate — an escaping
    // throwable would reach commitOrClean's cleanup and delete data
    // files a published snapshot references.
    postPublish { maybeAutoTag(autoTag, id, effWatermark) }
    postPublish { maybePartitionExpire(partExpire) }
    id
  }

  /** Run a post-publish side effect; never let it fail the commit. */
  private def postPublish(body: => Unit): Unit =
    try body
    catch {
      case e: InterruptedException =>
        val _ = e; Thread.currentThread().interrupt()
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        val _ = e; ()
    }

  // ---- write path -----------------------------------------------------

  /** Append rows. On a PK table this is an upsert (the batch is deduped
    * like any other PK write — duplicate keys within one batch would
    * otherwise share a `__seq` and merge nondeterministically). */
  def append(df: DataFrame, commitUser: String = "graft",
      commitIdentifier: Option[Long] = None,
      watermark: Option[Long] = None): Long =
    if (isPkTable) upsert(df, commitUser, commitIdentifier, watermark)
    else writeCommit(df, kind = "APPEND", rowKind = RowKind.Insert,
      commitUser = commitUser, commitIdentifier = commitIdentifier,
      watermark = watermark)

  /** Upsert by primary key. Within the batch the greatest
    * `sequence.field` value per key wins.
    *
    * RowKind lattice (ref: PrestoTypeUtils' RowKind handling; Paimon's
    * changelog-producer): with the default `changelog-producer=none`
    * every upserted row is written `+I` (a CDC consumer cannot tell
    * update from insert — Paimon's contract for `none`). With
    * `changelog-producer=lookup` the batch is classified against the
    * current table state: new keys write `+I`, existing keys write a
    * `-U` pre-image (the replaced row's values) and a `+U` post-image in
    * the same commit. The lookup is a key-equality join of the batch
    * against the merged table — at scale exactly the bucketed-join cost
    * Paimon's lookup changelog-producer pays. */
  def upsert(df: DataFrame, commitUser: String = "graft",
      commitIdentifier: Option[Long] = None,
      watermark: Option[Long] = None): Long = {
    require(isPkTable, "upsert requires primary keys")
    require(mergeEngine == "deduplicate" || !lookupChangelog,
      "changelog-producer=lookup requires merge-engine=deduplicate")
    // Per-partition dynamic-bucket deduplicate upserts skip the
    // pre-shuffle dedup window: stageWrite clusters rows by (partition,
    // bucket) — partition keys are contained in the primary key there, so
    // every version of a key meets in ONE task — and sorts them
    // (pk asc, version desc), so the task writer's consecutive-key dedup
    // keeps exactly the window's winner. That is the V2 batch write's
    // distributed discipline; reusing it here removes a full
    // corpus-keyed shuffle from every bulk upsert (guide §2.4).
    val writerDedup = mergeEngine == "deduplicate" && !lookupChangelog &&
      isDynamicBucket && !isCrossPartitionUpsert
    // folding engines (partial-update/aggregation/first-row) need EVERY
    // version kept — within-batch dedup would drop rows the fold reads
    val batch =
      if (mergeEngine == "deduplicate" && !writerDedup) dedupBatch(df) else df
    if (!lookupChangelog)
      return writeCommit(batch, kind = "APPEND", rowKind = RowKind.Insert,
        commitUser = commitUser, commitIdentifier = commitIdentifier,
        watermark = watermark, dedupInWriter = writerDedup)
    val cur = read()
    val keyCols = primaryKeys.map(col)
    // classify against the MERGE OUTCOME, not mere key existence: a
    // late-arriving row that loses the sequence-field ordering leaves the
    // table unchanged, so it must emit no changelog at all — an
    // unconditional -U/+U pair would hand CDC consumers a post-image
    // that is not the post-commit state.
    val curSeqs = sequenceFields.map(f => col(f).as(s"__cur_$f"))
    val joined = batch.join(
      cur.select(keyCols ++ curSeqs :+ lit(1).as("__hit"): _*), primaryKeys, "left")
    val wins =
      if (sequenceFields.isEmpty) lit(true) // commit order: newest write wins
      else struct(sequenceFields.map(col): _*) >=
        struct(sequenceFields.map(f => col(s"__cur_$f")): _*)
    val marked = joined
      .filter(col("__hit").isNull || wins)
      .withColumn(KindCol,
        when(col("__hit").isNotNull, RowKind.UpdateAfter).otherwise(RowKind.Insert))
      .drop("__hit").drop(sequenceFields.map(f => s"__cur_$f"): _*)
    val updatedKeys = marked.filter(col(KindCol) === RowKind.UpdateAfter)
      .select(keyCols: _*).distinct()
    val pre = cur.join(updatedKeys, primaryKeys, "left_semi")
      .withColumn(KindCol, lit(RowKind.UpdateBefore))
    writeCommit(marked.unionByName(pre), kind = "APPEND", rowKind = RowKind.Insert,
      commitUser = commitUser, commitIdentifier = commitIdentifier,
      watermark = watermark)
  }

  /** S51 `changelog-producer=input`: the caller's batch IS the changelog
    * (the CDC-ingest configuration — a Debezium/Flink-CDC style stream
    * already carries per-row kinds, so classifying against table state
    * would pay a lookup join for information the source has). `df` must
    * carry a `rowkind` STRING column with values in the +I/-U/+U/-D
    * lattice; rows are written verbatim — `-U` markers are changelog
    * pre-images the merge skips, `-D` tombstones reset their key, +I/+U
    * are row versions. Changelog readers (`readIncrement(changelog =
    * true)`, streaming `readChangelog`) replay exactly these kinds.
    *
    * Without a `sequence.field` the rows of one batch share a commit
    * sequence, so a key may appear at most ONCE as a row version per
    * batch (checked); with sequence fields the within-batch order is the
    * data's own and multi-version batches are fine — the standard Paimon
    * answer for out-of-order CDC. */
  def writeCdc(df: DataFrame, commitUser: String = "graft",
      commitIdentifier: Option[Long] = None,
      watermark: Option[Long] = None): Long = {
    require(isPkTable, "writeCdc requires primary keys")
    require(changelogProducer == "input",
      "writeCdc requires changelog-producer=input (the input IS the changelog)")
    require(df.columns.contains("rowkind"),
      "writeCdc input must carry a 'rowkind' column (+I/-U/+U/-D)")
    val kinds = Seq(RowKind.Insert, RowKind.UpdateBefore, RowKind.UpdateAfter, RowKind.Delete)
    val withKind = df
      .withColumn(KindCol,
        when(col("rowkind").isin(kinds.map(k => k: Any): _*), col("rowkind"))
          .otherwise(raise_error(concat(lit("writeCdc: invalid rowkind "), col("rowkind")))))
      .drop("rowkind")
    if (sequenceFields.isEmpty) {
      val dup = withKind.filter(col(KindCol) =!= RowKind.UpdateBefore)
        .groupBy(primaryKeys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0,
        "writeCdc batch holds multiple versions of one key but the table has no " +
          "sequence.field — they would share a commit sequence and merge " +
          "nondeterministically; declare sequence.field or split the batch")
    }
    writeCommit(withKind, kind = "APPEND", rowKind = RowKind.Insert,
      commitUser = commitUser, commitIdentifier = commitIdentifier,
      watermark = watermark)
  }

  /** Delete by primary key. `df` must contain FULL rows of the schema
    * (the non-key values are ignored by the merge; they exist so the
    * delete file shares the table layout). With `changelog-producer=
    * lookup` the `-D` rows carry the TRUE pre-image (current values of
    * the deleted keys) and deletes of absent keys are dropped. */
  def delete(df: DataFrame): Long = {
    require(isPkTable, "delete requires primary keys")
    if (!lookupChangelog)
      return writeCommit(dedupBatch(df), kind = "APPEND", rowKind = RowKind.Delete)
    val keys = dedupBatch(df).select(primaryKeys.map(col): _*).distinct()
    writeCommit(read().join(keys, primaryKeys, "left_semi"),
      kind = "APPEND", rowKind = RowKind.Delete)
  }

  /** Deletion-vector DELETE (S37, Paimon's `deletion-vectors.enabled`):
    * mark matching ROW POSITIONS in per-file sidecars and swap the
    * FileMeta pointers in ONE metadata commit — no data file is
    * rewritten. Copy-on-write touches every file a predicate grazes; at
    * 100 TB that is a corpus rewrite for a 0.01% delete, while this
    * path's cost is a scan of the STATS-PRUNED candidate files plus
    * sidecars sized by the match count.
    *
    * Shape: one distributed job reads the candidate files through the V2
    * scan with their `_file`/`_pos` row identity (the identity the SQL
    * delta DELETE uses), filters by the predicate, and groups positions
    * BY FILE on the executors — each group writes its sidecar (unioned
    * with the file's prior vector; vectors are immutable, a repeat
    * delete writes a NEW sidecar and the commit swaps the pointer). The
    * scan already masks the prior vector's rows, so the union adds
    * exactly the new matches. Only (file, sidecar-path, count) triples
    * return to the driver, so driver memory is O(affected files), never
    * O(deleted rows). A file whose vector reaches rowCount is dropped
    * from the manifest outright. Commit kind OVERWRITE: incremental/streaming
    * readers do not re-emit it (append-table deletes carry no
    * retractions, matching Paimon), and time travel / rollback see the
    * pre-delete FileMeta — the vectors are versioned metadata.
    *
    * `dataFilters` (the same V1 filters the predicate translated from)
    * prune candidates via manifest stats + bloom sidecars before any
    * file is opened. */
  def dvDelete(cond: Column, dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): Long = {
    require(dvEnabled, "dvDelete requires deletion-vectors.enabled on a parquet append " +
      "table with no data column named like a metadata column")
    val base = latestSnapshotId.getOrElse(0L)
    val candidates = planFiles(Some(base).filter(_ > 0), dataFilters = dataFilters)
    if (candidates.isEmpty) return base
    val byPath: Map[String, FileMeta] = candidates.map(f => f.path -> f).toMap
    val priorDv: Map[String, String] =
      candidates.filter(_.hasDv).map(f => f.path -> f.dvPath).toMap
    val matches = scanV2(Some(base).filter(_ > 0), Some(candidates))
      .filter(cond)
      .select(col(GraftV2Table.FileCol), col(RowLineage.PosCol))
    val rootStr = root
    val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val rowCountByPath: Map[String, Long] =
      candidates.flatMap(f => f.rowCountOpt.map(f.path -> _)).toMap
    import spark.implicits._
    // executor-side sidecar writes: each file's positions sort, union
    // with the prior vector, and persist WHERE they were computed. A
    // vector covering the whole file writes nothing (rel = "") — the
    // file leaves the manifest instead.
    val written: Array[(String, String, Long)] = matches.as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (path, it) =>
        val positions = it.map(_._2).toArray
        java.util.Arrays.sort(positions)
        val merged = priorDv.get(path) match {
          case Some(prior) =>
            DeletionVector.union(
              DeletionVector.read(serConf.value, rootStr, prior), positions)
          case None => positions
        }
        val rel =
          if (rowCountByPath.get(path).contains(merged.length.toLong)) ""
          else DeletionVector.write(serConf.value, rootStr, merged)
        (path, rel, merged.length.toLong)
      }
      .collect()
    if (written.isEmpty) return base
    // a fully-deleted file leaves the manifest entirely (its bytes are
    // reclaimed by snapshot expiry, like any overwritten file)
    val (gone, keptRaw) = written.partition(_._2.isEmpty)
    val kept = keptRaw.map { case (path, rel, cnt) =>
      byPath(path).copy(dvPath = rel, dvCount = cnt)
    }
    try commitAt(base + 1, "OVERWRITE", added = kept.toSeq,
      deleted = gone.toSeq.map { case (path, _, _) => byPath(path) })
    catch {
      case e: Throwable =>
        // losing an optimistic-concurrency race must not strand sidecars
        // — but never reclaim ones a post-publish throwable left
        // referenced by the durable snapshot (see commitDelta's catch)
        val rels = written.collect { case (_, rel, _) if rel.nonEmpty => rel }.toSet
        if (rels.nonEmpty && safeToCleanDvsAfterFailedCommit(base + 1, rels)) {
          rels.foreach { rel =>
            try fs.delete(new Path(root, rel), false)
            catch { case _: java.io.IOException => () }
          }
        }
        throw e
    }
  }

  /** Replace every partition present in `df` with df's rows. The
    * affected-partition set derives from the staged files' own
    * FileMeta.partition values (the write tasks already report them), so
    * the input is scanned exactly once — no distinct() pre-pass; same
    * contract as the V2 dynamic-overwrite path (commitV2 "dynamic"). */
  def overwritePartitions(df: DataFrame): Long = {
    require(partitionKeys.nonEmpty, "overwritePartitions requires a partitioned table")
    val base = latestSnapshotId.getOrElse(0L)
    val added = stageWrite(df, rowKind = RowKind.Insert, seq = base + 1)
    val affected = added.files.map(_.partition).toSet
    val removed = filesAt(base).filter(f => affected.contains(f.partition))
    commitOrClean(base + 1, "OVERWRITE", added.files, deleted = removed,
      indexDirs = added.indexDirs)
  }

  /** Full-table overwrite in one snapshot (INSERT OVERWRITE): the new
    * rows replace every current file. On a dynamic-bucket table the
    * key assignments PERSIST (immutable by contract), so re-inserted
    * keys land back in their buckets. */
  def overwriteAll(df: DataFrame): Long = {
    val base = latestSnapshotId.getOrElse(0L)
    val staged = stageWrite(
      if (isPkTable && mergeEngine == "deduplicate") dedupBatch(df) else df,
      rowKind = RowKind.Insert, seq = base + 1)
    commitOrClean(base + 1, "OVERWRITE", staged.files, deleted = filesAt(base),
      indexDirs = staged.indexDirs)
  }

  /** Rewrite the merged current state as fresh files (drops overwritten
    * versions and deletes — the LSM compaction of the reference's
    * format). Optional CLUSTERING makes the rewrite earn its cost at
    * scale: `sortBy` range-partitions + sorts on the given columns, so
    * every output file covers a narrow value range and manifest min/max
    * skipping turns selective; `zorderBy` (exactly two int columns)
    * sorts by the Morton z-value, clustering BOTH dimensions at once.
    * `partitions` bounds the output file count (0 = Spark's default
    * parallelism decides). */
  /** S56 record-level expire (Paimon's `record-level.expire-time` +
    * `record-level.time-field`): rows whose time field falls behind
    * now − TTL are DROPPED when a compaction rewrites their files —
    * never on read or write (Paimon's documented semantics: expiry is
    * lazy, piggybacked on maintenance I/O; a 100 TB table sheds aged
    * rows without a single dedicated delete scan or tombstone commit).
    * Time-field encodings: INT = epoch seconds, BIGINT = epoch millis,
    * TIMESTAMP native. NULL time fields never expire (no claim).
    * `record-level.expire.now-millis` pins the clock (tests). */
  private[sources] def recordExpireMs: Option[Long] =
    options.get("record-level.expire-time").map(GraftTable.parseDurationMs)
  private def recordExpire(df: DataFrame): DataFrame =
    (recordExpireMs, options.get("record-level.time-field")) match {
      case (Some(ttl), Some(f)) =>
        require(schema.fieldNames.contains(f),
          s"record-level.time-field $f is not a table column")
        val now = options.get("record-level.expire.now-millis").map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        val cutoffMs = now - ttl
        val keep = schema(f).dataType match {
          case IntegerType => col(f).isNull || col(f).cast(LongType) >=
            Math.floorDiv(cutoffMs, 1000L)
          case LongType => col(f).isNull || col(f) >= cutoffMs
          case TimestampType => col(f).isNull ||
            col(f) >= lit(java.time.Instant.ofEpochMilli(cutoffMs))
          case other => throw new IllegalArgumentException(
            s"record-level.time-field $f must be INT (epoch seconds), " +
              s"BIGINT (epoch millis) or TIMESTAMP (got ${other.simpleString})")
        }
        df.filter(keep)
      case _ => df
    }

  def compact(
      sortBy: Seq[String] = Seq.empty,
      zorderBy: Seq[String] = Seq.empty,
      partitions: Int = 0): Long = {
    require(sortBy.isEmpty || zorderBy.isEmpty, "use sortBy OR zorderBy, not both")
    val base = latestSnapshotId.getOrElse(0L)
    // S56: expired rows leave the table through this rewrite; with
    // changelog-producer=full-compaction they surface as -D diffs below
    // (downstream replicas see the expiry as ordinary deletions)
    // S64: a row-tracking fold MATERIALIZES each surviving row's id and
    // sequence as physical __row_id/__row_seq columns in the rewritten
    // files (ids travel with rows through any re-sort/re-binning; the
    // lineage read prefers stored columns over positional derivation),
    // so compaction — incl. record-level expire and dv application —
    // never renumbers a row.
    var merged =
      if (rowTracking)
        recordExpire(readWithLineage(Some(base).filter(_ > 0))
          .withColumnRenamed("_row_id", RowIdCol)
          .withColumnRenamed("_sequence_number", RowSeqCol))
      else recordExpire(read(snapshotId = Some(base).filter(_ > 0)))
    val n = if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    if (zorderBy.nonEmpty) {
      require(zorderBy.length == 2, "z-order clustering takes exactly two columns")
      zorderBy.foreach(c => require(schema(c).dataType == IntegerType,
        s"z-order column $c must be INT (got ${schema(c).dataType.simpleString})"))
      merged = merged
        .withColumn("__zv", graft.functions.ZOrderExpr.zvalue(col(zorderBy(0)), col(zorderBy(1))))
        .repartitionByRange(n, col("__zv"))
        .sortWithinPartitions("__zv")
        .drop("__zv")
    } else if (sortBy.nonEmpty) {
      merged = merged
        .repartitionByRange(n, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    }
    // S52 changelog-producer=full-compaction: the changelog materializes
    // HERE, by diffing the merged state against the last snapshot that
    // carried a changelog (or the table's beginning). Writes stay
    // zero-changelog-cost; the latency is the compaction interval —
    // Paimon's documented trade for this producer.
    val changelogDir =
      if (changelogProducer == "full-compaction" && isPkTable)
        writeCompactionChangelog(base, merged)
      else None
    val added = stageWrite(merged, rowKind = RowKind.Insert, seq = base + 1,
      keySort = sortBy.isEmpty && zorderBy.isEmpty, lineage = rowTracking)
    commitOrClean(base + 1, "COMPACT",
      added.files.map(_.copy(compacted = java.lang.Boolean.TRUE)), rebase = true,
      indexDirs = added.indexDirs, changelogDir = changelogDir)
  }

  /** S30+S40 composition (Paimon's `CALL sys.compact(table => …,
    * where => …)`): targeted compaction of ONLY the partitions matching
    * `where` — a pure partition-column predicate — in one commit.
    * Rewrite cost scales with the SELECTED partitions, not the table:
    * the 100 TB day-partitioned shape compacts yesterday, not 3 years.
    *
    * Exactness: `pruneFiles` evaluates a partition-only predicate on the
    * distinct partition tuples (not conservatively), so `targeted` is
    * exactly the matching partitions' files; the rewritten rows are the
    * merged state of those partitions (the post-read row filter keeps
    * the row set exact even where file pruning declined). PK tables
    * additionally need partition keys contained in the primary key — a
    * key's versions must not span partition groups, or a fresh-`__seq`
    * partial rewrite could outrank versions left elsewhere (the
    * compactBuckets rule). */
  def compactPartitions(where: Column): Long = {
    require(partitionKeys.nonEmpty, "targeted compaction requires a partitioned table")
    require(!isPkTable || partitionPruneSafe,
      "targeted compaction on a primary-key table requires partition keys " +
        "contained in the primary key (a key's versions must not span partitions)")
    require(changelogProducer != "full-compaction" || !isPkTable,
      "changelog-producer=full-compaction diffs the WHOLE merged state — " +
        "use compact() so the changelog stays complete")
    val base = latestSnapshotId.getOrElse(0L)
    // the reference rule is enforced by ANALYSIS: pruneFiles evaluates
    // the predicate against a partition-columns-only frame, so any
    // non-partition reference fails resolution there (a Column's
    // expression tree is a lazily-converted node — not introspectable)
    val targeted =
      try pruneFiles(filesAt(base), Some(where))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            "compaction filter may reference partition keys only " +
              s"(${partitionKeys.mkString(",")}): ${e.getMessage}")
      }
    require(targeted.nonEmpty, "no files match the compaction filter")
    // S64: a row-tracking targeted fold materializes lineage columns for
    // the rewritten partitions, exactly like the full compact; untouched
    // partitions keep their positional derivation
    var merged =
      if (rowTracking)
        recordExpire(
          readWithLineage(Some(base).filter(_ > 0), partitionFilter = Some(where))
            .filter(where)
            .withColumnRenamed("_row_id", RowIdCol)
            .withColumnRenamed("_sequence_number", RowSeqCol))
      else recordExpire(
        read(snapshotId = Some(base).filter(_ > 0), partitionFilter = Some(where))
          .filter(where))
    // small-file folding is the POINT of a targeted compact: bin the
    // rewrite into ceil(bytes / target-file-size) output tasks (Paimon's
    // target-file-size, default 128 MiB). PK tables skip this — their
    // stage write already routes rows to (partition, bucket) groups.
    if (!isPkTable) {
      val targetBytes = options.get("target-file-size")
        .map(GraftTable.parseBytes).getOrElse(128L * 1024 * 1024)
      val n = math.max(1L, (targeted.map(_.sizeBytes).sum + targetBytes - 1) / targetBytes)
      merged = merged.repartition(n.toInt)
    }
    val added = stageWrite(merged, rowKind = RowKind.Insert, seq = base + 1,
      keySort = true, lineage = rowTracking)
    commitOrClean(base + 1, "COMPACT",
      added.files.map(_.copy(compacted = java.lang.Boolean.TRUE)),
      deleted = targeted, indexDirs = added.indexDirs)
  }

  /** Diff the merged table state between the last changelog-producing
    * compaction and `now`, writing (rowkind, data columns) parquet rows
    * under changelog/. One PK-keyed full-outer join of two merged
    * frames — new keys emit +I, vanished keys -D (pre-image), changed
    * keys a -U/+U pair; unchanged keys emit nothing. Returns None when
    * the diff is empty (a changelog-less COMPACT snapshot). */
  private def writeCompactionChangelog(
      base: Long, now: DataFrame): Option[String] = {
    // the diff base: the merged state at the most recent snapshot that
    // HAS a changelog (every consumer has seen exactly that state);
    // before any changelog exists the base is empty and all rows are
    // +I. The inherited lastChangelog pointer resolves it in one read;
    // expiry pins that snapshot, so the base state is always readable.
    val prevClSnap: Option[Long] =
      if (base <= 0) None
      else scala.util.Try(readSnapshot(base)).toOption
        .flatMap(s => Option(s.lastChangelog)).map(_.longValue)
    val old = prevClSnap match {
      case Some(id) => read(snapshotId = Some(id))
      case None => spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
    val pk = primaryKeys
    val nonKey = schema.fieldNames.toSeq.filterNot(pk.contains)
    val o = old.select(schema.fieldNames.map(c => col(c).as(s"__o_$c")).toSeq: _*)
    val nw = now.select(schema.fieldNames.map(col).toSeq: _*)
    val joinCond = pk.map(k => col(k) <=> col(s"__o_$k")).reduce(_ && _)
    val j = nw.join(o, joinCond, "full_outer")
    // PK columns are non-null by construction, so a single head-column
    // null test detects the unmatched (null-extended) side
    val oldExists = col(s"__o_${pk.head}").isNotNull
    val newExists = col(pk.head).isNotNull
    val changed = nonKey.map(c => !(col(c) <=> col(s"__o_$c")))
      .foldLeft(lit(false))(_ || _)
    def rows(kind: String, fromOld: Boolean) = {
      val cols = schema.fieldNames.toSeq.map(c =>
        (if (fromOld) col(s"__o_$c") else col(c)).as(c))
      (lit(kind).as("rowkind") +: cols)
    }
    val inserts = j.filter(!oldExists && newExists).select(rows(RowKind.Insert, fromOld = false): _*)
    val deletes = j.filter(oldExists && !newExists).select(rows(RowKind.Delete, fromOld = true): _*)
    val updatesPre = j.filter(oldExists && newExists && changed)
      .select(rows(RowKind.UpdateBefore, fromOld = true): _*)
    val updatesPost = j.filter(oldExists && newExists && changed)
      .select(rows(RowKind.UpdateAfter, fromOld = false): _*)
    val cl = inserts.unionByName(deletes).unionByName(updatesPre).unionByName(updatesPost)
    val rel = s"changelog/cl-${base + 1}-${UUID.randomUUID().toString.take(8)}"
    cl.write.mode("overwrite").parquet(s"${root.stripSuffix("/")}/$rel")
    // an empty diff leaves an empty dir — drop it, commit changelog-less
    val any = spark.read.schema(changelogDiffSchema).parquet(s"${root.stripSuffix("/")}/$rel")
      .limit(1).count() > 0
    if (any) Some(rel)
    else { fs.delete(new Path(root, rel), true); None }
  }

  /** Stored full-compaction changelog layout: rowkind + data columns
    * (commit_seq is implied by the owning snapshot id). */
  private def changelogDiffSchema: StructType =
    StructType(StructField("rowkind", StringType) +: schema.fields)

  /** S42: offline bucket rescale (Paimon's `rescale` procedure shape) —
    * rewrite the whole table under a NEW bucket count in one commit.
    * Bucket count fixes write parallelism and SPJ co-location, so a
    * table sized for 1 TB chokes at 100 TB (every bucket a hot file
    * chain) unless it can rescale; the only sound way is a full
    * re-hash rewrite, because every existing file's rows are placed by
    * the OLD hash.
    *
    * Crash ordering: the new layout publishes FIRST as a fresh schema
    * version; the data commit that stamps its schemaId is the atomic
    * flip. A crash in between leaves an unreferenced schema file and
    * the old snapshot — readers group by the FileMeta-recorded buckets
    * (always self-consistent) and the scan's schemaId guard keeps SPJ
    * claims suppressed while layout and files disagree (time-travel
    * reads of pre-rescale snapshots stay claim-less forever for the
    * same reason). */
  def rescaleBucket(newBuckets: Int): Long = {
    require(newBuckets >= 1, s"bucket count must be >= 1 (got $newBuckets)")
    require(!isDynamicBucket,
      "rescale does not apply to dynamic-bucket tables (bucket = -1 " +
        "grows its bucket count with the data)")
    val base = latestSnapshotId.getOrElse(0L)
    // resumable: after a crashed/raced rescale the schema already says
    // `newBuckets` but the rewrite never landed (commitAt fences all
    // other writes in that state) — same-count is a no-op ONLY when the
    // latest snapshot really was committed under this layout
    val alreadyDone = newBuckets == numBuckets &&
      (base == 0 || bucketLayoutAt(snapshotSchemaId(base)) == bucketLayoutAt(schemaMeta.id))
    if (alreadyDone) return base
    require(bucketKeys.nonEmpty,
      "rescale needs a bucketed table (bucket-key or primary-key layout)")
    // S64: a row-tracking rescale materializes lineage columns through
    // the re-hash rewrite, exactly like compact — ids survive the new
    // bucket placement
    val merged =
      if (rowTracking)
        readWithLineage(Some(base).filter(_ > 0))
          .withColumnRenamed("_row_id", RowIdCol)
          .withColumnRenamed("_sequence_number", RowSeqCol)
      else read(snapshotId = Some(base).filter(_ > 0))
    if (newBuckets != numBuckets)
      writeSchema(schemaMeta.copy(
        id = schemaMeta.id + 1,
        options = schemaMeta.options.updated("bucket", newBuckets.toString)))
    val added = stageWrite(merged, rowKind = RowKind.Insert, seq = base + 1,
      lineage = rowTracking)
    commitOrClean(base + 1, "COMPACT",
      added.files.map(_.copy(compacted = java.lang.Boolean.TRUE)), rebase = true)
  }

  /** LSM-style TARGETED compaction (Paimon's
    * `num-sorted-run.compaction-trigger`): rewrite ONLY the
    * (partition, bucket) groups holding at least `trigger` files,
    * folding their version history through the table's merge engine into
    * fresh key-sorted runs; every other group's files are untouched. At
    * scale this is the only viable shape — a whole-table `compact()` of
    * 100 TB is not a maintenance op — and it is what keeps both the
    * sorted-run count and the MOR merge's working set bounded between
    * writes.
    *
    * Sound only when key → group is stable, i.e. partition keys ⊆
    * primary key (bucket keys already are): the group then contains
    * EVERY version of its keys, so the fold is complete and the
    * rewritten rows' fresh `__seq` cannot outrank versions elsewhere.
    * Returns None when nothing reached the trigger. */
  def compactBuckets(
      trigger: Int = if (compactionTrigger >= 2) compactionTrigger else 5): Option[Long] = {
    require(isPkTable, "compactBuckets targets primary-key tables (sorted-run folding)")
    require(partitionPruneSafe,
      "compactBuckets requires partition keys contained in the primary key " +
        "(a key's versions must not span groups)")
    require(trigger >= 2, "a compaction trigger below 2 would rewrite on every commit")
    val base = latestSnapshotId.getOrElse(return None)
    val triggered = filesAt(base)
      .groupBy(f => (f.partition, f.bucket)).values
      .filter(_.size >= trigger).toSeq.flatten
    if (triggered.isEmpty) return None
    // the V2 scan over exactly the triggered files folds each group in
    // its own task; keys never cross groups, so every fold is complete.
    // S56: the rewrite also sheds this group's expired rows (dropping a
    // key's FOLDED newest version is exact — all its versions live here)
    val merged = recordExpire(scanV2(Some(base), Some(triggered)))
    val added = stageWrite(merged, rowKind = RowKind.Insert, seq = base + 1)
    Some(commitOrClean(base + 1, "COMPACT",
      added.files.map(_.copy(compacted = java.lang.Boolean.TRUE)),
      deleted = triggered, indexDirs = added.indexDirs))
  }

  /** `num-sorted-run.compaction-trigger` option (0 = no auto-compaction;
    * when set, PK writes opportunistically fold their bucket backlog). */
  private[sources] def compactionTrigger: Int =
    options.getOrElse("num-sorted-run.compaction-trigger", "0").toInt

  /** All write paths capture ONE base snapshot and target base+1: a
    * concurrent commit of base+1 makes commitAt fail (no lost update —
    * the loser's file list was built from a stale base), and the staged
    * files' __seq always equals the committed snapshot id. */
  private def writeCommit(
      df: DataFrame, kind: String, rowKind: String,
      commitUser: String = "graft", commitIdentifier: Option[Long] = None,
      watermark: Option[Long] = None, dedupInWriter: Boolean = false): Long = {
    val base = latestSnapshotId.getOrElse(0L)
    val added = stageWrite(df, rowKind, seq = base + 1,
      coalesceSmall = true, dedupInWriter = dedupInWriter)
    val id = commitOrClean(base + 1, kind, added.files,
      commitUser = commitUser, commitIdentifier = commitIdentifier,
      indexDirs = added.indexDirs, watermark = watermark)
    // opt-in write-amortized maintenance (Paimon's writer-side
    // compaction): fold any bucket whose run count reached the trigger.
    // Not under lookup changelog (compaction folds the -U/+U history
    // CDC consumers may not have replayed yet).
    maintenanceCompact()
    id
  }

  /** Writer-side compaction runs AFTER the user's commit has already
    * succeeded, so it must be best-effort: a failure here — typically an
    * optimistic-concurrency conflict with a concurrent writer — must not
    * make the committed write appear failed (the caller would retry and
    * duplicate data under folding merge engines). The skipped fold is
    * retried by whichever write next trips the trigger. */
  private def maintenanceCompact(): Unit =
    if (isPkTable && compactionTrigger >= 2 && !lookupChangelog && partitionPruneSafe)
      try compactBuckets(compactionTrigger)
      catch { case scala.util.control.NonFatal(_) => () }

  /** commitAt, deleting the just-written `added` files if the commit
    * fails (a lost optimistic-concurrency race references them from no
    * snapshot — without cleanup they'd linger until removeOrphanFiles). */
  private def commitOrClean(
      id: Long, kind: String, added: Seq[FileMeta],
      deleted: Seq[FileMeta] = Seq.empty, rebase: Boolean = false,
      commitUser: String = "graft", commitIdentifier: Option[Long] = None,
      indexDirs: Seq[String] = Seq.empty,
      changelogDir: Option[String] = None,
      watermark: Option[Long] = None): Long =
    try commitAt(id, kind, added, deleted, rebase, commitUser, commitIdentifier,
      indexDirs, changelogDir, watermark)
    catch {
      case e: Throwable =>
        if (safeToCleanAfterFailedCommit(id, added, indexDirs, changelogDir)) {
          added.foreach(f => deleteDataFile(f.path))
          // a lost race references the assignment delta from no snapshot;
          // delete it so the retry's fresh assignment is the only one
          indexDirs.foreach(p => fs.delete(new Path(root, p), true))
          changelogDir.foreach(p => fs.delete(new Path(root, p), true))
        }
        throw e
    }

  /** Post-publish cleanup guard for commitOrClean: the only throwable
    * commitAt lets escape AFTER snap-id published is a
    * VirtualMachineError from a post-publish hook — cleanup then would
    * delete files a durable, reader-visible snapshot references. snap-id
    * existing is not enough (a LOST RACE leaves the winner's snap-id):
    * cleanup is safe only when the published snapshot references none of
    * OUR artifacts. If the check itself fails (e.g. an OOM cascade),
    * skip cleanup — a leaked file is orphan-GC work, a deleted
    * referenced file is corruption. */
  private[graft] def safeToCleanAfterFailedCommit(
      id: Long, added: Seq[FileMeta], indexDirs: Seq[String] = Seq.empty,
      changelogDir: Option[String] = None): Boolean =
    try !fs.exists(new Path(root, s"$snapDirRel/snap-$id.json")) || {
      val snap =
        try readSnapshot(id)
        catch {
          // an UNPARSEABLE snap-id cannot be OUR publish (the rename is
          // atomic and the body validated) and references nothing —
          // cleaning our staged files is safe
          case _: com.fasterxml.jackson.core.JacksonException => return true
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
              if String.valueOf(e.getMessage).contains("corrupt snapshot") => return true
        }
      val ourFiles = added.map(_.path).toSet
      val ourIdx = indexDirs.toSet
      !(filesOf(snap).exists(f => ourFiles.contains(f.path)) ||
        Option(snap.bucketIndexes).getOrElse(Seq.empty).exists(ourIdx.contains) ||
        (changelogDir.isDefined && changelogDir.contains(snap.changelogDir)))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Dv-sidecar analogue of [[safeToCleanAfterFailedCommit]]: after a
    * failed dv-bearing commit, reclaiming the just-written sidecars is
    * safe only when snap-id never published or references NONE of our
    * sidecar paths. Keyed on the dv paths themselves (not the data
    * paths) because a lost race's winner keeps referencing the same
    * still-live data files with their PRIOR dvs — data-path membership
    * would wrongly veto cleanup on every lost race. Unknown state skips
    * cleanup (leaked sidecars are orphan work; a deleted referenced
    * sidecar makes reads throw and deleted rows resurrect). */
  private[graft] def safeToCleanDvsAfterFailedCommit(id: Long, rels: Set[String]): Boolean =
    try !fs.exists(new Path(root, s"$snapDirRel/snap-$id.json")) || {
      val snap =
        try readSnapshot(id)
        catch {
          case _: com.fasterxml.jackson.core.JacksonException => return true
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
              if String.valueOf(e.getMessage).contains("corrupt snapshot") => return true
        }
      !filesOf(snap).exists(f => f.hasDv && rels.contains(f.dvPath))
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Snapshot commit of a V2 batch write (files already written and
    * measured by the executors; `added` arrived in commit messages;
    * `base` was captured at write start — a concurrent commit makes this
    * fail rather than publish a state built from a stale view). */
  private[sources] def commitV2(
      mode: String, added: Seq[FileMeta],
      filters: Seq[org.apache.spark.sql.sources.Filter], base: Long,
      watermark: Option[Long] = None): Long = {
    mode match {
      case "append" =>
        val id = commitAt(base + 1, "APPEND", added, watermark = watermark)
        // same opt-in best-effort maintenance as the V1 writeCommit path
        maintenanceCompact()
        id
      case "truncate" =>
        commitAt(base + 1, "OVERWRITE", added, deleted = filesAt(base),
          watermark = watermark)
      case "dynamic" =>
        require(partitionKeys.nonEmpty, "dynamic partition overwrite requires a partitioned table")
        val parts = added.map(_.partition).toSet
        commitAt(base + 1, "OVERWRITE", added,
          deleted = filesAt(base).filter(f => parts.contains(f.partition)),
          watermark = watermark)
      case "filter" =>
        // overwrite-by-filter deletes FILES, so the filter must be an
        // exact partition predicate (same soundness rule as pruning)
        val partCols = partitionKeys.toSet
        val cols = filters.map(f => GraftFilters.toColumn(f, partCols, exact = true).getOrElse(
          throw new UnsupportedOperationException(
            s"overwrite supports partition-column filters only, got: $f")))
        val dels = pruneFiles(filesAt(base), cols.reduceOption(_ && _))
        // nothing matched and nothing added: an empty OVERWRITE snapshot
        // would be pure churn — report the unchanged base instead (the
        // caller can distinguish "no-op" from "committed")
        if (dels.isEmpty && added.isEmpty) base
        else commitAt(base + 1, "OVERWRITE", added, deleted = dels,
          watermark = watermark)
      case other => throw new IllegalStateException(s"unknown V2 write mode: $other")
    }
  }

  /** S47/S55/S66: Paimon's `rewrite_file_index` procedure — build the
    * missing index sidecars of live data files that predate their index
    * options (legacy commits, option flips via ALTER (S43), S45-migrated
    * adoptions). ONE Spark job reads every file missing any configured
    * sidecar once, repartitioned by file and sorted within the partition
    * by `_metadata.row_index`, and feeds each file's rows in physical
    * order through the write path's own [[FileIndexBuilder]], bound to
    * plain column references — so a rebuilt sidecar of every kind (scalar,
    * map and struct blooms with entry stats, variant shreds, bitmap, BSI)
    * is byte-identical to a written one. Only the absent sidecars are
    * written. A zero-row file runs the same builder with no rows, so a
    * maintenance loop stopping on 0 converges.
    *
    * The positional kinds (bitmap, BSI) need parquet's
    * `_metadata.row_index`: on other formats they are skipped with a
    * WARN (their sidecars come from the write path only; a missing one
    * means "no claim"), while blooms, which no row order changes, are
    * still rebuilt. Sidecars write from the executors; the planner
    * discovers them lazily by path, so no commit is needed (they are
    * derived metadata keyed to immutable files). Returns the number of
    * files that got at least one sidecar; 0 when no index is configured.
    *
    * MEMORY BOUND: a BSI rebuild task buffers every (position, value)
    * pair of ONE whole file per indexed column (~16 B/row/col in
    * BsiBuf) before packing — bounded in practice because the write
    * path's file-roll policy caps data-file size; a legacy file far
    * above the roll size is logged at WARN before the job runs so an
    * operator can compact first. */
  def rewriteFileIndex(): Long = {
    val configured = FileIndexBuilder.spec(this, _ => true)
    val base = latestSnapshotId.getOrElse(0L)
    if (configured.isEmpty || base == 0L) return 0L
    val parquet = fileFormat == "parquet"
    val spec =
      if (parquet) configured else configured.copy(bitmapCols = Seq.empty, bsiCols = Seq.empty)
    val absent = filesAt(base).map(f =>
      f -> configured.suffixes.filterNot(s => fs.exists(new Path(root, f.path + s))))
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (!parquet) {
      val positional = absent.count(_._2.exists(s => !spec.suffixes.contains(s)))
      if (positional > 0)
        log.warn(s"bitmap/BSI index rebuild skipped for $positional $fileFormat " +
          s"file(s) under $root: positions require parquet _metadata.row_index; " +
          "sidecars for this format are written only by the write path")
    }
    val missing = absent.map { case (f, ks) => f -> ks.filter(spec.suffixes.contains) }
      .filter(_._2.nonEmpty)
    if (missing.isEmpty) return 0L
    // per-file buffer bound (see Scaladoc): warn on legacy files far
    // beyond the roll policy, whose in-task (pos, value) buffers could
    // pressure executor memory
    locally {
      val targetBytes = options.get("target-file-size")
        .map(GraftTable.parseBytes).getOrElse(128L * 1024 * 1024)
      val oversized = missing.collect {
        case (f, ks) if ks.contains(BsiIndex.Suffix) && f.sizeBytes > 4 * targetBytes => f
      }
      if (oversized.nonEmpty)
        log.warn(
          s"BSI rebuild will buffer ~16 B/row/col per file in one task; " +
            s"${oversized.size} file(s) exceed 4x target-file-size " +
            s"(largest ${oversized.map(_.sizeBytes).max} B, e.g. " +
            s"${oversized.head.path}) — consider compacting before rebuilding")
    }

    val rootStr = root.stripSuffix("/")
    def baseName(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)
    val relByName = missing.map { case (f, _) => baseName(f.path) -> f.path }.toMap
    // the executor job keys row→file attribution by BASENAME — every
    // graft write path (and S45 migrate's unique-rename adoption)
    // guarantees table-wide unique names, but a hand-assembled layout
    // could collide, which would silently merge two files' indexes; fail
    // loudly instead
    require(relByName.size == missing.size,
      s"duplicate data-file basenames under $root — cannot attribute rows to files: " +
        missing.map(_._1.path).groupBy(baseName)
          .filter(_._2.size > 1).values.flatten.mkString(", "))
    val kindsByName = missing.map { case (f, ks) => baseName(f.path) -> ks }.toMap
    val cols = (spec.bloomCols ++ spec.variantSpecs.map(_._1) ++ spec.bitmapCols ++
      spec.bsiCols).distinct
    val pos = if (parquet) Seq(col("_metadata.row_index").as("__pos")) else Nil
    val df = spark.read
      .option("basePath", s"$rootStr/data")
      .schema(fileSchema).format(fileFormat)
      .load(missing.map { case (f, _) => s"$rootStr/${f.path}" }: _*)
      .select((substring_index(col("_metadata.file_path"), "/", -1).as("__f") +: pos) ++
        cols.map(col): _*)
      .repartition(missing.size, col("__f"))
      .sortWithinPartitions((col("__f") +: pos.map(_ => col("__pos"))): _*)
    val rowSchema = df.schema
    val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val indexed: Set[String] = df.queryExecution.toRdd.mapPartitions(
      FileIndexBuilder.rebuildPartition(spec, rowSchema, parquet, rootStr, relByName,
        kindsByName, serConf)).collect().toSet
    // zero-row files produce no executor rows: the same builder writes
    // their sidecars with 0 rows (empty blooms claim "no value", empty
    // posting lists and slices claim "no row" — exact for no rows)
    val empty = missing.filterNot { case (f, _) => indexed(baseName(f.path)) }
    if (empty.nonEmpty) {
      val builder = new FileIndexBuilder(spec, FileIndexBuilder.bind(rowSchema))
      empty.foreach { case (f, ks) => builder.newFile().write(fs, new Path(root, f.path), ks) }
    }
    missing.size.toLong
  }

  /** S46: value-based partition retention (Paimon's `expire_partitions`
    * procedure): drop every partition whose `key` value sorts strictly
    * below `upto` in ONE metadata OVERWRITE commit — zero file reads,
    * zero rewrites (the calendar-retention shape: a 100 TB events table
    * partitioned by day sheds `dt < today-90` as a driver-side manifest
    * diff; the dropped files become expiry/GC work like any other
    * superseded state). Null partitions are never value-comparable and
    * are always retained. PK tables need partition keys contained in
    * the primary key (same resurrection rule as S29's metadata delete
    * and drop_partition). Returns (snapshotId, dropped partition
    * values); a no-match call reports the unchanged base and drops
    * nothing — retention loops run it idempotently. */
  def expirePartitions(key: String, upto: String): (Long, Seq[String]) = {
    require(partitionKeys.contains(key),
      s"$key is not a partition key (keys: ${partitionKeys.mkString(",")})")
    require(!isPkTable || partitionPruneSafe,
      "expire_partitions on a primary-key table requires partition keys " +
        "contained in the primary key (file removal could resurrect stale " +
        "row versions)")
    val cast = GraftTable.castPartitionValue(upto, schema(key).dataType)
    require(cast != null, "expire_partitions needs a non-null bound")
    val filter = org.apache.spark.sql.sources.LessThan(key, cast)
    val base = latestSnapshotId.getOrElse(0L)
    val pred = GraftFilters.toColumn(filter, partitionKeys.toSet, exact = true).get
    // one prune pass feeds both the report and the commit (commitV2's
    // filter branch would re-run the identical prune)
    val dels = pruneFiles(filesAt(base), Some(pred))
    val dropped = dels.map(_.partition(key)).distinct.sorted
    val id =
      if (dels.isEmpty) base // no-op: report the unchanged base, no churn
      else commitAt(base + 1, "OVERWRITE", Seq.empty, deleted = dels)
    (id, dropped)
  }

  /** Roll the table back to an earlier snapshot (Paimon's
    * rollback_to): publishes a NEW snapshot whose live file set is
    * exactly the target's, so the commits after it are logically undone
    * while every snapshot stays readable (audit trail intact; the undone
    * files are reclaimed by expiry like any other superseded state).
    * Deliberately NOT commitOrClean: the "added" files here are
    * pre-existing files still referenced by older snapshots — a failed
    * commit must never delete them. */
  def rollbackTo(snapshotId: Long): Long = {
    val base = latestSnapshotId.getOrElse(0L)
    require(snapshotId >= 1 && snapshotId <= base,
      s"cannot roll back to snapshot $snapshotId (latest is $base)")
    val target = filesAt(snapshotId)
    val current = filesAt(base)
    val targetPaths = target.map(_.path).toSet
    val currentByPath = current.map(f => f.path -> f).toMap
    // compare full metas, not just paths: a metadata-only change (e.g. a
    // deletion-vector pointer swap, S37) keeps the path but must still
    // be rolled back by re-ADDing the target meta (resolveChain replaces
    // by path)
    commitAt(base + 1, "OVERWRITE",
      added = target.filter(f => !currentByPath.get(f.path).contains(f)),
      deleted = current.filterNot(f => targetPaths(f.path)))
  }

  /** Roll back to the snapshot a tag pins (Paimon's rollback to tag). */
  def rollbackToTag(name: String): Long = rollbackTo(snapshotForTag(name))

  /** Row-level operation commit: atomically swap the scanned files for
    * their rewritten replacements (group-based copy-on-write UPDATE /
    * MERGE / DELETE — see GraftRowLevelOperation). */
  private[sources] def commitReplace(
      added: Seq[FileMeta], deleted: Seq[FileMeta], base: Long): Long = {
    // tracking tables never reach here — newRowLevelOperationBuilder
    // routes them to the delta operation (commitDelta); kept as a net
    // against a future caller wiring the CoW path in directly
    require(!rowTracking,
      "group copy-on-write rewrites re-home rows and would break their " +
        "stable ids — row-tracking tables use the delta row-level path")
    commitAt(base + 1, "OVERWRITE", added, deleted = deleted)
  }

  /** S65 delta row-level commit (UPDATE / MERGE / DELETE on a
    * row-tracking table, merge-on-read): publish the tasks' new data
    * files and fold their PARTIAL deletion-vector sidecars into one
    * final vector per touched file — all in ONE atomic snapshot.
    *
    *  - `lineageFiles` (update rewrites) carry materialized
    *    `__row_id`/`__row_seq` columns and commit as COMPACTED so
    *    commit-time id assignment skips them (the S64 fold contract);
    *  - `plainFiles` (MERGE inserts) take fresh ids from the counter;
    *  - `dvParts` = (root-relative data path, partial dv path,
    *    positions) per (task, file). Partials merge with the file's
    *    prior vector in a small parallelized job — executor I/O, driver
    *    memory O(touched files); the single-partial/no-prior fast path
    *    adopts the task's sidecar as the final without a copy. A merged
    *    vector covering the whole file drops it from the manifest.
    *
    * The scan masked already-deleted rows, so partial counts must sum
    * exactly into the merged cardinality — an overlap means one target
    * row was deleted twice across tasks (a MERGE cardinality bug) and
    * fails the commit rather than silently corrupting lineage.
    * Commit kind OVERWRITE, like dvDelete: incremental/streaming
    * readers do not re-emit, time travel sees the pre-op state. */
  private[graft] def commitDelta(
      lineageFiles: Seq[FileMeta], plainFiles: Seq[FileMeta],
      dvParts: Seq[(String, String, Long)], base: Long): Long = {
    val byPath: Map[String, FileMeta] = filesAt(base).map(f => f.path -> f).toMap
    val grouped = dvParts.groupBy(_._1)
    grouped.keys.foreach(p => require(byPath.contains(p),
      s"delta write deletes from a file not live at snapshot $base: $p"))
    val (direct, needMerge) = grouped.toSeq.partition {
      case (p, parts) => parts.size == 1 && !byPath(p).hasDv
    }
    val directRes = direct.map { case (p, parts) => (p, parts.head._2, parts.head._3) }
    val mergedRes: Seq[(String, String, Long)] =
      if (needMerge.isEmpty) Seq.empty
      else {
        val rootStr = root
        val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
        val descs = needMerge.map { case (p, parts) =>
          (p, Option(byPath(p).dvPath), parts.map(_._2), byPath(p).rowCountOpt)
        }
        spark.sparkContext.parallelize(descs, math.min(descs.size, 32)).map {
          case (p, prior, partials, rows) =>
            val vecs = (prior.toSeq ++ partials)
              .map(DeletionVector.read(serConf.value, rootStr, _))
            val merged = vecs.reduce(DeletionVector.union)
            require(merged.length == vecs.map(_.length).sum,
              s"overlapping delete positions for $p across tasks/prior vector " +
                "— duplicate MERGE match?")
            val rel =
              if (rows.contains(merged.length.toLong)) "" // file fully deleted
              else DeletionVector.write(serConf.value, rootStr, merged)
            // partials are NOT deleted here: a speculative/retried
            // attempt must still find its inputs — the task stays
            // idempotent (a duplicate attempt writes a second final; the
            // unreferenced one is orphan-GC work). The driver reclaims
            // partials after the commit publishes.
            (p, rel, merged.length.toLong)
        }.collect().toSeq
      }
    val results = directRes ++ mergedRes
    def covers(p: String, rel: String, cnt: Long): Boolean =
      rel.isEmpty || byPath(p).rowCountOpt.contains(cnt)
    val kept = results.collect {
      case (p, rel, cnt) if !covers(p, rel, cnt) =>
        byPath(p).copy(dvPath = rel, dvCount = cnt)
    }
    val gone = results.collect { case (p, rel, cnt) if covers(p, rel, cnt) => byPath(p) }
    // scratch reclaimed only AFTER the commit publishes: the merged
    // partials (superseded by their finals) plus any direct partial
    // that turned out to cover its whole file
    val strayDvs = needMerge.flatMap(_._2.map(_._2)) ++
      results.collect { case (p, rel, cnt) if rel.nonEmpty &&
        byPath(p).rowCountOpt.contains(cnt) => rel }
    val added = kept ++
      lineageFiles.map(_.copy(compacted = java.lang.Boolean.TRUE)) ++ plainFiles
    try {
      // MERGE's NOT-MATCHED inserts are append-visible to incremental/
      // streaming consumers (the retraction components — dv'd kept files
      // and update rewrites — stay skipped with OVERWRITE semantics)
      val id = commitAt(base + 1, "OVERWRITE", added = added, deleted = gone,
        appendPaths = plainFiles.map(_.path))
      strayDvs.foreach { rel =>
        try fs.delete(new Path(root, rel), false)
        catch { case _: java.io.IOException => () }
      }
      id
    } catch {
      case e: Throwable =>
        // losing the optimistic-concurrency race must not strand the
        // merged finals (partials/data files are the batch abort's job)
        // — but a post-publish throwable (VirtualMachineError from a
        // hook) arrives with snap-(base+1) durable and referencing
        // them: clean only when the published state provably doesn't
        val rels = mergedRes.collect { case (_, rel, _) if rel.nonEmpty => rel }.toSet
        if (rels.nonEmpty && safeToCleanDvsAfterFailedCommit(base + 1, rels)) {
          rels.foreach { rel =>
            try fs.delete(new Path(root, rel), false)
            catch { case _: java.io.IOException => () }
          }
        }
        throw e
    }
  }

  /** Streaming-sink entry: append/upsert one micro-batch tagged with
    * (queryId, batchId); a batch already committed under the same tag is
    * skipped, so replays after a checkpoint recovery are exactly-once at
    * the table level. */
  private[graft] def commitBatch(df: DataFrame, queryId: String, batchId: Long): Option[Long] = {
    val user = s"stream-$queryId"
    if (snapshots.exists(s => s.commitUser == user && s.commitIdentifier == batchId))
      return None // replayed batch: already durable
    if (isPkTable && mergeEngine == "deduplicate")
      Some(writeCommit(dedupBatch(df), "APPEND", RowKind.Insert, user, Some(batchId)))
    else Some(writeCommit(df, "APPEND", RowKind.Insert, user, Some(batchId)))
  }

  private def filesAt(snapshotId: Long): Seq[FileMeta] =
    if (snapshotId <= 0) Seq.empty else filesOf(readSnapshot(snapshotId))

  /** Deterministic within-batch dedup: greatest sequence.field per PK.
    * Without sequence.field, fall back to ordering by the orderable
    * non-PK columns (maps etc. can't sort); with none orderable the
    * surviving row per key is arbitrary — declare sequence.field for
    * full determinism. */
  private def dedupBatch(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val ord =
      if (sequenceFields.nonEmpty) sequenceFields.map(c => col(c).desc)
      else {
        // table-schema order, NOT the batch's column order: the winner
        // must not depend on how the caller ordered its columns, and
        // stageWrite's writer-side dedup (versionOrder) uses this order
        val orderable = schema.fields
          .filter(f => !primaryKeys.contains(f.name) && RowOrdering.isOrderable(f.dataType))
          .map(f => col(f.name).desc).toSeq
        if (orderable.nonEmpty) orderable else Seq(lit(1).desc)
      }
    val w = Window.partitionBy(primaryKeys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Write df's files into the table layout; returns their FileMeta.
    * Executor-native: each write task places its rows directly into
    * data/<k=v>/<commit-uuid>-<task>-b<bucket>-<n>.parquet (no staging
    * dir, no driver-side rename pass) and reports FileMeta — footer
    * min/max stats and row counts included — as its task result, so
    * commit metadata flows driver-ward once and the driver never opens a
    * data file. CHAR/VARCHAR write semantics (pad/truncate to the
    * declared lattice bound, ref PrestoTypeUtils.java:96-100) and bucket
    * routing are applied inside the task writer. A speculatively
    * duplicated successful attempt can strand unreferenced files; they
    * are invisible to readers and reclaimed by removeOrphanFiles. */
  // ---- S48 dynamic bucket index ---------------------------------------

  private val IdxSchema = StructType(Seq(
    StructField("part", StringType, nullable = true),
    StructField("kh", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  private[sources] def bucketIndexChainOf(snap: SnapshotMeta): Seq[String] =
    Option(snap.bucketIndexes).getOrElse(Seq.empty)

  /** Persist an assignment delta `(part, kh, bucket)` as a parquet
    * directory under index/ (executor-written, never driver-collected);
    * returns its root-relative chain entry. */
  private def writeIndexDelta(df: DataFrame): String = {
    val rel = s"index/idx-${UUID.randomUUID().toString.take(12)}"
    df.select(col("part"), col("kh"), col("bucket"))
      .write.mode("overwrite").parquet(s"$root/$rel")
    rel
  }

  /** Resolved key-hash→bucket assignments of an index chain. In
    * per-partition mode the entries are pairwise DISJOINT by protocol: a
    * writer's delta holds only keys absent from the resolved chain it
    * was written against (the minting left_anti), and a commit-time fold
    * replaces exactly the inherited prefix those deltas were disjoint
    * from — so a plain union is the resolution, with no dedup. Nothing
    * checks that disjointness at run time; a writer that broke it would
    * resolve a key to two buckets. Cross-partition mode is not disjoint
    * (a key's entry moves with it) and resolves latest-wins. */
  private def resolveIndexChain(chain: Seq[String]): DataFrame = {
    if (chain.isEmpty)
      // a LOCAL empty relation, not an emptyRDD-backed one: Catalyst's
      // PropagateEmptyRelation then prunes the downstream joins/unions of
      // the assignment plan outright (an RDD-backed empty is opaque and
      // keeps a join + exchange per reference — measured as most of the
      // first-upsert job storm)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        IdxSchema)
    // a single chain entry holds no duplicates by construction (a delta
    // dir is distinct (part, kh) keys; a fold dir is the resolved chain)
    // — skip the union + window shuffle and read it directly. This is
    // the common shape: the commit-time fold keeps chains short.
    if (chain.length == 1)
      return spark.read.schema(IdxSchema).parquet(s"$root/${chain.head}")
        .select("part", "kh", "bucket")
    // per-partition mode: disjoint entries (see above) — the union
    // resolves the chain with no per-key sort, at ANY chain length
    if (!isCrossPartitionUpsert)
      return chain.map(p => spark.read.schema(IdxSchema).parquet(s"$root/$p"))
        .reduce(_ unionByName _)
        .select("part", "kh", "bucket")
    // Cross-partition mode (S61): the index is global and a key's entry
    // MOVES with it — the LATEST entry for a key wins, which is also why
    // the chain fold must run through here (a fold that kept both sides
    // of a move would lose the order that disambiguates them).
    val parts = chain.zipWithIndex.map { case (p, i) =>
      spark.read.schema(IdxSchema).parquet(s"$root/$p").withColumn("__ord", lit(i))
    }
    val w = Window.partitionBy("kh").orderBy(col("__ord").desc)
    parts.reduce(_ unionByName _)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("part", "kh", "bucket")
  }

  /** Fold a long chain into one delta directory (the index analogue of
    * the manifest-chain fold: reads stay bounded, commits stay O(delta)
    * amortized). Superseded delta dirs become unreferenced once every
    * snapshot naming them expires — expiry reclaims them then. */
  private def foldIndexChain(chain: Seq[String]): Seq[String] =
    Seq(writeIndexDelta(resolveIndexChain(chain)))

  /** Did the just-written index delta receive any rows? Decided
    * driver-side from the part files — FileFormatWriter materializes a
    * file only for a task that wrote rows, except partition 0 which
    * always emits one (possibly empty) file, so a single file needs its
    * footer's row count. No Spark job, unlike a `limit(1).count()`. */
  private def deltaHasRows(rel: String): Boolean = {
    val parts = fs.listStatus(new Path(root, rel))
      .filter(_.getPath.getName.endsWith(".parquet"))
    parts.length > 1 ||
      parts.exists(p => FileStats.fromFooter(hadoopConf, p.getPath).rowCount > 0)
  }

  /** S48 write-side assignment: attach each row's dynamic bucket.
    * Existing keys read their immutable assignment through a key-hash
    * equality join against the resolved index; NEW keys fill the
    * partition's highest bucket up to `dynamic-bucket.target-row-num`
    * keys and then open fresh buckets, ranked deterministically by key
    * hash. Buckets fill strictly in sequence and assignments never
    * leave, so a partition's occupancy state is fully determined by its
    * assigned-key COUNT — the only driver-side collect here is one row
    * per PARTITION (bounded metadata, like the manifest reads), never
    * per key. The new assignments are persisted as an index delta
    * BEFORE the data files are written; a failed commit deletes the
    * delta with them (commitOrClean), and an unreferenced delta is
    * invisible to readers (the chain lives in SnapshotMeta).
    *
    * The key identity in the index is the 64-bit XxHash of the primary
    * key (Paimon's dynamic-bucket index stores key hashes the same
    * way): a hash collision co-locates two keys in one bucket — a
    * placement artifact, never a correctness issue (the MOR merge keys
    * on the real primary key). */
  private def assignDynamicBuckets(df: DataFrame): (DataFrame, Seq[String]) =
    if (isCrossPartitionUpsert) assignCrossPartition(df)
    else assignPerPartitionBuckets(df)

  /** S61 cross-partition upsert (Paimon's cross-partition update mode —
    * dynamic bucket with partition keys outside the primary key). The
    * index is GLOBAL: one latest-wins entry per key hash naming the
    * (partition, bucket) that holds the key. Row versions (+I/+U) whose
    * incoming partition differs from the indexed one MOVE the key —
    * this commit writes a `-D` tombstone into the old group (partition
    * columns reconstructed from the index entry), the row into the new
    * partition under a freshly minted assignment, and an index delta
    * superseding the old entry; the bucket-local folds then resolve both
    * groups correctly on their own (the tombstone resets the old group,
    * the row is the new group's newest version). Tombstones/markers
    * (-D/-U) route to the INDEXED location regardless of their incoming
    * partition values — the global index is what lets a caller delete by
    * key without knowing which partition currently holds it. Requires
    * merge-engine=deduplicate and no sequence.field: commit order makes
    * the move's tombstone final (the same-commit tombstone+row pair is
    * disambiguated by the merge's kind tiebreak — a row version outranks
    * a delete at equal sequence). Occupancy accounting counts CURRENT
    * index entries per partition, which under moves is a soft bound on
    * bucket fill — a placement approximation, never a correctness issue
    * (merges key on the real primary key). */
  /** Injective rendering of ONE partition value inside the index's
    * `k=v/k2=v2` part string: '%'→%25 and '/'→%2F so a value can never
    * split or forge a segment, and a value LITERALLY equal to the null
    * sentinel escapes its first '_' (→%5F) so only true NULLs render as
    * "__GRAFT_NULL__". */
  private def escPartVal(c: Column): Column = {
    val e = regexp_replace(regexp_replace(c, lit("%"), lit("%25")), lit("/"), lit("%2F"))
    when(e === "__GRAFT_NULL__", lit("%5F_GRAFT_NULL__")).otherwise(e)
  }

  /** Inverse of [[escPartVal]], unambiguous: every '%' is followed by
    * exactly one of 25/2F/5F, and the inserted '/', '_' and '%' can
    * never re-form an escape sequence. */
  private def unescPartVal(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, lit("%2F"), lit("/")), lit("%5F"), lit("_")), lit("%25"), lit("%"))

  /** The `k=v/k2=v2` part string for the incoming row, value-escaped. */
  private def renderedPart: Column =
    if (partitionKeys.isEmpty) lit("")
    else concat_ws("/", partitionKeys.map(k =>
      concat(lit(s"$k="),
        coalesce(escPartVal(col(k).cast("string")), lit("__GRAFT_NULL__")))): _*)

  private def assignCrossPartition(df: DataFrame): (DataFrame, Seq[String]) = {
    require(mergeEngine == "deduplicate" && sequenceFields.isEmpty,
      "cross-partition upsert (dynamic bucket with partition keys outside " +
        "the primary key) requires merge-engine=deduplicate and no " +
        "sequence.field — commit order must make the move tombstone final")
    val P = "__dynpart"
    val KH = "__dynkh"
    val khExpr = xxhash64(primaryKeys.map(col): _*)
    val partExpr: Column = renderedPart
    /** Inverse of partExpr for one key: the value `k` holds inside a
      * rendered partition string, cast back to the column's type. */
    def partVal(k: String, src: Column): Column = {
      val v = regexp_extract(src,
        "(?:^|/)" + java.util.regex.Pattern.quote(k) + "=([^/]*)", 1)
      when(v === "__GRAFT_NULL__", lit(null).cast(schema(k).dataType))
        .otherwise(unescPartVal(v).cast(schema(k).dataType))
    }
    val keyed = df.withColumn(KH, khExpr).withColumn(P, partExpr)
    val chain = latestSnapshotId.map(readSnapshot).map(bucketIndexChainOf).getOrElse(Seq.empty)
    val idx = resolveIndexChain(chain)
      .select(col("kh").as(KH), col("part").as("__ipart"), col("bucket").as("__ibucket"))
    val occ: Seq[(String, Long)] = idx.groupBy("__ipart").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val occDf = { import spark.implicits._; occ.toDF(P, "__base") }
    val target = dynamicTargetRows
    val joined = keyed.join(idx, Seq(KH), "left")
    val isRowVersion = col(KindCol).isin(
      GraftTable.RowKind.Insert, GraftTable.RowKind.UpdateAfter)
    // new assignments: unseen keys + keys moving into this partition
    val needNew = joined
      .filter(isRowVersion && (col("__ipart").isNull || col("__ipart") =!= col(P)))
      .select(col(P), col(KH)).distinct()
      .join(broadcast(occDf), Seq(P), "left")
      .withColumn("__base", coalesce(col("__base"), lit(0L)))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(P).orderBy(col(KH))).cast("long"))
      .select(col(P).as("part"), col(KH).as("kh"),
        expr(s"CAST((__base + __rn - 1) DIV ${target}L AS INT)").as("bucket"))
    val rel = writeIndexDelta(needNew)
    // the persisted delta IS the assignment (same discipline as the
    // per-partition path: no second evaluation of the assignment plan)
    val delta = spark.read.schema(IdxSchema).parquet(s"$root/$rel")
    val hasNew = deltaHasRows(rel)
    val dirs =
      if (hasNew) Seq(rel)
      else { fs.delete(new Path(root, rel), true); Seq.empty }
    // an empty delta's dir was just deleted — the routing plan must not
    // reference it (the lazy read would hit FILE_NOT_EXIST at write time)
    val routed =
      if (hasNew)
        joined.join(
          delta.select(col("kh").as(KH), col("bucket").as("__dbucket")),
          Seq(KH), "left")
      else joined.withColumn("__dbucket", lit(null).cast("int"))
    // +I/+U land in the incoming partition (minted/moved bucket first,
    // else the existing same-partition assignment); -D/-U land where the
    // index says the key lives, bucket 0 of the incoming partition
    // unrecorded when unindexed (merges to nothing — S48j)
    val targetPart =
      when(isRowVersion, col(P)).otherwise(coalesce(col("__ipart"), col(P)))
    val targetBucket =
      when(isRowVersion, coalesce(col("__dbucket"), col("__ibucket")))
        .otherwise(coalesce(col("__ibucket"), lit(0)))
    val main = routed.select(
      df.columns.toSeq.map { c =>
        if (partitionKeys.contains(c))
          when(targetPart === col(P), col(c)).otherwise(partVal(c, targetPart)).as(c)
        else col(c).as(c)
      } :+ targetBucket.cast("int").as(GraftTable.DynBucketCol): _*)
    // the move's tombstone: same key + this commit's sequence, old
    // partition's column values, the indexed bucket
    val moved = routed.filter(
      isRowVersion && col("__ipart").isNotNull && col("__ipart") =!= col(P))
    val tomb = moved.select(
      df.columns.toSeq.map { c =>
        if (partitionKeys.contains(c)) partVal(c, col("__ipart")).as(c)
        else if (c == KindCol) lit(GraftTable.RowKind.Delete).as(c)
        else col(c).as(c)
      } :+ col("__ibucket").cast("int").as(GraftTable.DynBucketCol): _*)
    (main.unionByName(tomb), dirs)
  }

  private def assignPerPartitionBuckets(df: DataFrame): (DataFrame, Seq[String]) = {
    val P = "__dynpart"
    val KH = "__dynkh"
    val khExpr = xxhash64(primaryKeys.map(col): _*)
    val partExpr: Column = renderedPart
    val keyed = df.withColumn(KH, khExpr).withColumn(P, partExpr)
    val chain = latestSnapshotId.map(readSnapshot).map(bucketIndexChainOf).getOrElse(Seq.empty)
    val idx = resolveIndexChain(chain)
      .select(col("part").as(P), col("kh").as(KH), col("bucket").as(GraftTable.DynBucketCol))
    // occupancy: one row per partition (sequential fill ⇒ count says it all)
    val occ: Seq[(String, Long)] = idx.groupBy(P).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val occDf = {
      import spark.implicits._
      occ.toDF(P, "__base")
    }
    val target = dynamicTargetRows
    // Which row kinds may MINT an assignment for an unindexed key:
    // +I/+U always; a -U never (merge-skipped marker — harmless in any
    // bucket); a -D only when the table has sequence fields. Without
    // them, commit order IS the merge order, so a tombstone for a
    // never-indexed key can never outrank a later insert — recording an
    // assignment would permanently consume target-row-num capacity for
    // a key that never held data (ADVICE r10), so it routes to bucket 0
    // unrecorded. WITH sequence fields an out-of-order CDC flow can
    // deliver a LATER-seq delete before an EARLIER-seq insert in a
    // later commit; if the tombstone sat unrecorded in bucket 0 while
    // the insert minted bucket b, the bucket-local V2 fold would never
    // see them together and resurrect the deleted row — so the delete
    // must mint and pin the key's bucket (correctness over capacity).
    val mintKinds =
      if (sequenceFields.nonEmpty)
        Seq(GraftTable.RowKind.Insert, GraftTable.RowKind.UpdateAfter,
          GraftTable.RowKind.Delete)
      else Seq(GraftTable.RowKind.Insert, GraftTable.RowKind.UpdateAfter)
    val minting = keyed.filter(col(KindCol).isin(mintKinds.map(k => k: Any): _*))
    val newKeys = minting
      .join(idx, Seq(P, KH), "left_anti")
      .select(P, KH).distinct()
      .join(broadcast(occDf), Seq(P), "left")
      .withColumn("__base", coalesce(col("__base"), lit(0L)))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(P).orderBy(col(KH))).cast("long"))
      .select(col(P).as("part"), col(KH).as("kh"),
        expr(s"CAST((__base + __rn - 1) DIV ${target}L AS INT)").as("bucket"))
    val rel = writeIndexDelta(newKeys)
    // read the PERSISTED delta back for the row join: what the files say
    // IS the assignment (no second evaluation of the assignment plan)
    val delta = spark.read.schema(IdxSchema).parquet(s"$root/$rel")
    val hasNew = deltaHasRows(rel)
    val dirs =
      if (hasNew) Seq(rel)
      else { fs.delete(new Path(root, rel), true); Seq.empty }
    val fullIdx =
      if (hasNew)
        idx.unionByName(delta.select(col("part").as(P), col("kh").as(KH),
          col("bucket").as(GraftTable.DynBucketCol)))
      else idx
    // a tombstone/pre-image for an unindexed key has no assignment —
    // route it to bucket 0 without recording (merges to nothing anyway)
    val out = keyed.join(fullIdx, Seq(P, KH), "left")
      .withColumn(GraftTable.DynBucketCol,
        coalesce(col(GraftTable.DynBucketCol), lit(0)))
      .drop(P, KH)
    (out, dirs)
  }

  private def stageWrite(
      df: DataFrame, rowKind: String, seq: Long, keySort: Boolean = true,
      lineage: Boolean = false, coalesceSmall: Boolean = false,
      dedupInWriter: Boolean = false): StagedWrite = {
    val lineageCols = if (lineage) Seq(RowIdCol, RowSeqCol) else Seq.empty
    val dataCols = schema.fieldNames.toSeq ++ lineageCols
    require(dataCols.forall(df.columns.contains),
      s"df missing columns: ${dataCols.filterNot(df.columns.contains).mkString(",")}")
    // a pre-attached __kind column (the lookup changelog-producer path)
    // carries per-row kinds; otherwise every row gets `rowKind`
    val perRowKind = df.columns.contains(KindCol)
    // silently dropping unknown columns would lose data on typo'd writes;
    // evolve the schema first (addColumn / mergeSchema) to accept them
    val unknown = df.columns.filterNot(c => dataCols.contains(c) || (c == KindCol && isPkTable))
    require(unknown.isEmpty,
      s"df has columns not in the table schema: ${unknown.mkString(",")} " +
        "(add them with addColumn or the mergeSchema write option)")

    // enforce the table schema's types: a silent mismatch (e.g. a
    // decimal(38,18) batch into a decimal(9,2) column) would write files
    // the table's own readers reject. Safe widenings upcast in place;
    // anything lossy must be cast explicitly by the writer.
    var out = df.select(dataCols.map { c =>
      val target =
        if (lineageCols.contains(c)) LongType else schema(c).dataType
      val actual = df.schema(c).dataType
      if (actual == target) col(c)
      else {
        require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(actual, target),
          s"column $c of type ${actual.simpleString} does not fit table type " +
            s"${target.simpleString}; cast explicitly before writing")
        col(c).cast(target).as(c)
      }
    } ++ (if (perRowKind) Seq(df(KindCol)) else Seq.empty): _*)
    if (isPkTable) {
      out = out.withColumn(SeqCol, lit(seq))
      if (!perRowKind) out = out.withColumn(KindCol, lit(rowKind))
    }
    // r19 (guide §6, small files): a tiny frame arriving in many input
    // partitions writes one near-empty parquet file PER TASK (measured:
    // a 1000-row 32-partition append = 32 files, 0.8-2.9 s vs 0.27 s at
    // one) — and at scale every micro-commit bloats the manifest with
    // sub-MB files. When Catalyst's size ESTIMATE says the whole write
    // is small, coalesce to ~32 MB-estimated tasks. Estimate-gated on
    // the SAFE side: unfiltered-scan/unknown estimates are large or
    // Long.Max, so a possibly-big write never collapses its stage; only
    // provably-small frames coalesce. Plain (non-PK, non-bucketed,
    // non-dynamic) tables only — bucketed task writers route rows
    // per-bucket and a coalesced task would interleave buckets row-wise
    // (the S48 writer-thrash OOM); partition-key sorting below happens
    // AFTER the coalesce, so partitioned appends keep their contiguity.
    // APPEND-path only (coalesceSmall) — compaction/rewrite callers
    // pre-shape their layout deliberately (z-order/sortBy range
    // partitioning) and a coalesce would collapse it (ClusteringSpec Z2
    // caught exactly that).
    // Cost note (r19 advice asked to short-circuit the stats estimate):
    // `out.queryExecution.optimizedPlan.stats` does NOT re-analyze — the
    // Dataset's QueryExecution phases are lazy vals that the toRdd call
    // below needs anyway, so the estimate adds only the memoized stats
    // visitor; a partition-count pre-check would itself force physical
    // planning (strictly more work). The option is documented in SURVEY
    // §2.1 S5.
    if (coalesceSmall && !isPkTable && !isDynamicBucket && numBuckets <= 1 &&
        options.getOrElse("write.small-file-coalesce", "true").toBoolean) {
      // Trigger ONLY on metadata-sized writes (< 2 MB estimated). The
      // estimate is compressed-file-size × default-column-size ratios,
      // and StringType's 20-byte default understates real text ~100×:
      // a looser 32 MB/task rule coalesced q_dedup_index's corpus
      // append (72 MB compressed, ~26 MB "estimated", ~1 GB of real
      // tokenize+encode work) to 3 tasks AND left the table as a few
      // giant-row-group files that serialized every DOWNSTREAM read of
      // it — measured 36 → 84 s at sf10. At < 2 MB estimated, even a
      // 100× text understatement bounds the single write task at
      // ~200 MB, and anything reading such a table back is reading a
      // frame that small too.
      val est = out.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est >= 0 && est < 2L * 1024 * 1024) out = out.coalesce(1)
    }
    // PK tables: a local (no-shuffle) sort by (pk asc, version desc)
    // makes every written file a sorted run the MOR reader can stream
    // through a k-way merge at O(runs) memory instead of hash-buffering
    // a bucket's keys — the LSM write amortization. Skipped when the
    // caller requested a different clustering (compaction sortBy/zorder:
    // those files trade streaming merges for min/max selectivity).
    // S48: attach the dynamic bucket before the key sort (the sort is
    // within-partition; routing happens row-wise in the task writer)
    var indexDirs: Seq[String] = Seq.empty
    if (isDynamicBucket) {
      require(isPkTable, "dynamic bucket mode (bucket = -1) requires primary keys")
      val (withBucket, dirs) = assignDynamicBuckets(out)
      // co-locate each (partition, bucket)'s rows in one task: buckets
      // are assigned in HASH order while rows arrive in input order, so
      // an unshuffled write would evict a task writer on nearly every
      // row (one tiny file per row at 10k+ keys — measured OOM). One
      // hash exchange, exactly the clustering the V2 static-bucket
      // write requests.
      out = withBucket.repartition(
        (partitionKeys.map(col) :+ col(GraftTable.DynBucketCol)): _*)
      indexDirs = dirs
    }
    val doKeySort = isPkTable && keySort
    // EVERY partitioned write prefixes the within-task sort with the
    // routing key — partition columns (and in dynamic mode the bucket) —
    // so each (partition, bucket) group's rows are CONTIGUOUS: the task
    // writer then opens every group file exactly once and closes it
    // before the next (Spark's own FileFormatWriter requiredOrdering
    // discipline), while write parallelism stays the input task count.
    // Without the prefix, routing-key-ordered groups under other-ordered
    // rows evict a writer on nearly every row once groups ≫
    // maxOpenWriters (measured three times: 15k keys / 59 buckets via
    // the bucket axis; r15's skew probe via the PARTITION axis — 20
    // partitions interleaving per row once AQE coalesced the pre-write
    // shuffle to one task, 3.8k live parquet page writers, OOM at any
    // heap; and r18's 80-month plain partitioned append, OOM again —
    // which is why the prefix now applies to NON-PK partitioned appends
    // too, not just dynamic-bucket mode). Files stay valid sorted runs:
    // a file holds ONE group, and within it keys ascend.
    // writer-side dedup (see upsert): the version order must be TOTAL
    // within a key so "first row of a key group wins" is the dedup
    // window's winner. With sequence fields their desc order is the
    // contract; without, fall back to the orderable non-key columns desc
    // in table-schema order — the same fallback the V2 batch write's
    // requiredOrdering declares.
    val versionOrder: Seq[Column] =
      if (sequenceFields.nonEmpty) sequenceFields.map(col(_).desc)
      else if (dedupInWriter) {
        import org.apache.spark.sql.catalyst.expressions.RowOrdering
        schema.fields.toSeq.filter(f =>
          !primaryKeys.contains(f.name) && RowOrdering.isOrderable(f.dataType))
          .map(f => col(f.name).desc)
      } else Seq.empty
    val sortCols =
      partitionKeys.map(col(_).asc) ++
        (if (isDynamicBucket) Seq(col(GraftTable.DynBucketCol).asc) else Seq.empty) ++
        (if (doKeySort) primaryKeys.map(col(_).asc) ++ versionOrder
         else Seq.empty)
    if (sortCols.nonEmpty)
      out = out.sortWithinPartitions(sortCols: _*)
    val spec = GraftWrite.spec(spark, this, out.schema, keySorted = doKeySort,
      dedupKeys = if (dedupInWriter) primaryKeys else Seq.empty,
      dynamicBucketCol = if (isDynamicBucket) Some(GraftTable.DynBucketCol) else None,
      extraDataCols =
        if (lineage) Seq(StructField(RowIdCol, LongType), StructField(RowSeqCol, LongType))
        else Seq.empty)
    val files = out.queryExecution.toRdd
      .mapPartitions(GraftWrite.writePartition(spec))
      .collect().flatten.toSeq
    StagedWrite(files, indexDirs)
  }

  /** Result of [[stageWrite]]: the written data files plus any dynamic
    * bucket-index delta directories the commit must reference (S48). */
  private case class StagedWrite(files: Seq[FileMeta], indexDirs: Seq[String])

  // ---- read path ------------------------------------------------------

  /** S50: Paimon's `scan.fallback-branch` — a LATEST batch scan of the
    * main view serves a partition from the fallback branch when main
    * has no files for it (the dual-write migration shape: the new
    * pipeline backfills main partition-by-partition while the old
    * pipeline still lands complete data on the branch; readers see a
    * complete table throughout). Partition-level and partition-DISJOINT
    * by construction, so PK merge-on-read stays correct (every key's
    * versions come wholly from one side). Time-travel reads and branch
    * views stay exact — the fallback only shapes "what is the table
    * NOW". */
  private[sources] def fallbackBranch: Option[String] = options.get("scan.fallback-branch")

  private def withFallbackBranch(
      main: Seq[FileMeta], snapshotId: Option[Long]): Seq[FileMeta] =
    fallbackBranch match {
      case Some(b) if branchName.isEmpty && snapshotId.isEmpty =>
        require(partitionKeys.nonEmpty,
          "scan.fallback-branch requires a partitioned table")
        val mainParts = main.map(_.partition).toSet
        main ++ forBranch(b).currentFiles(None)
          .filterNot(f => mainParts.contains(f.partition))
      case _ => main
    }

  private[graft] def currentFiles(snapshotId: Option[Long]): Seq[FileMeta] =
    snapshotId.orElse(latestSnapshotId) match {
      case None => Seq.empty
      case Some(id) => filesOf(readSnapshot(id))
    }

  /** Latest snapshot committed at or before `tsMillis` — timestamp time
    * travel (ref: Paimon's scan.timestamp-millis). */
  def snapshotAsOfTime(tsMillis: Long): Option[Long] =
    snapshots.filter(_.timestampMs <= tsMillis).lastOption.map(_.id)

  /** Manifest-level partition pruning: evaluate `pred` against each
    * file's partition values driver-side (no cluster job) and keep only
    * matching files — the Spark-first analogue of the reference's
    * PrestoComputePushdown partition prune (PrestoComputePushdown.java).
    *
    * The partition rows back a LocalRelation (NOT an RDD), so the
    * optimizer's ConvertToLocalRelation rule folds the filter into a
    * driver-side evaluation with full analyzer resolution (implicit
    * casts included) — planning a pruned read launches zero Spark jobs.
    */
  private def pruneFiles(files: Seq[FileMeta], pred: Option[Column]): Seq[FileMeta] = pred match {
    case None => files
    case Some(p) =>
      val partSchema = StructType(partitionKeys.map(k => schema(k)))
      val parts = files.map(_.partition).distinct
      val rows = parts.map { m =>
        Row.fromSeq(partitionKeys.map(k => castPartitionValue(m(k), schema(k).dataType)))
      }
      import scala.jdk.CollectionConverters._
      val pdf = spark.createDataFrame(rows.asJava, partSchema)
      val kept = pdf.filter(p).collect()
        .map(r => partitionKeys.zipWithIndex.map { case (k, i) =>
          // mirror the write path: NULL renders as the hive default dir,
          // not "null" — else null-accepting filters (isNull, <=>) would
          // silently drop null-partition files
          k -> (if (r.isNullAt(i)) NullPartition else String.valueOf(r.get(i)))
        }.toMap)
        .toSet
      files.filter(f => kept.contains(f.partition))
  }

  /** Bucket pruning for `bucketKey = value` point lookups: hash the
    * literal driver-side with the same Murmur3 Spark uses and keep only
    * that bucket's files. */
  def bucketOf(values: Seq[Any]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Murmur3Hash, Pmod}
    val h = new Murmur3Hash(values.map(v => CLit.create(v))) // seed 42, same as functions.hash
    Pmod(h, CLit.create(numBuckets)).eval(null).asInstanceOf[Int]
  }

  /** Columns whose per-file stats may prune a PK table: only
    * VERSION-INVARIANT columns (the primary key) qualify. A predicate on
    * any other column — sequence fields, or a partition column outside
    * the key, which an upsert can rewrite — could drop the file holding
    * a key's newest version while keeping an older one, resurrecting the
    * stale row through the merge. (Partition columns contained in the
    * primary key are already covered by it.) */
  private[sources] def skipSafeCols: Set[String] = primaryKeys.toSet

  /** FILE-level partition pruning is version-safe only when every
    * partition key is part of the primary key (Paimon enforces exactly
    * this containment): otherwise an upsert can move a key to a new
    * partition, and pruning away the new partition's files would
    * resurrect the old version through the merge. Unsafe layouts fall
    * back to row-level filtering after the merge. */
  private[sources] def partitionPruneSafe: Boolean =
    !isPkTable || partitionKeys.forall(primaryKeys.contains)

  /** Columns with a per-file bloom-filter sidecar index
    * (`file-index.bloom-filter.columns`, Paimon's file-index option). */
  private[sources] def bloomIndexCols: Seq[String] =
    options.get("file-index.bloom-filter.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Columns with a per-file bitmap sidecar index (S55,
    * `file-index.bitmap.columns` — Paimon's bitmap file index for
    * low-cardinality columns; the reference connector inherits it via
    * FileStoreScan). Unlike the bloom (S28) the claim is EXACT both
    * ways: a present column's value map is file-complete. */
  private[sources] def bitmapIndexCols: Seq[String] =
    options.get("file-index.bitmap.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Columns with a per-file bit-slice sidecar index (S66,
    * `file-index.bsi.columns` — Paimon's BSI file index for RANGE
    * predicates on high-cardinality integral columns). Exact both ways,
    * like the bitmap (S55), with no distinct-value cap. */
  private[sources] def bsiIndexCols: Seq[String] =
    options.get("file-index.bsi.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** S68 VARIANT/JSON path shredding index: STRING columns holding JSON
    * whose configured root paths are shredded at write time into the
    * bloom sidecar — entry hashes of the RAW extracted text for equality
    * claims, per-path (min, max) Long bounds for range claims — so a
    * `variant_get(parse_json(c), '$.k', 'bigint') > x` filter prunes
    * files like a filter on a real column. Configured as
    * `file-index.variant.columns = props` +
    * `file-index.variant.<col>.paths = $.k,$.tag` (root-level `$.name`
    * paths). The shred rides the S34 subscript machinery end to end
    * (SubscriptFilterRule carries the claims; FileIndex's bloom kind
    * answers them), with one extra soundness rule enforced at write time: a
    * non-null extracted value that does not parse as a plain integral
    * token widens that path's per-file bounds to the full Long range
    * (claims nothing), so a stats prune can never disagree with
    * variant_get's own numeric cast (and can never suppress a cast
    * error a full scan would raise). */
  private[sources] def variantIndexCols: Seq[String] =
    options.get("file-index.variant.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** (column, configured `$.name` paths) after validation. */
  private[sources] def variantIndexSpecs: Seq[(String, Seq[String])] =
    variantIndexCols.map { c =>
      require(schema.fieldNames.contains(c), s"unknown variant-index column $c")
      require(schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"variant-index column $c must be STRING (JSON text), got " +
          schema(c).dataType.simpleString)
      require(!bloomIndexCols.contains(c),
        s"column $c cannot carry both a whole-value bloom and a variant shred " +
          "(one bloom per column; the probes are incompatible)")
      val paths = options.get(s"file-index.variant.$c.paths")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      require(paths.nonEmpty, s"file-index.variant.$c.paths must list at least one path")
      paths.foreach(p => require(p.matches("\\$\\.[A-Za-z_][A-Za-z0-9_]*"),
        s"variant shred paths must be root fields ($$.name), got $p"))
      c -> paths
    }

  // the read side of the file indexes, rebuilt when the options or the
  // schema change; its caches key immutable data files
  @volatile private var fileIndexAt: (SchemaMeta, FileIndex) = _
  private[sources] def fileIndex: FileIndex = {
    val meta = schemaMeta
    val cur = fileIndexAt
    if (cur != null && (cur._1 eq meta)) cur._2
    else {
      val fresh = new FileIndex(fs, root, schema, FileIndexBuilder.spec(this, _ => true))
      fileIndexAt = (meta, fresh)
      fresh
    }
  }

  /** The live files at `snapshotId` (None = latest): the snapshot's,
    * and on a latest scan of main the fallback branch's for partitions
    * main lacks (S50). */
  private[sources] def liveFiles(snapshotId: Option[Long]): Seq[FileMeta] =
    withFallbackBranch(currentFiles(snapshotId), snapshotId)

  private[sources] def planFiles(
      snapshotId: Option[Long] = None,
      partitionFilter: Option[Column] = None,
      bucket: Option[Int] = None,
      dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): Seq[FileMeta] =
    plan(liveFiles(snapshotId), partitionFilter, bucket, dataFilters).files

  /** Manifest planning shared by the library read path and the V2 scan:
    * `live` → partition prune (only when `partitionPruneSafe`) → bucket
    * → one fold over the table's file indexes ([[FileIndex]]), counting
    * what each step dropped. PK tables skip only on `skipSafeCols`, and
    * prune no file on map subscripts: a map column's entries change
    * across row versions, so pruning on them could resurrect an older
    * version through the merge. */
  private[sources] def plan(
      live: Seq[FileMeta],
      partitionFilter: Option[Column],
      bucket: Option[Int] = None,
      dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
      subscriptFilters: Seq[SubscriptPredicate] = Seq.empty): FilePlan = {
    val parts = pruneFiles(live, if (partitionPruneSafe) partitionFilter else None)
    val files = bucket.fold(parts)(b => parts.filter(_.bucket == b))
    val skipSafe =
      if (!isPkTable) dataFilters
      else dataFilters.filter(_.references.forall(skipSafeCols))
    val subs = if (isPkTable) Seq.empty else subscriptFilters
    val (kept, dropped) =
      if (skipSafe.isEmpty && subs.isEmpty) (files, Map.empty[String, Int])
      else fileIndex.prune(files, skipSafe, subs)
    FilePlan(kept, live.size, dropped + (FilePlan.Partition -> (live.size - parts.size)))
  }

  /** Read the table: latest (or time-travel) snapshot, manifest-pruned,
    * through the V2 scan ([[scanV2]]) — merge-on-read for PK tables,
    * deletion vectors masked per file for append tables. A
    * `partitionFilter`/`bucket`/`dataFilters` read plans its file set
    * here and pins the scan to it (an arbitrary partition Column prunes
    * the manifest); filters and projections applied to the returned
    * frame still push into the scan. `Dataset.inputFiles` of this frame
    * (and of the `readWithLineage`/`readIncrement` frames) is empty:
    * Spark lists input files only for its own file relations, not for a
    * V2 table. `system("files")` lists the live files, and the `_file`
    * metadata column names each row's file. */
  def read(
      snapshotId: Option[Long] = None,
      partitionFilter: Option[Column] = None,
      bucket: Option[Int] = None,
      dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): DataFrame = {
    val pinned =
      if (partitionFilter.isEmpty && bucket.isEmpty && dataFilters.isEmpty) None
      else Some(planFiles(snapshotId, partitionFilter, bucket, dataFilters))
    val df = scanV2(snapshotId, pinned)
    // POST-merge row filter keeps partitionFilter semantics exact even
    // when file-level pruning was skipped as version-unsafe (see
    // partitionPruneSafe); when pruning did apply this is a no-op the
    // reader absorbs
    partitionFilter.fold(df)(df.filter)
  }

  /** This table through the V2 scan ([[GraftScan]]) as a DataFrame —
    * the one row reader of every library read: PK versions resolve in
    * the per-bucket reader ([[GraftMorReaderFactory]]), append files
    * with a deletion vector, claimed filters or metadata columns read
    * through [[PositionalReaderFactory]]. `pinned` hands the scan a
    * file set the caller already planned. An append scan declares this
    * handle's columns, so a stream's batches keep the schema its source
    * declared while another handle adds or drops a column; the PK merge
    * resolves its columns against the latest file schema. */
  private def scanV2(snapshotId: Option[Long], pinned: Option[Seq[FileMeta]]): DataFrame =
    org.apache.spark.sql.graft.Bridge.v2Frame(spark,
      new GraftV2Table(root, if (isPkTable) GraftTable.load(spark, root).schema else schema,
        pinnedFiles = pinned),
      // the V2 table loads the ROOT table — a branch view must forward
      // its ref or the scan would silently read main's log
      snapshotId.map(id => "snapshotId" -> id.toString).toMap ++
        branchName.map(b => "branch" -> b))

  /** S64 row lineage read (Paimon's row-tracking metadata): the table's
    * rows plus `_row_id` (stable id = the file's firstRowId + the row's
    * physical position) and `_sequence_number` (the snapshot whose
    * commit wrote the row) — the V2 scan's lineage metadata columns,
    * pinned to the `partitionFilter`-planned files. Compacted files
    * serve their stored `__row_id`/`__row_seq` columns instead.
    * DV deletes keep survivors' positions — ids are stable under them —
    * and whole-file ops (partition drop, expiry of superseded state)
    * never renumber; the rewriting maintenance paths are refused on
    * row-tracking tables. `Dataset.inputFiles` is empty (see [[read]]). */
  def readWithLineage(snapshotId: Option[Long] = None,
      partitionFilter: Option[Column] = None): DataFrame = {
    require(rowTracking, "row lineage requires row-tracking.enabled")
    val files = planFiles(snapshotId, partitionFilter)
    require(files.forall(f =>
      (f.firstRowId != null && f.rowSeq != null) || f.isCompacted),
      "file(s) predate row tracking — enable row-tracking.enabled at table creation")
    scanV2(snapshotId, Some(files)).select(schema.fieldNames.map(col).toSeq :+
      col(RowLineage.IdCol) :+ col(RowLineage.SeqCol): _*)
  }

  /** The raw row versions of `files` (hidden __seq/__kind included) as
    * plain files — for the reads that must not merge: the changelog
    * views and `$ro`. An empty file set yields an empty `outSchema`
    * frame without touching storage. */
  private def rawVersions(files: Seq[FileMeta], outSchema: StructType)(
      shape: DataFrame => DataFrame): DataFrame =
    if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    else shape(spark.read
      .option("basePath", s"${root.stripSuffix("/")}/data")
      .schema(fileSchema)
      .format(fileFormat).load(files.map(f => s"${root.stripSuffix("/")}/${f.path}"): _*))

  /** S60 read-optimized view (Paimon's `$ro` system table / ReadOptimized
    * Table): serve a PK table WITHOUT paying the merge-on-read by reading
    * only the live COMPACTED files — each (partition, bucket) group's
    * state as of its last fold. Every fold (compact / compactBuckets /
    * rescale) rewrites its groups WHOLE, so the live compacted files of a
    * group always come from exactly one fold: they hold final merged +I
    * rows and no version of their keys lives elsewhere among them — a
    * plain columnar scan is exact for that state. Groups never compacted
    * (or re-opened by a CoW rewrite) contribute nothing until their next
    * fold — Paimon's documented freshness trade: `$ro` is the
    * cheap-and-stale leg of a lambda read (batch analytics off `$ro`,
    * exact reads off the merging scan). Non-PK tables are already
    * merge-free: `$ro` = the plain read. */
  def readOptimized(): DataFrame =
    if (!isPkTable) read()
    else rawVersions(currentFiles(None).filter(_.isCompacted), schema)(
      _.select(schema.fieldNames.map(col).toSeq: _*))

  /** The schema of changelog-shaped outputs (auditLog, changelog
    * streams): rowkind + commit_seq prepended to the table schema. ONE
    * definition — the streaming source's declared schema must match
    * getBatch output exactly. */
  def changelogSchema: StructType =
    StructType(StructField("rowkind", StringType) +:
      StructField("commit_seq", LongType) +: schema.fields)

  /** Changelog view: every row version with its rowkind/sequence — the
    * `$audit_log` of the reference format. */
  def auditLog(snapshotId: Option[Long] = None): DataFrame = {
    require(isPkTable, "audit_log requires a PK table")
    rawVersions(currentFiles(snapshotId), changelogSchema)(_.select((col(KindCol).as("rowkind") +:
      col(SeqCol).as("commit_seq") +: schema.fieldNames.map(col).toSeq): _*))
  }

  /** Incremental read: rows in the files ADDED between snapshot
    * `fromExclusive` and `toInclusive` (path-set diff, so OVERWRITE /
    * COMPACT rewrites are not re-emitted as inserts of old data — same
    * restriction Paimon places on streaming reads). Append tables read
    * the emitted files through the V2 scan, deletion vectors as of
    * `toInclusive` applied (`Dataset.inputFiles` of that frame is
    * empty, see [[read]]). PK tables read their raw row versions,
    * filtered on the hidden commit sequence, and `changelog=true`
    * exposes rowkind/commit_seq. */
  def readIncrement(
      fromExclusive: Long,
      toInclusive: Long,
      changelog: Boolean = false): DataFrame = {
    // per-snapshot walk: only APPEND commits emit; OVERWRITE/COMPACT
    // rewrite existing data with fresh paths and must not flood the
    // stream with re-inserts of old rows.
    val range = (fromExclusive + 1) to toInclusive
    def expired(e: java.io.FileNotFoundException): Nothing =
      throw new IllegalStateException(
        s"snapshots in [$fromExclusive, $toInclusive] were expired; " +
          "the incremental stream cannot resume — restart from a fresh checkpoint " +
          "(register a consumer-id to pin the resume window from expiry)", e)
    val snaps =
      try range.map(readSnapshot)
      catch { case e: java.io.FileNotFoundException => expired(e) }
    // S52: on a full-compaction-producer table the changelog stream IS
    // the stored per-compaction diff — APPEND commits between
    // compactions emit nothing (Paimon's documented latency trade);
    // each diff row carries its owning snapshot id as commit_seq
    if (changelog && isPkTable && changelogProducer == "full-compaction") {
      val dirs = snaps.filter(_.changelogDir != null)
        .map(s => (s.id, s.changelogDir))
      if (dirs.isEmpty)
        return spark.createDataFrame(new java.util.ArrayList[Row](), changelogSchema)
      return dirs.map { case (id, dir) =>
        spark.read.schema(changelogDiffSchema)
          .parquet(s"${root.stripSuffix("/")}/$dir")
          .withColumn("commit_seq", lit(id))
      }.reduce(_ unionByName _)
        .select(changelogSchema.fieldNames.map(col).toSeq: _*)
    }
    var prev: Set[String] =
      if (fromExclusive <= 0) Set.empty
      else
        // the diff base: the last CONSUMED snapshot — reading it expired
        // is the same resume failure as a missing range snapshot
        try filesOf(readSnapshot(fromExclusive)).map(_.path).toSet
        catch { case e: java.io.FileNotFoundException => expired(e) }
    val added = scala.collection.mutable.ArrayBuffer[FileMeta]()
    for (snap <- snaps) {
      val live = filesOf(snap)
      if (snap.commitKind == "APPEND")
        added ++= live.filterNot(f => prev.contains(f.path))
      else if (snap.appendPaths != null) {
        // an OVERWRITE with an append-visible component (MERGE's
        // NOT-MATCHED inserts): emit exactly those files — the rewrite/
        // retraction components of the same commit stay silent
        val ap = snap.appendPaths.toSet
        added ++= live.filter(f => ap.contains(f.path) && !prev.contains(f.path))
      }
      prev = live.map(_.path).toSet
    }
    // S37: the V2 scan pinned to the emitted files, each still live at
    // `to` carrying its meta from that snapshot — its deletion vector
    // masks exactly what a batch read masks (append tables carry no
    // retractions to replay). Files the `to` snapshot no longer lists
    // (fully-deleted, or compacted away) replay unmasked: after a
    // COMPACT rebase the original appends are the stream's only copy
    // of the rows, the same history-rewrite caveat Paimon's
    // incremental reads document. snaps.last IS the `to` snapshot —
    // no extra metadata read.
    if (!isPkTable) {
      val to = snaps.lastOption
      val atTo = to.toSeq.flatMap(filesOf).map(f => f.path -> f).toMap
      return scanV2(to.map(_.id), Some(added.toSeq.map(f => atTo.getOrElse(f.path, f))))
    }
    val schemaCols = schema.fieldNames.map(col).toSeq
    rawVersions(added.toSeq, if (changelog) changelogSchema else schema) { raw =>
      val inRange = raw.filter(col(SeqCol) > fromExclusive && col(SeqCol) <= toInclusive)
      if (changelog)
        inRange.select(col(KindCol).as("rowkind") +: col(SeqCol).as("commit_seq") +: schemaCols: _*)
      else
        // without the changelog columns a consumer can't interpret delete
        // or pre-image markers — suppress them instead of resurrecting
        // deleted keys / double-counting updates
        inRange.filter(col(KindCol).isin(RowKind.Insert, RowKind.UpdateAfter))
          .select(schemaCols: _*)
    }
  }

  // ---- system tables (ref: TestPrestoITCase.testSystemTable) ----------

  def system(name: String): DataFrame = {
    import spark.implicits._
    name match {
      case "snapshots" =>
        snapshots
          .map(s => (s.id, s.schemaId, s.commitUser, s.commitIdentifier, s.commitKind,
            new java.sql.Timestamp(s.timestampMs), filesOf(s).size.toLong))
          .toDF("snapshot_id", "schema_id", "commit_user", "commit_identifier",
            "commit_kind", "commit_time", "total_file_count")
      case "files" =>
        currentFiles(None)
          .map(f => (f.path, partitionKeys.map(k => s"$k=${f.partition(k)}").mkString("/"),
            f.bucket, f.sizeBytes, f.rowCountOpt.map(Long.box).orNull, f.isSorted,
            // deletion-vector sidecar (S37): masked-row count + pointer
            // (Paimon $files' delete_row_count)
            f.dvCountOrZero, f.dvPath,
            // S60: fold output, servable merge-free via `$ro` (Paimon
            // $files' level column collapsed to its max-level meaning)
            f.isCompacted))
          .toDF("file_path", "partition", "bucket", "file_size_in_bytes",
            "record_count", "sorted", "delete_row_count", "dv_path", "compacted")
      case "schemas" =>
        allSchemas
          .map(s => (s.id, s.fieldsJson, s.partitionKeys.mkString(","),
            s.primaryKeys.mkString(",")))
          .toDF("schema_id", "fields", "partition_keys", "primary_keys")
      case "options" =>
        options.toSeq.sorted.toDF("key", "value")
      case "partitions" =>
        val byPart = currentFiles(None).groupBy(_.partition)
        byPart.toSeq
          .map { case (p, fsq) =>
            (partitionKeys.map(k => s"$k=${p(k)}").mkString("/"), fsq.size.toLong,
              fsq.map(_.sizeBytes).sum)
          }
          .sortBy(_._1)
          .toDF("partition", "file_count", "total_size_in_bytes")
      case "manifests" =>
        // the current snapshot's manifest chain, in fold order (ref:
        // Paimon's $manifests system table)
        latestSnapshotId.map(readSnapshot).map(manifestsOf).getOrElse(Seq.empty)
          .map { name =>
            val entries = readManifest(name)
            (name,
              entries.count(_.kind == ManifestEntry.Add).toLong,
              entries.count(_.kind == ManifestEntry.Delete).toLong)
          }
          .toDF("file_name", "num_added_files", "num_deleted_files")
      case "tags" =>
        tags.map(t => (t.name, t.snapshotId, new java.sql.Timestamp(t.createTimeMs)))
          .toDF("tag_name", "snapshot_id", "create_time")
      case "consumers" =>
        consumers
          .map(c => (c.consumerId, c.nextSnapshot, new java.sql.Timestamp(c.updateTimeMs)))
          .toDF("consumer_id", "next_snapshot", "update_time")
      case "branches" =>
        // (name, cut-point id, head id) per branch ref — the cut point is
        // the branch's earliest snapshot (the copied base), the head its
        // latest commit (Paimon's $branches). Ids come from FILENAMES
        // (no JSON parse per snapshot), and a branch dir with no
        // snapshots yet (a crashed createBranch) is listed with null ids
        // rather than crashing the system table.
        branches.map { b =>
          val dir = new Path(branchDir(b), "snapshot")
          val ids =
            if (!fs.exists(dir)) Seq.empty
            else fs.listStatus(dir).toSeq.map(_.getPath.getName)
              .collect { case SnapRe(id) => id.toLong }
          if (ids.isEmpty) (b, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Long])
          else (b, java.lang.Long.valueOf(ids.min), java.lang.Long.valueOf(ids.max))
        }.toDF("branch_name", "cut_snapshot_id", "head_snapshot_id")
      case "audit_log" => auditLog()
      case "ro" => readOptimized()
      case "row_lineage" => readWithLineage()
      case other => throw new IllegalArgumentException(s"unknown system table: $other")
    }
  }

  // ---- tags (Paimon tag management) -----------------------------------

  /** Create a named tag pinning `snapshotId` (default: latest). Tagged
    * snapshots are excluded from expiry — snapshot file, manifests and
    * data files all survive — so the tagged version stays readable
    * indefinitely (Paimon's TagManager contract; the reference reads
    * tagged versions through scan.tag-name / VERSION AS OF). */
  def createTag(name: String, snapshotId: Option[Long] = None): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid tag name: $name")
    val id = snapshotId.orElse(latestSnapshotId).getOrElse(
      throw new IllegalArgumentException("cannot tag an empty table"))
    readSnapshot(id) // must exist
    val p = new Path(root, s"tag/tag-$name.json")
    require(!fs.exists(p), s"tag $name already exists")
    writeString(fs, p,
      mapper.writeValueAsString(TagMeta(name, id, System.currentTimeMillis())))
  }

  def deleteTag(name: String): Boolean =
    fs.delete(new Path(root, s"tag/tag-$name.json"), false)

  // ---- S59 automatic tag creation (Paimon tag.automatic-creation) -----
  // A periodic tag names the UTC period that just COMPLETED and pins the
  // first snapshot committed after its end — under watermark semantics
  // the earliest state guaranteed to contain all of the period's data.
  // Tags are root-level pins shared by every ref, so only main-view
  // commits auto-tag. Creation is per-crossing (no backfill of periods
  // with no commits — Paimon's TagAutoManager shape); daily names are
  // `yyyy-MM-dd`, hourly `yyyy-MM-dd-HH` (dash, not Paimon's space —
  // tag names here are path segments).

  private case class AutoTagConf(
      mode: String, periodMs: Long, delayMs: Long,
      retainMax: Option[Int], pinnedNowMs: Option[Long])

  /** Parse + validate the option family; throws on misconfiguration.
    * None = disabled (the default). */
  private def autoTagConf(): Option[AutoTagConf] = {
    val mode = options.getOrElse("tag.automatic-creation", "none")
    if (mode == "none") None
    else {
      require(mode == "process-time" || mode == "watermark",
        s"tag.automatic-creation must be none|process-time|watermark (got $mode)")
      val periodMs = options.getOrElse("tag.creation-period", "daily") match {
        case "daily" => 86400000L
        case "hourly" => 3600000L
        case other => throw new IllegalArgumentException(
          s"tag.creation-period must be daily|hourly (got $other)")
      }
      val delay = options.get("tag.creation-delay").map(_.toLong).getOrElse(0L)
      require(delay >= 0, s"tag.creation-delay must be >= 0 (got $delay)")
      val retain = options.get("tag.num-retained-max").map(_.toInt)
      retain.foreach(n => require(n >= 1, s"tag.num-retained-max must be >= 1 (got $n)"))
      Some(AutoTagConf(mode, periodMs, delay, retain,
        options.get("tag.automatic-creation.now-millis").map(_.toLong)))
    }
  }

  private def autoTagName(periodStartMs: Long, periodMs: Long): String = {
    val fmt = if (periodMs >= 86400000L) "yyyy-MM-dd" else "yyyy-MM-dd-HH"
    java.time.format.DateTimeFormatter.ofPattern(fmt)
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(periodStartMs))
  }

  /** Auto tags are recognized BY NAME (the period format), like Paimon's
    * TagPeriodHandler — retention must never reap a user's manual tag. */
  private def isAutoTagName(name: String, periodMs: Long): Boolean =
    if (periodMs >= 86400000L) name.matches("\\d{4}-\\d{2}-\\d{2}")
    else name.matches("\\d{4}-\\d{2}-\\d{2}-\\d{2}")

  // ---- S63 automatic partition expiration (Paimon
  // partition.expiration-time) ------------------------------------------
  // A partitioned table sheds calendar-aged partitions as a side effect
  // of WRITING: after each non-OVERWRITE commit publishes, partitions
  // whose time value is older than the TTL leave in ONE follow-up
  // metadata OVERWRITE — zero file reads/rewrites (the S46 shape, but
  // writer-driven like Paimon's: no external maintenance job to forget).
  // Time travel keeps the dropped state readable; expiry/GC reclaim it
  // later. The expiry commit is itself OVERWRITE, so it never re-checks
  // (recursion-free by construction).

  private case class PartExpireConf(
      ttlMs: Long, key: String,
      fmt: java.time.format.DateTimeFormatter, nowMs: Option[Long])

  /** Parse + validate the option family; throws on misconfiguration
    * (called pre-claim: bad config fails the commit loudly, before
    * anything publishes). None = disabled (the default). */
  private def partitionExpireConf(): Option[PartExpireConf] =
    options.get("partition.expiration-time").map { ttlStr =>
      val ttl = ttlStr.toLong
      require(ttl > 0, s"partition.expiration-time must be > 0 ms (got $ttl)")
      require(partitionKeys.nonEmpty,
        "partition.expiration-time requires a partitioned table")
      val key = options.getOrElse("partition.expiration-key", partitionKeys.head)
      require(partitionKeys.contains(key),
        s"partition.expiration-key $key is not a partition key " +
          s"(keys: ${partitionKeys.mkString(",")})")
      // same soundness rule as expire_partitions (S46): dropping a PK
      // table's partition files could resurrect stale row versions
      // unless a key's versions never span partitions
      require(!isPkTable || partitionPruneSafe,
        "partition.expiration-time on a primary-key table requires " +
          "partition keys contained in the primary key")
      val pattern = options.getOrElse("partition.timestamp-formatter", "yyyy-MM-dd")
      PartExpireConf(ttl, key,
        java.time.format.DateTimeFormatter.ofPattern(pattern),
        options.get("partition.expiration.now-millis").map(_.toLong))
    }

  /** Drop every live partition whose `key` value parses (as UTC date or
    * date-time) older than now - ttl. Unparseable or null values RETAIN
    * their partition (a mixed layout must not lose data to a formatter
    * mismatch — Paimon logs-and-skips the same way). Best-effort
    * post-publish: a lost race is retried by whichever write lands
    * next. */
  private def maybePartitionExpire(conf: Option[PartExpireConf]): Unit =
    conf.foreach { c =>
      try {
        val cutoff = c.nowMs.getOrElse(System.currentTimeMillis()) - c.ttlMs
        latestSnapshotId.foreach { base =>
          def agedValue(v: String): Boolean = v != null && {
            // date-time FIRST: LocalDate.parse accepts a formatter that
            // carries time fields and silently discards them — trying it
            // first would age a whole day of hourly partitions at once
            val ms =
              try Some(java.time.LocalDateTime.parse(v, c.fmt)
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
              catch {
                case _: java.time.format.DateTimeParseException =>
                  try Some(java.time.LocalDate.parse(v, c.fmt)
                    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
                  catch { case _: java.time.format.DateTimeParseException => None }
              }
            ms.exists(_ < cutoff)
          }
          // driver-side over the manifest's distinct partition values —
          // bounded metadata, the same cost class as planning
          val dels = filesAt(base).filter(f => agedValue(f.partition.getOrElse(c.key, null)))
          if (dels.nonEmpty)
            commitAt(base + 1, "OVERWRITE", Seq.empty, deleted = dels,
              commitUser = "partition-expire")
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Create the tag for the latest period completed as of the trigger
    * time (process clock or this snapshot's watermark), then apply
    * `tag.num-retained-max` over auto tags. Best-effort post-publish:
    * races with concurrent committers over the same period resolve to
    * whichever snapshot tagged first. */
  private def maybeAutoTag(
      conf: Option[AutoTagConf], snapId: Long, watermark: Option[Long]): Unit =
    conf.foreach { c =>
      try {
        val trigger: Option[Long] = c.mode match {
          case "process-time" => Some(c.pinnedNowMs.getOrElse(System.currentTimeMillis()))
          case _ => watermark // no watermark yet = nothing provably complete
        }
        trigger.foreach { t =>
          val start = Math.floorDiv(t - c.delayMs, c.periodMs) * c.periodMs - c.periodMs
          if (start >= 0) {
            val name = autoTagName(start, c.periodMs)
            if (!fs.exists(new Path(root, s"tag/tag-$name.json")))
              try createTag(name, Some(snapId))
              catch { case _: IllegalArgumentException => () } // lost the race
          }
          c.retainMax.foreach { max =>
            val auto = tags.filter(tg => isAutoTagName(tg.name, c.periodMs)).sortBy(_.name)
            if (auto.length > max) auto.dropRight(max).foreach(tg => deleteTag(tg.name))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  // ---- stream consumers (S38, Paimon consumer-id) ---------------------

  /** Consumer registry directory of this view's ref: a consumer follows
    * ONE snapshot log, so branch consumers live under the branch dir. */
  private def consumerDirRel: String =
    branchName.map(b => s"branch/$b/consumer").getOrElse("consumer")

  /** Record `consumerId`'s progress: `nextSnapshot` is the first
    * snapshot it has NOT yet consumed. Expiry keeps the consumer's
    * resume window readable (nextSnapshot-1 and later — the incremental
    * diff needs the last CONSUMED snapshot's file set as its base), so
    * a paused stream resumes without a lost-offset error.
    *
    * Publish is a NEW versioned file (`consumer-<id>-<n>.json`) followed
    * by best-effort deletion of the id's older versions — at no instant
    * is the id absent from a directory listing, so a concurrent
    * expireSnapshots cannot race past the pin (a delete-then-rename
    * swap would open exactly that window). Progress writes are tiny
    * metadata files — once per committed micro-batch, never per row. */
  def commitConsumer(consumerId: String, nextSnapshot: Long): Unit = {
    require(consumerId.nonEmpty &&
      consumerId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid consumer id: $consumerId")
    val dst = new Path(root, s"$consumerDirRel/consumer-$consumerId-$nextSnapshot.json")
    val tmp = new Path(root,
      s"$consumerDirRel/.tmp-$consumerId-${UUID.randomUUID().toString.take(8)}")
    writeString(fs, tmp, mapper.writeValueAsString(
      ConsumerMeta(consumerId, nextSnapshot, System.currentTimeMillis())))
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      // benign ONLY when this exact offset is already published
      // (same-offset re-commit); any other rename failure must SURFACE —
      // proceeding to cleanup without a published file would delete the
      // id's every version and silently drop the retention pin
      if (!fs.exists(dst))
        throw new IllegalStateException(
          s"failed to record consumer $consumerId at $root")
    }
    // remove only versions BELOW ours: progress is monotonic, and a
    // concurrent higher commit's file must survive this cleanup (two
    // racing commits would otherwise mutually delete and leave the id
    // absent — the window the versioned scheme exists to close)
    consumerFiles(consumerId)
      .filter { case (_, v) => v < nextSnapshot }
      .foreach { case (p, _) =>
        try fs.delete(p, false) catch { case _: java.io.IOException => () }
      }
  }

  def deleteConsumer(consumerId: String): Boolean =
    consumerFiles(consumerId).map { case (p, _) => fs.delete(p, false) }.exists(identity)

  /** This id's pin files `consumer-<id>-<n>.json` as (path, version).
    * Matched EXACTLY, so ids where one is a '-'-prefix of another
    * ("job" / "job-eu", both legal) never collide. */
  private def consumerFiles(consumerId: String): Seq[(Path, Long)] = {
    val dir = new Path(root, consumerDirRel)
    if (!fs.exists(dir)) return Seq.empty
    val versioned = s"consumer-${java.util.regex.Pattern.quote(consumerId)}-(\\d+)\\.json".r
    fs.listStatus(dir).toSeq.map(_.getPath).flatMap(p => p.getName match {
      case versioned(v) => Some((p, v.toLong))
      case _ => None
    })
  }

  def consumers: Seq[ConsumerMeta] = {
    val dir = new Path(root, consumerDirRel)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("consumer-") && p.getName.endsWith(".json"))
      .flatMap { p =>
        // a concurrently-deleted older version is not an error
        try Some(mapper.readValue(readString(fs, p), classOf[ConsumerMeta]))
        catch { case _: java.io.IOException => None }
      }
      // several versions of one id may coexist mid-publish: progress is
      // monotonic, the greatest nextSnapshot is the consumer's truth
      .groupBy(_.consumerId).values.map(_.maxBy(_.nextSnapshot)).toSeq
      .sortBy(_.consumerId)
  }

  /** `consumer.expiration-time` (ms): a consumer whose last progress
    * write is older stops pinning snapshots (Paimon's staleness valve —
    * one dead consumer must not block expiry forever). Default: pins
    * indefinitely. */
  private def consumerExpirationMs: Option[Long] =
    options.get("consumer.expiration-time").map(_.toLong)

  /** Oldest snapshot some LIVE consumer still needs (None = no pin). */
  private[sources] def consumerPin(nowMs: Long = System.currentTimeMillis()): Option[Long] = {
    val live = consumerExpirationMs match {
      case Some(ttl) => consumers.filter(c => nowMs - c.updateTimeMs <= ttl)
      case None => consumers
    }
    if (live.isEmpty) None else Some(live.map(_.nextSnapshot).min)
  }

  def tags: Seq[TagMeta] = {
    val dir = new Path(root, "tag")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("tag-") && p.getName.endsWith(".json"))
      .map(p => mapper.readValue(readString(fs, p), classOf[TagMeta]))
      .sortBy(_.name)
  }

  def snapshotForTag(name: String): Long =
    tags.find(_.name == name).map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no such tag: $name"))

  // ---- branches (S36) -------------------------------------------------
  // Paimon branches (create_branch / delete_branch / fast_forward): a
  // branch is a WRITABLE ref — its own snapshot log under
  // branch/<name>/snapshot cut from a main snapshot, sharing the root's
  // schema, manifests and data files (all immutable or content-
  // addressed, so refs never contend). Contrast tags (S27): a tag pins
  // one snapshot read-only; a branch continues committing from its cut
  // point without touching main — the experiment/backfill isolation
  // shape. Expiry and orphan GC treat every ref's files as live
  // (see expireSnapshots/removeOrphanFiles), so no ref can reclaim
  // another ref's data.

  /** Branch names are path segments — validate EVERYWHERE one arrives
    * (createBranch, deleteBranch, forBranch — the latter is also the
    * funnel for the user-supplied `branch` read/write option), or
    * deleteBranch("..") recursively deletes the table root and
    * forBranch("..") silently aliases main. */
  private def requireValidBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_\\-]+"), s"invalid branch name: $name")

  private def branchDir(name: String) = new Path(root, s"branch/$name")

  /** Cut a branch at `fromSnapshot` (default: latest). The branch's log
    * starts as a copy of that one snapshot JSON under the branch's own
    * snapshot dir — same id, so branch commits continue the id sequence
    * from the cut point and fastForward can splice them back. */
  def createBranch(name: String, fromSnapshot: Option[Long] = None): Unit = {
    require(branchName.isEmpty, "createBranch must run on the main view")
    requireValidBranchName(name)
    require(!fs.exists(branchDir(name)), s"branch already exists: $name")
    val id = fromSnapshot.orElse(latestSnapshotId).getOrElse(
      throw new IllegalArgumentException("cannot branch an empty table"))
    val snap = readSnapshot(id) // validates the cut point exists
    fs.mkdirs(new Path(branchDir(name), "snapshot"))
    writeString(fs, new Path(branchDir(name), s"snapshot/snap-$id.json"),
      mapper.writeValueAsString(snap))
  }

  /** Drop a branch ref. Data files the branch created stay on disk until
    * [[removeOrphanFiles]] (they are unreferenced once the ref is gone) —
    * the same no-purge contract as rollback. */
  def deleteBranch(name: String): Boolean = {
    require(branchName.isEmpty, "deleteBranch must run on the main view")
    requireValidBranchName(name)
    fs.delete(branchDir(name), true)
  }

  def branches: Seq[String] = {
    val dir = new Path(root, "branch")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName).sorted
  }

  /** A view of this table reading and committing on branch `name`. */
  def forBranch(name: String): GraftTable = {
    requireValidBranchName(name)
    require(fs.exists(new Path(branchDir(name), "snapshot")), s"no such branch: $name")
    new GraftTable(spark, root, schemaMeta, Some(name), hadoopConf, fs)
  }

  /** Every OTHER ref sharing this root, as table views (fresh instances:
    * the id-keyed snapshot/file memos must not mix refs). */
  private def siblingRefs: Seq[GraftTable] =
    (None +: branches.map(Option(_))).filterNot(_ == branchName).map {
      case b => new GraftTable(spark, root, schemaMeta, b, hadoopConf, fs)
    }

  /** Paimon's fast_forward: main adopts branch `name`'s history. Main
    * snapshots AFTER the branch's cut point are discarded (they are the
    * divergent history being replaced; their files become orphans for
    * GC — no purge) and the branch's post-cut snapshots are copied in.
    * Refuses if a tag pins a discarded snapshot (the pin would dangle).
    * Returns the new main head id.
    *
    * Crash ordering: adopted snapshots are copied in ASCENDING order
    * first (overwriting same-id diverged JSONs — writeString is an
    * overwrite), then the diverged-only tail (main ids above the
    * branch's head) is deleted DESCENDING — so at every instant main's
    * log is gapless below its current maximum and every listed snapshot
    * is a complete JSON; a crash leaves a partially-spliced but readable
    * log that a re-run (same cut point, still present) completes.
    * Discarded/overwritten ids also drop their commit-claim markers,
    * otherwise the next main commit reusing a discarded id would see a
    * fresh foreign claim and refuse for ClaimTtlMs.
    *
    * Reader contract (same as Paimon's fast_forward replacing the main
    * branch): the splice rewrites the CONTENT of post-cut snapshot ids,
    * so table views/DataFrames constructed before it may serve the
    * replaced history from their id-keyed memos — discard and reload
    * them after a fast-forward. */
  def fastForward(name: String): Long = {
    require(branchName.isEmpty, "fastForward must run on the main view")
    requireValidBranchName(name)
    val bDir = new Path(branchDir(name), "snapshot")
    require(fs.exists(bDir), s"no such branch: $name")
    val bIds = fs.listStatus(bDir).toSeq.map(_.getPath.getName)
      .collect { case SnapRe(id) => id.toLong }.sorted
    require(bIds.nonEmpty, s"branch $name has no snapshots")
    val cut = bIds.head
    val mainIds = fs.listStatus(new Path(root, snapDirRel)).toSeq.map(_.getPath.getName)
      .collect { case SnapRe(id) => id.toLong }.sorted
    require(mainIds.contains(cut),
      s"branch $name cut point $cut is not in main's log (already expired?)")
    val discard = mainIds.filter(_ > cut)
    val pinned = tags.map(_.snapshotId).toSet
    val danglingPins = discard.filter(pinned)
    require(danglingPins.isEmpty,
      s"fastForward would discard tag-pinned snapshots: ${danglingPins.mkString(",")}")
    val adopted = bIds.filter(_ > cut)
    adopted.foreach { id =>
      val body = readString(fs, new Path(bDir, s"snap-$id.json"))
      writeString(fs, new Path(root, s"$snapDirRel/snap-$id.json"), body)
      fs.delete(new Path(root, s"$snapDirRel/.claim-$id"), false)
      snapCache.remove(id); filesCache.remove(id)
    }
    discard.filterNot(adopted.contains).sorted.reverse.foreach { id =>
      fs.delete(new Path(root, s"$snapDirRel/snap-$id.json"), false)
      fs.delete(new Path(root, s"$snapDirRel/.claim-$id"), false)
      snapCache.remove(id); filesCache.remove(id)
    }
    bIds.last
  }

  /** Expire all but the last `retainLast` snapshots and delete data files
    * referenced only by expired ones (Paimon-style snapshot expiry; keeps
    * the metadata and storage footprint bounded for a long-lived table).
    * Tagged snapshots never expire. Returns the expired snapshot ids. */
  /** Time-based expiry (Paimon's snapshot.time-retained): expire every
    * snapshot committed more than `ttlMs` ago, always retaining at least
    * the latest (and, as ever, anything a tag pins). Implemented as a
    * retain-count computed from commit timestamps, so the file/manifest
    * reclamation and tag-pinning rules are exactly [[expireSnapshots]]'. */
  def expireOlderThan(ttlMs: Long, nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
    require(ttlMs >= 0, "ttlMs must be non-negative")
    val cutoff = nowMs - ttlMs
    val all = snapshots
    if (all.isEmpty) return Seq.empty
    val retainCount = math.max(1, all.count(_.timestampMs > cutoff))
    expireSnapshots(retainLast = retainCount)
  }

  def expireSnapshots(retainLast: Int): Seq[Long] = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val dir = new Path(root, snapDirRel)
    val ids = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case SnapRe(id) => id.toLong }.sorted
    if (ids.length <= retainLast) return Seq.empty
    val tagged = tags.map(_.snapshotId).toSet
    val (expireCand, retainTail) = ids.splitAt(ids.length - retainLast)
    // a live stream consumer pins its RESUME WINDOW (S38): incremental
    // resume at nextSnapshot diffs against the last CONSUMED snapshot's
    // file set, so nextSnapshot-1 and everything after must stay
    // readable; stale consumers (consumer.expiration-time) stop pinning
    val pin = consumerPin()
    // S52: the most recent changelog-BEARING snapshot is the next
    // compaction's diff base — expiring it would force a degraded
    // all-+I diff that re-emits unchanged keys to consumers
    val clPin: Set[Long] = ids.lastOption
      .flatMap(last => scala.util.Try(readSnapshot(last)).toOption)
      .flatMap(s => Option(s.lastChangelog)).map(_.longValue).toSet
    val expire = expireCand.filterNot(tagged).filterNot(clPin)
      .filter(id => pin.forall(id < _ - 1))
    val retain = expireCand.filter(id =>
      tagged(id) || clPin(id) || pin.exists(id >= _ - 1)) ++ retainTail
    if (expire.isEmpty) return Seq.empty
    val retainedSnaps = retain.map(readSnapshot)
    val expiredSnaps = expire.map(readSnapshot)
    // files/manifests referenced by ANY OTHER ref sharing this root
    // (main + every branch) are live regardless of what THIS ref
    // expires: a branch cut before the expired snapshots still reads
    // the pre-branch files (S36)
    val sibs = siblingRefs
    // refPaths: a FileMeta keeps both its data file AND its deletion-
    // vector sidecar live; a superseded vector (pointer swapped by a
    // later delete) is referenced only by expired snapshots and is
    // reclaimed here with them (S37)
    val external: Set[String] =
      sibs.flatMap(t => t.snapshots.flatMap(s => t.filesOf(s).flatMap(_.refPaths))).toSet
    val retained: Set[String] =
      retainedSnaps.flatMap(s => filesOf(s).flatMap(_.refPaths)).toSet ++ external
    val orphans = expiredSnaps.flatMap(s => filesOf(s).flatMap(_.refPaths))
      .toSet -- retained
    orphans.foreach(deleteDataFile)
    // manifests referenced only by expired snapshots are orphans too
    val externalManifests = sibs.flatMap(t => t.snapshots.flatMap(t.manifestsOf)).toSet
    val retainedManifests = retainedSnaps.flatMap(manifestsOf).toSet ++ externalManifests
    val orphanManifests = expiredSnaps.flatMap(manifestsOf).toSet -- retainedManifests
    orphanManifests.foreach { m =>
      fs.delete(new Path(root, s"manifest/$m"), false)
      manifestCache.remove(m)
    }
    // bucket-index delta dirs (S48) referenced only by expired snapshots
    // are orphans the same way (later snapshots INHERIT the chain, so a
    // delta goes unreferenced only after a fold superseded it)
    val externalIdx = sibs.flatMap(t => t.snapshots.flatMap(t.bucketIndexChainOf)).toSet
    val retainedIdx = retainedSnaps.flatMap(bucketIndexChainOf).toSet ++ externalIdx
    val orphanIdx = expiredSnaps.flatMap(bucketIndexChainOf).toSet -- retainedIdx
    orphanIdx.foreach(p => fs.delete(new Path(root, p), true))
    // S52: a full-compaction changelog dir belongs to exactly ONE
    // snapshot — expired with it (unless a sibling ref shares it)
    val externalCl = sibs.flatMap(t => t.snapshots.flatMap(s => Option(s.changelogDir))).toSet
    val retainedCl = retainedSnaps.flatMap(s => Option(s.changelogDir)).toSet ++ externalCl
    val orphanCl = expiredSnaps.flatMap(s => Option(s.changelogDir)).toSet -- retainedCl
    orphanCl.foreach(p => fs.delete(new Path(root, p), true))
    expire.foreach { id =>
      fs.delete(new Path(root, s"$snapDirRel/snap-$id.json"), false)
      // keep the memo honest: an expired snapshot must read as missing
      // (readIncrement's expiry error contract), not serve stale meta
      snapCache.remove(id)
      filesCache.remove(id)
    }
    expire
  }

  /** Delete data files referenced by NO snapshot and older than `ttlMs`
    * (Paimon's remove_orphan_files): strays from aborted jobs or
    * speculatively duplicated write attempts. The TTL grace period
    * protects files of a commit still in flight. Returns deleted paths. */
  def removeOrphanFiles(ttlMs: Long = 3600 * 1000L): Seq[String] = {
    // the reference universe is EVERY ref sharing this root — a file
    // live only in a branch is not an orphan (S36)
    val referenced: Set[String] =
      (this +: siblingRefs)
        .flatMap(t => t.snapshots.flatMap(s => t.filesOf(s).flatMap(_.refPaths))).toSet
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return Seq.empty
    val rootQ = fs.makeQualified(new Path(root)).toString
    val now = System.currentTimeMillis()
    val out = mutable.ArrayBuffer[String]()
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) {
        val rel = st.getPath.toString.stripPrefix(rootQ).stripPrefix("/")
        // an index sidecar lives and dies with its data file: it is
        // orphaned iff the data file it indexes is unreferenced
        val base = FileIndexBuilder.Suffixes.find(rel.endsWith)
          .map(sfx => rel.dropRight(sfx.length)).getOrElse(rel)
        // >= so ttlMs=0 means "all unreferenced": with strict >, a file
        // whose modification time lands in the SAME millisecond as `now`
        // survives a ttl-0 sweep (observed as a suite flake — data file
        // reclaimed, its same-ms sidecar kept)
        if (!referenced.contains(base) && now - st.getModificationTime >= ttlMs) {
          fs.delete(st.getPath, false)
          out += rel
        }
      }
    }
    // S48: bucket-index delta DIRS from crashed commits (written before
    // the claim, cleaned only by commitOrClean on a thrown failure — a
    // killed writer leaves them referenced by no snapshot's chain)
    val idxDir = new Path(root, "index")
    if (fs.exists(idxDir)) {
      val refIdx: Set[String] = (this +: siblingRefs)
        .flatMap(t => t.snapshots.flatMap(t.bucketIndexChainOf)).toSet
      fs.listStatus(idxDir).foreach { st =>
        val rel = s"index/${st.getPath.getName}"
        if (!refIdx.contains(rel) && now - st.getModificationTime >= ttlMs) {
          fs.delete(st.getPath, true)
          out += rel
        }
      }
    }
    // S52: changelog dirs from crashed/raced compactions (written
    // before the claim; cleaned by commitOrClean only on a THROWN
    // failure — a killed writer leaves them referenced by no snapshot)
    val clDir = new Path(root, "changelog")
    if (fs.exists(clDir)) {
      val refCl: Set[String] = (this +: siblingRefs)
        .flatMap(t => t.snapshots.flatMap(s => Option(s.changelogDir))).toSet
      fs.listStatus(clDir).foreach { st =>
        val rel = s"changelog/${st.getPath.getName}"
        if (!refCl.contains(rel) && now - st.getModificationTime >= ttlMs) {
          fs.delete(st.getPath, true)
          out += rel
        }
      }
    }
    out.toSeq
  }

  /** Delete a data file together with its index sidecars (best-effort). */
  private def deleteDataFile(rel: String): Unit =
    FileIndexBuilder.deleteWithSidecars(fs, new Path(root, rel))

  // ---- schema evolution ----------------------------------------------

  private def allSchemas: Seq[SchemaMeta] = {
    val dir = new Path(root, "schema")
    fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case SchemaRe(id) => id.toLong }
      .sorted
      .map(id => mapper.readValue(readString(fs, new Path(root, s"schema/schema-$id.json")), classOf[SchemaMeta]))
  }

  /** Add a nullable column; existing files read as NULL for it. On an
    * id-stamped table the new column gets a FRESH field id (never a
    * recycled one — see nextFieldId), so files written before the add
    * resolve it as absent, not as some other column's data. */
  /** Names a schema-evolution step may not introduce on a row-tracking
    * table: rejecting the ALTER here keeps the table usable — the
    * rowTracking getter's validate-on-read would otherwise throw on
    * every subsequent statement of an already-bricked table. Reads the
    * raw OPTION (not the validating getter), so renaming a clashing
    * column AWAY from a reserved name stays possible on a table an
    * older vintage bricked. */
  private def requireNotReservedLineage(name: String): Unit =
    require(!options.get("row-tracking.enabled").exists(_.toBoolean) ||
      !GraftTable.isReservedLineage(name),
      s"row-tracking tables reserve column name $name for lineage metadata")

  def addColumn(name: String, dataType: DataType): Unit = {
    // case-insensitive: two columns differing only by case make every
    // reference AMBIGUOUS under Spark's default resolver
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name exists")
    requireNotReservedLineage(name)
    val newField =
      if (fieldIdsComplete) GraftTable.withFieldId(StructField(name, dataType), nextFieldId)
      else StructField(name, dataType) // legacy id-less table: stay name-resolved
    val next = schemaMeta.copy(
      id = schemaMeta.id + 1,
      // extend the LATTICE, not the runtime schema — rebuilding from the
      // normalized view would silently strip char/varchar declarations
      fieldsJson = StructType(lattice.fields :+ newField).json)
    writeSchema(next)
  }

  /** S43: update table OPTIONS as a new schema version (the ALTER TABLE
    * SET/UNSET TBLPROPERTIES surface). Layout- and semantics-critical
    * options are immutable here: bucket/bucket-key need a data re-hash
    * (rescaleBucket is the sound path), file.format would misread every
    * existing file (readers resolve the format table-wide), and
    * merge-engine / sequence.field would silently change the fold
    * semantics of ALREADY-WRITTEN row versions. row-tracking.enabled is
    * a creation-time property (as in Paimon): toggling it ON mid-history
    * would let pre-tracking COMPACTED files slip past readWithLineage's
    * vintage guard (compacted files are exempt because tracking-aware
    * folds materialize their lineage columns — a pre-tracking fold
    * materialized nothing) and read NULL _row_id for every row. */
  private val ImmutableOptions =
    Set("bucket", "bucket-key", "file.format", "merge-engine", "sequence.field",
      "row-tracking.enabled")

  def setOptions(kv: Map[String, String]): Unit = updateOptions(kv, Seq.empty)

  def removeOptions(keys: Seq[String]): Unit = updateOptions(Map.empty, keys)

  /** One ALTER statement = ONE schema version, however many properties
    * it sets/unsets — per-change versions would leave a half-applied
    * ALTER visible to readers if the writer dies between them. */
  def updateOptions(set: Map[String, String], remove: Seq[String]): Unit = {
    if (set.isEmpty && remove.isEmpty) return
    val bad = (set.keySet ++ remove).intersect(ImmutableOptions)
    require(bad.isEmpty,
      s"immutable table option(s): ${bad.mkString(", ")} " +
        "(bucket layout changes go through rescaleBucket)")
    writeSchema(schemaMeta.copy(
      id = schemaMeta.id + 1,
      options = schemaMeta.options ++ set -- remove))
  }

  /** Rename a column, keeping its field id: existing parquet files keep
    * reading through id resolution, so old data appears under the new
    * name with zero rewrite (ref: PrestoSqlMetadataBase.java:307
    * renameColumn → Paimon SchemaChange.renameColumn; ITCase
    * TestPrestoSqlITCase.java:342 testRenameColumn). Like Paimon,
    * columns the layout references BY NAME (partition keys, primary
    * keys, bucket keys, sequence fields) cannot be renamed. */
  def renameColumn(from: String, to: String): Unit = {
    requireIdEvolvable(from, "rename")
    // case-insensitive duplicate check, but a case-only rename of the
    // SAME column (v -> V) stays legal
    require(!schema.fieldNames.exists(n => n != from && n.equalsIgnoreCase(to)),
      s"column $to exists")
    requireNotReservedLineage(to)
    val next = schemaMeta.copy(
      id = schemaMeta.id + 1,
      fieldsJson = StructType(lattice.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)).json)
    writeSchema(next)
  }

  /** Drop a column. Old files keep their (now unreferenced) data; a
    * later re-add of the same name gets a fresh field id, so the dropped
    * values never resurrect (ref: PrestoSqlMetadataBase.java:328
    * dropColumn; ITCase TestPrestoSqlITCase.java:366 testDropColumn). */
  def dropColumn(name: String): Unit = {
    requireIdEvolvable(name, "drop")
    require(schema.fields.length > 1, "cannot drop the last column")
    val next = schemaMeta.copy(
      id = schemaMeta.id + 1,
      fieldsJson = StructType(lattice.fields.filterNot(_.name == name)).json)
    writeSchema(next)
  }

  private def writeSchema(next: SchemaMeta): Unit = {
    writeString(fs, new Path(root, s"schema/schema-${next.id}.json"), mapper.writeValueAsString(next))
    schemaMeta = next
  }

  /** Every lattice column carries a field id (true for all tables this
    * code creates; false only for legacy pre-field-id layouts). */
  private def fieldIdsComplete: Boolean =
    lattice.fields.nonEmpty && lattice.fields.forall(f => GraftTable.fieldId(f).isDefined)

  private def requireIdEvolvable(c: String, op: String): Unit = {
    require(fileFormat == "parquet",
      s"$op column requires file.format=parquet (field-id resolved reads)")
    require(fieldIdsComplete,
      s"$op column requires a table created with field ids (legacy table — compact first)")
    require(schema.fieldNames.contains(c), s"no such column: $c")
    require(!partitionKeys.contains(c), s"cannot $op partition column $c")
    require(!primaryKeys.contains(c), s"cannot $op primary-key column $c")
    require(!bucketKeys.contains(c), s"cannot $op bucket-key column $c")
    require(!sequenceFields.contains(c), s"cannot $op sequence.field column $c")
    // S49: fields.<g>.sequence-group options reference columns by name;
    // a rename/drop would leave a dangling reference that fails every
    // subsequent read — freeze them like the other layout columns
    require(!columnSequenceGroup.contains(c),
      s"cannot $op column $c: referenced by a fields.*.sequence-group option")
  }

  /** Next never-used field id: the max across ALL schema versions + 1,
    * so an id dropped in version N is not recycled by an add in N+1
    * (a recycled id would resurrect the dropped column's file data). */
  private def nextFieldId: Long = {
    val ids = allSchemas.flatMap(s =>
      DataType.fromJson(s.fieldsJson).asInstanceOf[StructType]
        .fields.flatMap(GraftTable.fieldId))
    if (ids.isEmpty) lattice.fields.length.toLong else ids.max + 1
  }
}

object GraftTable {
  val SeqCol = "__seq"
  val KindCol = "__kind"

  // S64: physical lineage columns a row-tracking COMPACT materializes
  // into rewritten files (appended files derive ids positionally)
  val RowIdCol = "__row_id"

  val RowSeqCol = "__row_seq"
  /** Data-column names a row-tracking table may not use: they would
    * shadow the lineage metadata columns (S65). */
  val ReservedLineageCols: Set[String] =
    RowLineage.MetaColNames + GraftV2Table.FileCol

  /** Case-folded membership test (Spark resolves — and shadows metadata
    * columns — case-insensitively under the default resolver). The ONE
    * spelling of the rule; every guard goes through here. */
  def isReservedLineage(name: String): Boolean =
    ReservedLineageCols(name.toLowerCase(java.util.Locale.ROOT))
  /** S48: write-plan-only column carrying a row's pre-assigned dynamic
    * bucket (never stored in data files). */
  val DynBucketCol = "__bucket"

  /** StructField metadata key Spark's parquet writer/readers use for
    * field-id column resolution (the key ParquetUtils.FIELD_ID_METADATA_KEY
    * names) — stored in the lattice JSON, embedded in footers at write,
    * matched at read. The table format's stable column identity. */
  val FieldIdKey = "parquet.field.id"

  private[sources] def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey)) else None

  private[sources] def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** Stamp FRESH positional field ids, dropping any ids the incoming
    * schema carries (a CTAS from a join of two graft tables would
    * otherwise arrive with duplicate ids). */
  private def stampFieldIds(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) => withFieldId(f, i.toLong) })

  /** A commit claim with no published snapshot older than this is
    * considered abandoned (writer died between claim and publish) and may
    * be broken by the next committer of that id. */
  val ClaimTtlMs: Long = 10 * 60 * 1000L

  /** char/varchar live only in the declared lattice; runtime DataFrames
    * carry plain strings (CHAR padding is a write-time invariant). */
  private[sources] def normalizeRuntime(dt: DataType): DataType = dt match {
    case CharType(_) | VarcharType(_) => StringType
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = normalizeRuntime(f.dataType))))
    case ArrayType(et, n) => ArrayType(normalizeRuntime(et), n)
    case MapType(k, v, n) => MapType(normalizeRuntime(k), normalizeRuntime(v), n)
    case other => other
  }

  private def hasTimeType(dt: DataType): Boolean = dt match {
    case _: TimeType => true
    case s: StructType => s.fields.exists(f => hasTimeType(f.dataType))
    case ArrayType(et, _) => hasTimeType(et)
    case MapType(k, v, _) => hasTimeType(k) || hasTimeType(v)
    case _ => false
  }

  /** Paimon's RowKind lattice (ref: the +I/-U/+U/-D row kinds the
    * reference's audit_log and changelog readers distinguish). */
  object RowKind {
    val Insert = "+I"
    val UpdateBefore = "-U"
    val UpdateAfter = "+U"
    val Delete = "-D"
  }
  val BucketCol = "__bucket"
  private val SnapRe = "snap-(\\d+)\\.json".r
  private val SchemaRe = "schema-(\\d+)\\.json".r

  private[sources] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  private[graft] def fileSystem(spark: SparkSession, root: String): FileSystem =
    handleFs(spark, root)._2

  /** A new handle's Hadoop configuration and the FileSystem of `root`. */
  private def handleFs(spark: SparkSession, root: String): (Configuration, FileSystem) = {
    val conf = spark.sessionState.newHadoopConf()
    (conf, new Path(root).getFileSystem(conf))
  }

  private[sources] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r > 0) { bytes.write(buf, 0, r); r = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[sources] def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Hive's directory name for a null partition value. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** External (castPartitionValue-shaped) value → Catalyst internal
    * representation — shared by partition-ident listing, manifest agg
    * rows and split planning. */
  def toInternalValue(v: Any): Any = v match {
    case null => null
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case bd: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(bd)
    case other => other
  }

  /** Parse a byte-size option value: `<n>b|kb|mb|gb` (Paimon's memory-size
    * convention) or a bare number = bytes. */
  def parseBytes(v: String): Long = {
    val s = v.trim.toLowerCase
    val m = "^(\\d+)\\s*(b|kb|mb|gb)?$".r.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"unparseable byte size: $v"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "kb" => n * 1024L
      case "mb" => n * 1024L * 1024
      case "gb" => n * 1024L * 1024 * 1024
      case _ => n
    }
  }

  /** Parse a duration option value to millis: `<n>ms|s|m|h|d` (Paimon's
    * duration-string convention) or a bare number = millis. */
  def parseDurationMs(v: String): Long = {
    val s = v.trim.toLowerCase
    val m = "^(\\d+)\\s*(ms|s|m|h|d)?$".r.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"unparseable duration: $v"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "s" => n * 1000L
      case "m" => n * 60_000L
      case "h" => n * 3_600_000L
      case "d" => n * 86_400_000L
      case _ => n // "ms" or bare number
    }
  }

  private[sources] def castPartitionValue(v: String, dt: DataType): Any =
    if (v == NullPartition) null else dt match {
    case IntegerType => v.toInt
    case LongType => v.toLong
    case ShortType => v.toShort
    case StringType => v
    case BooleanType => v.toBoolean
    case DoubleType => v.toDouble
    case FloatType => v.toFloat
    case DateType => java.sql.Date.valueOf(v)
    case other => throw new IllegalArgumentException(s"unsupported partition type $other")
  }

  /** Decode ONLY the %XX escapes Spark's escapePathName produces.
    * (URLDecoder would also turn '+' into a space, corrupting literal
    * '+' in partition values — Hive-style escaping never encodes '+'.) */
  private[sources] def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val out = new StringBuilder(s.length)
    val byteBuf = new java.io.ByteArrayOutputStream(8)
    def flushBytes(): Unit = if (byteBuf.size() > 0) {
      out.append(new String(byteBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      byteBuf.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        try {
          byteBuf.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } catch { case _: NumberFormatException => flushBytes(); out.append(c); i += 1 }
      } else { flushBytes(); out.append(c); i += 1 }
    }
    flushBytes()
    out.toString
  }

  def create(
      spark: SparkSession,
      root: String,
      schema: StructType,
      partitionKeys: Seq[String] = Seq.empty,
      primaryKeys: Seq[String] = Seq.empty,
      options: Map[String, String] = Map.empty,
      /** false = id-less legacy lattice, resolved by NAME. The migrate
        * path (S45) uses it: adopted files carry no parquet field ids,
        * and an id-carrying requested schema would null out every
        * column (fieldId.read.ignoreMissing) instead of name-matching.
        * Id-less tables read correctly and still support ADD COLUMN;
        * RENAME/DROP refuse via requireIdEvolvable — the honest
        * contract for files whose footers cannot be restamped without
        * the rewrite migration exists to avoid. */
      stampIds: Boolean = true): GraftTable = {
    require(partitionKeys.forall(schema.fieldNames.contains), "unknown partition key")
    require(primaryKeys.forall(schema.fieldNames.contains), "unknown primary key")
    // reject a bricked-from-birth table HERE, not on first use: a
    // reserved-name column would shadow the lineage metadata columns
    // and every later statement would throw from the rowTracking getter
    if (options.get("row-tracking.enabled").exists(_.toBoolean)) {
      val clash = schema.fieldNames.filter(isReservedLineage)
      require(clash.isEmpty,
        s"row-tracking tables reserve column name(s) ${clash.mkString(", ")} " +
          "for lineage metadata")
    }
    val (conf, fs) = handleFs(spark, root)
    val schemaDir = new Path(root, "schema")
    require(!fs.exists(schemaDir), s"table already exists at $root")
    fs.mkdirs(schemaDir)
    fs.mkdirs(new Path(root, "snapshot"))
    val fields = if (stampIds) stampFieldIds(schema) else StructType(
      schema.fields.map(f => f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val meta = SchemaMeta(0L, fields.json, partitionKeys, primaryKeys, options)
    writeString(fs, new Path(root, "schema/schema-0.json"), mapper.writeValueAsString(meta))
    new GraftTable(spark, root, meta, None, conf, fs)
  }

  def load(spark: SparkSession, root: String): GraftTable = {
    val (conf, fs) = handleFs(spark, root)
    val dir = new Path(root, "schema")
    require(fs.exists(dir), s"no graft table at $root")
    val latest = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case SchemaRe(id) => id.toLong }.max
    val meta = mapper.readValue(
      readString(fs, new Path(root, s"schema/schema-$latest.json")), classOf[SchemaMeta])
    new GraftTable(spark, root, meta, None, conf, fs)
  }

  def exists(spark: SparkSession, root: String): Boolean =
    fileSystem(spark, root).exists(new Path(root, "schema"))

  /** S45: in-place migration (Paimon's `migrate_table` procedure): adopt
    * an existing raw-parquet directory — flat or hive-partitioned
    * (`k=v` dirs) — as a graft table WITHOUT rewriting a byte of data.
    * At 100 TB a copy-based migration is a full corpus rewrite; here the
    * cost is one footer read per file (schema + min/max stats + row
    * count, so data skipping / COUNT pushdown / CBO stats work from day
    * one) plus a same-filesystem rename, and ONE snapshot commit.
    *
    * Crash-safe and resumable: schema first, then per-file moves, then
    * the commit. A crash mid-move leaves a table with zero snapshots —
    * re-running the same migrate moves the REMAINING source files and
    * commits everything found under `data/` (already-moved files are
    * re-adopted from their footers). Only the published snapshot makes
    * the files live; until then nothing reads them.
    *
    * Adopted files carry no parquet field-ids, so the table is created
    * with an ID-LESS (name-resolved) lattice — the legacy mode of the
    * S9 field-id evolution: reads match by name, ADD COLUMN works,
    * RENAME/DROP COLUMN refuse loudly (requireIdEvolvable — footers
    * cannot be restamped without the rewrite migration exists to
    * avoid). Append tables only (a PK table needs key-clustered sorted
    * runs migration cannot guarantee).
    * (ref: paimon docs migrate_table; the connector reads migrated
    * tables like any other — PrestoSplitManager has no special case.) */
  def migrate(
      spark: SparkSession,
      sourceDir: String,
      root: String,
      options: Map[String, String] = Map.empty): GraftTable = {
    require(options.getOrElse("file.format", "parquet") == "parquet",
      "migrate adopts parquet directories (file.format=parquet)")
    val fs = fileSystem(spark, root)
    val src = new Path(sourceDir)

    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else if (n.endsWith(".parquet")) Seq(st) else Seq.empty
    }
    /** hive-style partition segments of `p` relative to `base`. */
    def partSegs(base: Path, p: Path): Seq[(String, String)] = {
      val baseQ = fs.makeQualified(base).toString.stripSuffix("/") + "/"
      val rel = fs.makeQualified(p).toString.stripPrefix(baseQ)
      rel.split("/").dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"non-partition directory under migration source: $seg")
        seg.take(i) -> unescapePath(seg.drop(i + 1))
      }
    }

    val table =
      if (!exists(spark, root)) {
        require(fs.exists(src) && fs.getFileStatus(src).isDirectory,
          s"no source directory at $sourceDir")
        val first = walk(fs.getFileStatus(src))
        require(first.nonEmpty, s"no parquet files under $sourceDir")
        val keys = partSegs(src, first.head.getPath).map(_._1)
        // one spark.read infers the full schema incl. typed partition
        // columns from the k=v layout (driver-side footer merge)
        val schema = spark.read.parquet(sourceDir).schema
        create(spark, root, schema, partitionKeys = keys, primaryKeys = Seq.empty,
          options = options, stampIds = false)
      } else {
        val t = load(spark, root)
        require(t.latestSnapshotId.isEmpty,
          s"table at $root already has snapshots — migrate only resumes " +
            "into a snapshot-less target")
        t
      }

    // Move remaining source files into data/, preserving partition dirs
    // but RENAMING each file to a table-unique name: raw Spark writes
    // reuse one basename (part-00000-<jobUUID>...) across every
    // partition dir a task touched, while graft's own invariant — which
    // the S47 index rebuild (rewriteFileIndex keys its rows by basename)
    // relies on — is that basenames are unique TABLE-WIDE.
    val migId = UUID.randomUUID().toString.take(8)
    var seq = 0
    if (fs.exists(src)) walk(fs.getFileStatus(src)).foreach { st =>
      val segs = partSegs(src, st.getPath)
      require(segs.map(_._1) == table.partitionKeys,
        s"file ${st.getPath} has partition layout ${segs.map(_._1).mkString("/")}, " +
          s"table declares ${table.partitionKeys.mkString("/")}")
      val rel = (Seq("data") ++ segs.map { case (k, v) =>
        s"$k=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"
      } :+ f"mig-$migId-$seq%05d-${st.getPath.getName}").mkString("/")
      seq += 1
      val dst = new Path(root, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(st.getPath, dst), s"failed to move ${st.getPath} to $dst")
    }

    // adopt EVERYTHING under data/ (moved now or by a crashed prior run)
    val conf = spark.sessionState.newHadoopConf()
    val dataDir = new Path(root, "data")
    val metas = walk(fs.getFileStatus(dataDir)).map { st =>
      val footer = FileStats.fromFooter(conf, st.getPath)
      val rootQ = fs.makeQualified(new Path(root)).toString.stripSuffix("/") + "/"
      val rel = fs.makeQualified(st.getPath).toString.stripPrefix(rootQ)
      FileMeta(rel, partSegs(dataDir, st.getPath).toMap, st.getLen, bucket = 0,
        stats = footer.stats, rowCount = footer.rowCount)
    }
    table.commitAt(1, "APPEND", metas)
    table
  }
}
