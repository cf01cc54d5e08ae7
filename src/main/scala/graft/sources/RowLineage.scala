package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.apache.hadoop.fs.Path

/** S65: row-level UPDATE / MERGE / DELETE on row-tracking tables — the
  * lift of S64's one refusal, done MERGE-ON-READ instead of group
  * copy-on-write (Paimon's deletion-vectors row-level-op shape):
  *
  *  - deleted target rows become DELETION-VECTOR positions on their
  *    source files (S37 sidecars; no data file is rewritten, so every
  *    surviving row's physical position — and therefore its derived
  *    `_row_id` — is untouched),
  *  - updated rows append into NEW files with their original `_row_id`
  *    MATERIALIZED as a physical `__row_id` column (the S64 compaction
  *    trick) and `__row_seq` = the committing snapshot,
  *  - inserted rows (MERGE NOT MATCHED) append into plain files and take
  *    fresh commit-assigned ids like any append.
  *
  * Spark drives this through the delta-based row-level API
  * ([[org.apache.spark.sql.connector.write.SupportsDelta]]): the
  * operation declares `rowId = (_file, _pos)` (physical identity) and
  * `requiredMetadataAttributes = (_row_id, _sequence_number)`, all four
  * served as DSv2 METADATA COLUMNS by [[PositionalReaderFactory]]; the
  * analyzer's rewrite then delivers per-row callbacks —
  * `delete(meta, id)`, `update(meta, id, row)`, `insert(row)` — to
  * [[GraftDeltaWriter]]. Write amplification is O(changed rows), not
  * O(touched groups): the 100 TB reason to prefer this over the CoW
  * rewrite GraftRowLevelOperation keeps for non-tracking tables.
  *
  * Scale shape: UPDATE/MERGE request one non-strict (partition,
  * bucket-key) clustering — the same exchange the append write pays, so
  * the bounded task writer sees contiguous groups; DELETE adds no
  * exchange at all. Each task buffers only its own delete positions
  * (8 B/row), writes PARTIAL dv sidecars executor-side, and the commit
  * merges partials per file in a small parallelized job (driver memory
  * stays O(touched files)).
  *
  * Ref: Paimon row-tracking.enabled update semantics (row id stable
  * across UPDATE, _sequence_number bumps to the committing snapshot);
  * the reference connector predates row tracking, so this surface is
  * graded against Paimon's documented contract. */
object RowLineage {
  /** Metadata-column names (Paimon's `_ROW_ID` / `_SEQUENCE_NUMBER`
    * surface, lower-cased like Spark's `_metadata`). */
  val IdCol = "_row_id"
  val SeqCol = "_sequence_number"
  /** Physical row position within the data file (pre-dv order) — the
    * positional half of the delta row identity. */
  val PosCol = "_pos"
  val MetaColNames: Set[String] = Set(IdCol, SeqCol, PosCol)

  private def metaCol(n: String, nullable: Boolean, comment0: String) =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = n
      override def dataType: DataType = LongType
      override def isNullable: Boolean = nullable
      override def comment: String = comment0
    }
  // _row_id/_sequence_number declare NULLABLE: a MERGE's not-matched
  // branch feeds them null literals through the delta plan (the scan
  // itself never emits null). _pos stays non-null — row-id attributes
  // must be (Spark validates), and every scanned row has a position.
  val IdMetaColumn = metaCol(IdCol, nullable = true,
    "stable row id (row-tracking.enabled)")
  val SeqMetaColumn = metaCol(SeqCol, nullable = true,
    "snapshot that last wrote this row version")
  val PosMetaColumn = metaCol(PosCol, nullable = false,
    "physical row position within _file")

  /** PartitionedFile constant keys carrying the file's commit-assigned
    * id range (absent for lineage-materialized compacted files). */
  val FirstRowIdKey = "__graft_first_row_id"
  val RowSeqKey = "__graft_row_seq"
}

/** The delta-based row-level operation for row-tracking tables — see
  * the [[RowLineage]] scaladoc for the full shape. The scan builder is
  * flagged rowLevelReplace so bitmap claims and reader row-group
  * pruning stay off (the metadata-column request independently forces
  * the unsplit positional read). */
final class GraftDeltaRowLevelOperation(
    table: GraftTable,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftScanBuilder(SparkSession.active, table, options, rowLevelReplace = true)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftV2Table.FileCol), Expressions.column(RowLineage.PosCol))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    // plain dv-append tables have no lineage to preserve — Spark then
    // drives the non-metadata delta task (null metadata per callback)
    if (table.rowTracking)
      Array(Expressions.column(RowLineage.IdCol), Expressions.column(RowLineage.SeqCol))
    else Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(table, cmd)
    }

  override def description(): String = s"GraftDeltaRowLevelOperation[$cmd]"
}

/** UPDATE/MERGE request a non-strict clustering on (partition, bucket
  * key) columns — same contract as the append write: hash-interleaved
  * buckets under a MERGE join's key order would evict the task writer
  * on nearly every row once groups ≫ maxOpenWriters (the S48 wall).
  * DELETE requests nothing: its plan carries no row attributes to
  * cluster on, and delete positions buffer per file in any order. */
final class GraftDeltaWrite(table: GraftTable, cmd: RowLevelOperation.Command)
    extends DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}

  override def requiredDistribution(): Distribution = {
    val cols = table.partitionKeys ++
      (if (table.numBuckets > 1) table.bucketKeys else Seq.empty)
    if (cmd == RowLevelOperation.Command.DELETE || cols.isEmpty)
      Distributions.unspecified()
    else Distributions.clustered(
      cols.map(c => Expressions.column(c): V2Expression).toArray)
  }
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(table)
  override def description(): String = s"GraftDeltaWrite[${table.root}]"
}

/** One task's delta output: new data files (update-rewrites carry
  * materialized lineage and are committed as compacted; inserts take
  * fresh commit-assigned ids) plus PARTIAL deletion-vector sidecars —
  * (root-relative data path, partial dv path, positions). */
final case class GraftDeltaCommitMessage(
    lineageFiles: Seq[FileMeta],
    plainFiles: Seq[FileMeta],
    dvParts: Seq[(String, String, Long)]) extends WriterCommitMessage

final class GraftDeltaBatchWrite(table: GraftTable) extends DeltaBatchWrite {

  private val base: Long = table.latestSnapshotId.getOrElse(0L)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // specs are driver-prepared; a pure DELETE never writes data files
    // but the specs are cheap and the factory stays uniform
    val lineageCols = Seq(
      StructField(GraftTable.RowIdCol, LongType), StructField(GraftTable.RowSeqCol, LongType))
    val lineageSpec = GraftWrite.spec(table.spark, table,
      StructType(table.schema.fields ++ lineageCols), extraDataCols = lineageCols)
    val plainSpec = GraftWrite.spec(table.spark, table, table.schema)
    val fs = GraftTable.fileSystem(table.spark, table.root)
    new GraftDeltaWriterFactory(lineageSpec, plainSpec, base + 1,
      fs.makeQualified(new Path(table.root)).toString,
      new SerializableConfiguration(table.spark.sessionState.newHadoopConf()))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.filter(_ != null).map { case m: GraftDeltaCommitMessage => m }
    val lineage = ms.flatMap(_.lineageFiles)
    val plain = ms.flatMap(_.plainFiles)
    val dvParts = ms.flatMap(_.dvParts)
    if (lineage.isEmpty && plain.isEmpty && dvParts.isEmpty) return // matched nothing
    table.commitDelta(lineage, plain, dvParts, base)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fsys = GraftTable.fileSystem(table.spark, table.root)
    // same discipline as every other abort: never delete what a
    // published snapshot references; unknown state skips deletion
    val live = table.publishedDataPaths.getOrElse(return)
    messages.toSeq.filter(_ != null).foreach { case m: GraftDeltaCommitMessage =>
      (m.lineageFiles ++ m.plainFiles).filterNot(f => live.contains(f.path))
        .foreach(f => FileIndexBuilder.deleteWithSidecars(fsys, new Path(table.root, f.path)))
      // partial dvs are pre-commit scratch — EXCEPT when commitDelta's
      // direct fast path adopted one AS the snapshot-referenced final
      // and a post-publish throwable routed us here: live now carries
      // dv refPaths, so the adopted sidecar is skipped like a data file
      m.dvParts.filterNot { case (_, rel, _) => live.contains(rel) }
        .foreach { case (_, rel, _) =>
          try fsys.delete(new Path(table.root, rel), false)
          catch { case _: java.io.IOException => () }
        }
    }
  }
}

final class GraftDeltaWriterFactory(
    lineageSpec: GraftWriteSpec, plainSpec: GraftWriteSpec, newSeq: Long,
    rootUri: String, conf: SerializableConfiguration)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(lineageSpec, plainSpec, newSeq, s"$partitionId-$taskId",
      rootUri, conf)
}

/** Per-task delta writer. Projection layouts (fixed by the operation's
  * declarations): `id` = (_file utf8, _pos long); `meta` = (_row_id
  * long, _sequence_number long); `row` = the table schema. The
  * projections Spark hands in are REUSED row views — values are read
  * (or written through) before the next callback. */
final class GraftDeltaWriter(
    lineageSpec: GraftWriteSpec, plainSpec: GraftWriteSpec, newSeq: Long,
    taskUniq: String, rootUri: String, conf: SerializableConfiguration)
    extends DeltaWriter[InternalRow] {

  private var lineageW: GraftTaskWriter = _
  private var plainW: GraftTaskWriter = _

  private val positions = scala.collection.mutable.HashMap.empty[String, LongBuf]

  private def addDelete(id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString // root-relative data path
    positions.getOrElseUpdate(file, new LongBuf(initial = 16)).add(id.getLong(1))
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = addDelete(id)

  private val idSeq = new GenericInternalRow(2)
  private val joined = new JoinedRow

  private def writeUpdated(meta: InternalRow, row: InternalRow): Unit = {
    // null metadata = a plain dv-append table (the operation declared no
    // metadata attributes): nothing to preserve, the rewritten row is an
    // ordinary append
    if (meta == null) { insert(row); return }
    require(!meta.isNullAt(0) && !meta.isNullAt(1),
      "updated row carries no lineage metadata — pre-tracking vintage?")
    idSeq.update(0, meta.getLong(0)) // original _row_id, preserved
    idSeq.update(1, newSeq) // _sequence_number = the committing snapshot
    if (lineageW == null) lineageW = new GraftTaskWriter(lineageSpec, s"$taskUniq-u")
    lineageW.write(joined(row, idSeq))
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    addDelete(id)
    writeUpdated(meta, row)
  }

  /** Update-as-delete+insert vintage (representUpdateAsDeleteAndInsert):
    * the paired DELETE arrives separately; the reinserted row keeps its
    * id exactly like an update's. */
  override def reinsert(meta: InternalRow, row: InternalRow): Unit = writeUpdated(meta, row)

  override def insert(row: InternalRow): Unit = {
    if (plainW == null) plainW = new GraftTaskWriter(plainSpec, s"$taskUniq-i")
    plainW.write(row)
  }

  private val writtenParts = scala.collection.mutable.ArrayBuffer.empty[String]

  override def commit(): WriterCommitMessage = {
    val lf = if (lineageW != null) lineageW.commit() else Seq.empty
    val pf = if (plainW != null) plainW.commit() else Seq.empty
    val dvParts = positions.toSeq.map { case (file, buf) =>
      val arr = buf.sorted()
      var i = 1
      while (i < arr.length) {
        // a duplicate position = one target row matched twice (MERGE
        // cardinality violation that slipped past Spark's check) — a
        // silent dedupe here would still write TWO rows with one id
        require(arr(i) != arr(i - 1),
          s"row $file:${arr(i)} deleted twice in one task — duplicate MERGE match?")
        i += 1
      }
      val rel = DeletionVector.write(conf.value, rootUri, arr)
      writtenParts += rel
      (file, rel, arr.length.toLong)
    }
    GraftDeltaCommitMessage(lf, pf, dvParts)
  }

  override def abort(): Unit = {
    if (lineageW != null) lineageW.abort()
    if (plainW != null) plainW.abort()
    // partials already written by a commit() that failed MID-LOOP (or
    // whose message was lost) are referenced by no message — reclaim
    // them here; the duplicate-position require above can fire after
    // earlier files' sidecars exist
    val fs = new Path(rootUri).getFileSystem(conf.value)
    writtenParts.foreach { rel =>
      try fs.delete(new Path(rootUri, rel), false)
      catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = ()
}
