package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one reader of the non-PK scans that work on physical row positions
  * inside a data file or append per-file constants: deletion vectors
  * (S37), claimed bitmap/BSI filters (S55/S66), row lineage (S64/S65) and
  * the `_file`/`_partition`/`_bucket` metadata columns (S44).
  *
  * A partition is read file by file (sequential single-file sub-readers:
  * the interleaved-reader hazard documented on GraftMorReaderFactory only
  * bites concurrently open readers). A file with a deletion vector reads
  * through `unfiltered`, the scan's factory with no pushed filters,
  * because parquet row-group skipping would desynchronize the physical
  * row counter the masks and ids are keyed on (Spark re-applies every
  * pushed predicate above the scan, so dropping the pushdown costs only
  * I/O); every other file reads through `filtered`. The caller decides
  * which scans need every position of every file (claimed filters,
  * `_pos`/`_row_id`/`_sequence_number`) and hands such a scan the
  * unfiltered factory as `filtered` too. A partition with no dv file, no
  * claim and no metadata column is handed to `filtered` whole.
  * The position is taken BEFORE the masks apply — the dv skip, then the
  * claim keep-mask — so survivors' positions and derived ids are stable
  * under deletes by construction. A missing claim is an invariant breach
  * (a sidecar reclaimed mid-query) and fails loudly.
  *
  * `_row_id`/`_sequence_number` are the stored `__row_id`/`__row_seq`
  * columns (compacted files) coalesced over the commit-assigned
  * `firstRowId + pos` / `rowSeq`. Input rows are [data…, part…], with
  * the two stored columns between the halves when `stored` is set (the
  * caller's lineage read schema); output rows are [data…, part…, meta…]
  * per the scan's readSchema, metadata columns in `metaNames` order.
  *
  * Row-based for every partition: Spark requires one columnar answer for
  * the whole scan, so a dv'd file anywhere in the snapshot makes the scan
  * row-based (compaction, which purges vectors, restores the columnar
  * path). Rows come from `createReader` on the scan's vectorized file
  * factories.
  *
  * Each reader reports what it masked as task metrics: the rows a
  * deletion vector skipped and the rows a claim keep-mask dropped, out
  * of the rows it decoded (a row both masks drop counts as dv-skipped;
  * a file's rows past its last kept position are never decoded). */
final class PositionalReaderFactory(
    filtered: PartitionReaderFactory,
    unfiltered: PartitionReaderFactory,
    dataTypes: Array[DataType],
    partTypes: Array[DataType],
    stored: Boolean,
    metaNames: Array[String],
    claimed: Seq[Filter],
    tableRoot: String,
    conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  private def hasDv(pf: PartitionedFile): Boolean =
    pf.otherConstantMetadataColumnValues.contains(DeletionVector.DvKey)

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    if (metaNames.isEmpty && claimed.isEmpty && !fp.files.exists(hasDv))
      return filtered.createReader(p)
    new PartitionReader[InternalRow] {
      private val counts = new MaskCounts
      private var i = 0
      private var cur: FileRows = _
      override def next(): Boolean = {
        while (cur != null || i < fp.files.length) {
          if (cur == null) { cur = new FileRows(fp.index, fp.files(i), counts); i += 1 }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): InternalRow = cur.get()
      override def currentMetricsValues(): Array[CustomTaskMetric] = counts.values
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }

  /** The rows one reader's masks dropped, reported as task metrics. */
  private final class MaskCounts {
    var dvSkipped = 0L
    var claimDropped = 0L
    def values: Array[CustomTaskMetric] = Array(
      ScanMetric.task(PositionalReaderFactory.DvRowsSkipped, dvSkipped),
      ScanMetric.task(PositionalReaderFactory.ClaimRowsDropped, claimDropped))
  }

  /** The rows of one whole data file, masked and extended. */
  private final class FileRows(index: Int, pf: PartitionedFile, counts: MaskCounts) {
    private val consts = pf.otherConstantMetadataColumnValues
    // the decoded path: `filePath.toString` is the URI form, where a
    // partition directory `city=New York` reads `New%20York`
    private val path = pf.filePath.toPath
    private val abs = path.toString
    // files live under <root>/data/ — recover the root-relative path the
    // manifest records, robust to scheme qualification of the root
    private val rel = abs.substring(abs.lastIndexOf("/data/") + 1)
    private val firstRowId: Long =
      consts.get(RowLineage.FirstRowIdKey).map(_.asInstanceOf[Long]).getOrElse(-1L)
    private val rowSeq: Long =
      consts.get(RowLineage.RowSeqKey).map(_.asInstanceOf[Long]).getOrElse(-1L)
    private val dv: Array[Long] = consts.get(DeletionVector.DvKey)
      .map(d => DeletionVector.read(conf.value, tableRoot, d.toString)).orNull
    private val keep: Array[Long] =
      if (claimed.isEmpty) null
      else FileIndex.keepFor(path.getFileSystem(conf.value), path, claimed)
    private val rows = (if (hasDv(pf)) unfiltered else filtered)
      .createReader(FilePartition(index, Array(pf)))

    private val nData = dataTypes.length
    private val meta = new GenericInternalRow(metaNames.length)
    metaNames.indices.foreach { m =>
      metaNames(m) match {
        case GraftV2Table.FileCol => meta.update(m, UTF8String.fromString(rel))
        case GraftV2Table.PartCol =>
          meta.update(m, UTF8String.fromString(consts(GraftV2Table.PartValKey).toString))
        case GraftV2Table.BucketCol => meta.update(m, consts(GraftV2Table.BucketValKey))
        case _ => // positional: set per row
      }
    }
    private val dataPart =
      if (stored) new GenericInternalRow(nData + partTypes.length) else null
    private val joined = new JoinedRow

    private var pos = -1L
    private var dvI = 0
    private var keepI = 0

    def next(): Boolean = {
      while ((keep == null || keepI < keep.length) && rows.next()) {
        pos += 1
        if (dv != null) while (dvI < dv.length && dv(dvI) < pos) dvI += 1
        val deleted = dv != null && dvI < dv.length && dv(dvI) == pos
        val kept = keep == null || (keep(keepI) == pos && { keepI += 1; true })
        if (deleted) counts.dvSkipped += 1
        else if (kept) return true
        else counts.claimDropped += 1
      }
      false
    }

    def get(): InternalRow = {
      val in = rows.get()
      if (metaNames.isEmpty) return in
      var m = 0
      while (m < metaNames.length) {
        metaNames(m) match {
          case RowLineage.PosCol => meta.setLong(m, pos)
          case RowLineage.IdCol =>
            meta.setLong(m,
              if (!in.isNullAt(nData)) in.getLong(nData)
              else if (firstRowId >= 0) firstRowId + pos
              else throw new IllegalStateException(
                s"file $rel carries neither a materialized __row_id nor a " +
                  "commit-assigned firstRowId — pre-tracking vintage?"))
          case RowLineage.SeqCol =>
            meta.setLong(m,
              if (!in.isNullAt(nData + 1)) in.getLong(nData + 1)
              else if (rowSeq >= 0) rowSeq
              else throw new IllegalStateException(
                s"file $rel carries neither a materialized __row_seq nor a " +
                  "commit-assigned rowSeq — pre-tracking vintage?"))
          case _ =>
        }
        m += 1
      }
      if (!stored) return joined(in, meta)
      // cut the stored columns out, nulls copied as nulls: `get` on a
      // columnar row reads the column buffer without a null check (the
      // file factories hand out projected UnsafeRows, but the copy must
      // not depend on the row class)
      var j = 0
      while (j < nData) { copy(in, j, j, dataTypes(j)); j += 1 }
      var k = 0
      while (k < partTypes.length) { copy(in, nData + 2 + k, nData + k, partTypes(k)); k += 1 }
      joined(dataPart, meta)
    }

    private def copy(in: InternalRow, from: Int, to: Int, dt: DataType): Unit =
      if (in.isNullAt(from)) dataPart.setNullAt(to) else dataPart.update(to, in.get(from, dt))

    def close(): Unit = rows.close()
  }
}

object PositionalReaderFactory {
  /** Names of the positional reader's task metrics, declared by
    * [[GraftScan.supportedCustomMetrics]] on non-PK scans. */
  val DvRowsSkipped = "dvRowsSkipped"
  val ClaimRowsDropped = "claimRowsDropped"
}

final class DvRowsSkippedMetric extends ScanMetric(
  PositionalReaderFactory.DvRowsSkipped, "rows skipped by deletion vectors")
final class ClaimRowsDroppedMetric extends ScanMetric(
  PositionalReaderFactory.ClaimRowsDropped, "rows dropped by claim keep-masks")
