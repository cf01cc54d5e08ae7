package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, Murmur3Hash, Pmod, StringRPad, Substring, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** Everything a WRITE TASK needs to place rows into the table layout and
  * report file metadata back — built once on the driver, serialized to
  * executors. The executor side computes per-file min/max stats and row
  * counts from the footer it just wrote and ships them home inside the
  * commit message, so the driver never re-opens data files at commit
  * (the reference's commit protocol does the same: Paimon write tasks
  * report `DataFileMeta` in `CommitMessage`s; ref: the file-meta flow
  * behind PrestoSplitManager.java's reads of committed manifests). */
final case class GraftWriteSpec(
    rootUri: String, // fully-qualified table root
    fileFormat: String, // parquet | orc
    commitUuid: String,
    writeSchema: StructType, // schema of incoming InternalRows
    fileDataSchema: StructType, // on-disk column set/order (runtime types)
    charPad: Map[String, Int], // CHAR(n) columns → pad/truncate width
    varcharTrunc: Map[String, Int], // VARCHAR(n) columns → truncate width
    partitionKeys: Seq[String],
    bucketKeys: Seq[String],
    numBuckets: Int,
    maxOpenWriters: Int,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    // V2 writes of a PK table: the incoming rows carry only table
    // columns, so the writer itself attaches the hidden commit sequence
    // and row kind, and (rows arriving clustered+sorted by key, winner
    // first) keeps only the first row of each consecutive key group —
    // the distributed form of the V1 within-batch dedup.
    hiddenSeq: Option[Long] = None,
    hiddenKind: Option[String] = None,
    dedupKeys: Seq[String] = Seq.empty,
    // rows arrive sorted by (primary key asc, version desc): every file
    // this task writes is a sorted run (any subsequence of a sorted
    // stream is sorted), recorded in FileMeta for the streaming merge
    keySorted: Boolean = false,
    // S48 dynamic bucket mode: rows arrive with a PRE-ASSIGNED bucket in
    // this writeSchema column (computed driver-plan-side from the
    // key-hash→bucket index); the writer routes by it and never stores
    // it (it is not in fileDataSchema). None = static hash routing.
    dynamicBucketCol: Option[String] = None,
    // S70: schema-declared NOT NULL columns (nullable=false in the table
    // schema) — the task writer rejects a null loudly per row, so every
    // entry path (append, V2 batch write, row-level rewrite, streaming
    // sink) enforces the constraint at the same single point. Spark only
    // adds AssertNotNull on the SQL INSERT path (TableOutputResolver);
    // direct DataFrame/table-API writes would otherwise store the null.
    notNullCols: Seq[String] = Seq.empty,
    // the table's primary keys (empty for append tables): Delete-kind
    // tombstone rows are exempt from the NOT NULL check on NON-key
    // columns — delete()'s contract is that non-key values are ignored
    // by the merge, so rejecting a NULL placeholder there would break
    // the documented API (ADVICE r18)
    pkCols: Seq[String] = Seq.empty,
    // the index sidecars each written file gets (bloom, variant shreds,
    // bitmap, BSI), computed by a FileIndexBuilder bound to the stored
    // values; empty = no sidecar and no per-row index work
    index: FileIndexSpec = FileIndexSpec())

object GraftWrite {

  /** Driver-side prep: delegate to the real ParquetFileFormat/OrcFileFormat
    * `prepareWrite` so task writers inherit Spark's own output machinery
    * (codec, schema conversion, writer confs) instead of re-plumbing it. */
  def spec(
      spark: SparkSession, table: GraftTable, writeSchema: StructType,
      hiddenSeq: Option[Long] = None, hiddenKind: Option[String] = None,
      dedupKeys: Seq[String] = Seq.empty, keySorted: Boolean = false,
      dynamicBucketCol: Option[String] = None,
      // S64: extra physical columns this write materializes (the
      // lineage-preserving compact's __row_id/__row_seq)
      extraDataCols: Seq[StructField] = Seq.empty): GraftWriteSpec = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // embed the lattice's parquet.field.id metadata in every footer —
    // the write half of rename/drop schema evolution (id-resolved reads)
    job.getConfiguration.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fileDataSchema = StructType(table.fileDataSchema.fields ++ extraDataCols)
    val format: org.apache.spark.sql.execution.datasources.FileFormat =
      if (table.fileFormat == "orc") new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      else if (table.fileFormat == "avro") new GraftAvroFileFormat
      else new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // avro honors file.compression (snappy|deflate|none); parquet/orc
    // keep Spark's own codec confs — their option namespace is distinct
    val writeOptions =
      if (table.fileFormat == "avro")
        table.options.filter(_._1 == "file.compression")
      else Map.empty[String, String]
    val factory = format.prepareWrite(spark, job, writeOptions, fileDataSchema)
    val lattice = table.lattice
    val charPad = lattice.fields.collect {
      case StructField(n, CharType(w), _, _) if fileDataSchema.fieldNames.contains(n) => n -> w
    }.toMap
    val varcharTrunc = lattice.fields.collect {
      case StructField(n, VarcharType(w), _, _) if fileDataSchema.fieldNames.contains(n) => n -> w
    }.toMap
    val fs = GraftTable.fileSystem(spark, table.root)
    GraftWriteSpec(
      rootUri = fs.makeQualified(new Path(table.root)).toString,
      fileFormat = table.fileFormat,
      commitUuid = java.util.UUID.randomUUID().toString.take(8),
      writeSchema = writeSchema,
      fileDataSchema = fileDataSchema,
      charPad = charPad,
      varcharTrunc = varcharTrunc,
      partitionKeys = table.partitionKeys,
      bucketKeys = table.bucketKeys,
      numBuckets = table.numBuckets,
      maxOpenWriters = table.options.getOrElse("write.max-open-writers", "16").toInt,
      factory = factory,
      conf = new SerializableConfiguration(job.getConfiguration),
      hiddenSeq = hiddenSeq,
      hiddenKind = hiddenKind,
      dedupKeys = dedupKeys,
      keySorted = keySorted,
      dynamicBucketCol = dynamicBucketCol,
      notNullCols = table.schema.fields.filterNot(_.nullable).map(_.name).toSeq
        .filter(writeSchema.fieldNames.contains),
      pkCols = table.primaryKeys.filter(writeSchema.fieldNames.contains),
      index = FileIndexBuilder.spec(table, writeSchema.fieldNames.contains))
  }

  /** mapPartitions body for the library write path (static method so the
    * closure captures only the serializable spec, never a GraftTable). */
  def writePartition(spec: GraftWriteSpec)(rows: Iterator[InternalRow]): Iterator[Seq[FileMeta]] = {
    if (rows.isEmpty) return Iterator.empty
    val tc = TaskContext.get()
    val w = new GraftTaskWriter(spec, s"${tc.partitionId()}-${tc.taskAttemptId()}")
    var ok = false
    try {
      rows.foreach(w.write)
      val metas = w.commit()
      ok = true
      Iterator.single(metas)
    } finally if (!ok) w.abort()
  }
}

/** Growable primitive long buffer (no boxing on the per-row path) —
  * shared by the file-index builder (1024 initial: files hold many
  * hashes and positions) and the delta writer's per-file delete buffers
  * (16 initial: sparse changes touch many files with few rows each). */
private[sources] final class LongBuf(initial: Int = 1024) {
  var arr = new Array[Long](initial)
  var n = 0
  def add(v: Long): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v
    n += 1
  }
  /** Sorted copy of the filled prefix. */
  def sorted(): Array[Long] = {
    val r = java.util.Arrays.copyOf(arr, n)
    java.util.Arrays.sort(r)
    r
  }
}

/** Executor-side writer: routes each row to its (partition, bucket) file,
  * applying the declared CHAR/VARCHAR write semantics, and reports
  * [[FileMeta]] (incl. footer min/max stats + row count) on commit.
  *
  * Fan-out is bounded: at most `maxOpenWriters` files are open at once;
  * the least-recently-opened group is closed early and reopens as a new
  * file if more of its rows arrive (more, smaller files — never
  * unbounded writer memory). The V2 write requests clustering by
  * (partition, bucket-key) columns, so in practice a task sees few
  * groups. */
final class GraftTaskWriter(spec: GraftWriteSpec, taskUniq: String) {

  private val conf = new Configuration(spec.conf.value)
  private val attempt = new TaskAttemptContextImpl(
    conf, new TaskAttemptID(new TaskID(new JobID(spec.commitUuid, 0), TaskType.MAP, 0), 0))
  private val root = new Path(spec.rootUri)
  private val fs = root.getFileSystem(conf)

  private def ref(name: String): Expression = {
    val i = spec.writeSchema.fieldIndex(name)
    BoundReference(i, spec.writeSchema(i).dataType, spec.writeSchema(i).nullable)
  }

  /** Stored value of a write-schema column (CHAR pad / VARCHAR truncate
    * applied) — shared by the data projection and the file index, so
    * the index always covers exactly the bytes the file holds. */
  private def storedValue(name: String): Expression =
    spec.charPad.get(name)
      .map(n => StringRPad(ref(name), Literal(n), Literal(" ")): Expression)
      .orElse(spec.varcharTrunc.get(name)
        .map(n => Substring(ref(name), Literal(1), Literal(n)): Expression))
      .getOrElse(ref(name))

  private val dataProj = UnsafeProjection.create(spec.fileDataSchema.fields.toIndexedSeq.map { f =>
    if (!spec.writeSchema.fieldNames.contains(f.name)) f.name match {
      // hidden PK columns a V2 write attaches writer-side
      case GraftTable.SeqCol => Literal(spec.hiddenSeq.get, f.dataType): Expression
      case GraftTable.KindCol =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(spec.hiddenKind.get),
          f.dataType): Expression
      case other => throw new IllegalStateException(s"write input missing column $other")
    }
    else storedValue(f.name)
  })

  // sidecar contents of every file this task writes; None (no index
  // configured) keeps the per-row path to one Option check
  private val index: Option[FileIndexBuilder] =
    if (spec.index.isEmpty) None else Some(new FileIndexBuilder(spec.index, storedValue))

  // consecutive-key dedup (see GraftWriteSpec.dedupKeys)
  private val keyProj: Option[UnsafeProjection] =
    if (spec.dedupKeys.isEmpty) None
    else Some(UnsafeProjection.create(spec.dedupKeys.toIndexedSeq.map(ref)))
  private var lastKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _

  // partition values render through Cast-to-string — the same rendering
  // Spark's own dynamic-partition writer uses for directory names
  private val partProj: Option[UnsafeProjection] =
    if (spec.partitionKeys.isEmpty) None
    else Some(UnsafeProjection.create(
      spec.partitionKeys.toIndexedSeq.map(k => Cast(ref(k), StringType, Some("UTC")): Expression)))

  private val bucketProj: Option[UnsafeProjection] =
    if (spec.numBuckets > 1 && spec.bucketKeys.nonEmpty)
      Some(UnsafeProjection.create(Seq(
        Pmod(new Murmur3Hash(spec.bucketKeys.map(ref)), Literal(spec.numBuckets)): Expression)))
    else None

  // S48: pre-assigned dynamic bucket ordinal in the incoming row
  private val dynBucketIdx: Option[Int] =
    spec.dynamicBucketCol.map(spec.writeSchema.fieldIndex)

  private final class Open(
      val writer: org.apache.spark.sql.execution.datasources.OutputWriter,
      val relPath: String,
      val partition: Map[String, String],
      val bucket: Int) {
    val index: Option[FileIndexBuilder#File] = GraftTaskWriter.this.index.map(_.newFile())
    // avro has no harvestable footer: the writer's own count becomes
    // FileMeta.rowCount (captured at close — see closeOne)
    var rowCount: Long = -1L
  }

  private val open = mutable.LinkedHashMap[(Seq[String], Int), Open]()
  private val closed = mutable.ArrayBuffer[Open]()
  private var nFiles = 0

  // S70 NOT NULL enforcement: (writeSchema ordinal, column name) pairs,
  // split key/non-key — a Delete-kind tombstone's NON-key values are
  // ignored by the merge (GraftTable.delete's contract), so only the
  // key columns stay enforced on -D rows (ADVICE r18)
  private val notNullKeyIdx: Array[(Int, String)] =
    spec.notNullCols.filter(spec.pkCols.contains)
      .map(c => (spec.writeSchema.fieldIndex(c), c)).toArray
  private val notNullNonKeyIdx: Array[(Int, String)] =
    spec.notNullCols.filterNot(spec.pkCols.contains)
      .map(c => (spec.writeSchema.fieldIndex(c), c)).toArray
  private val kindOrd: Int =
    spec.writeSchema.fieldNames.indexOf(GraftTable.KindCol)
  private val deleteKind =
    org.apache.spark.unsafe.types.UTF8String.fromString(GraftTable.RowKind.Delete)

  def write(row: InternalRow): Unit = {
    def checkNotNull(idx: Array[(Int, String)]): Unit = {
      var nn = 0
      while (nn < idx.length) {
        if (row.isNullAt(idx(nn)._1))
          throw new IllegalStateException(
            s"NOT NULL constraint violated: column '${idx(nn)._2}' " +
              "received a NULL row (the table schema declares it non-nullable)")
        nn += 1
      }
    }
    // the consecutive-key skip comes FIRST: a losing duplicate is never
    // stored, so its values must not fail the write (a NULL in a NOT NULL
    // column of a row the dedup drops anyway)
    keyProj.foreach { kp =>
      val k = kp(row)
      if (lastKey != null && k == lastKey) return // later version of a key already written
      lastKey = k.copy()
    }
    checkNotNull(notNullKeyIdx)
    val isTombstone = kindOrd >= 0 && !row.isNullAt(kindOrd) &&
      row.getUTF8String(kindOrd) == deleteKind
    if (!isTombstone) checkNotNull(notNullNonKeyIdx)
    val partVals: Seq[String] = partProj match {
      case None => Nil
      case Some(p) =>
        val r = p(row)
        spec.partitionKeys.indices.map(i => if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
    }
    val bucket = dynBucketIdx match {
      case Some(i) =>
        // a null here means the assignment join failed to cover a key —
        // silently writing bucket 0 (getInt on null) would split the
        // key across buckets and corrupt the MOR merge; fail the task
        if (row.isNullAt(i))
          throw new IllegalStateException("dynamic bucket not assigned for row")
        row.getInt(i)
      case None => bucketProj.map(_(row).getInt(0)).getOrElse(0)
    }
    val key = (partVals, bucket)
    val o = open.getOrElseUpdate(key, newWriter(partVals, bucket))
    if (open.size > spec.maxOpenWriters)
      open.keysIterator.find(_ != key).foreach(k => closeOne(open.remove(k).get))
    o.index match {
      case Some(ix) => ix.add(row)
      case None => ()
    }
    o.writer.write(dataProj(row))
  }

  private def newWriter(partVals: Seq[String], bucket: Int): Open = {
    // null AND empty string land in the hive default dir (Spark's own
    // dynamic-partition rendering rule, kept for V1-written-table parity)
    val rendered = spec.partitionKeys.zip(partVals).map { case (k, v) =>
      k -> (if (v == null || v.isEmpty) GraftTable.NullPartition else v)
    }
    val dirSegs = rendered.map { case (k, v) => s"$k=${ExternalCatalogUtils.escapePathName(v)}" }
    val rel = (Seq("data") ++ dirSegs).mkString("/") +
      f"/${spec.commitUuid}-$taskUniq-b$bucket-$nFiles%05d.${spec.fileFormat}"
    nFiles += 1
    val abs = new Path(root, rel)
    fs.mkdirs(abs.getParent)
    new Open(spec.factory.newInstance(abs.toString, spec.fileDataSchema, attempt),
      rel, rendered.toMap, bucket)
  }

  private def closeOne(o: Open): Unit = {
    o.writer match {
      case a: GraftAvroOutputWriter => o.rowCount = a.rowCount
      case _ => ()
    }
    o.writer.close()
    o.index.foreach(_.write(fs, new Path(root, o.relPath)))
    closed += o
  }

  def commit(): Seq[FileMeta] = {
    open.values.toSeq.foreach(closeOne)
    open.clear()
    closed.toSeq.map { o =>
      val abs = new Path(root, o.relPath)
      val footer =
        if (spec.fileFormat == "orc") FileStats.fromOrcFooter(conf, abs)
        // avro: no footer stats — row count from the writer, no min/max
        // (absent stats mean "never prune", which is the sound default)
        else if (spec.fileFormat == "avro") FileFooter(Map.empty, o.rowCount)
        else FileStats.fromFooter(conf, abs)
      FileMeta(o.relPath, o.partition, fs.getFileStatus(abs).getLen, o.bucket,
        footer.stats, footer.rowCount,
        sorted = if (spec.keySorted) java.lang.Boolean.TRUE else null)
    }
  }

  def abort(): Unit = {
    open.values.foreach(o => try o.writer.close() catch { case _: Exception => () })
    (open.values ++ closed).foreach(o =>
      FileIndexBuilder.deleteWithSidecars(fs, new Path(root, o.relPath)))
    open.clear(); closed.clear()
  }
}

// ---- DataSource V2 write surface ---------------------------------------

final case class GraftCommitMessage(files: Seq[FileMeta]) extends WriterCommitMessage

/** V2 write negotiation for non-PK tables: append, truncate-overwrite,
  * partition-filter overwrite, and dynamic partition overwrite all land
  * as snapshot commits. PK tables keep the V1 upsert path (their write IS
  * a query: batch dedup + changelog lookup), which GraftV2Table signals
  * by not advertising BATCH_WRITE for them. */
final class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode = "append"
  private var overwriteFilters: Array[Filter] = Array.empty

  /** DataFrameWriter.save plans every SaveMode.Overwrite as
    * OverwriteByExpression(true) — the dynamic-overwrite intent only
    * survives as the `partitionOverwriteMode` option / session conf, so
    * honor it here, exactly like Spark's built-in file source does. */
  private def dynamicRequested: Boolean = {
    val conf = SparkSession.active.sessionState.conf
      .getConfString("spark.sql.sources.partitionOverwriteMode", "STATIC")
    Option(info.options.get("partitionOverwriteMode")).getOrElse(conf)
      .equalsIgnoreCase("dynamic")
  }

  override def truncate(): WriteBuilder = {
    mode = if (table.partitionKeys.nonEmpty && dynamicRequested) "dynamic" else "truncate"
    this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncate()
    else { mode = "filter"; overwriteFilters = filters }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = { mode = "dynamic"; this }

  override def build(): Write = new GraftWriteImpl(table, info.schema(), mode, overwriteFilters,
    // S59: per-write event-time watermark stamped into the snapshot
    Option(info.options.get("commit.watermark")).map(_.toLong))
}

/** Distribution contract:
  *
  * Non-PK tables request clustering on (partition keys ++ bucket keys),
  * NOT strictly: Spark then plans a RebalancePartitions, which AQE
  * splits on skew and coalesces when small, instead of a rigid hash
  * repartition. Each write task therefore sees few (partition,
  * bucket-key) groups and the task writer's bounded fan-out rarely
  * evicts.
  *
  * PK tables request a STRICT hash clustering on the primary key plus a
  * within-partition sort (key asc, version order desc), so every version
  * of a key meets in one task with the winner first — the task writer's
  * consecutive-key dedup is then exactly the V1 within-batch dedup,
  * distributed. Strict matters: a rebalance could split one key's rows
  * across tasks mid-sort and break the dedup invariant. */
final class GraftWriteImpl(
    table: GraftTable, writeSchema: StructType, mode: String, filters: Array[Filter],
    watermark: Option[Long] = None)
    extends Write with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, SortDirection}

  private def clusterCols: Seq[String] =
    if (table.isPkTable) table.primaryKeys
    else table.partitionKeys ++ (if (table.numBuckets > 1) table.bucketKeys else Seq.empty)

  override def requiredDistribution(): Distribution =
    if (clusterCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(clusterCols.map(c => Expressions.column(c): V2Expression).toArray)

  override def distributionStrictlyRequired(): Boolean = table.isPkTable

  override def requiredOrdering(): Array[V2SortOrder] =
    if (!table.isPkTable) Array.empty
    else {
      val version =
        if (table.sequenceFields.nonEmpty) table.sequenceFields
        else { // dedupBatch's fallback order: the orderable non-key columns
          import org.apache.spark.sql.catalyst.expressions.RowOrdering
          table.schema.fields.filter(f =>
            !table.primaryKeys.contains(f.name) && RowOrdering.isOrderable(f.dataType))
            .map(_.name).toSeq
        }
      (table.primaryKeys.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)) ++
        version.map(c => Expressions.sort(Expressions.column(c), SortDirection.DESCENDING))).toArray
    }

  override def toBatch: BatchWrite =
    new GraftBatchWrite(table, writeSchema, mode, filters, watermark)
}

final class GraftBatchWrite(
    table: GraftTable, writeSchema: StructType, mode: String, filters: Array[Filter],
    watermark: Option[Long] = None)
    extends BatchWrite {

  /** Base captured at write start: the staged files' __seq equals the
    * committed snapshot id, and a concurrent commit in the write window
    * surfaces as an optimistic-concurrency conflict instead of silently
    * overwriting state it never saw (same contract as the V1 paths). */
  private val base: Long = table.latestSnapshotId.getOrElse(0L)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spec =
      if (table.isPkTable)
        GraftWrite.spec(table.spark, table, writeSchema,
          hiddenSeq = Some(base + 1), hiddenKind = Some(GraftTable.RowKind.Insert),
          // folding merge engines need EVERY version kept — consecutive-key
          // dedup in the task writer is only sound for deduplicate
          dedupKeys =
            if (table.mergeEngine == "deduplicate") table.primaryKeys else Seq.empty,
          // requiredDistribution/Ordering guarantee (pk asc, version
          // desc) within every task → each output file is a sorted run
          keySorted = true)
      else GraftWrite.spec(table.spark, table, writeSchema)
    new GraftDataWriterFactory(spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.toSeq.flatMap { case GraftCommitMessage(f) => f }
    table.commitV2(mode, added, filters.toSeq, base, watermark)
  }

  /** Tasks clean their own failures (GraftTaskWriter.abort); this sweeps
    * files of tasks that SUCCEEDED before the job died (incl. a failed
    * snapshot commit — Spark calls abort when commit throws). */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fsys = GraftTable.fileSystem(table.spark, table.root)
    // see GraftV2 BatchWrite.abort: a post-publish commit throwable must
    // not delete files a durable snapshot references
    val live = table.publishedDataPaths.getOrElse(return)
    messages.toSeq.filter(_ != null).flatMap { case GraftCommitMessage(f) => f }
      .filterNot(f => live.contains(f.path))
      .foreach(f => FileIndexBuilder.deleteWithSidecars(fsys, new Path(table.root, f.path)))
  }
}

final class GraftDataWriterFactory(spec: GraftWriteSpec) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val tw = new GraftTaskWriter(spec, s"$partitionId-$taskId")
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = tw.write(row)
      override def commit(): WriterCommitMessage = GraftCommitMessage(tw.commit())
      override def abort(): Unit = tw.abort()
      override def close(): Unit = ()
    }
  }
}

/** Writer factory for row-level REPLACE writes (UPDATE / MERGE /
  * rewrite-DELETE). Group-based plans without metadata projections hand
  * the writer the raw query output, which Spark prefixes with the
  * `__row_operation` int column (RowDeltaUtils.OPERATION_COLUMN) that
  * LogicalWriteInfo.schema() does NOT report — detected from the first
  * row's arity and stripped with one projection. */
final class GraftReplaceDataWriterFactory(spec: GraftWriteSpec) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val tw = new GraftTaskWriter(spec, s"$partitionId-$taskId")
    new DataWriter[InternalRow] {
      private val n = spec.writeSchema.length
      private var checked = false
      private var strip: UnsafeProjection = _
      override def write(row: InternalRow): Unit = {
        if (!checked) {
          checked = true
          if (row.numFields == n + 1)
            strip = UnsafeProjection.create(spec.writeSchema.fields.toIndexedSeq.zipWithIndex
              .map { case (f, i) => BoundReference(i + 1, f.dataType, f.nullable): Expression })
          else require(row.numFields == n,
            s"replace write expected $n (or ${n + 1} op-prefixed) columns, got ${row.numFields}")
        }
        tw.write(if (strip != null) strip(row) else row)
      }
      override def commit(): WriterCommitMessage = GraftCommitMessage(tw.commit())
      override def abort(): Unit = tw.abort()
      override def close(): Unit = ()
    }
  }
}
