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
    // columns with a per-file bloom-filter sidecar (file-index.bloom-
    // filter.columns): the task hashes each stored value and writes
    // <file>.bfidx on close — see BloomIndex
    bloomCols: Seq[String] = Seq.empty,
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
    // columns with a per-file bitmap sidecar (file-index.bitmap.columns,
    // S55): the task records value → ascending row positions and writes
    // <file>.bmidx on close — see BitmapIndex
    bitmapCols: Seq[String] = Seq.empty,
    // columns with a per-file bit-slice sidecar (file-index.bsi.columns,
    // S66): the task records (position, value) pairs and packs the bit
    // slices into <file>.bsidx on close — see BsiIndex
    bsiCols: Seq[String] = Seq.empty,
    // S68 variant shredding (file-index.variant.columns): per STRING
    // JSON column, the configured `$.name` paths — each row contributes
    // the entry hash of the raw extracted text (equality claims) and,
    // when the text parses as a plain integral token, the per-path
    // (min, max) bound (range claims); any non-null unparsable value
    // widens that path's bounds to the full Long range — present but
    // claiming nothing (see GraftTable.variantIndexSpecs)
    variantSpecs: Seq[(String, Seq[String])] = Seq.empty)

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
      bloomCols = table.bloomIndexCols.filter(writeSchema.fieldNames.contains)
        .filter { c =>
          table.schema(c).dataType match {
            // map/array columns index their ENTRIES (subscript pruning)
            // and only when entry rendering is provably plan-replayable
            case n @ (_: org.apache.spark.sql.types.MapType |
                      _: org.apache.spark.sql.types.ArrayType) =>
              graft.functions.MapEntryHashesImpl.subscriptSafe(n)
            case _ => true
          }
        },
      bitmapCols = table.bitmapIndexCols.filter(writeSchema.fieldNames.contains)
        .filter(c => BitmapIndex.supportedType(table.schema(c).dataType)),
      bsiCols = table.bsiIndexCols.filter(writeSchema.fieldNames.contains)
        .filter(c => BsiIndex.supportedType(table.schema(c).dataType)),
      variantSpecs = table.variantIndexSpecs
        .filter { case (c, _) => writeSchema.fieldNames.contains(c) })
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
  * shared by the task writer's sidecar builders (1024 initial: files
  * hold many positions) and the delta writer's per-file delete buffers
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
    * applied) — shared by the data projection and the bloom hashes, so
    * the index always hashes exactly the bytes the file holds. */
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

  // one XxHash64 per indexed column, over the stored (padded) value —
  // the planner hashes predicate literals with the same expression.
  // Map columns contribute an array of per-ENTRY hashes instead (the
  // subscript file index; see MapEntryHashes).
  private def isNested(c: String): Boolean = ref(c).dataType match {
    case _: org.apache.spark.sql.types.MapType => true
    case _: org.apache.spark.sql.types.ArrayType => true
    // struct columns index (field, value) entries only when some leaf is
    // rendering-safe; otherwise they keep the whole-value hash
    case s: org.apache.spark.sql.types.StructType =>
      graft.functions.MapEntryHashesImpl.subscriptSafe(s)
    case _ => false
  }
  private val bloomIsMap: Array[Boolean] = spec.bloomCols.toArray.map(isNested)
  private val bloomProj: Option[UnsafeProjection] =
    if (spec.bloomCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bloomCols.toIndexedSeq.map { c =>
      if (isNested(c))
        graft.functions.MapEntryHashes(ref(c)): Expression
      else
        new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(storedValue(c))): Expression
    }))

  // S55 bitmap index: STORED values (pad/truncate applied) of the
  // configured low-cardinality columns, rendered per row with the same
  // BitmapIndex.render convention the planner applies to predicate
  // literals; the recorded position is the file's physical row order.
  private val bitmapProj: Option[UnsafeProjection] =
    if (spec.bitmapCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bitmapCols.toIndexedSeq.map(storedValue)))
  private val bitmapTypes: Array[org.apache.spark.sql.types.DataType] =
    spec.bitmapCols.toArray.map(c => storedValue(c).dataType)

  // S66 BSI index: raw integral values of the configured columns
  // (dates are epoch-day ints internally — BsiIndex.renderLong's key
  // order); the recorded position is the file's physical row order.
  private val bsiProj: Option[UnsafeProjection] =
    if (spec.bsiCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bsiCols.toIndexedSeq.map(ref)))
  // typed accessors avoid per-row boxing on the hot write path:
  // 0 = Int/Date, 1 = Long, 2 = Short, 3 = Byte
  private val bsiTypeCodes: Array[Int] = spec.bsiCols.toArray.map(c => ref(c).dataType match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType => 0
    case org.apache.spark.sql.types.LongType => 1
    case org.apache.spark.sql.types.ShortType => 2
    case org.apache.spark.sql.types.ByteType => 3
    case other => throw new IllegalStateException(s"unsupported BSI type $other")
  })

  // S68 variant shredding: one flat (column ordinal into variantSpecs,
  // path) list; the projection yields TWO fields per entry — the RAW
  // extracted text (GetJsonObject, hashed with the shared entry-hash
  // convention for equality claims) and its TRY-cast Long (range-stat
  // bounds; a non-null text that fails the cast INVALIDATES the
  // path's stats to the full Long range — the path then claims nothing,
  // so a stats prune can never disagree with variant_get's numeric cast
  // or suppress its error). Cost: one JSON-path evaluation per
  // (row, path) — paid only on tables that opt into the option.
  private val variantFlat: Seq[(Int, String)] =
    spec.variantSpecs.zipWithIndex.flatMap { case ((_, paths), i) => paths.map(i -> _) }
  private val variantProj: Option[UnsafeProjection] =
    if (variantFlat.isEmpty) None
    else Some(UnsafeProjection.create(variantFlat.flatMap { case (ci, p) =>
      val raw = org.apache.spark.sql.catalyst.expressions.GetJsonObject(
        storedValue(spec.variantSpecs(ci)._1), Literal(p))
      Seq(raw,
        Cast(raw, org.apache.spark.sql.types.LongType, None,
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY): Expression)
    }.toIndexedSeq))

  /** Per-(file, column) value → ascending positions. A non-null value
    * that fails to render (over-long) OVERFLOWS the whole column — a
    * silently skipped value would break the "absent key proves no row"
    * claim. Nulls are skipped soundly (no equality literal matches
    * null, and IS NULL pruning is S39's null counts). */
  private final class BitmapBuf {
    val m = mutable.HashMap[String, LongBuf]()
    var overflow = false
    // last-value memo: low-cardinality columns repeat (and often
    // cluster), so most rows skip the render (String + toString
    // allocations) entirely. UTF8Strings from the projection point into
    // a reused buffer — the memo holds a COPY.
    private var lastRaw: Any = _
    private var lastKey: String = _
    def addRaw(v: Any, pos: Long): Unit = {
      if (overflow) return
      if (lastRaw != null && lastRaw == v) { add(lastKey, pos); return }
      BitmapIndex.render(v) match {
        case Some(k) =>
          lastRaw = v match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
            case x => x
          }
          lastKey = k
          add(k, pos)
        case None => invalidate() // over-long value
      }
    }
    def add(key: String, pos: Long): Unit = {
      if (overflow) return
      m.get(key) match {
        case Some(b) => b.add(pos)
        case None =>
          if (m.size >= BitmapIndex.MaxDistinct) { overflow = true; m.clear() }
          else { val b = new LongBuf; b.add(pos); m.put(key, b) }
      }
    }
    def invalidate(): Unit = { overflow = true; m.clear() }
  }

  // Per-entry min/max collection for nested bloom columns whose map
  // value / array element type is integral — the RANGE half of subscript
  // pruning (`props['k'] > 5`, ref range_filters_on_subscripts_enabled):
  // the bloom entry hashes can only answer equality, so the sidecar's v2
  // format adds per-(entry key) (min, max) bounds. Entry keys render with
  // the same toString convention the hashes use. A file whose column
  // exceeds MaxEntryStatKeys distinct keys writes NO stats for it (an
  // incomplete key set would turn "key absent → prune" unsound).
  private val MaxEntryStatKeys = 64
  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }
  /** (bloom col name, writeSchema ordinal, column type) for each nested
    * bloom column eligible for entry range stats. */
  private val entryStatSpecs: Seq[(String, Int, org.apache.spark.sql.types.DataType)] =
    spec.bloomCols.filter { c =>
      ref(c).dataType match {
        case m: org.apache.spark.sql.types.MapType => integralType(m.valueType)
        case a: org.apache.spark.sql.types.ArrayType => integralType(a.elementType)
        // struct: integral leaves get (field name → min/max) range stats
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.exists(f => integralType(f.dataType))
        case _ => false
      }
    }.map(c => (c, spec.writeSchema.fieldIndex(c), ref(c).dataType))

  private final class EntryStatBuf {
    val m = mutable.HashMap[String, Array[Long]]() // key -> [min, max]
    var overflow = false
    def add(key: String, v: Long): Unit = {
      if (overflow) return
      m.get(key) match {
        case Some(b) =>
          if (v < b(0)) b(0) = v
          if (v > b(1)) b(1) = v
        case None =>
          if (m.size >= MaxEntryStatKeys) { overflow = true; m.clear() }
          else m.put(key, Array(v, v))
      }
    }
  }

  private def asLong(v: Any): Long = v match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case s: java.lang.Short => s.longValue
    case b: java.lang.Byte => b.longValue
    case other => throw new IllegalStateException(s"non-integral entry value $other")
  }

  private def collectEntryStats(row: InternalRow, o: Open): Unit = {
    var s = 0
    while (s < entryStatSpecs.length) {
      val (_, ord, dt) = entryStatSpecs(s)
      if (!row.isNullAt(ord)) dt match {
        case m: org.apache.spark.sql.types.MapType =>
          val md = row.getMap(ord)
          val ks = md.keyArray(); val vs = md.valueArray()
          var i = 0
          while (i < md.numElements()) {
            if (!vs.isNullAt(i)) // null values can never match a subscript predicate
              o.entryStatBufs(s).add(ks.get(i, m.keyType).toString, asLong(vs.get(i, m.valueType)))
            i += 1
          }
        case a: org.apache.spark.sql.types.ArrayType =>
          val ad = row.getArray(ord)
          var i = 0
          while (i < ad.numElements()) {
            if (!ad.isNullAt(i)) // entry key = 1-based position, like the hashes
              o.entryStatBufs(s).add((i + 1).toString, asLong(ad.get(i, a.elementType)))
            i += 1
          }
        case st: org.apache.spark.sql.types.StructType =>
          val sr = row.getStruct(ord, st.length)
          var i = 0
          while (i < st.length) {
            val f = st.fields(i)
            if (integralType(f.dataType) && !sr.isNullAt(i))
              o.entryStatBufs(s).add(f.name, asLong(sr.get(i, f.dataType)))
            i += 1
          }
        case _ => ()
      }
      s += 1
    }
  }

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
    val bloomBufs: Array[LongBuf] = Array.fill(spec.bloomCols.size)(new LongBuf)
    val entryStatBufs: Array[EntryStatBuf] = Array.fill(entryStatSpecs.size)(new EntryStatBuf)
    val variantBloomBufs: Array[LongBuf] = Array.fill(spec.variantSpecs.size)(new LongBuf)
    val variantStatBufs: Array[EntryStatBuf] = Array.fill(spec.variantSpecs.size)(new EntryStatBuf)
    val bitmapBufs: Array[BitmapBuf] = Array.fill(spec.bitmapCols.size)(new BitmapBuf)
    val bsiBufs: Array[BsiIndex.BsiBuf] = Array.fill(spec.bsiCols.size)(new BsiIndex.BsiBuf)
    var rowsWritten: Long = 0L
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
    bloomProj.foreach { bp =>
      val hashes = bp(row)
      var i = 0
      while (i < o.bloomBufs.length) {
        if (bloomIsMap(i)) {
          if (!hashes.isNullAt(i)) {
            val a = hashes.getArray(i)
            var j = 0
            while (j < a.numElements()) { o.bloomBufs(i).add(a.getLong(j)); j += 1 }
          }
        } else o.bloomBufs(i).add(hashes.getLong(i))
        i += 1
      }
    }
    if (entryStatSpecs.nonEmpty) collectEntryStats(row, o)
    variantProj.foreach { vp =>
      val r = vp(row)
      var i = 0
      while (i < variantFlat.length) {
        val si = i * 2 // raw text at si, TRY-cast long at si + 1
        if (!r.isNullAt(si)) {
          val (ci, path) = variantFlat(i)
          o.variantBloomBufs(ci).add(graft.functions.MapEntryHashesImpl.hashEntry(
            path, r.getUTF8String(si).toString))
          if (r.isNullAt(si + 1)) {
            // non-integral text: widen THIS path's bounds to full range —
            // the path claims nothing (any numeric predicate "may match")
            // while staying PRESENT in the stats map, so absent-path
            // pruning and the other paths' exact bounds are untouched
            o.variantStatBufs(ci).add(path, Long.MinValue)
            o.variantStatBufs(ci).add(path, Long.MaxValue)
          } else o.variantStatBufs(ci).add(path, r.getLong(si + 1))
        }
        i += 1
      }
    }
    bitmapProj.foreach { bp =>
      val r = bp(row)
      var i = 0
      while (i < o.bitmapBufs.length) {
        if (!r.isNullAt(i))
          o.bitmapBufs(i).addRaw(r.get(i, bitmapTypes(i)), o.rowsWritten)
        i += 1
      }
    }
    bsiProj.foreach { bp =>
      val r = bp(row)
      var i = 0
      while (i < o.bsiBufs.length) {
        if (!r.isNullAt(i)) {
          val v = bsiTypeCodes(i) match {
            case 0 => r.getInt(i).toLong
            case 1 => r.getLong(i)
            case 2 => r.getShort(i).toLong
            case _ => r.getByte(i).toLong
          }
          o.bsiBufs(i).add(o.rowsWritten, v)
        }
        i += 1
      }
    }
    o.writer.write(dataProj(row))
    o.rowsWritten += 1
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
    if (spec.bloomCols.nonEmpty || spec.variantSpecs.nonEmpty)
      BloomIndex.write(fs, new Path(root, o.relPath + BloomIndex.Suffix),
        spec.bloomCols.zip(o.bloomBufs).map { case (c, buf) =>
          c -> BloomIndex.build(buf.arr, buf.n)
        } ++
          // S68: variant shreds are entry-hash blooms over the raw
          // extracted text of the configured paths
          spec.variantSpecs.map(_._1).zip(o.variantBloomBufs).map { case (c, buf) =>
            c -> BloomIndex.build(buf.arr, buf.n)
          },
        entryStatSpecs.zip(o.entryStatBufs).collect {
          case ((c, _, _), buf) if !buf.overflow =>
            c -> buf.m.view.mapValues(b => (b(0), b(1))).toMap
        } ++
          spec.variantSpecs.map(_._1).zip(o.variantStatBufs).collect {
            case (c, buf) if !buf.overflow =>
              c -> buf.m.view.mapValues(b => (b(0), b(1))).toMap
          },
        // declare which blooms hold ENTRY hashes: probing a whole-value
        // bloom with an entry hash (or vice versa) is a false negative —
        // unsound pruning (see BloomIndex.Sidecar.entryCols)
        spec.bloomCols.zip(bloomIsMap).collect { case (c, true) => c }.toSet ++
          spec.variantSpecs.map(_._1))
    if (spec.bitmapCols.nonEmpty)
      BitmapIndex.write(fs, new Path(root, o.relPath + BitmapIndex.Suffix), o.rowsWritten,
        spec.bitmapCols.zip(o.bitmapBufs).collect {
          case (c, buf) if !buf.overflow =>
            c -> buf.m.view.mapValues(b => java.util.Arrays.copyOf(b.arr, b.n)).toMap
        })
    if (spec.bsiCols.nonEmpty)
      BsiIndex.write(fs, new Path(root, o.relPath + BsiIndex.Suffix), o.rowsWritten,
        spec.bsiCols.zip(o.bsiBufs).map { case (c, buf) => c -> buf.result(o.rowsWritten) })
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
    (open.values ++ closed).foreach { o =>
      try {
        fs.delete(new Path(root, o.relPath), false)
        fs.delete(new Path(root, o.relPath + BloomIndex.Suffix), false)
        fs.delete(new Path(root, o.relPath + BitmapIndex.Suffix), false)
        fs.delete(new Path(root, o.relPath + BsiIndex.Suffix), false)
      } catch { case _: java.io.IOException => () }
    }
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
      .filterNot(f => live.contains(f.path)).foreach { f =>
        try {
          fsys.delete(new Path(table.root, f.path), false)
          fsys.delete(new Path(table.root, f.path + BloomIndex.Suffix), false)
        } catch { case _: java.io.IOException => () }
      }
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
