package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GetJsonObject, Literal, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The index sidecars a table's data files carry, after the eligibility
  * rules of [[FileIndexBuilder.spec]]: bloom columns (S28, whole-value
  * hashes, or per-ENTRY hashes for map/array and subscript-safe struct
  * columns), variant shreds (S68, folded into the bloom sidecar), bitmap
  * columns (S55) and bit-slice columns (S66). Serializable: the write
  * spec ships it to executors. */
final case class FileIndexSpec(
    bloomCols: Seq[String] = Seq.empty,
    // per STRING JSON column, the configured `$.name` paths
    variantSpecs: Seq[(String, Seq[String])] = Seq.empty,
    bitmapCols: Seq[String] = Seq.empty,
    bsiCols: Seq[String] = Seq.empty) {

  /** Suffixes of the sidecars this spec writes, one per configured kind. */
  def suffixes: Seq[String] =
    (if (bloomCols.nonEmpty || variantSpecs.nonEmpty) Seq(BloomIndex.Suffix) else Nil) ++
      (if (bitmapCols.nonEmpty) Seq(BitmapIndex.Suffix) else Nil) ++
      (if (bsiCols.nonEmpty) Seq(BsiIndex.Suffix) else Nil)

  def isEmpty: Boolean = suffixes.isEmpty
}

object FileIndexBuilder {

  /** Every sidecar kind a data file can carry. */
  val Suffixes: Seq[String] = Seq(BloomIndex.Suffix, BitmapIndex.Suffix, BsiIndex.Suffix)

  /** The table's configured index, restricted to the columns its data
    * files store (partition values live in directory names) that are
    * `present` in the rows the builder will see, and to the types each
    * kind supports. Map/array blooms index their ENTRIES, and only when
    * the entry rendering is provably plan-replayable: a bloom over a
    * rendering the planner cannot reproduce would turn a literal probe
    * into a false negative, i.e. unsound pruning. */
  def spec(table: GraftTable, present: String => Boolean): FileIndexSpec = {
    val stored = table.fileDataSchema.fieldNames.toSet
    def eligible(c: String): Boolean = stored(c) && present(c)
    FileIndexSpec(
      bloomCols = table.bloomIndexCols.filter(eligible).filter { c =>
        table.schema(c).dataType match {
          case n @ (_: MapType | _: ArrayType) => graft.functions.MapEntryHashesImpl.subscriptSafe(n)
          case _ => true
        }
      },
      variantSpecs = table.variantIndexSpecs.filter { case (c, _) => eligible(c) },
      bitmapCols = table.bitmapIndexCols.filter(eligible)
        .filter(c => BitmapIndex.supportedType(table.schema(c).dataType)),
      bsiCols = table.bsiIndexCols.filter(eligible)
        .filter(c => BsiIndex.supportedType(table.schema(c).dataType)))
  }

  /** Best-effort delete of a data file and every sidecar kind it may
    * carry. Each delete is tried on its own, so an IOException on one
    * never strands the others until orphan GC. */
  def deleteWithSidecars(fs: FileSystem, dataPath: Path): Unit =
    (dataPath +: Suffixes.map(s => new Path(dataPath.toString + s))).foreach { p =>
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    }

  /** Plain column references into rows of `schema` — the rebuild's
    * stored values. */
  def bind(schema: StructType)(c: String): Expression = {
    val i = schema.fieldIndex(c)
    BoundReference(i, schema(i).dataType, schema(i).nullable)
  }

  /** Executor side of `rewrite_file_index` (a static method, so the
    * closure captures no GraftTable): `rows` of `schema` carry the data
    * file's basename at 0, its `_metadata.row_index` at 1 when
    * `positional`, and the indexed columns; each file's rows arrive
    * together and in physical order. Writes each file's `kinds` next to
    * `root/relByName(name)` and returns the basenames indexed. */
  def rebuildPartition(
      spec: FileIndexSpec, schema: StructType, positional: Boolean, root: String,
      relByName: Map[String, String], kinds: Map[String, Seq[String]],
      conf: org.apache.spark.util.SerializableConfiguration)(
      rows: Iterator[InternalRow]): Iterator[String] = {
    val builder = new FileIndexBuilder(spec, bind(schema))
    val fs = new Path(root).getFileSystem(conf.value)
    val done = mutable.ArrayBuffer[String]()
    var name: UTF8String = null
    var file: builder.File = null
    def flush(): Unit = if (file != null) {
      val n = name.toString
      file.write(fs, new Path(root, relByName(n)), kinds(n))
      done += n
    }
    rows.foreach { row =>
      if (name == null || row.getUTF8String(0) != name) {
        flush()
        name = row.getUTF8String(0).copy()
        file = builder.newFile()
      }
      // every row of the file arrives, in order: the builder's row count
      // IS the physical position the bitmap and BSI record
      if (positional) require(row.getLong(1) == file.rows,
        s"row ${row.getLong(1)} of $name arrived out of order")
      file.add(row)
    }
    flush()
    done.iterator
  }

  /** A file whose column exceeds this many distinct entry keys writes NO
    * entry stats for it (an incomplete key set would turn "key absent →
    * prune" unsound). */
  private val MaxEntryStatKeys = 64

  private def integralType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  private def asLong(v: Any): Long = v match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case s: java.lang.Short => s.longValue
    case b: java.lang.Byte => b.longValue
    case other => throw new IllegalStateException(s"non-integral entry value $other")
  }

  /** Per-(file, column) entry key → [min, max]; see MaxEntryStatKeys. */
  private final class EntryStatBuf {
    val m = mutable.HashMap[String, Array[Long]]()
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
    def result: Map[String, (Long, Long)] = m.view.mapValues(b => (b(0), b(1))).toMap
  }

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
            case u: UTF8String => u.copy()
            case x => x
          }
          lastKey = k
          add(k, pos)
        case None => overflow = true; m.clear() // over-long value
      }
    }
    private def add(key: String, pos: Long): Unit =
      m.get(key) match {
        case Some(b) => b.add(pos)
        case None =>
          if (m.size >= BitmapIndex.MaxDistinct) { overflow = true; m.clear() }
          else { val b = new LongBuf; b.add(pos); m.put(key, b) }
      }
  }
}

/** Computes the index sidecars of data files from their rows, fed in
  * each file's physical row order — the one place sidecar contents are
  * computed. The write task feeds every row it writes; `rewrite_file_index`
  * feeds the rows of a file that predates its index options, read back
  * in `_metadata.row_index` order. Both therefore write the same bytes.
  *
  * `value(c)` is the expression for column `c`'s STORED value over the
  * incoming row: the writer binds its CHAR pad / VARCHAR truncate over
  * the write row, the rebuild a plain reference to the column read back.
  * Projections are built once per builder (one per task); per-file
  * state lives in [[File]], and a file's row position is the number of
  * rows fed before it.
  *
  *  - bloom: one XxHash64 per row over the stored value — the planner
  *    hashes predicate literals with the same expression. Map/array and
  *    subscript-safe struct columns contribute per-ENTRY hashes instead
  *    (MapEntryHashes, the subscript file index), plus per-entry-key
  *    (min, max) stats when their values / some leaves are integral —
  *    the RANGE half of subscript pruning (`props['k'] > 5`).
  *  - variant shreds (S68): per configured path, the entry hash of the
  *    RAW extracted text (equality claims) and its TRY-cast Long bounds
  *    (range claims); a non-null text that fails the cast widens the
  *    path's bounds to the full Long range, so the path claims nothing
  *    and a stats prune can never disagree with variant_get's numeric
  *    cast or suppress its error. Cost: one JSON-path evaluation per
  *    (row, path) — paid only on tables that opt into the option.
  *  - bitmap (S55): stored values rendered with BitmapIndex.render (the
  *    planner's literal convention) → ascending row positions.
  *  - BSI (S66): (position, value) pairs of integral columns (dates are
  *    epoch-day ints internally — BsiIndex.renderLong's key order). */
final class FileIndexBuilder(spec: FileIndexSpec, value: String => Expression) {
  import FileIndexBuilder._

  private def entryHashed(c: String): Boolean = value(c).dataType match {
    case _: MapType | _: ArrayType => true
    // struct columns index (field, value) entries only when some leaf is
    // rendering-safe; otherwise they keep the whole-value hash
    case s: StructType => graft.functions.MapEntryHashesImpl.subscriptSafe(s)
    case _ => false
  }
  private val bloomIsEntry: Array[Boolean] = spec.bloomCols.toArray.map(entryHashed)
  private val bloomProj: Option[UnsafeProjection] =
    if (spec.bloomCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bloomCols.toIndexedSeq.zip(bloomIsEntry).map {
      case (c, true) => graft.functions.MapEntryHashes(value(c)): Expression
      case (c, false) => new XxHash64(Seq(value(c))): Expression
    }))

  /** (bloom column, its stored-value expression) for each entry-hashed
    * bloom column eligible for entry range stats. */
  private val entryStatCols: Array[(String, Expression)] =
    spec.bloomCols.filter { c =>
      value(c).dataType match {
        case m: MapType => integralType(m.valueType)
        case a: ArrayType => integralType(a.elementType)
        // struct: integral leaves get (field name → min/max) range stats
        case s: StructType => s.fields.exists(f => integralType(f.dataType))
        case _ => false
      }
    }.map(c => (c, value(c))).toArray

  // one flat (column ordinal into variantSpecs, path) list; the
  // projection yields TWO fields per entry — the raw extracted text at
  // 2i and its TRY-cast Long at 2i + 1
  private val variantFlat: Array[(Int, String)] =
    spec.variantSpecs.zipWithIndex.flatMap { case ((_, paths), i) => paths.map(i -> _) }.toArray
  private val variantProj: Option[UnsafeProjection] =
    if (variantFlat.isEmpty) None
    else Some(UnsafeProjection.create(variantFlat.toIndexedSeq.flatMap { case (ci, p) =>
      val raw = GetJsonObject(value(spec.variantSpecs(ci)._1), Literal(p))
      Seq(raw, Cast(raw, LongType, None, EvalMode.TRY): Expression)
    }))

  private val bitmapProj: Option[UnsafeProjection] =
    if (spec.bitmapCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bitmapCols.toIndexedSeq.map(value)))
  private val bitmapTypes: Array[DataType] = spec.bitmapCols.toArray.map(c => value(c).dataType)

  private val bsiProj: Option[UnsafeProjection] =
    if (spec.bsiCols.isEmpty) None
    else Some(UnsafeProjection.create(spec.bsiCols.toIndexedSeq.map(value)))
  // typed accessors avoid per-row boxing: 0 = Int/Date, 1 = Long,
  // 2 = Short, 3 = Byte
  private val bsiTypeCodes: Array[Int] = spec.bsiCols.toArray.map(c => value(c).dataType match {
    case IntegerType | DateType => 0
    case LongType => 1
    case ShortType => 2
    case ByteType => 3
    case other => throw new IllegalStateException(s"unsupported BSI type $other")
  })

  def newFile(): File = new File

  /** One data file's sidecar state. */
  final class File {
    private val bloomBufs = Array.fill(spec.bloomCols.size)(new LongBuf)
    private val entryStatBufs = Array.fill(entryStatCols.length)(new EntryStatBuf)
    private val variantBloomBufs = Array.fill(spec.variantSpecs.size)(new LongBuf)
    private val variantStatBufs = Array.fill(spec.variantSpecs.size)(new EntryStatBuf)
    private val bitmapBufs = Array.fill(spec.bitmapCols.size)(new BitmapBuf)
    private val bsiBufs = Array.fill(spec.bsiCols.size)(new BsiIndex.BsiBuf)
    /** Rows fed so far = the physical position of the next row. */
    var rows: Long = 0L

    def add(row: InternalRow): Unit = {
      bloomProj.foreach { bp =>
        val hashes = bp(row)
        var i = 0
        while (i < bloomBufs.length) {
          if (bloomIsEntry(i)) {
            if (!hashes.isNullAt(i)) {
              val a = hashes.getArray(i)
              var j = 0
              while (j < a.numElements()) { bloomBufs(i).add(a.getLong(j)); j += 1 }
            }
          } else bloomBufs(i).add(hashes.getLong(i))
          i += 1
        }
      }
      if (entryStatCols.nonEmpty) addEntryStats(row)
      variantProj.foreach { vp =>
        val r = vp(row)
        var i = 0
        while (i < variantFlat.length) {
          val si = i * 2
          if (!r.isNullAt(si)) {
            val (ci, path) = variantFlat(i)
            variantBloomBufs(ci).add(graft.functions.MapEntryHashesImpl.hashEntry(
              path, r.getUTF8String(si).toString))
            if (r.isNullAt(si + 1)) {
              // non-integral text: widen THIS path's bounds to full range —
              // the path claims nothing (any numeric predicate "may match")
              // while staying PRESENT in the stats map, so absent-path
              // pruning and the other paths' exact bounds are untouched
              variantStatBufs(ci).add(path, Long.MinValue)
              variantStatBufs(ci).add(path, Long.MaxValue)
            } else variantStatBufs(ci).add(path, r.getLong(si + 1))
          }
          i += 1
        }
      }
      bitmapProj.foreach { bp =>
        val r = bp(row)
        var i = 0
        while (i < bitmapBufs.length) {
          if (!r.isNullAt(i)) bitmapBufs(i).addRaw(r.get(i, bitmapTypes(i)), rows)
          i += 1
        }
      }
      bsiProj.foreach { bp =>
        val r = bp(row)
        var i = 0
        while (i < bsiBufs.length) {
          if (!r.isNullAt(i)) {
            val v = bsiTypeCodes(i) match {
              case 0 => r.getInt(i).toLong
              case 1 => r.getLong(i)
              case 2 => r.getShort(i).toLong
              case _ => r.getByte(i).toLong
            }
            bsiBufs(i).add(rows, v)
          }
          i += 1
        }
      }
      rows += 1
    }

    // entry keys render with the same toString convention the hashes use
    private def addEntryStats(row: InternalRow): Unit = {
      var s = 0
      while (s < entryStatCols.length) {
        val buf = entryStatBufs(s)
        entryStatCols(s)._2.eval(row) match {
          case null => ()
          case md: MapData =>
            val mt = entryStatCols(s)._2.dataType.asInstanceOf[MapType]
            val ks = md.keyArray(); val vs = md.valueArray()
            var i = 0
            while (i < md.numElements()) {
              if (!vs.isNullAt(i)) // null values can never match a subscript predicate
                buf.add(ks.get(i, mt.keyType).toString, asLong(vs.get(i, mt.valueType)))
              i += 1
            }
          case ad: ArrayData =>
            val et = entryStatCols(s)._2.dataType.asInstanceOf[ArrayType].elementType
            var i = 0
            while (i < ad.numElements()) {
              if (!ad.isNullAt(i)) // entry key = 1-based position, like the hashes
                buf.add((i + 1).toString, asLong(ad.get(i, et)))
              i += 1
            }
          case sr: InternalRow =>
            val st = entryStatCols(s)._2.dataType.asInstanceOf[StructType]
            var i = 0
            while (i < st.length) {
              val f = st.fields(i)
              if (integralType(f.dataType) && !sr.isNullAt(i))
                buf.add(f.name, asLong(sr.get(i, f.dataType)))
              i += 1
            }
        }
        s += 1
      }
    }

    /** Write this file's sidecars of the given kinds (suffixes, a subset
      * of the spec's) next to `dataPath`. */
    def write(fs: FileSystem, dataPath: Path, kinds: Seq[String] = spec.suffixes): Unit = {
      def at(suffix: String) = new Path(dataPath.toString + suffix)
      if (kinds.contains(BloomIndex.Suffix))
        BloomIndex.write(fs, at(BloomIndex.Suffix),
          (spec.bloomCols ++ spec.variantSpecs.map(_._1))
            .zip(bloomBufs ++ variantBloomBufs)
            .map { case (c, buf) => c -> BloomIndex.build(buf.arr, buf.n) },
          (entryStatCols.map(_._1).toSeq ++ spec.variantSpecs.map(_._1))
            .zip(entryStatBufs ++ variantStatBufs)
            .collect { case (c, buf) if !buf.overflow => c -> buf.result },
          // declare which blooms hold ENTRY hashes: probing a whole-value
          // bloom with an entry hash (or vice versa) is a false negative —
          // unsound pruning (see BloomIndex.Sidecar.entryCols)
          spec.bloomCols.zip(bloomIsEntry).collect { case (c, true) => c }.toSet ++
            spec.variantSpecs.map(_._1),
          spec.variantSpecs)
      if (kinds.contains(BitmapIndex.Suffix))
        BitmapIndex.write(fs, at(BitmapIndex.Suffix), rows,
          spec.bitmapCols.zip(bitmapBufs).collect {
            case (c, buf) if !buf.overflow =>
              c -> buf.m.view.mapValues(b => java.util.Arrays.copyOf(b.arr, b.n)).toMap
          })
      if (kinds.contains(BsiIndex.Suffix))
        BsiIndex.write(fs, at(BsiIndex.Suffix), rows,
          spec.bsiCols.zip(bsiBufs).map { case (c, buf) => c -> buf.result(rows) })
    }
  }
}
