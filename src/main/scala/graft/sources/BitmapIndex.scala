package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{DataInputStream, DataOutputStream}

/** Per-file bitmap column index (S55) — EXACT file skipping and
  * row-position lookup for LOW-cardinality columns, the complement of
  * the bloom sidecar (S28: probabilistic, high-cardinality). Spark-first
  * re-expression of Paimon's `file-index.bitmap.columns` file index
  * (BitmapFileIndex in Paimon core; the reference connector inherits it
  * through FileStoreScan planning).
  *
  * The [[FileIndexBuilder]] records, for each configured column, every
  * distinct STORED value and the ascending row positions holding it (positions in
  * the file's physical row order, 0-based — the same convention as
  * deletion vectors and parquet's `_metadata.row_index`). Because the
  * posting map is value-complete for the file, ABSENCE of a predicate
  * literal from a present column proves no row matches: pruning has no
  * false positives (a bloom can only prove absence, a bitmap proves both
  * ways), and the position lists let COUNT(*)-under-equality be answered
  * from sidecars alone (see GraftScanBuilder's filtered agg pushdown).
  *
  * A column whose file exceeds `MaxDistinct` values (or carries a value
  * rendering longer than `MaxValueBytes`) is OMITTED from the sidecar —
  * an incomplete value set would turn "absent → prune" unsound. Missing
  * sidecars, missing columns, and unreadable bytes all degrade to "no
  * claim" (the predicate stays residual in the plan either way).
  *
  * Layout (`<data-file>.bmidx`): magic, file row count, then per column:
  * name, value count, and per value its rendered key, position count,
  * and delta-varint positions. Positions rather than dense per-value
  * words: each row appears in exactly ONE value's list, so the sidecar
  * is O(rows) total regardless of cardinality (dense bitmaps would be
  * O(values × rows)); clustered values delta-encode to ~1 byte/row.
  */
object BitmapIndex {

  val Suffix = ".bmidx"
  private val Magic = 0x47424D49 // "GBMI"

  /** Distinct-value cap per (file, column): beyond it the writer drops
    * the column (claim-completeness rule above). Low-cardinality columns
    * (language, source, label, status) sit far below this. */
  val MaxDistinct = 1024

  /** Rendered-value length cap: a column carrying longer values is not a
    * low-cardinality index candidate, and DataOutput.writeUTF caps at
    * 64 KiB regardless. */
  val MaxValueBytes = 256

  /** One file's sidecar: per-column value → ascending row positions.
    * A column's map is file-complete by construction. */
  final case class Sidecar(rowCount: Long, cols: Map[String, Map[String, Array[Long]]])

  /** Render a stored value / predicate literal to the sidecar's key
    * string — the SAME convention on the write and plan side. None =
    * unsupported type or over-long value (no claim either side). */
  def render(v: Any): Option[String] = v match {
    case null => None
    // numBytes avoids the per-row getBytes allocation on the write path
    case u: org.apache.spark.unsafe.types.UTF8String =>
      if (u.numBytes > MaxValueBytes) None else Some(u.toString)
    case s: String =>
      Some(s).filter(_.getBytes("UTF-8").length <= MaxValueBytes)
    case b: java.lang.Boolean => Some(if (b) "true" else "false")
    case n @ (_: java.lang.Integer | _: java.lang.Long |
              _: java.lang.Short | _: java.lang.Byte) => Some(n.toString)
    // DateType: the write side sees the Catalyst epoch-day Int (covered
    // above); predicate literals arrive EXTERNAL and normalize to the
    // same epoch-day rendering
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case _ => None
  }

  /** Column data types the index supports (scalar, exact rendering).
    * DateType keys render as epoch-day integers on both sides. */
  def supportedType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.DateType => true
    case _: org.apache.spark.sql.types.CharType | _: org.apache.spark.sql.types.VarcharType => true
    case _ => false
  }

  private def writeVarLong(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.writeByte(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.writeByte(v.toInt)
  }

  private def readVarLong(in: DataInputStream): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7FL) << shift
      shift += 7
      if (shift > 63) throw new java.io.IOException("varint overflow")
    } while ((b & 0x80) != 0)
    v
  }

  def write(fs: FileSystem, path: Path, rowCount: Long,
      cols: Seq[(String, Map[String, Array[Long]])]): Unit =
    SidecarIO.publish(fs, path) { out =>
      out.writeInt(Magic)
      out.writeLong(rowCount)
      out.writeInt(cols.size)
      cols.foreach { case (name, values) =>
        out.writeUTF(name)
        out.writeInt(values.size)
        // deterministic order so rewrite_file_index rebuilds are
        // byte-comparable with written sidecars
        values.toSeq.sortBy(_._1).foreach { case (k, pos) =>
          out.writeUTF(k)
          out.writeInt(pos.length)
          var prev = -1L
          var i = 0
          while (i < pos.length) {
            require(pos(i) > prev, s"bitmap positions must be strictly ascending ($name/$k)")
            writeVarLong(out, pos(i) - prev - 1) // delta-1: consecutive rows → 0
            prev = pos(i)
            i += 1
          }
        }
      }
    }

  /** Keys-only read: (rowCount, column → value-key set) with the
    * position varints parsed but DISCARDED. File-skip pruning and claim
    * eligibility need only key presence, and they run driver-side over
    * EVERY file of a snapshot — caching full position arrays there
    * would pin O(corpus rows) longs in the planner for the table's
    * lifetime. Positions are decoded on demand (executor masks, count
    * pushdown) and not retained. */
  def readKeys(fs: FileSystem, path: Path): Option[(Long, Map[String, Set[String]])] =
    read(fs, path).map(sc =>
      (sc.rowCount, sc.cols.view.mapValues(_.keySet).toMap))

  /** None for a missing/unreadable/foreign sidecar — no pruning claim.
    * Counts are validated against the byte length before allocating
    * (same corruption discipline as BloomIndex.read). */
  def read(fs: FileSystem, path: Path): Option[Sidecar] =
    try {
      if (!fs.exists(path)) return None
      val fileLen = fs.getFileStatus(path).getLen
      val in = new DataInputStream(new java.io.BufferedInputStream(fs.open(path)))
      try {
        if (in.readInt() != Magic) return None
        val rowCount = in.readLong()
        if (rowCount < 0) return None
        val nc = in.readInt()
        if (nc < 0 || nc > 10000) return None
        val cols = (0 until nc).map { _ =>
          val name = in.readUTF()
          val nv = in.readInt()
          if (nv < 0 || nv > MaxDistinct) return None
          name -> (0 until nv).map { _ =>
            val k = in.readUTF()
            val np = in.readInt()
            // ≥1 byte per delta-varint position on disk
            if (np < 0 || np > rowCount || np.toLong > fileLen) return None
            val pos = new Array[Long](np)
            var prev = -1L
            var i = 0
            while (i < np) {
              prev = prev + 1 + readVarLong(in)
              pos(i) = prev
              i += 1
            }
            k -> pos
          }.toMap
        }.toMap
        Some(Sidecar(rowCount, cols))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Ascending positions matching `col IN (values)` — union of the
    * per-value lists. None = the sidecar makes no claim for this column
    * (absent / overflowed); Some(empty) = provably no matching row. */
  def matchPositions(sc: Sidecar, col: String, values: Seq[Any]): Option[Array[Long]] =
    sc.cols.get(col).map { m =>
      val lists = values.flatMap(render).distinct.flatMap(m.get)
      if (lists.isEmpty) Array.empty[Long]
      // merge of disjoint ascending lists (each row holds one value)
      else lists.reduce(merge)
    }

  private def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) { out(k) = a(i); i += 1 } else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }

  /** Intersection of two ascending position arrays (ANDed predicates). */
  def intersect(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(a.length, b.length))
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { out(k) = a(i); k += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** The (column, matching values) shape of a CLAIMABLE filter — the one
    * contract shared by the scan builder's eligibility check, the
    * executor mask, the filtered COUNT pushdown and the bloom, bitmap and
    * BSI file pruning. None = not claimable.
    * Semantics note: `x IN (…nulls…)` matches only the non-null values
    * (a null comparison is UNKNOWN and filtered), so dropping nulls
    * here is exact; an all-null/empty list matches no row. */
  def filterValues(fl: org.apache.spark.sql.sources.Filter): Option[(String, Seq[Any])] = {
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, In}
    fl match {
      case EqualTo(c, v) if v != null => Some((c, Seq(v)))
      case EqualNullSafe(c, v) if v != null => Some((c, Seq(v)))
      case In(c, vs) if vs != null => Some((c, vs.toSeq.filter(_ != null)))
      case _ => None
    }
  }

  /** Range shape of a claimable ORDER predicate: (column, lower bound
    * inclusive?, upper bound inclusive?) with open sides as None. A
    * BETWEEN arrives as the conjunction of its two halves and is handled
    * by the fold in [[keepPositions]]. Null bounds compare UNKNOWN and
    * match nothing — not claim material. */
  def filterRange(fl: org.apache.spark.sql.sources.Filter)
      : Option[(String, Option[Any], Boolean, Option[Any], Boolean)] = {
    import org.apache.spark.sql.sources._
    fl match {
      case GreaterThan(c, v) if v != null => Some((c, Some(v), false, None, true))
      case GreaterThanOrEqual(c, v) if v != null => Some((c, Some(v), true, None, true))
      case LessThan(c, v) if v != null => Some((c, None, true, Some(v), false))
      case LessThanOrEqual(c, v) if v != null => Some((c, None, true, Some(v), true))
      case _ => None
    }
  }

  /** Order a rendered sidecar key against a predicate bound, in the
    * COLUMN's ordering: integral keys compare numerically, strings by
    * UTF8 byte order (Spark's string comparison — NOT Java's UTF-16
    * code-unit order, which disagrees on supplementary characters),
    * booleans false < true. None = the key/bound pair is not orderable
    * here (no claim). */
  private def compareKey(k: String, bound: Any): Option[Int] = bound match {
    case n @ (_: java.lang.Integer | _: java.lang.Long |
              _: java.lang.Short | _: java.lang.Byte) =>
      try Some(java.lang.Long.compare(k.toLong, n.asInstanceOf[Number].longValue))
      catch { case _: NumberFormatException => None }
    // date bounds order by epoch day — the key rendering
    case d: java.sql.Date =>
      try Some(java.lang.Long.compare(k.toLong, d.toLocalDate.toEpochDay))
      catch { case _: NumberFormatException => None }
    case d: java.time.LocalDate =>
      try Some(java.lang.Long.compare(k.toLong, d.toEpochDay))
      catch { case _: NumberFormatException => None }
    case s: String =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(k)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(k).compareTo(u))
    case b: java.lang.Boolean =>
      Some(java.lang.Boolean.compare(k == "true", b.booleanValue))
    case _ => None
  }

  /** Ascending positions with the column's value inside the range —
    * union of the in-range keys' lists (value-completeness makes the
    * claim exact both ways; null rows sit in no list and correctly fail
    * the range). None = column absent or a key/bound not orderable. */
  def rangePositions(sc: Sidecar, col: String,
      lo: Option[Any], loInc: Boolean, hi: Option[Any], hiInc: Boolean)
      : Option[Array[Long]] =
    sc.cols.get(col).flatMap { m =>
      val picked = scala.collection.mutable.ArrayBuffer[Array[Long]]()
      val it = m.iterator
      while (it.hasNext) {
        val (k, pos) = it.next()
        val loOk = lo match {
          case None => true
          case Some(b) => compareKey(k, b) match {
            case Some(c) => if (loInc) c >= 0 else c > 0
            case None => return None
          }
        }
        val hiOk = hi match {
          case None => true
          case Some(b) => compareKey(k, b) match {
            case Some(c) => if (hiInc) c <= 0 else c < 0
            case None => return None
          }
        }
        if (loOk && hiOk) picked += pos
      }
      Some(if (picked.isEmpty) Array.empty[Long] else picked.reduce(merge))
    }

  /** IsNotNull positions: a present column's value lists are
    * file-complete over non-null rows, so their union IS the non-null
    * set (Spark derives IsNotNull alongside every equality — it must be
    * claimable or the residual blocks aggregate pushdown). */
  def notNullPositions(sc: Sidecar, col: String): Option[Array[Long]] =
    sc.cols.get(col).map { m =>
      if (m.isEmpty) Array.empty[Long] else m.values.reduce(merge)
    }

  /** Ascending KEEP positions for a conjunction of claimed filters —
    * intersection of each filter's match set. None when the sidecar
    * cannot answer any one of them (no claim; callers must fall back or
    * fail loudly — claiming eligibility is checked at plan time). */
  def keepPositions(sc: Sidecar, claimed: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Array[Long]] =
    claimed.foldLeft(Some(null: Array[Long]): Option[Array[Long]]) { (acc, fl) => // null seed = "all rows"
      acc.flatMap { prev =>
        val matched = fl match {
          case org.apache.spark.sql.sources.IsNotNull(c) => notNullPositions(sc, c)
          case _ =>
            filterValues(fl).flatMap { case (c, vs) =>
              if (!vs.forall(v => render(v).isDefined)) None
              else matchPositions(sc, c, vs)
            }.orElse(filterRange(fl).flatMap { case (c, lo, loInc, hi, hiInc) =>
              rangePositions(sc, c, lo, loInc, hi, hiInc)
            })
        }
        matched.map(p => if (prev == null) p else intersect(prev, p))
      }
    }.map(p => if (p == null) Array.empty[Long] else p)
}
