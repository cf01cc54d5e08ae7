package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{DataInputStream, DataOutputStream}

/** Per-file bit-slice index (S66) — EXACT range answering on
  * HIGH-cardinality integral columns, the third file-index family next
  * to the bloom (S28: probabilistic equality, high-cardinality) and the
  * bitmap (S55: exact, low-cardinality). Spark-first re-expression of
  * Paimon's `file-index.bsi.columns` file index (BitSliceIndexBitmap-
  * FileIndex in Paimon core; the reference connector inherits it via
  * FileStoreScan planning).
  *
  * Why it exists: min/max file stats answer a range predicate only at
  * the FILE envelope — a file whose [min, max] straddles the predicate
  * range cannot be skipped even when no actual value falls inside it
  * (bimodal/gappy data), and the stats say nothing about WHICH rows
  * match. The bitmap index answers ranges exactly but caps distinct
  * values at 1024 — useless for a price/key/quantity column. The BSI
  * stores, per column, one bitmap per BIT of the min-offset value
  * (O'Neil bit-sliced layout): ≤ 64 row-bitmaps regardless of
  * cardinality, O(rows·width/8) bytes total, and any range
  * `lo ≤ x ≤ hi` resolves to an exact row-position set by the standard
  * bit-sliced comparison — no per-value posting lists anywhere.
  *
  * The claim is exact BOTH ways (like S55, unlike the bloom): a present
  * column's slices cover every non-null row, so an empty match set
  * proves no row satisfies the range (file skipping with zero false
  * positives) and the position set drives claimed pushdown (masked
  * reads, sidecar-only COUNT) through the same machinery as S55.
  *
  * Write-side decline rule: a column whose (max − min) overflows a
  * signed 64-bit range is OMITTED from the sidecar (no claim — the
  * same degradation discipline as the bitmap's cardinality overflow).
  * Missing sidecars, missing columns and unreadable bytes all degrade
  * to "no claim"; the predicate stays residual in the plan either way.
  *
  * Layout (`<data-file>.bsidx`): magic, file row count, then per
  * column: name, present flag, and when present: min (the zero
  * point), slice width, the non-null bitmap, and `width` slice
  * bitmaps — each bitmap `ceil(rows/64)` words, row r at word r>>6
  * bit r&63 (physical row order, the dv/S55 convention).
  */
object BsiIndex {

  val Suffix = ".bsidx"
  private val Magic = 0x47425349 // "GBSI"

  /** Column data types the index supports: integral scalars whose
    * predicate literals order as a Long (dates as epoch days — the
    * S55 rendering convention). */
  def supportedType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Predicate literal / stored value → the column's Long key order.
    * None = not a BSI-orderable literal (no claim either side). */
  def renderLong(v: Any): Option[Long] = v match {
    case null => None
    case n @ (_: java.lang.Integer | _: java.lang.Long |
              _: java.lang.Short | _: java.lang.Byte) =>
      Some(n.asInstanceOf[Number].longValue)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** One indexed column: min value (zero point), slice width in bits,
    * the non-null row bitmap and the `width` bit-slice bitmaps. */
  final case class BsiCol(min: Long, width: Int, nonNull: Array[Long], slices: Array[Array[Long]])

  final case class Sidecar(rowCount: Long, cols: Map[String, BsiCol])

  def words(rowCount: Long): Int = (((rowCount + 63) >> 6)).toInt

  // ---- word-bitmap kernels ----------------------------------------------

  private def andInPlace(a: Array[Long], b: Array[Long]): Unit = {
    var i = 0; while (i < a.length) { a(i) &= b(i); i += 1 }
  }
  private def andNotInPlace(a: Array[Long], b: Array[Long]): Unit = {
    var i = 0; while (i < a.length) { a(i) &= ~b(i); i += 1 }
  }
  private def orInPlace(a: Array[Long], b: Array[Long]): Unit = {
    var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }
  }
  /** a |= (b & c) — the GT accumulation step. */
  private def orAndInPlace(a: Array[Long], b: Array[Long], c: Array[Long]): Unit = {
    var i = 0; while (i < a.length) { a(i) |= b(i) & c(i); i += 1 }
  }

  /** Ascending row positions of the set bits. */
  def positions(wordsArr: Array[Long]): Array[Long] = {
    var n = 0
    var i = 0
    while (i < wordsArr.length) { n += java.lang.Long.bitCount(wordsArr(i)); i += 1 }
    val out = new Array[Long](n)
    var k = 0
    i = 0
    while (i < wordsArr.length) {
      var w = wordsArr(i)
      while (w != 0L) {
        val b = java.lang.Long.numberOfTrailingZeros(w)
        out(k) = (i.toLong << 6) + b
        k += 1
        w &= w - 1
      }
      i += 1
    }
    out
  }

  // ---- bit-sliced comparisons (O'Neil/Quass) ------------------------------

  /** Word bitmap of non-null rows whose ADJUSTED value (v − min) is
    * ≥ `adj`, for adj in [0, 2^width). Standard MSB-to-LSB walk:
    * `gt` accumulates rows already proven greater, `eq` narrows rows
    * still tied with the bound's prefix. */
  private def geAdjusted(c: BsiCol, adj: Long): Array[Long] = {
    val eq = c.nonNull.clone()
    val gt = new Array[Long](eq.length)
    var i = c.width - 1
    while (i >= 0) {
      val s = c.slices(i)
      if (((adj >> i) & 1L) == 1L) andInPlace(eq, s)
      else { orAndInPlace(gt, eq, s); andNotInPlace(eq, s) }
      i -= 1
    }
    orInPlace(gt, eq)
    gt
  }

  /** Word bitmap of rows with value ≥ bound (unadjusted). */
  private def geWords(c: BsiCol, bound: Long): Array[Long] = {
    if (bound <= c.min) return c.nonNull.clone()
    // bound > min ⇒ the true difference is positive; an overflowing
    // subtraction means it exceeds Long.MaxValue ≥ 2^width − 1 ⇒ empty
    val adj =
      try Math.subtractExact(bound, c.min)
      catch { case _: ArithmeticException => return new Array[Long](c.nonNull.length) }
    if (c.width < 63 && adj >= (1L << c.width)) new Array[Long](c.nonNull.length)
    else geAdjusted(c, adj)
  }

  /** Word bitmap of rows with value > bound. */
  private def gtWords(c: BsiCol, bound: Long): Array[Long] =
    if (bound == Long.MaxValue) new Array[Long](c.nonNull.length)
    else geWords(c, bound + 1)

  /** Ascending positions with the column's value inside the range.
    * None = column absent from the sidecar or a bound not BSI-orderable
    * (no claim). Null rows are outside `nonNull` and correctly fail. */
  def rangePositions(sc: Sidecar, col: String,
      lo: Option[Any], loInc: Boolean, hi: Option[Any], hiInc: Boolean)
      : Option[Array[Long]] =
    sc.cols.get(col).flatMap { c =>
      val acc = lo match {
        case None => c.nonNull.clone()
        case Some(b) => renderLong(b) match {
          case None => return None
          case Some(v) => if (loInc) geWords(c, v) else gtWords(c, v)
        }
      }
      hi match {
        case None => ()
        case Some(b) => renderLong(b) match {
          case None => return None
          case Some(v) =>
            // ≤ v  =  nonNull ∧ ¬(> v);  < v  =  nonNull ∧ ¬(≥ v)
            val excl = if (hiInc) gtWords(c, v) else geWords(c, v)
            andInPlace(acc, c.nonNull) // defensive: lo-side GE is already ⊆ nonNull
            andNotInPlace(acc, excl)
        }
      }
      Some(positions(acc))
    }

  /** Ascending positions matching `col IN (values)` — union of exact
    * equalities (EQ(v) = GE(v) ∧ ¬GE(v+1)). None = no claim. */
  def matchPositions(sc: Sidecar, col: String, values: Seq[Any]): Option[Array[Long]] =
    sc.cols.get(col).flatMap { c =>
      val acc = new Array[Long](c.nonNull.length)
      val it = values.iterator
      while (it.hasNext) {
        renderLong(it.next()) match {
          case None => return None
          case Some(v) =>
            val ge = geWords(c, v)
            andNotInPlace(ge, gtWords(c, v))
            orInPlace(acc, ge)
        }
      }
      Some(positions(acc))
    }

  /** IsNotNull positions — the non-null bitmap IS the answer (Spark
    * derives IsNotNull beside every pushed comparison; it must be
    * claimable or the residual blocks aggregate pushdown). */
  def notNullPositions(sc: Sidecar, col: String): Option[Array[Long]] =
    sc.cols.get(col).map(c => positions(c.nonNull))

  /** Ascending KEEP positions for a conjunction of claimed filters —
    * the S55 contract (BitmapIndex.keepPositions), answered by slices. */
  def keepPositions(sc: Sidecar, claimed: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Array[Long]] = {
    // See FileIndex.tryKeepFor: an empty conjunction must never silently
    // render as "keep no rows".
    require(claimed.nonEmpty, "empty claimed-filter conjunction")
    claimed.foldLeft(Some(null: Array[Long]): Option[Array[Long]]) { (acc, fl) => // null seed = "all rows"
      acc.flatMap { prev =>
        val matched = fl match {
          case org.apache.spark.sql.sources.IsNotNull(c) => notNullPositions(sc, c)
          case _ =>
            BitmapIndex.filterValues(fl).flatMap { case (c, vs) =>
              matchPositions(sc, c, vs)
            }.orElse(BitmapIndex.filterRange(fl).flatMap { case (c, lo, loInc, hi, hiInc) =>
              rangePositions(sc, c, lo, loInc, hi, hiInc)
            })
        }
        matched.map(p => if (prev == null) p else BitmapIndex.intersect(prev, p))
      }
    }.map(p => if (p == null) Array.empty[Long] else p)
  }

  // ---- serialization ------------------------------------------------------

  /** `cols` carries None for columns the writer DECLINED (range
    * overflow) — they are omitted (no claim), mirroring the bitmap's
    * overflow rule. */
  def write(fs: FileSystem, path: Path, rowCount: Long,
      cols: Seq[(String, Option[BsiCol])]): Unit =
    SidecarIO.publish(fs, path) { out =>
      out.writeInt(Magic)
      out.writeLong(rowCount)
      val present = cols.collect { case (n, Some(c)) => (n, c) }
      out.writeInt(present.size)
      val nw = words(rowCount)
      present.foreach { case (name, c) =>
        require(c.nonNull.length == nw && c.slices.forall(_.length == nw),
          s"BSI bitmap width mismatch for $name")
        out.writeUTF(name)
        out.writeLong(c.min)
        out.writeInt(c.width)
        writeWords(out, c.nonNull)
        c.slices.foreach(writeWords(out, _))
      }
    }

  private def writeWords(out: DataOutputStream, w: Array[Long]): Unit = {
    var i = 0; while (i < w.length) { out.writeLong(w(i)); i += 1 }
  }

  private def readWords(in: DataInputStream, nw: Int): Array[Long] = {
    val w = new Array[Long](nw)
    var i = 0; while (i < nw) { w(i) = in.readLong(); i += 1 }
    w
  }

  /** None for a missing/unreadable/foreign sidecar — no pruning claim
    * (the BloomIndex/BitmapIndex corruption discipline). */
  def read(fs: FileSystem, path: Path): Option[Sidecar] =
    try {
      if (!fs.exists(path)) return None
      val fileLen = fs.getFileStatus(path).getLen
      val in = new DataInputStream(new java.io.BufferedInputStream(fs.open(path)))
      try {
        if (in.readInt() != Magic) return None
        val rowCount = in.readLong()
        if (rowCount < 0) return None
        val nw = words(rowCount)
        val nc = in.readInt()
        if (nc < 0 || nc > 10000) return None
        val cols = (0 until nc).map { _ =>
          val name = in.readUTF()
          val min = in.readLong()
          val width = in.readInt()
          if (width < 0 || width > 63) return None
          // (width + 1) bitmaps of nw words must fit the remaining bytes
          if ((width + 1).toLong * nw * 8 > fileLen) return None
          val nonNull = readWords(in, nw)
          val slices = Array.fill(width)(readWords(in, nw))
          name -> BsiCol(min, width, nonNull, slices)
        }.toMap
        Some(Sidecar(rowCount, cols))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Header-only read: (rowCount, present column names) with the
    * bitmap words SKIPPED — claim eligibility runs driver-side over
    * every file of a snapshot, and caching full slices there would pin
    * O(rows) driver memory (the BitmapIndex.readKeys discipline). */
  def readCols(fs: FileSystem, path: Path): Option[(Long, Set[String])] =
    try {
      if (!fs.exists(path)) return None
      val in = new DataInputStream(new java.io.BufferedInputStream(fs.open(path)))
      try {
        if (in.readInt() != Magic) return None
        val rowCount = in.readLong()
        if (rowCount < 0) return None
        val nw = words(rowCount)
        val nc = in.readInt()
        if (nc < 0 || nc > 10000) return None
        val names = (0 until nc).map { _ =>
          val name = in.readUTF()
          in.readLong() // min
          val width = in.readInt()
          if (width < 0 || width > 63) return None
          var toSkip = (width + 1).toLong * nw * 8
          while (toSkip > 0) {
            val sk = in.skip(toSkip)
            if (sk <= 0) return None
            toSkip -= sk
          }
          name
        }.toSet
        Some((rowCount, names))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Streaming per-(file, column) accumulator of [[FileIndexBuilder]]:
    * appends (position, value) pairs for non-null rows; [[result]]
    * computes min/width and packs the slices. */
  final class BsiBuf {
    private val poss = new scala.collection.mutable.ArrayBuilder.ofLong
    private val vals = new scala.collection.mutable.ArrayBuilder.ofLong
    def add(pos: Long, v: Long): Unit = { poss += pos; vals += v }
    /** None = declined (max − min overflows a signed 64-bit range). An
      * all-null column is PRESENT with width 0 — "no non-null row" is a
      * claimable fact. */
    def result(rowCount: Long): Option[BsiCol] = {
      val ps = poss.result(); val vs = vals.result()
      val nw = words(rowCount)
      if (vs.isEmpty) return Some(BsiCol(0L, 0, new Array[Long](nw), Array.empty))
      var mn = Long.MaxValue; var mx = Long.MinValue
      var i = 0
      while (i < vs.length) { val v = vs(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
      val range =
        try Math.subtractExact(mx, mn)
        catch { case _: ArithmeticException => return None }
      val width = 64 - java.lang.Long.numberOfLeadingZeros(range) // range 0 → width 0
      val nonNull = new Array[Long](nw)
      val slices = Array.fill(width)(new Array[Long](nw))
      i = 0
      while (i < ps.length) {
        val p = ps(i)
        val word = (p >> 6).toInt
        val bit = 1L << (p & 63)
        nonNull(word) |= bit
        val adj = vs(i) - mn
        var b = 0
        while (b < width) { if (((adj >> b) & 1L) == 1L) slices(b)(word) |= bit; b += 1 }
        i += 1
      }
      Some(BsiCol(mn, width, nonNull, slices))
    }
  }
}
