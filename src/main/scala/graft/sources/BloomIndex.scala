package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.{DataInputStream, DataOutputStream}

/** Per-file bloom-filter column index — equality-predicate file skipping
  * where min/max stats cannot help (high-cardinality, unclustered
  * columns). Spark-first re-expression of Paimon's
  * `file-index.bloom-filter.columns` file index (which the reference
  * connector inherits through Paimon's FileStoreScan planning): the
  * [[FileIndexBuilder]] (shared by the write task and
  * `rewrite_file_index`) hashes each value of the configured columns
  * with the SAME XxHash64 expression the planner later applies to
  * predicate literals, sizes a filter for the file's actual row count,
  * and writes one small sidecar (`<data-file>.bfidx`) next to the data
  * file. Planning stays driver-side and metadata-only: the sidecar
  * is opened lazily, only when an equality predicate on an indexed
  * column survives partition/stats pruning, and is memoized per path.
  *
  * A bloom filter has NO false negatives, so pruning is sound: a file is
  * dropped only when the filter proves the value was never written.
  */
object BloomIndex {

  val Suffix = ".bfidx"
  // "GBF3", the one format (blooms, entry stats, entry-hashed columns);
  // any other magic reads as no sidecar
  private val Magic = 0x47424633

  /** One file's sidecar: per-column blooms, plus per-column per-ENTRY-KEY
    * min/max of integral map/array/struct-leaf values and of variant
    * shred paths — the range half of subscript pruning (`props['k'] > 5`;
    * ref session property range_filters_on_subscripts_enabled). A column
    * appears in `entryStats` ONLY when the builder saw every row (no
    * key-cap overflow) — so key ABSENCE from a present column map proves
    * no row in the file carries that key, and the (min,max) bounds are
    * file-complete.
    *
    * `entryCols` declares WHICH columns' blooms hold per-ENTRY hashes
    * rather than whole-value hashes. The hash kind is otherwise invisible
    * in the bits, and probing a bloom with the other kind of hash would
    * return a FALSE NEGATIVE and prune a file that matches.
    *
    * `variantPaths` records, per variant column, the paths this sidecar
    * shredded (S68). A variant claim is answerable only for a recorded
    * path: the table's path list may have grown since the file was
    * written, and a path the sidecar never shredded is neither in its
    * bloom nor in its stats. A sidecar written before the record existed
    * reads with no recorded paths, so it makes no variant claim. */
  final case class Sidecar(
      blooms: Map[String, Bloom],
      entryStats: Map[String, Map[String, (Long, Long)]],
      entryCols: Set[String],
      variantPaths: Map[String, Set[String]] = Map.empty)

  /** ~1% false-positive rate: m ≈ 9.6 bits/item, k = 7. */
  private val BitsPerItem = 10
  private val NumHashes = 7

  final class Bloom(val words: Array[Long]) {
    private val mBits: Long = words.length.toLong * 64
    def mightContain(h: Long): Boolean = {
      // Kirsch–Mitzenmacher double hashing over one 64-bit input
      val h1 = (h & 0xFFFFFFFFL).toInt
      val h2 = (h >>> 32).toInt
      var i = 0
      while (i < NumHashes) {
        var g = (h1 + i.toLong * h2) % mBits
        if (g < 0) g += mBits
        if ((words((g >>> 6).toInt) & (1L << (g & 63))) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Build a filter sized for `n` items from their 64-bit hashes. */
  def build(hashes: Array[Long], n: Int): Bloom = {
    val mBits = math.max(64L, n.toLong * BitsPerItem)
    val words = new Array[Long](((mBits + 63) / 64).toInt)
    val m = words.length.toLong * 64
    var j = 0
    while (j < n) {
      val h = hashes(j)
      val h1 = (h & 0xFFFFFFFFL).toInt
      val h2 = (h >>> 32).toInt
      var i = 0
      while (i < NumHashes) {
        var g = (h1 + i.toLong * h2) % m
        if (g < 0) g += m
        words((g >>> 6).toInt) |= 1L << (g & 63)
        i += 1
      }
      j += 1
    }
    new Bloom(words)
  }

  def write(fs: FileSystem, path: Path, cols: Seq[(String, Bloom)],
      entryStats: Seq[(String, Map[String, (Long, Long)])] = Seq.empty,
      entryCols: Set[String] = Set.empty,
      variantPaths: Seq[(String, Seq[String])] = Seq.empty): Unit =
    SidecarIO.publish(fs, path) { out =>
      out.writeInt(Magic)
      // entry keys and entry columns are written sorted: deterministic
      // bytes whatever the row order (speculative attempts publish the
      // same file, and a rebuilt sidecar equals the written one)
      out.writeInt(cols.size)
      cols.foreach { case (name, b) =>
        out.writeUTF(name)
        out.writeInt(b.words.length)
        b.words.foreach(out.writeLong)
      }
      out.writeInt(entryStats.size)
      entryStats.foreach { case (name, keys) =>
        out.writeUTF(name)
        out.writeInt(keys.size)
        keys.toSeq.sortBy(_._1).foreach { case (k, (mn, mx)) =>
          out.writeUTF(k)
          out.writeLong(mn)
          out.writeLong(mx)
        }
      }
      out.writeInt(entryCols.size)
      entryCols.toSeq.sorted.foreach(out.writeUTF)
      out.writeInt(variantPaths.size)
      variantPaths.sortBy(_._1).foreach { case (name, paths) =>
        out.writeUTF(name)
        out.writeInt(paths.size)
        paths.sorted.foreach(out.writeUTF)
      }
    }

  /** None for a missing/unreadable/foreign sidecar (no pruning claim
    * can be made). */
  def read(fs: FileSystem, path: Path): Option[Sidecar] =
    try {
      if (!fs.exists(path)) return None
      // A corrupt/truncated sidecar must degrade to "no pruning claim",
      // not fail planning: validate counts against the file's byte length
      // before allocating (a garbage readInt could otherwise demand a
      // negative or multi-GB array), and catch NonFatal, not just IO.
      val fileLen = fs.getFileStatus(path).getLen
      val in = new DataInputStream(fs.open(path))
      try {
        if (in.readInt() != Magic) return None
        val n = in.readInt()
        if (n < 0 || n > 10000) return None
        val blooms = (0 until n).map { _ =>
          val name = in.readUTF()
          val wordCount = in.readInt()
          if (wordCount < 0 || wordCount.toLong * 8 > fileLen)
            return None
          val words = Array.fill(wordCount)(in.readLong())
          name -> new Bloom(words)
        }.toMap
        val nc = in.readInt()
        if (nc < 0 || nc > 10000) return None
        val stats = (0 until nc).map { _ =>
          val name = in.readUTF()
          val nk = in.readInt()
          if (nk < 0 || nk.toLong * 16 > fileLen) return None
          name -> (0 until nk).map { _ =>
            in.readUTF() -> (in.readLong(), in.readLong())
          }.toMap
        }.toMap
        val ne = in.readInt()
        if (ne < 0 || ne > 10000) return None
        val entryCols = (0 until ne).map(_ => in.readUTF()).toSet
        // the shredded-path record ends the file; a sidecar written
        // before it existed ends here and records no paths
        val variantPaths =
          try {
            val nv = in.readInt()
            if (nv < 0 || nv > 10000) return None
            (0 until nv).map { _ =>
              val name = in.readUTF()
              val np = in.readInt()
              if (np < 0 || np.toLong * 2 > fileLen) return None
              name -> (0 until np).map(_ => in.readUTF()).toSet
            }.toMap
          } catch { case _: java.io.EOFException => Map.empty[String, Set[String]] }
        Some(Sidecar(blooms, stats, entryCols, variantPaths))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Hash a predicate literal exactly as the write task hashed the
    * stored values: XxHash64 over the value cast to the column type.
    * None when the value cannot be represented (no pruning claim). */
  def hashLiteral(value: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val lit = Literal.create(value, dt)
      Some(new XxHash64(Seq(lit)).eval(null).asInstanceOf[Long])
    } catch { case scala.util.control.NonFatal(_) => None }
}
