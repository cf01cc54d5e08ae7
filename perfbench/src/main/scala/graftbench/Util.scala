package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans). Non-finite numbers render as null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p90/p75/p50 that leaves at least ten samples beyond
    * it, as (percentile, value); None when there are fewer than 20. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))
}

/** Sizes and counts of a table directory, split into data files (under
  * `data/`) and metadata (everything else). */
final case class DirStats(files: Map[String, Long]) {
  def dataFiles: Map[String, Long] = files.filter(_._1.startsWith("data/"))
  def metaFiles: Map[String, Long] = files.filter(f => !f._1.startsWith("data/"))
  def bytes: Long = files.values.sum
  def snapshots: Int = files.keys.count(p => p.matches("snapshot/snap-\\d+\\.json"))
  /** Bytes of files present here but not in `before`. */
  def addedSince(before: DirStats): Long =
    files.collect { case (p, n) if !before.files.contains(p) => n }.sum
  def removedSince(before: DirStats): Int = before.files.keys.count(p => !files.contains(p))
}

object DirStats {
  def of(root: String): DirStats = {
    val base = Paths.get(root)
    if (!Files.exists(base)) DirStats(Map.empty)
    else {
      val walk = Files.walk(base)
      try DirStats(walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !hidden(base.relativize(p)))
        .map(p => base.relativize(p).toString -> Files.size(p)).toMap)
      finally walk.close()
    }
  }

  /** Hidden names: the `.crc` side files of Hadoop's local filesystem,
    * `_SUCCESS` markers and in-flight commit markers. */
  private def hidden(rel: Path): Boolean =
    rel.iterator().asScala.exists(n => n.toString.startsWith(".") || n.toString.startsWith("_"))

  def parquetBytes(dir: String): Long =
    of(dir).files.collect { case (p, n) if p.endsWith(".parquet") => n }.sum
}

object TextFile {
  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
