package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.sources.{Filter, IsNotNull}
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** The read side of a table's file indexes, the twin of
  * [[FileIndexBuilder]] (after Paimon's FileIndexer/FileIndexReader):
  * one [[FileIndex.Kind]] per thing a data file carries — the manifest
  * min/max stats, the bloom sidecar (whole-value, map/array entry and
  * variant-path probes), the bitmap sidecar (S55) and the BSI sidecar
  * (S66). The set is the table's `FileIndexBuilder.spec`, so a table
  * with no index configured reads no sidecar. Every kind answers only
  * from what its sidecar recorded: a column or variant path missing
  * from a sidecar claims nothing, whatever the current options say
  * (S68b). Pruning is residual-safe: the filters stay in the plan.
  *
  * Planning folds each file over the kinds in order (stats, bloom,
  * bitmap, BSI). The bitmap and BSI kinds also decide claims over a
  * scan's file scope ([[claimable]]), and [[FileIndex.tryKeepFor]] folds
  * their keep positions — the one rule behind the positional reader's
  * keep-mask and the sidecar-only COUNT. Each kind caches per data-file
  * path (files are immutable) within bounded driver memory: bitmap
  * value keys only, BSI column headers only, and BSI verdicts (booleans,
  * reset past [[FileIndex.BsiMemoCap]]); positions are never cached. */
final class FileIndex(fs: FileSystem, root: String, schema: StructType, spec: FileIndexSpec) {
  import FileIndex._

  private def sidecar(f: FileMeta, suffix: String) = new Path(root, f.path + suffix)

  /** The table's kinds, in pruning order. */
  val kinds: Seq[Kind] = Seq(Stats) ++
    (if (spec.bloomCols.nonEmpty || spec.variantSpecs.nonEmpty) Seq(Blooms) else Nil) ++
    (if (spec.bitmapCols.nonEmpty) Seq(Bitmaps) else Nil) ++
    (if (spec.bsiCols.nonEmpty) Seq(Bsis) else Nil)

  /** The files of `files` every kind says may hold a row satisfying the
    * conjunction of `filters` and `subs`, and per kind name the files it
    * dropped (each counted by the first kind that drops it). */
  def prune(files: Seq[FileMeta], filters: Seq[Filter],
      subs: Seq[SubscriptPredicate]): (Seq[FileMeta], Map[String, Int]) = {
    val dropped = new Array[Int](kinds.size)
    val kept = files.filter { f =>
      val i = kinds.indexWhere(!_.mayMatch(f, filters, subs))
      if (i >= 0) dropped(i) += 1
      i < 0
    }
    (kept, kinds.map(_.name).zip(dropped).toMap)
  }

  /** Whether a filter is claimable over `scope`: some position-exact
    * kind whose rules `enabled` admits renders its literals, and every file of
    * `scope` recorded its column (value-complete). A file's deletion
    * vector composes with the claim: the positional reader applies the
    * dv skip and the keep-mask together. Memoized per (kind, column) for
    * the life of the returned function, one scan builder. */
  def claimable(scope: Seq[FileMeta], enabled: PositionRules => Boolean): Filter => Boolean = {
    val on = kinds.collect { case k: Positional if enabled(k.rules) => k }
    val memo = scala.collection.mutable.HashMap[(Kind, String), Boolean]()
    fl => on.exists(k => k.rules.claimColumn(fl).exists(c =>
      memo.getOrElseUpdate((k, c), k.covers(c, scope))))
  }

  /** Claimed-filter keep positions of one file (see [[FileIndex.tryKeepFor]]). */
  def keepOf(f: FileMeta, claimed: Seq[Filter]): Option[Array[Long]] =
    tryKeepFor(fs, new Path(root, f.path), claimed)

  /** Manifest min/max and null-count stats (S39). */
  object Stats extends Kind {
    val name = "stats"
    def mayMatch(f: FileMeta, filters: Seq[Filter], subs: Seq[SubscriptPredicate]): Boolean =
      filters.forall(fl => FileStats.mayMatch(fl, f.statsOrEmpty, schema))
  }

  /** The bloom sidecar (S28/S34/S68): whole-value probes for equality
    * and IN, entry-hash probes and entry min/max stats for map/array
    * subscripts and variant paths. A probe of the other hash kind would
    * be a false negative, so each answers only for the kind the sidecar
    * declares (`entryCols`). */
  object Blooms extends Kind {
    val name = "bloom"
    private val cols = spec.bloomCols.toSet
    private val variantCols = spec.variantSpecs.map(_._1).toSet
    private val cache = TrieMap[String, Option[BloomIndex.Sidecar]]()
    private def of(f: FileMeta) =
      cache.getOrElseUpdate(f.path, BloomIndex.read(fs, sidecar(f, BloomIndex.Suffix)))

    def mayMatch(f: FileMeta, filters: Seq[Filter], subs: Seq[SubscriptPredicate]): Boolean =
      filters.forall(fl => valueMayMatch(fl, f)) && subs.forall(p => entryMayMatch(p, f))

    private def valueMayMatch(fl: Filter, f: FileMeta): Boolean =
      BitmapIndex.filterValues(fl) match {
        case Some((c, values)) if values.nonEmpty && cols(c) =>
          of(f) match {
            case Some(sc) if !sc.entryCols.contains(c) => sc.blooms.get(c).forall(b =>
              values.exists(v => BloomIndex.hashLiteral(v, schema(c).dataType).forall(b.mightContain)))
            case _ => true
          }
        case _ => true // all-NULL IN lists and non-equality shapes make no claim
      }

    /** Equality probes the entry hashes. Ranges consult the per-entry
      * min/max stats, which are file-complete for a present column: a
      * key absent from them is null on every row, so no range matches. */
    private def entryMayMatch(p: SubscriptPredicate, f: FileMeta): Boolean =
      if (!cols(p.col) && !variantCols(p.col)) true
      else of(f) match {
        case Some(sc) if sc.entryCols.contains(p.col) &&
            // a variant path answers only where THIS sidecar shredded it
            (!variantCols(p.col) || sc.variantPaths.get(p.col).exists(_.contains(p.key))) =>
          if (p.op == "=")
            sc.blooms.get(p.col).forall(
              _.mightContain(graft.functions.MapEntryHashesImpl.hashEntry(p.key, p.value)))
          else sc.entryStats.get(p.col) match {
            case None => true // key-cap overflow or non-integral values
            case Some(stats) => stats.get(p.key) match {
              case None => false
              case Some((mn, mx)) => p.value.toLongOption.forall { v =>
                p.op match {
                  case ">" => mx > v
                  case ">=" => mx >= v
                  case "<" => mn < v
                  case "<=" => mn <= v
                  case _ => true
                }
              }
            }
          }
        case _ => true
      }
  }

  /** The bitmap sidecar (S55): a present column's value map is
    * file-complete, so a literal absent from it proves no row matches. */
  object Bitmaps extends Positional {
    val name = "bitmap"
    val rules: PositionRules = BitmapRules
    private val cols = spec.bitmapCols.toSet
    private val cache = TrieMap[String, Option[(Long, Map[String, Set[String]])]]()
    private def keysOf(f: FileMeta) =
      cache.getOrElseUpdate(f.path, BitmapIndex.readKeys(fs, sidecar(f, BitmapIndex.Suffix)))

    def covers(c: String, scope: Seq[FileMeta]): Boolean =
      cols(c) && scope.forall(f => keysOf(f).exists(_._2.contains(c)))

    def mayMatch(f: FileMeta, filters: Seq[Filter], subs: Seq[SubscriptPredicate]): Boolean =
      filters.forall { fl =>
        BitmapIndex.filterValues(fl) match {
          case Some((c, values)) if values.nonEmpty && cols(c) =>
            val rendered = values.map(BitmapIndex.render)
            if (rendered.exists(_.isEmpty)) true // unrenderable literal
            else keysOf(f).flatMap(_._2.get(c)).forall(keys => rendered.flatten.exists(keys.contains))
          case _ => true
        }
      }
  }

  /** The BSI sidecar (S66). Pruning is CONJUNCTION-level: an empty
    * intersection of the answerable filters' position sets proves no
    * row satisfies them together, while a range's two halves can each
    * match some row — the gap min/max cannot skip. The verdict is
    * memoized per (file, conjunction); the slices are decoded per
    * verdict and never cached. */
  object Bsis extends Positional {
    val name = "bsi"
    val rules: PositionRules = BsiRules
    private val cols = spec.bsiCols.toSet
    private val cache = TrieMap[String, Option[(Long, Set[String])]]()
    private val memo = TrieMap[(String, String), Boolean]()

    def covers(c: String, scope: Seq[FileMeta]): Boolean =
      cols(c) && scope.forall(f => cache.getOrElseUpdate(f.path,
        BsiIndex.readCols(fs, sidecar(f, BsiIndex.Suffix))).exists(_._2.contains(c)))

    def mayMatch(f: FileMeta, filters: Seq[Filter], subs: Seq[SubscriptPredicate]): Boolean = {
      val relevant = filters.filter(fl => rules.claimColumn(fl).exists(cols))
      if (relevant.isEmpty) return true
      val key = (f.path, relevant.map(_.toString).sorted.mkString("&"))
      memo.getOrElse(key, {
        if (memo.size >= BsiMemoCap) memo.clear()
        val keep = rules.keeper(fs, new Path(root, f.path))
        // unanswerable filters add no constraint
        val v = relevant.flatMap(keep(_)).reduceOption(BitmapIndex.intersect).forall(_.nonEmpty)
        memo.putIfAbsent(key, v)
        v
      })
    }
  }
}

object FileIndex {
  /** Entries of the BSI verdict memo before it resets. */
  val BsiMemoCap = 131072

  /** One index kind's read rules. */
  sealed trait Kind {
    /** The planning step whose dropped files this kind counts. */
    def name: String
    /** False only when what this kind recorded for `f` proves no row
      * satisfies the conjunction of `filters` and `subs`. */
    def mayMatch(f: FileMeta, filters: Seq[Filter], subs: Seq[SubscriptPredicate]): Boolean
  }

  /** A kind whose sidecar answers filters exactly, by row position. */
  sealed trait Positional extends Kind {
    def rules: PositionRules
    /** Whether every file of `scope` recorded column `c`. */
    def covers(c: String, scope: Seq[FileMeta]): Boolean
  }

  /** The executor-safe rules of a position-exact kind: which filters it
    * claims (those whose literals all `render`), and `keeper`, the
    * per-filter keep positions of the data file at a path (None = no
    * answer; the sidecar is read once, on first use). */
  final class PositionRules private[FileIndex] (render: Any => Boolean,
      val keeper: (FileSystem, Path) => Filter => Option[Array[Long]]) {
    /** The column of a claimable shape: equality/IN, an order predicate
      * (BETWEEN arrives as its two halves) or the IsNotNull Spark derives
      * beside each of them. */
    def claimColumn(fl: Filter): Option[String] = fl match {
      case IsNotNull(c) => Some(c)
      case _ =>
        BitmapIndex.filterValues(fl).orElse(BitmapIndex.filterRange(fl).map {
          case (c, lo, _, hi, _) => (c, (lo ++ hi).toSeq)
        }).collect { case (c, vs) if vs.forall(render) => c }
    }
  }

  val BitmapRules = new PositionRules(BitmapIndex.render(_).isDefined, (fs, dataPath) => {
    lazy val sc = BitmapIndex.read(fs, new Path(dataPath.toString + BitmapIndex.Suffix))
    fl => sc.flatMap(BitmapIndex.keepPositions(_, Seq(fl)))
  })

  val BsiRules = new PositionRules(BsiIndex.renderLong(_).isDefined, (fs, dataPath) => {
    lazy val sc = BsiIndex.read(fs, new Path(dataPath.toString + BsiIndex.Suffix))
    fl => sc.flatMap(BsiIndex.keepPositions(_, Seq(fl)))
  })

  /** Keep positions of a claimed conjunction for the data file at
    * `dataPath`: each filter is answered by the bitmap sidecar first,
    * then the BSI sidecar, and the answers intersect. None when some
    * filter is answered by neither (plan-time eligibility guarantees an
    * answer for every claimed filter on every planned file). */
  def tryKeepFor(fs: FileSystem, dataPath: Path, claimed: Seq[Filter]): Option[Array[Long]] = {
    // an empty conjunction means ALL rows, which the fold below would
    // render as no rows: fail loudly instead
    require(claimed.nonEmpty, s"empty claimed-filter conjunction for $dataPath")
    val keepers = Seq(BitmapRules, BsiRules).map(_.keeper(fs, dataPath))
    val answers = claimed.map(fl => keepers.iterator.map(_(fl)).collectFirst { case Some(p) => p })
    if (answers.contains(None)) None else Some(answers.flatten.reduce(BitmapIndex.intersect))
  }

  /** Throwing form for the executor keep-mask: a missing answer there is
    * an invariant breach (e.g. a sidecar reclaimed mid-query) and must
    * fail loudly rather than return unfiltered rows. */
  def keepFor(fs: FileSystem, dataPath: Path, claimed: Seq[Filter]): Array[Long] =
    tryKeepFor(fs, dataPath, claimed).getOrElse(
      throw new IllegalStateException(
        s"no index sidecar answers the claimed filters for $dataPath"))
}

/** What planning kept of a scan's `considered` live files, and per step
  * ([[FilePlan.Steps]]) the files it dropped. */
final case class FilePlan(files: Seq[FileMeta], considered: Int,
    dropped: Map[String, Int] = Map.empty)

object FilePlan {
  val Partition = "partition"
  val Sample = "sample"
  /** Partition pruning, each file index kind in fold order, TABLESAMPLE. */
  val Steps: Seq[String] = Seq(Partition, "stats", "bloom", "bitmap", "bsi", Sample)
}
