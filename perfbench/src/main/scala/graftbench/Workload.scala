package graftbench

import org.apache.spark.sql.DataFrame

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** One workload: seeded inputs, a set-up that can be repeated, and a
  * closed loop of balanced rounds of ops. */
trait Workload {
  /** Writes the seeded inputs. */
  def generate(): Unit

  /** Digest of every input the run generated. */
  def digest(): String

  /** One repetition of graft's set-up work on the inputs, in a fresh
    * location; the median time of the repetitions after the first is
    * `setup_s`, and the last one's state is what the timed ops use. */
  def setup(rep: Int): Unit

  /** Untimed calls that load code paths before timing starts. */
  def warmup(): Unit

  /** One round of ops in which every op class appears in fixed
    * proportion. Returns false once the inputs are used up. */
  def nextRound(): Boolean

  /** End-of-run result checks and measurements (untimed). */
  def finish(): Unit

  /** Classes of the ops that carry the workload's main work. */
  def mainClasses: Set[String]

  /** Classes of the read-only queries. */
  def readClasses: Set[String]

  /** Input rows (or documents) the timed ops consumed. */
  def rowsProcessed: Long

  /** Workload-specific end-to-end metrics. */
  def extraMetrics: Seq[Metric]

  /** Per-layer values the workload measures itself (storage, operators). */
  def layerValues: Map[String, Double]
}

object Workload {
  /** Rows of a collected result as comparable, order-free values. */
  def rowSet(rows: Seq[org.apache.spark.sql.Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** Rows in one frame but not the other, counted both ways. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()
}
