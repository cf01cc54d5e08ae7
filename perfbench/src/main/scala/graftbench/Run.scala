package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed op: its class, wall seconds, whether it ran traced, and
  * whether it completed with a correct result. */
final case class OpRec(cls: String, seconds: Double, traced: Boolean, ok: Boolean)

/** State of one benchmark run shared by the workloads: the session, the
  * tracer, every op's record and the failures seen. */
final class Run(val spark: SparkSession) {
  val tracer = new Tracer(spark)
  val ops = mutable.ArrayBuffer[OpRec]()
  val errors = mutable.ArrayBuffer[String]()
  /** Whether the ops that follow run traced. */
  var traceOps = false

  /** Seconds spent inside timed ops; the run stops once it passes the
    * requested duration. */
  def opSeconds: Double = ops.iterator.map(_.seconds).sum

  /** Runs `body` as one timed op, then `check` on its result (untimed).
    * An exception or a failed check counts the op as failed. */
  def op[T](cls: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val traced = traceOps
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(cls, traced)(body))
      catch { case NonFatal(e) => Left(s"$cls failed: $e") }
    val secs = (System.nanoTime() - t0) / 1e9
    val problem = res match {
      case Left(msg) => Some(msg)
      case Right(r) =>
        try check(r)
        catch { case NonFatal(e) => Some(s"$cls check failed: $e") }
    }
    problem.foreach(p => errors += p)
    ops += OpRec(cls, secs, traced, problem.isEmpty)
    res.toOption
  }

  /** A result check outside any op (set-up or the end-of-run checks). */
  def verify(what: String)(problem: => Option[String]): Unit = {
    val p =
      try problem
      catch { case NonFatal(e) => Some(s"$what: $e") }
    p.foreach(m => errors += s"$what: $m")
    checksOutsideOps += 1
    if (p.isDefined) failedChecksOutsideOps += 1
  }
  var checksOutsideOps = 0
  var failedChecksOutsideOps = 0

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def annotate(kv: (String, Double)*): Unit = tracer.annotate(kv: _*)

  def seconds(cls: String): Seq[Double] = ops.filter(o => o.cls == cls && o.ok).map(_.seconds).toSeq
}

/** Peak heap occupancy after a full collection, sampled between rounds:
  * the memory the run retains (caches, metadata), not its garbage. */
object Heap {
  @volatile private var peak = 0L

  def sample(): Unit = {
    // Spark's context cleaner drops the blocks of collected broadcasts and
    // shuffles on its own thread after the first collection; the second
    // one frees them
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
