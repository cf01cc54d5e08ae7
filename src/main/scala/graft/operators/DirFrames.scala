package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The staged frames ([[Bridge.stage]]) operators keep across the queries
  * of one session over one directory: the shingle stage, the verified
  * Jaccard pairs, the LSH candidate sets and the quantized PCA input.
  * Every query on the directory shares them (q_pipeline_curate and
  * q_dedup_minhash on one shard stage the shingles once).
  *
  * A session holds ONE directory's frames: staging for a different
  * directory first releases every frame of the previous one, so a session
  * that curates shard after shard keeps one shard's blocks on the heap,
  * not all of them. A released frame that a lazy result still plans over
  * recomputes from its lineage, never misreads. A session's last
  * directory stays held until the application ends. */
private[graft] object DirFrames {

  private final class Held(val dir: String) {
    val frames = scala.collection.mutable.HashMap.empty[String, DataFrame]
  }
  private val bySession = scala.collection.mutable.HashMap.empty[String, Held]
  private val slots = scala.collection.mutable.HashMap.empty[String, DataFrame]

  /** Application id + session identity + directory. The app id keeps a
    * restarted SparkContext from colliding with a dead session's entries. */
  def key(s: SparkSession, d: String): String = s"${sessionKey(s)}:$d"
  private def sessionKey(s: SparkSession): String =
    s"${s.sparkContext.applicationId}:${System.identityHashCode(s)}"

  /** The held frames of `d`, switching the session to it (call under the
    * lock; release only unpersists without blocking). */
  private def held(s: SparkSession, d: String): Held = {
    val session = sessionKey(s)
    bySession.get(session) match {
      case Some(h) if h.dir == d => h
      case prev =>
        prev.foreach(_.frames.values.foreach(Bridge.release))
        val h = new Held(d)
        bySession(session) = h
        h
    }
  }

  /** The frame `name` of directory `d`, staged from `build` on first use.
    * The stage (a whole Spark job) runs outside the lock, so one session's
    * staging never waits on another's; of two threads that stage the same
    * name at once, the first to finish is kept and the other released. */
  def staged(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame =
    synchronized(held(s, d).frames.get(name)).getOrElse {
      val f = Bridge.stage(build)
      synchronized {
        val h = held(s, d)
        h.frames.get(name) match {
          case Some(first) => Bridge.release(f); first
          case None => h.frames(name) = f; f
        }
      }
    }

  /** Stages `frame` as `name` of directory `d` and releases the frame it
    * replaces: a caller that re-stages per invocation holds one block set
    * per name. */
  def replace(s: SparkSession, d: String, name: String, frame: DataFrame): DataFrame = {
    val f = Bridge.stage(frame)
    synchronized(held(s, d).frames.put(name, f)).foreach(Bridge.release)
    f
  }

  /** Stages `frame` in the session's slot `name`, outside the
    * one-directory rule: it releases the slot's previous frame and no
    * directory's frames. DedupIndex.pairs stages its candidates here —
    * its index root is fresh per query, and counting it as a directory
    * would evict the corpus frames the session's next query reads. */
  def replaceSlot(s: SparkSession, name: String, frame: DataFrame): DataFrame = {
    val f = Bridge.stage(frame)
    synchronized(slots.put(s"${sessionKey(s)}:$name", f)).foreach(Bridge.release)
    f
  }
}
