package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import java.io.DataOutputStream

/** Atomic publish for per-file index sidecars (bloom/bitmap/BSI).
  *
  * The index REBUILD (`rewrite_file_index`) writes sidecars
  * from executors to a FIXED path derived from the data file — unlike the
  * data-write path, whose file names carry the task attempt id. A
  * speculative or retried task interleaving `fs.create(overwrite = true)`
  * on the same path can tear the file: an unclaimed read degrades to
  * "no claim", but a `bitmap.claim-filters` scan must apply the position
  * lists and would throw. So sidecars publish via task-unique temp +
  * rename — the same discipline as snapshot publication. Both attempts
  * write identical bytes (deterministic value order), so whichever rename
  * lands is complete; a failed rename with an existing destination means
  * the other attempt already published.
  *
  * Crashed writers leave `.<name>.tmp-<uuid>` strays; they are
  * unreferenced by construction and `removeOrphanFiles` reaps them after
  * the TTL grace like any aborted-write stray.
  */
private[graft] object SidecarIO {

  def publish(fs: FileSystem, path: Path)(body: DataOutputStream => Unit): Unit = {
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = new DataOutputStream(new java.io.BufferedOutputStream(fs.create(tmp, true)))
    try body(out) finally out.close()
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      if (!fs.exists(path))
        throw new java.io.IOException(s"cannot publish index sidecar $path")
    }
  }
}
