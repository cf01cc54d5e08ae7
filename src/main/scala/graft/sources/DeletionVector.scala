package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Deletion-vector sidecars (S37) — the Paimon `deletion-vectors.enabled`
  * idea re-expressed for this format: a row-predicate DELETE on an
  * append table marks matching ROW POSITIONS in small per-data-file
  * sidecars instead of rewriting the files (copy-on-write touches every
  * group a predicate grazes; at 100 TB that is a rewrite of the corpus
  * for a 0.01% delete). The snapshot's FileMeta carries the dv path, so
  * the vectors are versioned like everything else: time travel before
  * the delete sees the full file, rollback restores it, expiry reclaims
  * superseded vectors with their snapshots.
  *
  * File format (`data/dv/<uuid>.dv`): magic 'GDV1', Int count, then
  * `count` ascending Long row positions (positions within the data
  * file's physical row order, 0-based — the same order parquet's
  * `_metadata.row_index` reports). Positions, not a dense bitmap: a DV
  * exists only when a delete matched, and typical per-file match counts
  * are sparse; 8 B/position is within 2× of a roaring bitmap until
  * ~1/16 of a file is deleted, with none of the container bookkeeping.
  * Vectors are immutable — a second DELETE writes a NEW sidecar holding
  * the union and the commit swaps the FileMeta pointer (the same
  * copy-on-write-the-METADATA shape as delta manifests).
  *
  * Ref: Paimon's deletion-vectors.enabled table option (index/
  * DeletionVectorsIndexFile); the reference connector predates it, so
  * this surface is graded against Paimon's documented semantics.
  */
object DeletionVector {
  val Magic = 0x47445631 // "GDV1"
  val DirRel = "data/dv"
  /** PartitionedFile metadata key carrying the file's deletion-vector
    * sidecar path (table-root-relative). Like GraftMorReaderFactory's
    * SortedKey this is never surfaced as a real metadata column — the
    * scan requests no `_metadata` fields. */
  val DvKey = "__graft_dv"

  /** Write ascending positions as a new immutable sidecar; returns the
    * table-root-relative path. Callable from executor tasks (the delete
    * job writes each file's vector where its positions already are). */
  def write(conf: Configuration, tableRoot: String, positions: Array[Long]): String = {
    val rel = s"$DirRel/${java.util.UUID.randomUUID().toString.replace("-", "")}.dv"
    val p = new Path(tableRoot, rel)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, /*overwrite=*/ false)
    try {
      out.writeInt(Magic)
      out.writeInt(positions.length)
      var i = 0
      while (i < positions.length) {
        // read/merge and the scan's merge-skip both rely on strictly
        // ascending positions — an unsorted caller would silently
        // produce a sidecar that fails to mask its rows
        require(i == 0 || positions(i) > positions(i - 1),
          s"deletion-vector positions must be strictly ascending " +
            s"(positions($i)=${positions(i)} after ${positions(i - 1)})")
        out.writeLong(positions(i))
        i += 1
      }
    } finally out.close()
    rel
  }

  /** Read a sidecar's ascending positions. */
  def read(conf: Configuration, tableRoot: String, rel: String): Array[Long] = {
    val p = new Path(tableRoot, rel)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      require(in.readInt() == Magic, s"not a deletion vector: $rel")
      val n = in.readInt()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = in.readLong(); i += 1 }
      out
    } finally in.close()
  }

  /** Union of two ascending position arrays (repeat-delete merge). */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new java.util.TreeSet[java.lang.Long]()
    a.foreach(out.add(_))
    b.foreach(out.add(_))
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    arr
  }
}
