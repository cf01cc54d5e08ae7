package graft.sources

import org.apache.spark.sql.DataFrame

/** Test access to scan internals the merge specs pin down. */
object MergeTestAccess {
  /** `t` read through the V2 scan with every live file marked unsorted:
    * the same files, merged by the hash strategy instead of the k-way
    * merge. */
  def hashRead(t: GraftTable): DataFrame =
    org.apache.spark.sql.graft.Bridge.v2Frame(t.spark,
      new GraftV2Table(t.root, t.schema,
        pinnedFiles = Some(t.planFiles().map(_.copy(sorted = null)))),
      Map.empty)
}
