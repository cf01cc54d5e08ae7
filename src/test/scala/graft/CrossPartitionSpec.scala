package graft

import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S61: cross-partition upsert (ref: Paimon's cross-partition
  * update mode — dynamic bucket + partition keys outside the primary
  * key). The key index is global; an upsert with a changed partition
  * value moves the key: tombstone into the old group, row + index update
  * into the new. */
class CrossPartitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("status", StringType), // partition key, NOT in the pk
    StructField("v", StringType)))

  private def mk(name: String, extra: Map[String, String] = Map.empty): GraftTable =
    GraftTable.create(spark, TestSpark.tmpDir(name), schema,
      partitionKeys = Seq("status"), primaryKeys = Seq("id"),
      options = Map("bucket" -> "-1") ++ extra)

  private def rows(t: GraftTable) =
    t.read().collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq

  test("S61a: an upsert with a changed partition value MOVES the key") {
    val t = mk("xp-move")
    t.upsert(Seq((1, "open", "v1"), (2, "open", "v1")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "closed", "v2")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((1, "closed", "v2"), (2, "open", "v1")))
    // the old partition no longer serves the key (post-merge filter path)
    assert(t.read(partitionFilter = Some(col("status") === "open"))
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // a pruned library read pins the same bucket-local folds
    val v1 = t.read(dataFilters = Seq(org.apache.spark.sql.sources.IsNotNull("id")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(v1 == rows(t))
  }

  test("S61b: deletes route by the GLOBAL index, not the incoming partition value") {
    val t = mk("xp-del")
    t.upsert(Seq((1, "open", "v1"), (2, "open", "v1")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "closed", "v2")).toDF("id", "status", "v"))
    // the caller deletes by key with a STALE partition value — the index
    // knows the key now lives in 'closed'
    t.delete(Seq((1, "open", "x")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((2, "open", "v1")))
    // deleting an unindexed key is a no-op that must not corrupt anything
    t.delete(Seq((99, "open", "x")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((2, "open", "v1")))
  }

  test("S61c: repeated moves keep exactly one live version per key") {
    val t = mk("xp-pingpong")
    t.upsert(Seq((1, "a", "v1")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "b", "v2")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "a", "v3")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "c", "v4")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((1, "c", "v4")))
    // same-partition update (no move) stays an ordinary upsert
    t.upsert(Seq((1, "c", "v5")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((1, "c", "v5")))
  }

  test("S61d: compaction folds moves away; time travel sees pre-move states") {
    val t = mk("xp-compact")
    val s1 = t.upsert(Seq((1, "open", "v1"), (2, "open", "v1")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "closed", "v2")).toDF("id", "status", "v"))
    t.compact()
    assert(rows(t) == Seq((1, "closed", "v2"), (2, "open", "v1")))
    // $ro after the fold equals the merged state (and re-assignment
    // during the rewrite must not duplicate or relocate keys)
    assert(t.system("ro").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq == rows(t))
    // pre-move snapshot still shows the key in its old partition
    assert(t.read(snapshotId = Some(s1)).collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((1, "open"), (2, "open")))
  }

  test("S61e: null partition values move like any other") {
    val t = mk("xp-null")
    t.upsert(Seq((1, null, "v1")).toDF("id", "status", "v"))
    t.upsert(Seq((1, "set", "v2")).toDF("id", "status", "v"))
    assert(rows(t) == Seq((1, "set", "v2")))
    t.upsert(Seq((1, null, "v3")).toDF("id", "status", "v"))
    assert(t.read().collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2))).toSeq ==
      Seq((1, None, "v3")))
  }

  test("S61f: sequence.field is rejected in cross-partition mode") {
    val t = mk("xp-seq", Map("sequence.field" -> "v"))
    intercept[IllegalArgumentException] {
      t.upsert(Seq((1, "a", "v1")).toDF("id", "status", "v"))
    }
  }

  test("S61h: '/'-, '%'- and sentinel-valued string partitions round-trip the index") {
    // The global index renders partitions as `k=v` strings and the move
    // tombstone re-parses them — a '/' in the value (or a value equal to
    // the null sentinel) must not corrupt the reconstructed partition
    // columns, or the key's old version resurrects in its old group.
    val t = mk("xp-escape")
    t.upsert(Seq((1, "a/b=c", "v1"), (2, "100%/x", "v1"),
      (3, "__GRAFT_NULL__", "v1"), (4, null, "v1")).toDF("id", "status", "v"))
    // sentinel-LITERAL and true-null partitions are distinct groups
    assert(t.read().collect().map(r => (r.getInt(0), Option(r.getString(1)))).sorted.toSeq ==
      Seq((1, Some("a/b=c")), (2, Some("100%/x")), (3, Some("__GRAFT_NULL__")), (4, None)).sortBy(_._1))
    // move every key out of its tricky partition — tombstones must land
    // in the RIGHT old groups (reconstructed through the escaped string)
    t.upsert(Seq((1, "plain", "v2"), (2, "plain", "v2"),
      (3, null, "v2"), (4, "__GRAFT_NULL__", "v2")).toDF("id", "status", "v"))
    val got = t.read().collect().map(r => (r.getInt(0), Option(r.getString(1)), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((1, Some("plain"), "v2"), (2, Some("plain"), "v2"),
      (3, None, "v2"), (4, Some("__GRAFT_NULL__"), "v2")), s"got $got")
    // no resurrection: the old partitions serve nothing
    Seq("a/b=c", "100%/x").foreach { p =>
      assert(t.read(partitionFilter = Some(col("status") === p)).count() == 0, s"stale rows in $p")
    }
    // delete by key with a STALE tricky partition value still routes via the index
    t.delete(Seq((1, "a/b=c", "x")).toDF("id", "status", "v"))
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    // move BACK into a '/'-valued partition (minted group, escaped identity)
    t.upsert(Seq((2, "a/b=c", "v3")).toDF("id", "status", "v"))
    assert(t.read(partitionFilter = Some(col("status") === "a/b=c"))
      .collect().map(r => (r.getInt(0), r.getString(2))).toSeq == Seq((2, "v3")))
  }

  test("S61g: 200 keys migrating between partitions stay exact") {
    val t = mk("xp-scale", Map("dynamic-bucket.target-row-num" -> "16"))
    val init = (1 to 200).map(i => (i, if (i % 2 == 0) "even" else "odd", s"v$i"))
    t.upsert(init.toDF("id", "status", "v"))
    // move every multiple of 3 to partition 'three'
    val mv = (1 to 200).filter(_ % 3 == 0).map(i => (i, "three", s"m$i"))
    t.upsert(mv.toDF("id", "status", "v"))
    val got = rows(t)
    assert(got.size == 200)
    val expect = init.map { case (i, p, v) =>
      if (i % 3 == 0) (i, "three", s"m$i") else (i, p, v)
    }.sorted
    assert(got == expect)
    // partition listing reflects the migration
    val parts = t.system("partitions").select("partition").as[String].collect().toSet
    assert(parts == Set("status=even", "status=odd", "status=three"))
  }

  test("S61h: percent-valued partitions stay injective in the index") {
    // '%' is always escaped in the index's part strings, so a value
    // literally containing an escape sequence cannot forge a '/'
    val v2 = mk("xp-v2")
    v2.upsert(Seq((1, "100%", "v1"), (2, "a%2Fb", "v1")).toDF("id", "status", "v"))
    v2.upsert(Seq((1, "100%", "v2")).toDF("id", "status", "v"))
    assert(rows(v2) == Seq((1, "100%", "v2"), (2, "a%2Fb", "v1")))
    // injective: the literal-"%2F" value cannot forge a '/' and decodes back
    v2.upsert(Seq((2, "moved", "v2")).toDF("id", "status", "v"))
    assert(rows(v2) == Seq((1, "100%", "v2"), (2, "moved", "v2")))
  }
}
