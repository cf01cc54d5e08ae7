package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.plainRows
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S64 — row tracking (Paimon's `row-tracking.enabled` /
  * row lineage): append tables assign each row a STABLE `_row_id`
  * (file firstRowId + physical position) and a `_sequence_number` (the
  * committing snapshot) at commit time; ids survive dv deletes,
  * whole-file ops and rollbacks, and are never reused. Compact/rescale
  * preserve ids by materializing them; row-level UPDATE/MERGE/DELETE
  * take the delta path (S65, RowLevelDeltaSpec).
  */
class RowTrackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def mk(name: String, extra: Map[String, String] = Map.empty): GraftTable =
    GraftTable.create(spark, TestSpark.tmpDir(name), schema,
      options = Map("row-tracking.enabled" -> "true") ++ extra)

  /** `readWithLineage` rows, checked against the lineage derived from
    * plain parquet (`_metadata.row_index`, stored lineage columns) — the
    * before/after comparisons below would otherwise hold the read up
    * against itself. */
  private def lineageRows(t: GraftTable, snap: Option[Long] = None): Seq[Row] = {
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val got = rows(t.readWithLineage(snap))
    assert(got == rows(plainRows(t, snap, lineage = true)), "lineage read != plain parquet")
    got
  }

  private def lineage(t: GraftTable, snap: Option[Long] = None): Seq[(Long, String, Long, Long)] =
    lineageRows(t, snap)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3)

  test("S64a: appends assign dense, unique, stable ids; nextRowId advances") {
    val t = mk("rt-basic")
    t.append(Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("id", "v").coalesce(1))
    t.append(Seq((20L, "d"), (21L, "e")).toDF("id", "v").coalesce(1))
    val rows = lineage(t)
    assert(rows.map(_._3) == Seq(0L, 1L, 2L, 3L, 4L), s"ids not dense: $rows")
    // sequence number = the committing snapshot
    assert(rows.filter(_._3 < 3).forall(_._4 == 1L))
    assert(rows.filter(_._3 >= 3).forall(_._4 == 2L))
    assert(Option(t.snapshots.last.nextRowId).map(_.longValue).contains(5L))
    // stability: a second read returns the identical (row → id) mapping
    assert(lineage(t) == rows)
    // the system-table surface serves the same frame
    assert(t.system("row_lineage").collect().length == 5)
  }

  test("S64b: dv deletes keep survivors' ids (positions are physical)") {
    val t = mk("rt-dv", Map("deletion-vectors.enabled" -> "true"))
    t.append((0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val before = lineage(t).map(r => r._1 -> r._3).toMap
    t.dvDelete(col("id") % 3 === 0)
    val after = lineage(t)
    assert(after.map(_._1).sorted == (0L until 10L).filter(_ % 3 != 0).sorted)
    after.foreach { case (id, _, rid, _) =>
      assert(before(id) == rid, s"row $id renumbered by a dv delete")
    }
  }

  test("S64c: time travel serves the lineage as of the snapshot") {
    val t = mk("rt-tt")
    val s1 = t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    t.append(Seq((2L, "b")).toDF("id", "v").coalesce(1))
    assert(lineage(t, Some(s1)).map(_._3) == Seq(0L))
    assert(lineage(t).map(_._3) == Seq(0L, 1L))
  }

  test("S64d: rollback keeps original ranges; later appends never reuse ids") {
    val t = mk("rt-rb")
    val s1 = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, "c")).toDF("id", "v").coalesce(1))
    t.rollbackTo(s1)
    assert(lineage(t).map(_._3) == Seq(0L, 1L))
    // the counter survives the rollback: fresh rows continue past the
    // retired range instead of re-issuing id 2
    t.append(Seq((4L, "d")).toDF("id", "v").coalesce(1))
    assert(lineage(t).map(_._3) == Seq(0L, 1L, 3L))
  }

  test("S64e: overwrite retires old ids and assigns fresh ones") {
    val t = mk("rt-ow")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.overwriteAll(Seq((9L, "z")).toDF("id", "v").coalesce(1))
    val rows = lineage(t)
    assert(rows.map(_._3) == Seq(2L), s"overwrite rows must get FRESH ids: $rows")
  }

  test("S64h: compaction preserves ids via materialized lineage columns") {
    val t = mk("rt-compact", Map("deletion-vectors.enabled" -> "true"))
    t.append((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    t.append((50L until 80L).map(i => (i, s"w$i")).toDF("id", "v").repartition(2))
    t.dvDelete(col("id") % 5 === 0)
    val before = lineage(t).map(r => (r._1, r._2, r._3, r._4)).sortBy(_._1)
    // the fold re-sorts rows (sortBy changes physical order entirely):
    // ids must travel WITH the rows through the rewrite
    t.compact(sortBy = Seq("v"))
    val after = lineage(t).map(r => (r._1, r._2, r._3, r._4)).sortBy(_._1)
    assert(after == before, "compact renumbered rows")
    // the fold consumed the dv and marked its output compacted
    val t2 = graft.sources.GraftTable.load(spark, t.root)
    assert(t2.system("files").collect().forall(r => r.getBoolean(8) && r.getString(7) == null))
    // a post-compact append continues the counter (never reuses an id,
    // even those retired by the dv delete)
    t.append(Seq((99L, "z")).toDF("id", "v").coalesce(1))
    val ids = lineage(t).map(_._3)
    assert(ids.contains(80L) && ids.distinct.size == ids.size,
      s"post-compact append must continue at nextRowId: $ids")
    // a SECOND compact folds already-materialized files losslessly
    t.compact()
    assert(lineage(t).map(r => (r._1, r._3)).sortBy(_._1) ==
      (before.map(r => (r._1, r._3)) :+ ((99L, 80L))).sortBy(_._1))
  }

  test("S64j: a WHERE-targeted compact preserves ids in the folded partition only") {
    val pschema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("pt", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("rt-cmpw"), pschema,
      partitionKeys = Seq("pt"), options = Map("row-tracking.enabled" -> "true"))
    for (c <- 0 until 3)
      t.append(Seq((c * 10L, s"a$c", "a"), (c * 10L + 1, s"b$c", "b"))
        .toDF("id", "v", "pt").coalesce(1))
    val before = lineageRows(t)
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
    t.compactPartitions(col("pt") === "a")
    val after = lineageRows(t)
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(after == before, s"targeted fold renumbered rows: $after vs $before")
    // partition a folded (one compacted file), b untouched (3 files)
    val files = graft.sources.GraftTable.load(spark, t.root).system("files").collect()
    assert(files.count(_.getString(0).contains("pt=a")) == 1)
    assert(files.count(_.getString(0).contains("pt=b")) == 3)
  }

  test("S64l: rescale re-hashes buckets without renumbering rows") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("rt-rescale"), schema,
      options = Map("row-tracking.enabled" -> "true",
        "bucket" -> "2", "bucket-key" -> "id"))
    t.append((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    val before = lineage(t).map(r => (r._1, r._3)).sortBy(_._1)
    t.rescaleBucket(5)
    assert(lineage(t).map(r => (r._1, r._3)).sortBy(_._1) == before,
      "rescale renumbered rows")
    val t2 = GraftTable.load(spark, t.root)
    assert(t2.system("files").collect().map(_.getInt(2)).distinct.length == 5)
  }

  test("S64f: incompatible table shapes are refused") {
    val t = mk("rt-refuse")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // PK and non-parquet tables cannot enable tracking
    val pk = GraftTable.create(spark, TestSpark.tmpDir("rt-pk"), schema,
      primaryKeys = Seq("id"), options = Map("row-tracking.enabled" -> "true"))
    intercept[IllegalArgumentException](pk.upsert(Seq((1L, "a")).toDF("id", "v")))
    val orc = GraftTable.create(spark, TestSpark.tmpDir("rt-orc"), schema,
      options = Map("row-tracking.enabled" -> "true", "file.format" -> "orc"))
    intercept[IllegalArgumentException](orc.append(Seq((1L, "a")).toDF("id", "v")))
  }

  test("S64i: streaming appends assign ids per micro-batch commit") {
    implicit val sc = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val t = mk("rt-stream")
    val q = graft.streaming.GraftStreaming.appendStream(mem.toDF().toDF("id", "v"), t).start()
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    val rows = lineage(t)
    assert(rows.map(_._3).sorted == Seq(0L, 1L, 2L), s"streamed ids: $rows")
    // per-batch sequence numbers = the two micro-batch snapshots
    assert(rows.map(_._4).distinct.sorted == Seq(1L, 2L))
    assert(Option(t.snapshots.last.nextRowId).map(_.longValue).contains(3L))
  }

  test("S64k: lineage reads survive schema evolution (rename + add) over mixed files") {
    val t = mk("rt-evolve")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.compact() // materialized lineage columns in the rewritten file
    t.append(Seq((3L, "c")).toDF("id", "v").coalesce(1)) // positional file
    t.renameColumn("v", "w") // field-id resolution for data cols
    t.addColumn("x", LongType)
    val rows = t.readWithLineage().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      .sortBy(_._3).toSeq
    assert(rows == Seq((1L, "a", 0L, 1L), (2L, "b", 1L, 1L), (3L, "c", 2L, 3L)),
      s"lineage after evolution: $rows")
  }

  test("S64m: randomized append/dv-delete/compact sequences never renumber or reuse an id") {
    val rnd = new scala.util.Random(42)
    val t = mk("rt-fuzz", Map("deletion-vectors.enabled" -> "true"))
    var nextKey = 0L
    var observed = Map.empty[Long, Long] // data key -> row id (keys are never re-added)
    var retired = Set.empty[Long]        // ids whose rows were deleted
    def observe(): Unit = {
      val cur = lineage(t).map(r => (r._1, r._3)).toMap
      cur.foreach { case (k, id) =>
        observed.get(k).foreach(p => assert(p == id, s"row $k renumbered $p -> $id")) }
      assert(cur.values.toSeq.distinct.size == cur.size, "duplicate live ids")
      retired ++= (observed.keySet -- cur.keySet).map(observed)
      (cur.keySet -- observed.keySet).foreach(k =>
        assert(!retired.contains(cur(k)), s"retired id ${cur(k)} reused by row $k"))
      observed ++= cur
    }
    for (_ <- 0 until 12) {
      rnd.nextInt(3) match {
        case 0 =>
          val n = 1 + rnd.nextInt(20)
          val rows = (0 until n).map { _ => nextKey += 1; (nextKey, s"v$nextKey") }
          t.append(rows.toDF("id", "v").coalesce(1))
        case 1 =>
          t.dvDelete(col("id") % (2 + rnd.nextInt(7)) === 0)
        case 2 =>
          t.compact()
      }
      observe()
    }
    assert(observed.nonEmpty && retired.nonEmpty, "fuzz exercised both legs")
  }

  test("S64g: multi-file commits number files deterministically and densely") {
    val t = mk("rt-multi")
    // one commit, several tasks/files — every row id in [0, n) exactly once
    t.append((0L until 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(8))
    val ids = lineage(t).map(_._3)
    assert(ids.sorted == (0L until 200L))
    assert(Option(t.snapshots.last.nextRowId).map(_.longValue).contains(200L))
  }
}
