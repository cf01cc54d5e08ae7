package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.inputFiles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Clustered compaction: sort / z-order rewrites make manifest min/max
  * stats selective — the data-layout half of data skipping. */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Z1: sortBy compaction turns overlapping files into range-prunable ones") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("clust1"),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    // 4 commits, each spanning the FULL id range → every file overlaps
    // every predicate; stats can skip nothing
    (0 until 4).foreach { b =>
      t.append((0L until 400L by 4L).map(i => (i + b, s"v${i + b}")).toDF("id", "v").coalesce(1))
    }
    assert(inputFiles(t.read(dataFilters = Seq(EqualTo("id", 250L)))).length == 4)
    t.compact(sortBy = Seq("id"), partitions = 4)
    // after the sorted rewrite the same point lookup touches ONE file
    assert(inputFiles(t.read(dataFilters = Seq(EqualTo("id", 250L)))).length == 1)
    assert(t.read().count() == 400)
    val range = t.read(dataFilters = Seq(GreaterThan("id", 100L), LessThan("id", 200L)))
    assert(inputFiles(range).length <= 2)
    assert(range.filter(col("id") > 100L && col("id") < 200L).count() == 99)
  }

  test("Z2: z-order compaction prunes on BOTH dimensions") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("clust2"),
      StructType(Seq(StructField("a", IntegerType), StructField("b", IntegerType))))
    // a 64×64 grid written in row-major slabs: perfectly clustered on a,
    // fully scattered on b
    (0 until 4).foreach { s =>
      t.append((for (a <- s * 16 until (s + 1) * 16; b <- 0 until 64) yield (a, b))
        .toDF("a", "b").coalesce(1))
    }
    // before: b-filters touch every file
    assert(inputFiles(t.read(dataFilters = Seq(LessThan("b", 8)))).length == 4)
    t.compact(zorderBy = Seq("a", "b"), partitions = 16)
    val total = inputFiles(t.read()).length
    val aHit = inputFiles(t.read(dataFilters = Seq(GreaterThan("a", 55)))).length
    val bHit = inputFiles(t.read(dataFilters = Seq(LessThan("b", 8)))).length
    // z-clustering bounds each file in BOTH dims: each single-dim filter
    // must now skip at least half the files
    assert(aHit <= total / 2, s"a-filter read $aHit of $total files")
    assert(bHit <= total / 2, s"b-filter read $bHit of $total files")
    assert(t.read().count() == 64 * 64)
    assert(t.read(dataFilters = Seq(LessThan("b", 8)))
      .filter(col("b") < 8).count() == 64 * 8)
  }

  test("Z3: z-value interleave is order-preserving per dimension") {
    import graft.functions.ZOrder64Impl.interleave
    // fixing one dim, z-values are monotone in the other
    val zs = (0 until 100).map(b => interleave(7, b))
    assert(zs == zs.sorted)
    val za = (0 until 100).map(a => interleave(a, 7))
    assert(za == za.sorted)
    // negative ints order below positives (unsigned flip)
    assert(interleave(-5, 0) < interleave(5, 0))
    assert(interleave(Int.MinValue, 0) < interleave(Int.MaxValue, 0))
  }

  test("S42: rescaleBucket re-hashes the table in one commit; history stays readable; writes continue") {
    val path = TestSpark.tmpDir("rescale")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.upsert((1 to 8).map(i => (i, s"v$i", 1L)).toDF("k", "v", "seq"))
    t.upsert(Seq((1, "v1b", 2L)).toDF("k", "v", "seq"))
    val pre = t.latestSnapshotId.get
    def buckets(): Seq[Int] =
      t.system("files").select("bucket").collect().map(_.getInt(0)).toSeq
    assert(buckets().forall(_ < 2), s"pre-rescale buckets ${buckets()}")
    t.rescaleBucket(4)
    // same logical content, version history folded through the merge
    val rows = spark.read.format("graft").load(path).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows.size == 8 && rows.head == ((1, "v1b")), s"$rows")
    // files re-hashed under the NEW count
    val b2 = buckets()
    assert(b2.forall(_ < 4) && b2.exists(_ >= 2), s"post-rescale buckets $b2")
    // time travel to the pre-rescale snapshot unaffected
    assert(t.read(snapshotId = Some(pre)).count() == 8)
    // writes continue under the new layout (fresh load reads the new schema)
    val t2 = GraftTable.load(spark, path)
    t2.upsert(Seq((2, "v2b", 3L)).toDF("k", "v", "seq"))
    val after = spark.read.format("graft").load(path).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(after.size == 8 && after(2) == "v2b")
    // same-count rescale is a no-op
    val head = t2.latestSnapshotId.get
    assert(t2.rescaleBucket(4) == head)
  }

  test("S42b: a crashed rescale fences incremental writes until the rewrite lands") {
    val path = TestSpark.tmpDir("rescalecrash")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.upsert((1 to 8).map(i => (i, s"v$i", 1L)).toDF("k", "v", "seq"))
    val base = t.latestSnapshotId.get
    // simulate the crash window: a conflicting claim makes the rescale's
    // rewrite commit lose AFTER it published the new-layout schema
    val claim = java.nio.file.Paths.get(path, "snapshot", s".claim-${base + 1}")
    java.nio.file.Files.createFile(claim)
    intercept[IllegalStateException] { t.rescaleBucket(4) }
    java.nio.file.Files.delete(claim)
    // schema now says 4 buckets, files are still 2-hashed: every
    // incremental write must refuse — committing would stamp the new
    // schemaId onto a mixed-hash set and falsely re-arm the SPJ claim
    val e = intercept[IllegalStateException] {
      t.upsert(Seq((9, "v9", 2L)).toDF("k", "v", "seq"))
    }
    assert(e.getMessage.contains("mid-rescale"), e.getMessage)
    // retrying the rescale (same target count) repairs: full re-hash
    t.rescaleBucket(4)
    val bks = t.system("files").select("bucket").collect().map(_.getInt(0)).toSeq
    assert(bks.forall(_ < 4) && bks.exists(_ >= 2), s"buckets $bks")
    // and ordinary writes flow again
    t.upsert(Seq((9, "v9", 2L)).toDF("k", "v", "seq"))
    assert(spark.read.format("graft").load(path).count() == 9)
  }

  test("Z4: compactBuckets folds ONLY the triggered groups, leaves the rest untouched") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("lsm"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "4"))
    // bucket of k is stable; find keys per bucket, then load one bucket
    // with 5 runs and the others with 1
    val byBucket = (0L until 200L).groupBy(k => t.bucketOf(Seq(k)))
    assert(byBucket.size == 4)
    val hot = byBucket.keys.min
    val hotKeys = byBucket(hot).take(20)
    val coldRows = byBucket.filterNot(_._1 == hot).values.flatten.take(30).toSeq
    t.upsert(coldRows.map(k => (k, s"cold-$k")).toDF("k", "v"))
    (0 until 5).foreach(i => t.upsert(hotKeys.map(k => (k, s"hot-$i-$k")).toDF("k", "v")))
    val before = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val filesBefore = t.system("files").collect().map(_.getString(0)).toSet

    val committed = t.compactBuckets(trigger = 5)
    assert(committed.isDefined && t.snapshots.last.commitKind == "COMPACT")
    val filesAfter = t.system("files").collect().map(_.getString(0)).toSet
    // cold buckets keep their exact files; the hot bucket's runs are gone
    val untouched = filesBefore.intersect(filesAfter)
    assert(untouched.nonEmpty, "non-triggered groups must keep their files")
    assert(filesAfter.size < filesBefore.size, "triggered group must shrink")
    // folded result identical to the merge the runs produced
    val after = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after == before)
    assert(after(hotKeys.head) == s"hot-4-${hotKeys.head}")
    // nothing left at the trigger → no-op
    assert(t.compactBuckets(trigger = 5).isEmpty)
  }

  test("Z6: compactBuckets folds an aggregation table's group in the per-bucket reader") {
    import graft.sources.GraftMorReaderFactory
    val t = GraftTable.create(spark, TestSpark.tmpDir("lsmagg"),
      StructType(Seq(StructField("k", LongType), StructField("total", LongType),
        StructField("hi", IntegerType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "2", "merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum",
        "fields.hi.aggregate-function" -> "max"))
    val byBucket = (0L until 50L).groupBy(k => t.bucketOf(Seq(k)))
    val Seq(a, b) = byBucket(0).take(2)
    val cold = byBucket(1).head
    t.upsert(Seq((a, 10L, 1), (b, 5L, 7), (cold, 1L, 1)).toDF("k", "total", "hi"))
    t.upsert(Seq((a, 20L, 4), (b, 5L, 2)).toDF("k", "total", "hi"))
    // a -D resets b: only its later versions fold
    t.delete(Seq((b, 0L, 0)).toDF("k", "total", "hi"))
    t.upsert(Seq((a, 3L, 2), (b, 8L, 3)).toDF("k", "total", "hi"))
    def state() = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val want = Seq((a, 33L, 4), (b, 8L, 3), (cold, 1L, 1)).sortBy(_._1)
    assert(state() == want)

    val folds0 = GraftMorReaderFactory.streamedGroups.get() + GraftMorReaderFactory.hashGroups.get()
    assert(t.compactBuckets(trigger = 4).isDefined)
    // the triggered group (bucket 0) folded in ONE merge-on-read task
    assert(GraftMorReaderFactory.streamedGroups.get() +
      GraftMorReaderFactory.hashGroups.get() - folds0 == 1)
    assert(state() == want)
    // the rewritten files hold the folded rows themselves ($ro reads them
    // without a merge); the cold bucket was never compacted
    val ro = t.readOptimized().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(ro == want.filterNot(_._1 == cold))
    // further aggregation folds on top of the compacted state
    t.upsert(Seq((a, 1L, 9)).toDF("k", "total", "hi"))
    assert(state().contains((a, 34L, 9)))
  }

  test("Z5: num-sorted-run.compaction-trigger auto-folds write backlog") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("lsmauto"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("num-sorted-run.compaction-trigger" -> "3"))
    (0 until 7).foreach(i => t.upsert(Seq((1L, s"v$i"), (2L, s"w$i")).toDF("k", "v")))
    // every time the single bucket reaches 3 runs a COMPACT commit folds it
    assert(t.snapshots.exists(_.commitKind == "COMPACT"))
    assert(t.system("files").count() <= 3, "backlog must stay bounded by the trigger")
    val rows = t.read().orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "v6"), (2L, "w6")))
    // the V2 write path (catalog/format INSERTs) triggers the same fold
    val compactsBefore = t.snapshots.count(_.commitKind == "COMPACT")
    (7 until 12).foreach(i =>
      Seq((1L, s"v$i")).toDF("k", "v").write.format("graft")
        .mode(org.apache.spark.sql.SaveMode.Append).save(t.root))
    val t2 = GraftTable.load(spark, t.root)
    assert(t2.snapshots.count(_.commitKind == "COMPACT") > compactsBefore,
      "V2 appends must auto-compact too")
    assert(t2.read().filter(col("k") === 1L).first().getString(1) == "v11")
  }
}
