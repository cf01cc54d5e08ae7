package graft

import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S48: dynamic bucket mode (Paimon `bucket = -1`) — keys
  * assigned to buckets through the persisted key-hash→bucket index;
  * bucket count grows with the data, assignments are immutable. */
class DynamicBucketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", IntegerType),
    StructField("v", StringType)))

  private def dynTable(name: String, target: Int,
      extra: Map[String, String] = Map.empty) =
    GraftTable.create(spark, TestSpark.tmpDir(name), schema,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "-1",
        "dynamic-bucket.target-row-num" -> target.toString) ++ extra)

  /** (kh → bucket) resolved from every index dir the LATEST snapshot
    * references. */
  private def assignments(t: GraftTable): Map[Long, Int] = {
    val chain = Option(t.snapshots.last.bucketIndexes).getOrElse(Seq.empty)
    chain.flatMap { dir =>
      spark.read.parquet(s"${t.root}/$dir")
        .collect().map(r => r.getAs[Long]("kh") -> r.getAs[Int]("bucket"))
    }.toMap
  }

  private def fileBuckets(t: GraftTable): Set[Int] =
    t.system("files").select("bucket").collect().map(_.getInt(0)).toSet

  test("S48a: buckets fill to target then grow; updates add no assignments") {
    val t = dynTable("dyn-grow", target = 3)
    t.upsert((1 to 5).map(k => (k, s"v$k")).toDF("k", "v"))
    // 5 keys / target 3 ⇒ buckets {0, 1}, bucket 0 holds exactly 3 keys
    val a1 = assignments(t)
    assert(a1.size == 5)
    assert(a1.values.toSet == Set(0, 1))
    assert(a1.values.count(_ == 0) == 3 && a1.values.count(_ == 1) == 2)
    assert(fileBuckets(t) == Set(0, 1))
    val chainLen1 = t.snapshots.last.bucketIndexes.length
    // update-only commit: same keys ⇒ NO new assignments, NO new chain entry
    t.upsert((1 to 5).map(k => (k, s"u$k")).toDF("k", "v"))
    assert(assignments(t) == a1)
    assert(t.snapshots.last.bucketIndexes.length == chainLen1)
    val rows = t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == (1 to 5).map(k => (k, s"u$k")))
    // growth: 4 more keys open bucket 2 (and fill 1 first)
    t.upsert((6 to 9).map(k => (k, s"v$k")).toDF("k", "v"))
    val a3 = assignments(t)
    assert(a3.size == 9 && a3.view.filterKeys(a1.contains).toMap == a1) // stability
    assert(a3.values.count(_ == 0) == 3 && a3.values.count(_ == 1) == 3 &&
      a3.values.count(_ == 2) == 3)
    assert(t.read().count() == 9)
  }

  test("S48l: many-partition upsert writes one file per (partition, bucket) group") {
    // r15 regression: the pre-write within-task sort must prefix the
    // FULL routing key (partition cols + bucket). With a bucket-only
    // prefix, 20 partitions interleave row-by-row once AQE coalesces
    // the routing shuffle to one task — a writer eviction per row, one
    // file per row, and an OOM from thousands of live parquet writers.
    val pschema = StructType(Seq(
      StructField("k", LongType), StructField("part", StringType),
      StructField("v", DoubleType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("dyn-manypart"), pschema,
      partitionKeys = Seq("part"), primaryKeys = Seq("k", "part"),
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "1000"))
    val n = 20000L
    t.upsert(spark.range(n).select(col("id").as("k"),
      (col("id") % 20).cast("string").as("part"), (col("id") * 1.0).as("v")))
    assert(t.read().count() == n)
    // 20 partitions x 1 bucket each: file count must be group-bounded
    // (tasks x groups worst case), nowhere near row-bounded
    val files = t.system("files").select("file_path").collect().length
    assert(files <= 80, s"write fan-out exploded: $files files for 20 groups")
  }

  test("S48b: per-partition independent bucket sequences") {
    val s2 = StructType(Seq(
      StructField("pt", StringType),
      StructField("k", IntegerType),
      StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("dyn-part"), s2,
      partitionKeys = Seq("pt"), primaryKeys = Seq("pt", "k"),
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "3"))
    val rows = for (p <- Seq("a", "b"); k <- 1 to 4) yield (p, k, s"$p$k")
    t.upsert(rows.toDF("pt", "k", "v"))
    // each partition independently fills bucket 0 (3 keys) + bucket 1 (1)
    val perPart = t.system("files")
      .select("partition", "bucket").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    assert(perPart.keySet == Set("pt=a", "pt=b"))
    assert(perPart.values.forall(_ == Set(0, 1)), perPart)
    assert(t.read().count() == 8)
  }

  test("S48c: MOR stays correct through growth, delete and compaction") {
    val t = dynTable("dyn-mor", target = 2,
      extra = Map("num-sorted-run.compaction-trigger" -> "0"))
    t.upsert(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    t.upsert(Seq((2, "b2"), (4, "d")).toDF("k", "v"))
    t.delete(Seq((1, "x")).toDF("k", "v"))
    t.upsert(Seq((5, "e"), (1, "back")).toDF("k", "v"))
    def state = t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val want = Seq((1, "back"), (2, "b2"), (3, "c"), (4, "d"), (5, "e"))
    assert(state == want)
    // full compaction preserves contents and assignments
    val before = assignments(t)
    t.compact()
    assert(state == want)
    assert(assignments(t) == before)
  }

  test("S48j: deleting a never-present key mints no assignment (ADVICE r10)") {
    val t = dynTable("dyn-del-absent", target = 3)
    t.upsert(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val a1 = assignments(t)
    assert(a1.size == 2)
    val chainLen = t.snapshots.last.bucketIndexes.length
    // tombstones for keys the index never saw: no capacity consumed,
    // no new chain entry, and the table contents are unchanged
    t.delete(Seq((100, "x"), (200, "y")).toDF("k", "v"))
    assert(assignments(t) == a1, "delete of absent keys grew the index")
    assert(t.snapshots.last.bucketIndexes.length == chainLen)
    assert(t.read().orderBy("k").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // a delete of a PRESENT key still lands in its assigned bucket
    t.delete(Seq((1, "a")).toDF("k", "v"))
    assert(assignments(t) == a1)
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(2))
    // those absent keys can still be inserted later, getting fresh slots
    t.upsert(Seq((100, "now")).toDF("k", "v"))
    assert(assignments(t).size == 3)
    assert(t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "b"), (100, "now")))
  }

  test("S48k: with sequence.field, an out-of-order delete PINS its key's bucket " +
    "(a later lower-seq insert cannot resurrect in another bucket)") {
    val s3 = StructType(schema.fields :+ StructField("seq", LongType))
    val t = GraftTable.create(spark, TestSpark.tmpDir("dyn-ooo"), s3,
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "3",
        "sequence.field" -> "seq"))
    t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    // the CDC flow delivers the DELETE of k=9 (seq=10) before its
    // insert ever arrives: the tombstone must mint k=9's bucket so the
    // late lower-seq insert folds against it bucket-locally
    t.delete(Seq((9, "x", 10L)).toDF("k", "v", "seq"))
    val aDel = assignments(t)
    assert(aDel.size == 3, "sequence.field delete must mint an assignment")
    t.upsert(Seq((9, "late", 5L)).toDF("k", "v", "seq"))
    assert(assignments(t) == aDel, "late insert must land in the pinned bucket")
    // both read paths agree: k=9 stays deleted (seq 5 < 10)
    val v2 = t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    val win = t.read(dataFilters =
      Seq(org.apache.spark.sql.sources.IsNotNull("k"))).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(v2.toSeq == Seq((1, "a"), (2, "b")), s"resurrected: ${v2.toSeq}")
    assert(win.toSeq == v2.toSeq, "read paths disagree")
    // without sequence.field the no-mint optimization still holds (S48j)
  }

  test("S48d: SQL INSERT INTO / OVERWRITE route through the V1Write fallback") {
    spark.conf.set("spark.sql.catalog.graftdyn", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graftdyn.warehouse", TestSpark.tmpDir("dyn-wh"))
    spark.sql("CREATE NAMESPACE graftdyn.db")
    spark.sql("""CREATE TABLE graftdyn.db.t (k INT, v STRING)
                |TBLPROPERTIES ('primary-key'='k', 'bucket'='-1',
                |  'dynamic-bucket.target-row-num'='3')""".stripMargin)
    spark.sql("INSERT INTO graftdyn.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    spark.sql("INSERT INTO graftdyn.db.t VALUES (2, 'b2'), (5, 'e')")
    val got = spark.sql("SELECT k, v FROM graftdyn.db.t ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b2"), (3, "c"), (4, "d"), (5, "e")))
    // the table really is dynamic: more than one bucket formed
    val wh = spark.conf.get("spark.sql.catalog.graftdyn.warehouse")
    val t = GraftTable.load(spark, s"$wh/db.db/t")
    assert(fileBuckets(t).size > 1)
    val before = assignments(t)
    spark.sql("INSERT OVERWRITE graftdyn.db.t VALUES (1, 'z'), (9, 'n')")
    val after = spark.sql("SELECT k, v FROM graftdyn.db.t ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(after == Seq((1, "z"), (9, "n")))
    // assignments persist across the overwrite (immutable contract)
    assert(assignments(t).view.filterKeys(before.contains).toMap == before)
  }

  test("S48e: chain folds; expiry reclaims superseded deltas, reads survive") {
    val t = dynTable("dyn-fold", target = 100,
      extra = Map("manifest.merge-min-count" -> "3"))
    (1 to 4).foreach(i => t.upsert(Seq((i, s"v$i")).toDF("k", "v")))
    val chain = t.snapshots.last.bucketIndexes
    assert(chain.length < 3, s"chain should have folded: $chain")
    assert(assignments(t).size == 4)
    assert(t.read().count() == 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val idxDir = new org.apache.hadoop.fs.Path(s"${t.root}/index")
    val allDirs = fs.listStatus(idxDir).map(_.getPath.getName).toSet
    assert(allDirs.size > chain.length) // superseded deltas still on disk...
    t.expireSnapshots(retainLast = 1)
    val left = fs.listStatus(idxDir).map(_.getPath.getName).toSet
    // ...and exactly the still-referenced ones survive expiry
    assert(left == t.snapshots.last.bucketIndexes.map(_.stripPrefix("index/")).toSet)
    assert(t.read().orderBy("k").collect().map(_.getString(1)).toSeq ==
      (1 to 4).map(i => s"v$i"))
  }

  test("S48h: SQL UPDATE rewrite is rejected (bucket-moving); DELETE tombstone works") {
    spark.conf.set("spark.sql.catalog.graftdyn", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graftdyn.warehouse", TestSpark.tmpDir("dyn-wh2"))
    spark.sql("CREATE NAMESPACE graftdyn.db2")
    spark.sql("""CREATE TABLE graftdyn.db2.t (k INT, v STRING)
                |TBLPROPERTIES ('primary-key'='k', 'bucket'='-1',
                |  'dynamic-bucket.target-row-num'='2')""".stripMargin)
    spark.sql("INSERT INTO graftdyn.db2.t VALUES (1,'a'), (2,'b'), (3,'c')")
    // a group rewrite would move keys out of their assigned buckets
    val e = intercept[Exception](
      spark.sql("UPDATE graftdyn.db2.t SET v = 'x' WHERE k = 2"))
    assert(e.getMessage.contains("dynamic-bucket"), e.getMessage)
    // the tombstone DELETE path is assignment-aware and stays available
    spark.sql("DELETE FROM graftdyn.db2.t WHERE k = 1")
    assert(spark.sql("SELECT k FROM graftdyn.db2.t ORDER BY k")
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    // in-place change still possible: INSERT INTO upserts by PK
    spark.sql("INSERT INTO graftdyn.db2.t VALUES (2, 'b2')")
    assert(spark.sql("SELECT v FROM graftdyn.db2.t WHERE k = 2").first().getString(0) == "b2")
  }

  test("S48g: orphan sweep reclaims crashed-commit index deltas, keeps referenced ones") {
    val t = dynTable("dyn-orphan", target = 3)
    t.upsert(Seq((1, "a")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    // a crashed writer's delta: on disk, referenced by no snapshot chain
    val orphan = new org.apache.hadoop.fs.Path(s"${t.root}/index/idx-orphan-test")
    fs.mkdirs(orphan)
    val removed = t.removeOrphanFiles(ttlMs = 0)
    assert(removed.contains("index/idx-orphan-test"), removed)
    assert(!fs.exists(orphan))
    // the referenced delta survives and the table still resolves
    assert(assignments(t).size == 1)
    assert(t.read().count() == 1)
  }

  test("S48i: a losing concurrent writer leaves no assignment; its retry reassigns once") {
    val t1 = dynTable("dyn-race", target = 3)
    t1.upsert(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    // a second, independent view of the same table (fresh caches — the
    // optimistic-concurrency shape of two writer processes)
    val t2 = GraftTable.load(spark, t1.root)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    def idxDirsOnDisk: Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"${t1.root}/index"))
        .map(_.getPath.getName).toSet
    // another writer holds the claim for snapshot 2: t2's commit loses
    val claim = new org.apache.hadoop.fs.Path(s"${t1.root}/snapshot/.claim-2")
    fs.create(claim, false).close()
    val before = idxDirsOnDisk
    intercept[IllegalStateException](t2.upsert(Seq((4, "d"), (5, "e")).toDF("k", "v")))
    // the loser's index delta was cleaned with its data files — nothing
    // unreferenced lingers to conflict with the retry's fresh assignment
    assert(idxDirsOnDisk == before, s"loser leaked index deltas: ${idxDirsOnDisk -- before}")
    fs.delete(claim, false)
    // retry wins and assigns exactly once, continuing the sequential fill
    val t3 = GraftTable.load(spark, t1.root)
    t3.upsert(Seq((4, "d"), (5, "e")).toDF("k", "v"))
    val a = assignments(t3)
    assert(a.size == 5)
    assert(a.values.count(_ == 0) == 3 && a.values.count(_ == 1) == 2)
    // chain-wide consistency: no key hash maps to two buckets anywhere
    val chain = Option(t3.snapshots.last.bucketIndexes).getOrElse(Seq.empty)
    val raw = chain.map(dir => spark.read.parquet(s"${t3.root}/$dir")).reduce(_ unionByName _)
    val conflicted = raw.groupBy("part", "kh")
      .agg(org.apache.spark.sql.functions.countDistinct("bucket").as("nb"))
      .filter(org.apache.spark.sql.functions.col("nb") > 1).count()
    assert(conflicted == 0L)
    assert(t3.read().count() == 5)
  }

  test("S48 legacy: pre-S48 snapshot JSON (no bucketIndexes field) still deserializes") {
    // the r9-era snapshot shape; jackson materializes an absent Seq
    // field per its own rules (null OR empty — the manifests trap in
    // CLAUDE.md), so every consumer goes through Option(...).getOrElse:
    // pin the BEHAVIOR, not the representation
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val json = """{"id":1,"commitUser":"u","commitIdentifier":1,
                  |"commitKind":"APPEND","schemaId":0,"timestampMs":5,
                  |"manifests":["m-1"]}""".stripMargin.replace("\n", "")
    val snap = mapper.readValue(json, classOf[graft.sources.SnapshotMeta])
    assert(Option(snap.bucketIndexes).getOrElse(Seq.empty).isEmpty)
    assert(snap.manifests == Seq("m-1") && snap.id == 1L)
  }

  test("S48m: without sequence.field the batch-dedup winner ignores the batch's column order") {
    // the fallback version order is the non-key columns desc in TABLE
    // schema order — on both dedup paths: the pre-write dedup (fixed
    // buckets) and the task writer's consecutive-key skip (dynamic)
    val abSchema = StructType(Seq(StructField("k", IntegerType),
      StructField("a", IntegerType), StructField("b", IntegerType)))
    val batch = Seq((1, 1, 9), (1, 2, 0), (2, 5, 5)).toDF("k", "a", "b")
    for (bucket <- Seq("2", "-1")) {
      val winners = Seq(batch, batch.select("k", "b", "a")).map { df =>
        val t = GraftTable.create(spark, TestSpark.tmpDir(s"dyn-colorder$bucket"), abSchema,
          primaryKeys = Seq("k"), options = Map("bucket" -> bucket))
        t.upsert(df)
        t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      }
      assert(winners.distinct.size == 1, s"bucket=$bucket: winners differ: $winners")
      assert(winners.head == Seq((1, 2, 0), (2, 5, 5)), s"bucket=$bucket: ${winners.head}")
    }
  }

  test("S48f: rescale is rejected; dynamic requires primary keys") {
    val t = dynTable("dyn-guard", target = 3)
    t.upsert(Seq((1, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](t.rescaleBucket(4))
    assert(e.getMessage.contains("dynamic-bucket"), e.getMessage)
    val nk = GraftTable.create(spark, TestSpark.tmpDir("dyn-nopk"), schema,
      options = Map("bucket" -> "-1"))
    val e2 = intercept[IllegalArgumentException](nk.append(Seq((1, "a")).toDF("k", "v")))
    assert(e2.getMessage.contains("primary keys"), e2.getMessage)
  }
}
