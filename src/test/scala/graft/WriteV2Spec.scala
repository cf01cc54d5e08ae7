package graft

import graft.sources.GraftTable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 write path: executor-side files + stats in commit
  * messages, truncate / dynamic-partition overwrite, orphan cleanup.
  * Several behaviors here are IMPOSSIBLE on the V1 path (full-table
  * overwrite of an unpartitioned table; static truncate semantics), so
  * their success proves the V2 route engaged. */
class WriteV2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("W0: post-publish failure cleanup never deletes a published snapshot's files") {
    import graft.sources.{FileMeta, GraftBatchWrite, GraftCommitMessage}
    val path = TestSpark.tmpDir("w2postpub")
    val t = GraftTable.create(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val livePaths = t.publishedDataPaths.getOrElse(fail("unreadable reference state"))
    assert(livePaths.nonEmpty)
    val liveMeta = livePaths.toSeq.sorted.map(p => FileMeta(p, Map.empty, 0L, 0))
    // commitOrClean's guard: snapshot 1 is published and references OUR
    // files (the post-publish VirtualMachineError scenario) — cleanup
    // must be refused
    assert(!t.safeToCleanAfterFailedCommit(1, liveMeta))
    // a genuinely failed commit (snap-2 never published) may clean
    assert(t.safeToCleanAfterFailedCommit(2,
      Seq(FileMeta("data/ghost.parquet", Map.empty, 0L, 0))))
    // a LOST RACE (snap-1 exists but is the winner's — references none of
    // our artifacts) may also clean
    assert(t.safeToCleanAfterFailedCommit(1,
      Seq(FileMeta("data/loser.parquet", Map.empty, 0L, 0))))
    // end-to-end V2 abort: Spark calls abort when commit() throws, which
    // includes post-publish throwables — published files must survive,
    // genuine strays must still be swept
    val stray = new org.apache.hadoop.fs.Path(path, "data/stray-task.parquet")
    fs.create(stray, true).close()
    val bw = new GraftBatchWrite(t, t.schema, "append", Array.empty)
    bw.abort(Array(GraftCommitMessage(
      liveMeta :+ FileMeta("data/stray-task.parquet", Map.empty, 0L, 0))))
    assert(!fs.exists(stray), "abort must still sweep unpublished strays")
    livePaths.foreach(p => assert(
      fs.exists(new org.apache.hadoop.fs.Path(path, p)), s"published file $p deleted by abort"))
    assert(spark.read.format("graft").load(path).count() == 2)
  }

  test("W1: append lands executor-reported stats + row counts in the manifest") {
    val path = TestSpark.tmpDir("w2stats")
    Seq((1, "a")).toDF("k", "v").write.format("graft").save(path) // V1 create
    Seq((2, "b"), (3, "c")).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Append).save(path) // V2 append
    val t = GraftTable.load(spark, path)
    val metas = t.system("files").collect()
    assert(metas.length >= 2)
    // the V2-appended files carry footer stats and row counts
    val df = spark.read.format("graft").load(path)
    assert(df.count() == 3)
    assert(t.snapshots.last.commitKind == "APPEND")
  }

  test("W2: mode(overwrite) truncates an UNPARTITIONED table (V1 could not)") {
    val path = TestSpark.tmpDir("w2trunc")
    Seq((1, "old"), (2, "old")).toDF("k", "v").write.format("graft").save(path)
    Seq((9, "new")).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Overwrite).save(path)
    val rows = spark.read.format("graft").load(path).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((9, "new")))
    val t = GraftTable.load(spark, path)
    assert(t.snapshots.last.commitKind == "OVERWRITE")
    // time travel still sees the old data (truncate is a snapshot, not a purge)
    assert(spark.read.format("graft").option("snapshotId", "1").load(path).count() == 2)
  }

  test("W3: dynamic partition overwrite replaces only touched partitions") {
    val path = TestSpark.tmpDir("w2dyn")
    Seq(("a", 1), ("a", 2), ("b", 3)).toDF("pt", "x")
      .write.format("graft").option("partitionKeys", "pt").save(path)
    Seq(("a", 99)).toDF("pt", "x")
      .write.format("graft").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").save(path)
    val rows = spark.read.format("graft").load(path)
      .orderBy("x").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("b", 3), ("a", 99)))
  }

  test("W4: static mode(overwrite) on a partitioned table truncates ALL partitions") {
    val path = TestSpark.tmpDir("w2static")
    Seq(("a", 1), ("b", 2)).toDF("pt", "x")
      .write.format("graft").option("partitionKeys", "pt").save(path)
    Seq(("a", 99)).toDF("pt", "x")
      .write.format("graft").mode(SaveMode.Overwrite).save(path)
    val rows = spark.read.format("graft").load(path).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("a", 99)))
  }

  test("W5: V2-appended files participate in data skipping") {
    val path = TestSpark.tmpDir("w2skip")
    Seq((1, 10L)).toDF("k", "y").write.format("graft").save(path)
    Seq((100, 1000L)).toDF("k", "y")
      .write.format("graft").mode(SaveMode.Append).save(path)
    val t = GraftTable.load(spark, path)
    // manifest min/max from the executor-written footer prunes file 1
    val planned = spark.read.format("graft").load(path).filter(col("k") > 50)
    assert(planned.collect().map(_.getInt(0)).toSeq == Seq(100))
    assert(planned.rdd.getNumPartitions <= 1)
  }

  test("W6: bucketed table routes rows by the same hash as bucket pruning") {
    val path = TestSpark.tmpDir("w2bucket")
    val t = GraftTable.create(spark, path,
      new org.apache.spark.sql.types.StructType()
        .add("k", "int").add("v", "string"),
      options = Map("bucket" -> "4", "bucket-key" -> "k"))
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Append).save(path)
    // every row readable via its pruned bucket alone
    for (k <- 1 to 4) {
      val b = t.bucketOf(Seq(k))
      val got = t.read(bucket = Some(b)).filter(col("k") === k).count()
      assert(got == 1, s"key $k not found in its own bucket $b")
    }
  }

  test("W7: removeOrphanFiles reclaims unreferenced strays, never live files") {
    val path = TestSpark.tmpDir("w2orphan")
    Seq((1, "a")).toDF("k", "v").write.format("graft").save(path)
    val t = GraftTable.load(spark, path)
    // plant a stray (e.g. from an aborted job) older than the TTL
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val stray = new org.apache.hadoop.fs.Path(path, "data/deadbeef-0-0-b0-00000.parquet")
    fs.create(stray, true).close()
    fs.setTimes(stray, System.currentTimeMillis() - 7200 * 1000L, -1)
    val gone = t.removeOrphanFiles(ttlMs = 3600 * 1000L)
    assert(gone == Seq("data/deadbeef-0-0-b0-00000.parquet"))
    assert(spark.read.format("graft").load(path).count() == 1) // live data intact
    assert(t.removeOrphanFiles(ttlMs = 0L).isEmpty) // nothing else to sweep
  }

  test("S70a: NOT NULL columns reject a NULL row loudly on the V2 append path") {
    import org.apache.spark.sql.types._
    val path = TestSpark.tmpDir("w2notnull")
    GraftTable.create(spark, path, StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true))))
    // nullable column accepts nulls; non-nullable values pass
    Seq((1L, Some("a")), (2L, None)).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Append).save(path)
    assert(spark.read.format("graft").load(path).count() == 2)
    // a NULL in the declared NOT NULL column fails the WRITE (no silent
    // store), and the error names the column. On this DataFrameWriter V2
    // path Spark's own TableOutputResolver inserts AssertNotNull against
    // the reported table schema (NOT_NULL_ASSERT_VIOLATION) — the
    // upstream of our writer-side guard, which S70b proves for the
    // table-API path Spark never sees
    val e = intercept[Exception] {
      Seq((Some(3L), Some("c")), (None, Some("d"))).toDF("k", "v")
        .write.format("graft").mode(SaveMode.Append).save(path)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      (m.contains("NOT NULL") && m.contains("'k'")) ||
        (m.contains("NOT_NULL_ASSERT_VIOLATION") && m.contains("k"))),
      s"expected a NOT NULL violation naming 'k', got: ${msgs(e)}")
    // the failed commit must not have published partial rows
    assert(spark.read.format("graft").load(path).count() == 2)
  }

  test("S70b: NOT NULL enforcement covers the table-API path, incl. a PK column") {
    import org.apache.spark.sql.types._
    val path = TestSpark.tmpDir("w2notnullpk")
    val t = GraftTable.create(spark, path, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true))),
      primaryKeys = Seq("id"))
    t.upsert(Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v"))
    val e = intercept[Exception] {
      t.upsert(Seq((Some(3L), 3.5), (None, 4.5)).toDF("id", "v"))
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("NOT NULL") && m.contains("'id'")),
      s"expected a NOT NULL violation naming 'id', got: ${msgs(e)}")
    assert(t.read().count() == 2)
  }

  test("S70c: Delete tombstones are exempt from NOT NULL on NON-key columns " +
    "(delete()'s contract ignores non-key values), key columns stay enforced") {
    import org.apache.spark.sql.types._
    val path = TestSpark.tmpDir("w2notnulldel")
    val t = GraftTable.create(spark, path, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = false))),
      primaryKeys = Seq("id"))
    t.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // a delete batch carrying NULL placeholders in the NOT NULL non-key
    // column must succeed — the -D row's non-key values never merge
    t.delete(Seq((2L, Option.empty[String])).toDF("id", "v"))
    assert(t.read().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // but an INSERT with the same NULL still fails (the exemption is
    // kind-scoped, not a hole in the constraint)
    val e = intercept[Exception] {
      t.upsert(Seq((4L, Option.empty[String])).toDF("id", "v"))
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("NOT NULL") && m.contains("'v'")),
      s"expected a NOT NULL violation naming 'v', got: ${msgs(e)}")
  }

  test("S70d: a within-batch duplicate the writer dedup drops is not NOT NULL-checked") {
    import org.apache.spark.sql.types._
    val path = TestSpark.tmpDir("w2notnulldup")
    // dynamic buckets: the upsert dedups in the task writer (consecutive
    // keys, newest version first), not in a pre-write window
    val t = GraftTable.create(spark, path, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = false),
      StructField("seq", LongType, nullable = false))),
      primaryKeys = Seq("id"), options = Map("bucket" -> "-1", "sequence.field" -> "seq"))
    // the losing (older) version of id=1 carries NULL in the NOT NULL `v`
    t.upsert(Seq((1L, Option("win"), 2L), (1L, Option.empty[String], 1L), (2L, Option("b"), 1L))
      .toDF("id", "v", "seq"))
    assert(t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "win"), (2L, "b")))
    // a NULL on the WINNING version still fails the write
    val e = intercept[Exception] {
      t.upsert(Seq((3L, Option.empty[String], 5L), (3L, Option("old"), 4L)).toDF("id", "v", "seq"))
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("NOT NULL") && m.contains("'v'")),
      s"expected a NOT NULL violation naming 'v', got: ${msgs(e)}")
  }

  test("W8: CHAR padding is applied by the executor writer on the V2 path") {
    val path = TestSpark.tmpDir("w2char")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.CharType(5))))
    GraftTable.create(spark, path, schema)
    Seq((1, "ab"), (2, "toolongvalue")).toDF("k", "c")
      .write.format("graft").mode(SaveMode.Append).save(path)
    val rows = spark.read.format("graft").load(path).orderBy("k")
      .collect().map(_.getString(1))
    assert(rows.toSeq == Seq("ab   ", "toolo"))
  }
}
