package graft

import graft.sources.{DeletionVector, GraftTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S37 deletion vectors: row-predicate DELETE on an append table writes
  * per-file position sidecars and swaps FileMeta pointers — no data file
  * is rewritten. Covers the sidecar format, the SQL DELETE path, masked
  * reads, COUNT pushdown, repeat-delete union, full-file drop, time
  * travel/rollback, and the expiry/orphan-GC lifecycle (mirroring the
  * bloom sidecar lifecycle tests, S28e). */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()

  // ---- sidecar format ---------------------------------------------------

  test("S37a: sidecar write/read round-trip and union") {
    val root = TestSpark.tmpDir("dv-fmt")
    val rel = DeletionVector.write(conf, root, Array(0L, 5L, 17L))
    assert(rel.startsWith("data/dv/") && rel.endsWith(".dv"))
    assert(DeletionVector.read(conf, root, rel).toSeq == Seq(0L, 5L, 17L))
    assert(DeletionVector.union(Array(1L, 5L), Array(0L, 5L, 9L)).toSeq ==
      Seq(0L, 1L, 5L, 9L))
    // empty vector round-trips (a predicate that matched no rows in a
    // candidate file never writes one, but the format allows it)
    val empty = DeletionVector.write(conf, root, Array.empty[Long])
    assert(DeletionVector.read(conf, root, empty).isEmpty)
  }

  test("S37b: write rejects non-ascending positions") {
    val root = TestSpark.tmpDir("dv-asc")
    intercept[IllegalArgumentException] {
      DeletionVector.write(conf, root, Array(3L, 1L))
    }
    intercept[IllegalArgumentException] {
      DeletionVector.write(conf, root, Array(2L, 2L))
    }
  }

  // ---- delete path ------------------------------------------------------

  /** Append table with dv enabled, rows 0..99 across two files. */
  private def mkTable(prefix: String): GraftTable = {
    val df = (0 until 100).map(i => (i.toLong, s"r$i", i % 10)).toDF("id", "name", "grp")
    val t = GraftTable.create(spark, TestSpark.tmpDir(prefix), df.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    t.append(df.filter($"id" < 50).coalesce(1))
    t.append(df.filter($"id" >= 50).coalesce(1))
    t
  }

  private def filePaths(t: GraftTable): Set[String] =
    t.system("files").select("file_path").as[String].collect().toSet

  test("S37c: dvDelete masks rows without rewriting data files") {
    val t = mkTable("dv-del")
    val before = filePaths(t)
    assert(before.size == 2)
    val snap = t.dvDelete($"id" % 10 === 3) // 10 rows, both files
    assert(snap == 3L)
    val after = t.system("files")
      .select("file_path", "delete_row_count", "dv_path")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // same physical data files, now each carrying a 5-position vector
    assert(after.map(_._1).toSet == before)
    assert(after.forall { case (_, cnt, dv) => cnt == 5L && dv != null })
    val got = t.read().select("id").as[Long].collect().sorted
    assert(got.length == 90 && got.forall(_ % 10 != 3))
    // snapshot kind OVERWRITE: incremental readers must not re-emit
    assert(t.snapshots.last.commitKind == "OVERWRITE")
  }

  test("S37d: COUNT(*) agg pushdown subtracts dvCount manifest-only") {
    val t = mkTable("dv-cnt")
    t.dvDelete($"id" < 7)
    val df = spark.read.format("graft").load(t.root).groupBy().count()
    // the plan must still be the manifest-only agg scan (its pushed
    // schema names the column count_star_0; a real file scan never does)
    assert(df.queryExecution.executedPlan.toString.contains("count_star_0"))
    assert(df.first().getLong(0) == 93L)
    // min/max over a dv'd file must NOT come from (stale) manifest stats
    val mm = spark.read.format("graft").load(t.root).agg(min("id"), max("id"))
    assert(!mm.queryExecution.executedPlan.toString.contains("min_id_0"))
    assert(mm.first().getLong(0) == 7L)
  }

  test("S37e: repeat delete unions into a NEW sidecar and swaps the pointer") {
    val t = mkTable("dv-union")
    t.dvDelete($"id" >= 0 && $"id" < 10)
    val dv1 = t.system("files").select("dv_path").as[String].collect().filter(_ != null).toSet
    t.dvDelete($"id" >= 5 && $"id" < 15)
    val files = t.system("files")
      .select("file_path", "delete_row_count", "dv_path")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val dv2 = files.map(_._3).filter(_ != null).toSet
    // vectors are immutable: the second delete wrote fresh sidecars
    assert(dv1.intersect(dv2).isEmpty)
    // only the first file (rows 0..49) is grazed; union = positions 0..14
    assert(files.map(_._2).sum == 15L)
    assert(t.read().count() == 85L)
    assert(t.read().select(min("id")).as[Long].first() == 15L)
  }

  test("S37f: a fully-deleted file leaves the manifest") {
    val t = mkTable("dv-full")
    t.dvDelete($"id" < 50) // exactly file 1
    val files = filePaths(t)
    assert(files.size == 1)
    assert(t.read().count() == 50L)
    assert(t.read().select(min("id")).as[Long].first() == 50L)
  }

  test("S37g: predicates and projections still apply above the masked scan") {
    val t = mkTable("dv-filter")
    t.dvDelete($"grp" === 4)
    val rows = spark.read.format("graft").load(t.root)
      .filter($"id" >= 40 && $"id" < 60).select("id", "name")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      (40L until 60L).filter(i => i % 10 != 4))
    assert(rows.forall { case (i, n) => n == s"r$i" })
  }

  test("S37h: time travel sees pre-delete rows; rollback restores them") {
    val t = mkTable("dv-tt")
    val pre = t.latestSnapshotId.get
    t.dvDelete($"id" < 30)
    assert(t.read().count() == 70L)
    assert(t.read(snapshotId = Some(pre)).count() == 100L)
    t.rollbackTo(pre)
    assert(t.read().count() == 100L)
  }

  test("S37i: expiry reclaims superseded vectors, never live ones; orphan GC spares live sidecars") {
    val t = mkTable("dv-gc")
    t.dvDelete($"id" < 10)
    val dv1 = t.system("files").select("dv_path").as[String].collect().filter(_ != null).head
    t.dvDelete($"id" >= 10 && $"id" < 20)
    val dv2 = t.system("files").select("dv_path").as[String].collect().filter(_ != null).head
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    def exists(rel: String) =
      fs.exists(new org.apache.hadoop.fs.Path(t.root, rel))
    assert(exists(dv1) && exists(dv2))
    // live sidecars survive an aggressive orphan sweep
    assert(t.removeOrphanFiles(ttlMs = 0L).forall(p => p != dv1 && p != dv2))
    assert(exists(dv1) && exists(dv2))
    // expiring the pre-swap snapshots reclaims ONLY the superseded vector
    t.expireSnapshots(retainLast = 1)
    assert(!exists(dv1) && exists(dv2))
    assert(t.read().count() == 80L)
  }

  test("S37j: SQL DELETE on a dv table goes through sidecars (files unchanged)") {
    val wh = TestSpark.tmpDir("dv-sql-wh")
    spark.conf.set("spark.sql.catalog.gdvt", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gdvt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvt.ns")
    spark.sql("DROP TABLE IF EXISTS gdvt.ns.t")
    spark.sql("""CREATE TABLE gdvt.ns.t (id BIGINT, v STRING)
                |TBLPROPERTIES ('deletion-vectors.enabled'='true')""".stripMargin)
    spark.range(0, 1000).select($"id", concat(lit("v"), $"id").as("v"))
      .createOrReplaceTempView("dv_sql_src")
    spark.sql("INSERT INTO gdvt.ns.t SELECT * FROM dv_sql_src")
    val t = GraftTable.load(spark, s"$wh/ns.db/t")
    val before = filePaths(t)
    spark.sql("DELETE FROM gdvt.ns.t WHERE id >= 100 AND id < 250")
    assert(filePaths(t) == before) // no rewrite
    assert(t.system("files").agg(sum("delete_row_count")).first().getLong(0) == 150L)
    assert(spark.sql("SELECT count(*) FROM gdvt.ns.t").first().getLong(0) == 850L)
    assert(spark.sql("SELECT count(*) FROM gdvt.ns.t WHERE id < 300").first().getLong(0) == 150L)
  }

  test("S37l: partitioned table — mixed partition+row predicate masks only within matching partitions") {
    val df = (0 until 100).map(i => (i.toLong, s"p${i % 4}", i % 10)).toDF("id", "pt", "grp")
    val t = GraftTable.create(spark, TestSpark.tmpDir("dv-part"), df.schema,
      partitionKeys = Seq("pt"),
      options = Map("deletion-vectors.enabled" -> "true"))
    t.append(df)
    val before = filePaths(t)
    // predicate mixes a partition column (pt, directory-borne — the dv
    // read must materialize it) and a data column
    t.dvDelete($"pt" === "p1" && $"grp" < 5)
    assert(filePaths(t) == before) // no rewrite, masked in place
    val rows = t.read().select("id", "pt").as[(Long, String)].collect()
    // p1 holds ids ≡ 1 (mod 4): 25 ids whose id%10 cycles (1,5,9,3,7);
    // grp<5 keeps {1,3} of each 5-cycle → 10 masked rows
    assert(rows.length == 90)
    assert(rows.forall { case (id, pt) =>
      !(pt == "p1" && id % 10 < 5)
    })
    // only p1's file(s) carry vectors
    val dvParts = t.system("files").select("partition", "dv_path")
      .collect().filter(_.getString(1) != null).map(_.getString(0)).toSet
    assert(dvParts == Set("pt=p1"))
  }

  test("S37q: dv deletes and a delta UPDATE on partitions whose directory names need escaping") {
    // `New York` is a legal path character but URI-encodes (%20); `a:b`
    // is escaped in the directory name itself (a%3Ab) and URI-encodes a
    // second time (%253A): the `_file` the deletes and the delta commit
    // key on must be the path the manifest records, not its URI form
    val wh = TestSpark.tmpDir("dv-esc-wh")
    spark.conf.set("spark.sql.catalog.gdvq", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gdvq.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvq.ns")
    spark.sql("""CREATE TABLE gdvq.ns.t (id BIGINT, v STRING, city STRING)
                |PARTITIONED BY (city)
                |TBLPROPERTIES ('deletion-vectors.enabled'='true')""".stripMargin)
    val cities = Seq("New York", "a:b", "plain")
    (0 until 60).map(i => (i.toLong, s"v$i", cities(i % 3))).toDF("id", "v", "city")
      .createOrReplaceTempView("dv_esc_src")
    spark.sql("INSERT INTO gdvq.ns.t SELECT * FROM dv_esc_src")
    val t = GraftTable.load(spark, s"$wh/ns.db/t")
    val before = filePaths(t)
    t.dvDelete($"id" < 6) // library path: 0..5, two rows per city
    spark.sql("DELETE FROM gdvq.ns.t WHERE id >= 54") // SQL path: 54..59
    spark.sql("UPDATE gdvq.ns.t SET v = 'upd' WHERE id = 30 OR id = 31") // delta commit
    assert(before.subsetOf(filePaths(t))) // masked in place, no rewrite
    val expected = (6 until 54).map(i =>
      (i.toLong, if (i == 30 || i == 31) "upd" else s"v$i", cities(i % 3)))
    val got = t.read().select("id", "v", "city").as[(Long, String, String)].collect()
      .sortBy(_._1).toSeq
    assert(got == expected)
    assert(t.system("files").agg(sum("delete_row_count")).first().getLong(0) == 14L)
  }

  test("S37m: incremental/streaming backfill masks dv rows like a batch read") {
    val t = mkTable("dv-incr")
    t.dvDelete($"id" % 10 === 3)
    // a fresh backfill (readIncrement from 0) must equal the batch read:
    // append tables carry no retractions, so replayed appends apply the
    // CURRENT snapshot's masks
    val backfill = t.readIncrement(0L, t.latestSnapshotId.get)
      .select("id").as[Long].collect().sorted
    assert(backfill.length == 90 && backfill.forall(_ % 10 != 3))
    // and the streaming source sees the same masked rows
    val q = spark.readStream.format("graft").load(t.root)
      .writeStream.outputMode("append").format("memory").queryName("dv_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dv_stream").first().getLong(0) == 90L)
    } finally q.stop()
  }

  test("S37k: compaction purges masked rows and clears the vectors") {
    val t = mkTable("dv-compact")
    t.dvDelete($"id" % 2 === 0)
    assert(t.read().count() == 50L)
    t.compact()
    val files = t.system("files").select("dv_path", "record_count")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.forall(_._1 == null)) // fresh files, no vectors
    assert(files.map(_._2).sum == 50L)
    assert(t.read().select("id").as[Long].collect().forall(_ % 2 == 1))
  }

  test("S37p: failure-path cleanup never reclaims a published dv sidecar") {
    import graft.sources.{GraftDeltaBatchWrite, GraftDeltaCommitMessage}
    val t = mkTable("dv-postpub")
    t.dvDelete(col("id") === 7L)
    val tt = GraftTable.load(spark, t.root)
    // publishedDataPaths must carry dv refPaths, not just data paths
    val live = tt.publishedDataPaths.getOrElse(fail("unreadable reference state"))
    val dvs = live.filter(_.endsWith(".dv"))
    assert(dvs.nonEmpty, "published reference set must include dv sidecars")
    val snapId = tt.latestSnapshotId.get
    // post-publish throwable: the durable snapshot references OUR rels
    assert(!tt.safeToCleanDvsAfterFailedCommit(snapId, dvs))
    // genuinely failed commit (target id never published): clean
    assert(tt.safeToCleanDvsAfterFailedCommit(snapId + 7, dvs))
    // lost race: the winner's snapshot references none of our rels
    assert(tt.safeToCleanDvsAfterFailedCommit(snapId, Set("data/dv/ghost.dv")))
    // delta-write abort: a partial ADOPTED as the published final must
    // survive; a genuine pre-commit stray partial must still sweep
    val fsys = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val stray = DeletionVector.write(conf, t.root, Array(0L))
    val adopted = dvs.head
    new GraftDeltaBatchWrite(tt).abort(Array(GraftDeltaCommitMessage(
      Seq.empty, Seq.empty,
      Seq(("data/whatever.parquet", adopted, 1L),
        ("data/whatever.parquet", stray, 1L)))))
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(t.root, stray)),
      "abort must still sweep unpublished partials")
    assert(fsys.exists(new org.apache.hadoop.fs.Path(t.root, adopted)),
      "abort deleted a snapshot-referenced dv sidecar")
    // and the masked read still works
    assert(tt.read().count() == 99)
  }
}
