package graft

import graft.sources.ScanTestAccess.inputFiles
import graft.sources.{BloomIndex, GraftScan, GraftTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S28 — per-file bloom-filter column index
  * (file-index.bloom-filter.columns): equality-predicate file skipping
  * on high-cardinality columns where min/max stats cannot prune.
  */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plannedOfTotal(df: DataFrame): (Int, Int) = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
    }
    assert(scans.size == 1)
    val d = scans.head.description()
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d).getOrElse(fail(s"no file count in: $d"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("S28: bloom index prunes files on equality; no false negatives") {
    val path = TestSpark.tmpDir("bloom")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bloom-filter.columns" -> "u"))
    // 4 commits = 4 files with disjoint, UNSORTED high-cardinality values:
    // min/max stats overlap fully, so only the bloom can discriminate
    for (c <- 0 until 4)
      t.append((0 until 500).map(i => (c * 1000L + i, s"u-${i * 7 % 500}-$c"))
        .toDF("id", "u").coalesce(1))
    assert(t.latestSnapshotId.contains(4L))

    // equality on a value present in exactly one file
    val hit = spark.read.format("graft").load(path).filter($"u" === "u-14-2")
    assert(plannedOfTotal(hit) == ((1, 4)), "bloom should isolate the one matching file")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(2002L))

    // absent value: all files pruned, zero rows, zero tasks over data
    val miss = spark.read.format("graft").load(path).filter($"u" === "nope")
    assert(plannedOfTotal(miss)._1 == 0)
    assert(miss.count() == 0)

    // IN list spanning two files keeps exactly those two
    val in2 = spark.read.format("graft").load(path).filter($"u".isin("u-14-0", "u-14-3"))
    assert(plannedOfTotal(in2) == ((2, 4)))
    assert(in2.count() == 2)

    // library read path prunes identically (dataFilters are pruning
    // hints — the row predicate is still the caller's to apply)
    import org.apache.spark.sql.sources.EqualTo
    val lib = t.read(dataFilters = Seq(EqualTo("u", "u-14-1")))
    assert(inputFiles(lib).length == 1, "library path should open only the matching file")
    assert(lib.filter($"u" === "u-14-1").collect().map(_.getLong(0)).toSeq == Seq(1002L))
  }

  test("S28b: missing sidecar (legacy file) disables pruning, never correctness") {
    val path = TestSpark.tmpDir("bloomlegacy")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bloom-filter.columns" -> "u"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "u").coalesce(1))
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "u").coalesce(1))
    // simulate a legacy file: remove one sidecar
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val dataDir = new org.apache.hadoop.fs.Path(path, "data")
    val sidecars = fs.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(BloomIndex.Suffix))
    assert(sidecars.length == 2, "each file should carry a sidecar")
    fs.delete(sidecars.head, false)
    val t2 = GraftTable.load(spark, path) // fresh instance: no stale bloom cache
    // value in the sidecar-less file: the file must survive pruning
    val rows = spark.read.format("graft").load(path).filter($"u".isin("a", "b", "c", "d"))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L), "legacy files must keep every row reachable")
    assert(t2.read().count() == 4)
  }

  test("S28c: sidecars die with their data files (expiry + orphan GC)") {
    val path = TestSpark.tmpDir("bloomgc")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bloom-filter.columns" -> "u"))
    t.append(Seq((1L, "a")).toDF("id", "u"))
    t.append(Seq((2L, "b")).toDF("id", "u"))
    t.compact() // rewrites the live set; old files become expirable
    t.expireSnapshots(retainLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data")).map(_.getPath.getName)
    val dataFiles = left.filterNot(_.endsWith(BloomIndex.Suffix)).toSet
    val sidecarBases = left.filter(_.endsWith(BloomIndex.Suffix))
      .map(_.dropRight(BloomIndex.Suffix.length)).toSet
    assert(sidecarBases.subsetOf(dataFiles),
      s"every surviving sidecar must index a live data file: $left")
    assert(dataFiles.nonEmpty && sidecarBases == dataFiles)
    // orphan GC with ttl 0 removes nothing extra (all files live)
    assert(t.removeOrphanFiles(ttlMs = 0).isEmpty)
  }

  test("S28e: sidecar lifecycle across ALL cleanup paths on one table — " +
    "commit-clean, write abort, expiry, orphan GC leave no orphaned .bfidx") {
    val path = TestSpark.tmpDir("bloomlife")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bloom-filter.columns" -> "u"))
    t.append(Seq((1L, "a")).toDF("id", "u"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    def dataDir: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, "data")).map(_.getPath.getName).toSeq
    def assertNoOrphanSidecars(): Unit = {
      val names = dataDir
      val dataFiles = names.filterNot(_.endsWith(BloomIndex.Suffix)).toSet
      val bases = names.filter(_.endsWith(BloomIndex.Suffix))
        .map(_.dropRight(BloomIndex.Suffix.length)).toSet
      assert(bases.subsetOf(dataFiles), s"orphaned sidecars: ${bases.diff(dataFiles)}")
    }

    // 1. COMMIT-CLEAN: plant the target snapshot id from INSIDE the
    // append's own write job (after base capture, before commit) — the
    // optimistic-concurrency claim fails and commitOrClean must delete
    // the staged data files AND their sidecars
    val before = dataDir.toSet
    val planting = Seq((10L, "x"), (11L, "y")).toDF("id", "u").rdd
      .mapPartitions { it =>
        val f = org.apache.hadoop.fs.FileSystem.getLocal(
          new org.apache.hadoop.conf.Configuration())
        val o = f.create(new org.apache.hadoop.fs.Path(path, "snapshot/snap-2.json"), true)
        o.write("{}".getBytes); o.close()
        it
      }
    val plantingDf = spark.createDataFrame(planting,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))))
    intercept[Exception](t.append(plantingDf))
    assert(dataDir.toSet == before, "failed commit must clean staged files + sidecars")
    assertNoOrphanSidecars()
    assert(fs.delete(new org.apache.hadoop.fs.Path(path, "snapshot/snap-2.json"), false),
      "planted snapshot should exist and be deletable")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "snapshot/snap-2.json")))

    // 2. WRITE ABORT (V2): a task failure mid-INSERT aborts the batch
    // write; completed tasks' files and sidecars must be deleted
    spark.conf.set("spark.sql.catalog.graftbl", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graftbl.warehouse", TestSpark.tmpDir("bloomlife-wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftbl.db")
    spark.sql("""CREATE TABLE graftbl.db.t (id BIGINT, u STRING)
                |TBLPROPERTIES ('file-index.bloom-filter.columns'='u')""".stripMargin)
    spark.sql("INSERT INTO graftbl.db.t VALUES (1, 'a')")
    val wh = spark.conf.get("spark.sql.catalog.graftbl.warehouse")
    val tblData = new org.apache.hadoop.fs.Path(s"$wh/db.db/t", "data")
    val beforeAbort = fs.listStatus(tblData).map(_.getPath.getName).toSet
    intercept[Exception] {
      spark.sql("""INSERT INTO graftbl.db.t
                  |SELECT id, IF(id = 99, raise_error('boom'), CAST(id AS STRING))
                  |FROM (SELECT explode(sequence(90, 99)) AS id) t""".stripMargin)
    }
    assert(fs.listStatus(tblData).map(_.getPath.getName).toSet == beforeAbort,
      "aborted V2 write must delete its files and sidecars")
    // ... and the JOB-level abort reclaims every sidecar kind of the
    // files that tasks which SUCCEEDED before the job died had written:
    // four write tasks, the last one failing after the other three
    // committed their files with bloom, bitmap and BSI sidecars
    spark.udf.register("fail_late_at", (id: Long, bad: Long) => {
      if (id == bad) { Thread.sleep(2000); throw new IllegalStateException("boom") }
      id.toString
    })
    spark.sql("""CREATE TABLE graftbl.db.t3 (id BIGINT, u STRING, c STRING)
                |TBLPROPERTIES ('file-index.bloom-filter.columns'='u',
                |  'file-index.bitmap.columns'='c', 'file-index.bsi.columns'='id')
                |""".stripMargin)
    spark.sql("INSERT INTO graftbl.db.t3 VALUES (1, 'a', 'x')")
    val t3Data = new org.apache.hadoop.fs.Path(s"$wh/db.db/t3", "data")
    val beforeJobAbort = fs.listStatus(t3Data).map(_.getPath.getName).toSet
    assert(Seq(BloomIndex.Suffix, graft.sources.BitmapIndex.Suffix,
      graft.sources.BsiIndex.Suffix).forall(sfx => beforeJobAbort.exists(_.endsWith(sfx))),
      s"precondition: the committed file carries all three sidecars: $beforeJobAbort")
    intercept[Exception] {
      spark.sql("""INSERT INTO graftbl.db.t3
                  |SELECT id, fail_late_at(id, 99), CAST(id % 3 AS STRING)
                  |FROM range(0, 100, 1, 4)""".stripMargin)
    }
    val afterJobAbort = fs.listStatus(t3Data).map(_.getPath.getName).toSet
    assert(afterJobAbort == beforeJobAbort,
      s"job abort left files behind: ${afterJobAbort.diff(beforeJobAbort)}")

    // 3. EXPIRY: compaction + retain-1 reclaims superseded files with
    // their sidecars
    t.append(Seq((2L, "b")).toDF("id", "u"))
    t.compact()
    t.expireSnapshots(retainLast = 1)
    assertNoOrphanSidecars()
    assert(dataDir.exists(_.endsWith(BloomIndex.Suffix)),
      "live compacted file keeps its sidecar")

    // 4. ORPHAN GC: a data file + sidecar referenced by no snapshot
    // (aborted-job leftovers) are reclaimed together
    val orphanData = new org.apache.hadoop.fs.Path(path, "data/orphan-000.parquet")
    val orphanSidecar = new org.apache.hadoop.fs.Path(path,
      "data/orphan-000.parquet" + BloomIndex.Suffix)
    for (p <- Seq(orphanData, orphanSidecar)) {
      val o = fs.create(p, true); o.write("x".getBytes); o.close()
    }
    val removed = t.removeOrphanFiles(ttlMs = 0)
    assert(removed.exists(_.contains("orphan-000")), s"orphan not reclaimed: $removed")
    assert(!fs.exists(orphanData) && !fs.exists(orphanSidecar),
      "orphan GC must reclaim the data file AND its sidecar")
    assertNoOrphanSidecars()
    // live data intact through all four paths
    assert(spark.read.format("graft").load(path).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("S47: rewrite_file_index builds bit-compatible sidecars for pre-index files") {
    // table WITHOUT the index options: files land sidecar-less. Besides
    // the scalar bloom column it has a map with integral values (entry
    // hashes + per-entry range stats) and a JSON column (variant shreds)
    val path = TestSpark.tmpDir("rwidx")
    val schema = StructType(Seq(StructField("id", LongType), StructField("u", StringType),
      StructField("props", MapType(StringType, IntegerType)), StructField("js", StringType)))
    val indexOptions = Map(
      "file-index.bloom-filter.columns" -> "u,props",
      "file-index.variant.columns" -> "js",
      "file-index.variant.js.paths" -> "$.n,$.tag")
    // file c: props['k'] in [10c, 10c + 9], js $.n in [100c, 100c + 49]
    def batch(c: Int) = (0 until 500).map(i => (c * 1000L + i, s"u-${i * 7 % 500}-$c",
      Map("k" -> (c * 10 + i % 10)), s"""{"n": ${c * 100 + i % 50}, "tag": "t$c"}"""))
      .toDF("id", "u", "props", "js").coalesce(1)
    val t = GraftTable.create(spark, path, schema)
    for (c <- 0 until 4) t.append(batch(c))

    // flip the options on (S43), then rebuild the index (S47)
    t.setOptions(indexOptions)
    assert(t.rewriteFileIndex() == 4L)
    assert(t.rewriteFileIndex() == 0L, "second call finds nothing missing")

    // pruning now engages exactly as on a written-with-index table
    val fresh = GraftTable.load(spark, path) // bloom cache is per-instance
    import org.apache.spark.sql.sources.EqualTo
    assert(inputFiles(fresh.read(dataFilters = Seq(EqualTo("u", "u-14-2")))).length == 1)
    assert(inputFiles(fresh.read(dataFilters = Seq(EqualTo("u", "nope")))).isEmpty)
    // ... including the range half of subscript pruning and the variant
    // shreds, whose entry stats the rebuild computes like the writer
    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      def load = spark.read.format("graft").load(path)
      val k = load.filter(element_at(col("props"), "k") > 25)
      assert(plannedOfTotal(k) == ((2, 4)), "props['k'] > 25 must plan files 2 and 3 only")
      assert(k.count() == 200 + 500)
      val n = load.filter(expr("variant_get(parse_json(js), '$.n', 'bigint') > 250"))
      assert(plannedOfTotal(n) == ((1, 4)), "$.n > 250 must plan only file 3")
      assert(n.count() == 500)
      val tag = load.filter(expr("get_json_object(js, '$.tag') = 't1'"))
      assert(plannedOfTotal(tag) == ((1, 4)), "$.tag = 't1' must plan only file 1")
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }

    // bit-compatibility: a twin table written WITH the options from day
    // one produces byte-identical sidecars for the same rows (same
    // builder: same hashes, sizing, entry stats and shreds)
    val twin = GraftTable.create(spark, TestSpark.tmpDir("rwidx-twin"), schema,
      options = indexOptions)
    for (c <- 0 until 4) twin.append(batch(c))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    def sidecarByMinId(root: String): Map[Long, Seq[Byte]] = {
      val tt = GraftTable.load(spark, root)
      tt.system("files").select("file_path").collect().map(_.getString(0)).map { rel =>
        val abs = s"$root/$rel"
        val minId = spark.read.parquet(abs).agg(min("id")).head.getLong(0)
        val sc = new org.apache.hadoop.fs.Path(abs + BloomIndex.Suffix)
        val bytes = new Array[Byte](fs.getFileStatus(sc).getLen.toInt)
        val in = fs.open(sc)
        try in.readFully(bytes) finally in.close()
        minId -> bytes.toSeq
      }.toMap
    }
    val rebuilt = sidecarByMinId(path)
    assert(rebuilt.keySet == Set(0L, 1000L, 2000L, 3000L))
    assert(rebuilt == sidecarByMinId(twin.root),
      "rebuilt sidecars must carry the exact bytes the write path writes")
  }

  test("S28f: hash-KIND safety — a legacy (pre-v3) sidecar makes no struct " +
    "claims (its struct blooms hold whole-value hashes; an entry probe " +
    "would false-negative and prune a matching file)") {
    val path = TestSpark.tmpDir("bloomkind")
    val schema = StructType(Seq(
      StructField("i1", IntegerType),
      StructField("r", StructType(Seq(
        StructField("name", StringType), StructField("score", IntegerType))))))
    val t = GraftTable.create(spark, path, schema,
      options = Map("file-index.bloom-filter.columns" -> "r"))
    t.append(Seq((1, "dd", 5)).toDF("i1", "n", "s")
      .select(col("i1"), struct(col("n").as("name"), col("s").as("score")).as("r"))
      .coalesce(1))

    // the write path declares the struct column entry-hashed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val rel = t.system("files").select("file_path").head.getString(0)
    val scPath = new org.apache.hadoop.fs.Path(s"$path/$rel" + BloomIndex.Suffix)
    assert(BloomIndex.read(fs, scPath).get.entryCols == Set("r"),
      "fresh sidecars must declare their entry-hashed columns")

    // forge the sidecar back to what the PRE-v3 writer produced for a
    // struct column: format GBF2, whole-value bloom, no declaration. An
    // all-zero bloom answers mightContain=false for EVERY probe, so any
    // unsound probe against it would prune the (matching) file.
    // (through fs, so the local ChecksumFileSystem's .crc stays in sync)
    val out = new java.io.DataOutputStream(fs.create(scPath, true))
    out.writeInt(0x47424632) // GBF2
    out.writeInt(1)
    out.writeUTF("r")
    out.writeInt(1) // one all-zero word
    out.writeLong(0L)
    out.writeInt(0) // no entry stats
    out.close()

    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      val df = spark.read.format("graft").load(path).filter($"r".getField("name") === "dd")
      assert(plannedOfTotal(df) == ((1, 1)),
        "legacy struct sidecar must decline the claim and keep the file")
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("S28d: PK tables bloom-skip only on version-invariant key columns") {
    val path = TestSpark.tmpDir("bloompk")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("file-index.bloom-filter.columns" -> "v"))
    t.upsert(Seq((1L, "old")).toDF("k", "v"))
    t.upsert(Seq((1L, "new")).toDF("k", "v"))
    // a bloom skip on v would drop the file holding the NEWEST version
    // and resurrect "old" through the merge — the skip must not apply
    val rows = spark.read.format("graft").load(path).filter($"v" === "old").collect()
    assert(rows.isEmpty, "merge must hide the superseded version")
    assert(spark.read.format("graft").load(path).collect().map(_.getString(1)).toSeq == Seq("new"))
  }
}
