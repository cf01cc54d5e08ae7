package graft

import graft.sources.ScanTestAccess.inputFiles
import graft.sources.{BitmapIndex, GraftScan, GraftTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S55 — per-file bitmap column index
  * (file-index.bitmap.columns): EXACT equality/IN file skipping on
  * low-cardinality columns, value-complete per file (the claim is sound
  * both ways, unlike the probabilistic bloom), positions recorded in
  * physical row order for sidecar-only COUNT answering.
  */
class BitmapIndexSpec extends AnyFunSuite {
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

  private def langOf(i: Int): String = Seq("en", "de", "fr", "ja")(i)

  test("S55a: bitmap index prunes files exactly on equality and IN") {
    val path = TestSpark.tmpDir("bmidx")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    // 4 commits = 4 files, each holding TWO of the four languages — the
    // value sets overlap across files, so min/max stats cannot isolate
    for (c <- 0 until 4)
      t.append((0 until 300).map(i => (c * 1000L + i, langOf((c + i % 2) % 4)))
        .toDF("id", "lang").coalesce(1))

    // "ja" is stored only in files 2 (c=2, odd rows) and 3 (c=3, even rows)
    val hit = spark.read.format("graft").load(path).filter($"lang" === "ja")
    assert(plannedOfTotal(hit) == ((2, 4)), "bitmap should isolate the two ja files")
    assert(hit.count() == 300)

    // absent value: an exact index prunes EVERY file (a bloom could
    // only do this modulo false positives)
    val miss = spark.read.format("graft").load(path).filter($"lang" === "xx")
    assert(plannedOfTotal(miss)._1 == 0)
    assert(miss.count() == 0)

    // IN over (absent, present-in-two-files) keeps exactly those two
    val in2 = spark.read.format("graft").load(path).filter($"lang".isin("xx", "en"))
    assert(plannedOfTotal(in2) == ((2, 4)))
    assert(in2.count() == 300)
  }

  test("S55b: recorded positions match parquet's physical row order") {
    val path = TestSpark.tmpDir("bmpos")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    t.append((0 until 100).map(i => (i.toLong, langOf(i % 3))).toDF("id", "lang").coalesce(1))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val dataFile = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    val found = Iterator.continually(dataFile).takeWhile(_ => dataFile.hasNext)
      .map(_.next().getPath).find(_.getName.endsWith(".parquet")).get
    val sc = BitmapIndex.read(fs, new org.apache.hadoop.fs.Path(found.toString + BitmapIndex.Suffix))
      .getOrElse(fail("sidecar missing/unreadable"))
    assert(sc.rowCount == 100)
    val expected = spark.read.parquet(found.toString)
      .select(col("lang"), col("_metadata.row_index").as("pos"))
      .collect().groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(sc.cols("lang").view.mapValues(_.toSeq).toMap == expected)
  }

  test("S55c: cardinality overflow drops the column claim, never correctness") {
    val path = TestSpark.tmpDir("bmover")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bitmap.columns" -> "u"))
    val n = BitmapIndex.MaxDistinct + 50
    t.append((0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "u").coalesce(1))
    // the overflowed column makes no claim: the file survives pruning
    val q = spark.read.format("graft").load(path).filter($"u" === "v7")
    assert(plannedOfTotal(q) == ((1, 1)))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // and an over-long stored value invalidates the column the same way
    val path2 = TestSpark.tmpDir("bmlong")
    val t2 = GraftTable.create(spark, path2,
      StructType(Seq(StructField("id", LongType), StructField("u", StringType))),
      options = Map("file-index.bitmap.columns" -> "u"))
    t2.append(Seq((1L, "short"), (2L, "x" * (BitmapIndex.MaxValueBytes + 1)))
      .toDF("id", "u").coalesce(1))
    // literal chosen INSIDE the file's min/max range ("short" < "tt" <
    // "xxx…") so only the bitmap could prune — and it must decline
    val q2 = spark.read.format("graft").load(path2).filter($"u" === "tt")
    assert(plannedOfTotal(q2) == ((1, 1)), "over-long value must void the file's claim")
  }

  test("S55d: corrupt/missing sidecar degrades to no-claim") {
    val path = TestSpark.tmpDir("bmcorrupt")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    t.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang").coalesce(1))
    t.append(Seq((3L, "fr"), (4L, "ja")).toDF("id", "lang").coalesce(1))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    val sidecars = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(BitmapIndex.Suffix)) sidecars += p
    }
    assert(sidecars.size == 2)
    val out = fs.create(sidecars.head, true)
    out.write(Array[Byte](1, 2, 3)) // truncated garbage
    out.close()
    GraftTable.load(spark, path) // fresh instance: no stale sidecar cache
    val rows = spark.read.format("graft").load(path)
      .filter($"lang".isin("en", "de", "fr", "ja"))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("S55n: sidecar publish is atomic — concurrent/failed writers never tear the file") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val dir = new org.apache.hadoop.fs.Path(TestSpark.tmpDir("bmatomic"))
    fs.mkdirs(dir)
    val p = new org.apache.hadoop.fs.Path(dir, s"f0.parquet${BitmapIndex.Suffix}")
    val cols = Seq("lang" -> Map("en" -> Array(0L, 2L), "de" -> Array(1L)))
    BitmapIndex.write(fs, p, 3L, cols)
    val v1 = BitmapIndex.read(fs, p).getOrElse(fail("unreadable after first publish"))
    // a writer that dies MID-BODY must leave the published sidecar intact
    // (the rewrite path's retried/speculative-task scenario: with a plain
    // create(overwrite=true) the reader would see a torn file and a
    // claimed scan would throw)
    intercept[RuntimeException] {
      graft.sources.SidecarIO.publish(fs, p) { out =>
        out.writeInt(0xDEAD)
        throw new RuntimeException("task died mid-write")
      }
    }
    val after = BitmapIndex.read(fs, p).getOrElse(fail("torn sidecar after failed publish"))
    assert(after.rowCount == v1.rowCount)
    assert(after.cols.view.mapValues(_.view.mapValues(_.toSeq).toMap).toMap ==
      v1.cols.view.mapValues(_.view.mapValues(_.toSeq).toMap).toMap)
    // the dead writer leaves ONLY an unreferenced .tmp stray (orphan-GC
    // fodder, never the published path); clear it before the storm
    val crashStrays = fs.listStatus(dir).map(_.getPath).filter(_.getName.contains(".tmp-"))
    assert(crashStrays.nonEmpty)
    crashStrays.foreach(fs.delete(_, false))
    // N concurrent writers racing the SAME path: every interleaving must
    // end with a complete, parseable sidecar
    val threads = (1 to 8).map { _ =>
      new Thread(() => (1 to 10).foreach(_ => BitmapIndex.write(fs, p, 3L, cols)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val fin = BitmapIndex.read(fs, p).getOrElse(fail("torn sidecar after concurrent publish"))
    assert(fin.rowCount == 3L && fin.cols("lang").keySet == Set("en", "de"))
    // no .tmp strays survive a completed publish storm
    val strays = fs.listStatus(dir).map(_.getPath.getName).filter(_.contains(".tmp-"))
    assert(strays.isEmpty, s"leftover temp files: ${strays.toSeq}")
  }

  test("S55f: claimed filters are fully pushed and position-mask exactly") {
    val path = TestSpark.tmpDir("bmclaim")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    for (c <- 0 until 3)
      t.append((0 until 400).map(i => (c * 1000L + i, langOf(i % 4))).toDF("id", "lang")
        .coalesce(1))
    val expected = spark.read.format("graft").load(path)
      .filter($"lang".isin("de", "ja")).collect().map(_.getLong(0)).sorted.toSeq
    val claimedDf = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path)
      .filter($"lang".isin("de", "ja"))
    // fully pushed: no FilterExec survives in the physical plan
    val filters = claimedDf.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.isEmpty, s"claimed predicate left a Filter node:\n${claimedDf.queryExecution}")
    assert(claimedDf.collect().map(_.getLong(0)).sorted.toSeq == expected)
  }

  test("S55g: filtered COUNT(*) answers from sidecars alone (zero file reads)") {
    val path = TestSpark.tmpDir("bmcount")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    for (c <- 0 until 3)
      t.append((0 until 400).map(i => (c * 1000L + i, langOf(i % 4))).toDF("id", "lang")
        .coalesce(1))
    val df = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path)
      .filter($"lang" === "de").agg(count(lit(1)).as("n"))
    assert(df.first().getLong(0) == 300L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"filtered count should be manifest+sidecar-only:\n$plan")
    // conjunction: second claimed filter intersects positions
    val df2 = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path)
      .filter($"lang".isin("de", "en") && $"lang" === "de").agg(count(lit(1)).as("n"))
    assert(df2.first().getLong(0) == 300L)
    assert(df2.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("S55o: range predicates (< / BETWEEN / string >=) claim and count from sidecars") {
    val path = TestSpark.tmpDir("bmrange")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("score", IntegerType),
        StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "score,lang"))
    for (c <- 0 until 3)
      t.append((0 until 400).map(i => (c * 1000L + i, i % 10, langOf(i % 4)))
        .toDF("id", "score", "lang").coalesce(1))
    def claimed(): org.apache.spark.sql.DataFrame = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path)
    def plain(): org.apache.spark.sql.DataFrame = spark.read.format("graft").load(path)
    def assertNoResidual(df: org.apache.spark.sql.DataFrame): Unit = {
      val fl = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }
      assert(fl.isEmpty, s"range claim left a Filter node:\n${df.queryExecution}")
    }
    // numeric <: 10-valued key space, numeric compare (NOT "9" < "10" lexicographic)
    for (pred <- Seq($"score" < 3, $"score".between(2, 5), $"score" >= 9,
      $"lang" >= "en" && $"lang" < "ja")) {
      val want = plain().filter(pred).collect().map(_.getLong(0)).sorted.toSeq
      val dfc = claimed().filter(pred)
      assertNoResidual(dfc)
      assert(dfc.collect().map(_.getLong(0)).sorted.toSeq == want, s"mismatch for $pred")
      assert(want.nonEmpty)
    }
    // claimed filtered COUNT(*) under a range: sidecar-only (no file reads)
    val cnt = claimed().filter($"score".between(2, 5)).agg(count(lit(1)).as("n"))
    assert(cnt.first().getLong(0) ==
      plain().filter($"score".between(2, 5)).count())
    val planStr = cnt.queryExecution.executedPlan.toString
    assert(planStr.contains("LocalTableScan") && !planStr.contains("BatchScan"),
      s"range-claimed count should be manifest+sidecar-only:\n$planStr")
    // numeric-vs-lexicographic trap: score IN 0..9, "< 10" keeps all rows
    assert(claimed().filter($"score" < 10).count() == 1200L)
  }

  test("S55p: DATE columns index, prune and range-claim via epoch-day keys") {
    val path = TestSpark.tmpDir("bmdate")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("dt", DateType))),
      options = Map("file-index.bitmap.columns" -> "dt"))
    def day(s: String) = java.sql.Date.valueOf(s)
    // three files with disjoint date sets
    t.append(Seq((1L, day("2024-01-01")), (2L, day("2024-01-02"))).toDF("id", "dt").coalesce(1))
    t.append(Seq((3L, day("2024-02-10")), (4L, day("2024-02-11"))).toDF("id", "dt").coalesce(1))
    t.append(Seq((5L, day("2024-03-20"))).toDF("id", "dt").coalesce(1))
    // equality prunes to the one file holding the date (exact-skip path)
    val eq = spark.read.format("graft").load(path).filter($"dt" === day("2024-02-10"))
    assert(plannedOfTotal(eq) == ((1, 3)))
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // claimed range (BETWEEN = its two halves) masks exactly, counts from
    // sidecars, and matches the unclaimed read
    val want = spark.read.format("graft").load(path)
      .filter($"dt".between(day("2024-01-02"), day("2024-02-10")))
      .collect().map(_.getLong(0)).sorted.toSeq
    val claimed = spark.read.format("graft").option("bitmap.claim-filters", "true").load(path)
      .filter($"dt".between(day("2024-01-02"), day("2024-02-10")))
    assert(claimed.collect().map(_.getLong(0)).sorted.toSeq == want && want == Seq(2L, 3L))
    val cnt = spark.read.format("graft").option("bitmap.claim-filters", "true").load(path)
      .filter($"dt" >= day("2024-02-01")).agg(count(lit(1)).as("n"))
    assert(cnt.first().getLong(0) == 3L)
    assert(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("S55j: grouped claimed COUNT omits zero-match partitions (no phantom rows)") {
    val path = TestSpark.tmpDir("bmgroup")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("pt", StringType),
        StructField("lang", StringType))),
      partitionKeys = Seq("pt"),
      options = Map("file-index.bitmap.columns" -> "lang"))
    // partition a holds de rows; partition b holds only en — a grouped
    // count filtered to de must NOT emit a (b, 0) row
    t.append(Seq((1L, "a", "de"), (2L, "a", "en"), (3L, "b", "en"))
      .toDF("id", "pt", "lang").coalesce(1))
    val df = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path)
      .filter($"lang" === "de").groupBy("pt").agg(count(lit(1)).as("n"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 1L)), s"phantom groups: $rows")
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped filtered count should still answer from sidecars")
  }

  test("S55k: claimed read on a bucketed table with SPJ enabled stays correct") {
    val path = TestSpark.tmpDir("bmspj")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map(
        "file-index.bitmap.columns" -> "lang",
        "bucket" -> "4", "bucket-key" -> "id"))
    t.append((0 until 200).map(i => (i.toLong, langOf(i % 3))).toDF("id", "lang"))
    val old = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.read.format("graft")
        .option("bitmap.claim-filters", "true").load(path)
        .filter($"lang" === "de")
      // the claimed scan drops the bucket-grouped claim instead of
      // handing BucketedFilePartition to the mask factory
      val got = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0 until 200).filter(_ % 3 == 1).map(_.toLong).toSeq)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("S55l: rewrite procedure degrades (not throws) on non-parquet bitmap tables") {
    val path = TestSpark.tmpDir("bmavro")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang", "file.format" -> "avro"))
    t.append(Seq((1L, "en")).toDF("id", "lang").coalesce(1))
    // delete the write-path sidecar, then the rebuild must decline
    // gracefully (avro has no _metadata.row_index to order positions by)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(BitmapIndex.Suffix)) fs.delete(p, false)
    }
    assert(t.rewriteFileIndex() == 0L)
    // and reads stay correct with no sidecar (no claim)
    assert(spark.read.format("graft").load(path)
      .filter($"lang" === "en").count() == 1L)
  }

  test("S55h: claim declines without full sidecar coverage; reads stay correct") {
    val path = TestSpark.tmpDir("bmnoclaim")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    t.append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang").coalesce(1))
    t.append(Seq((3L, "fr"), (4L, "de")).toDF("id", "lang").coalesce(1))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    var deleted = false
    while (it.hasNext && !deleted) {
      val p = it.next().getPath
      if (p.getName.endsWith(BitmapIndex.Suffix)) { fs.delete(p, false); deleted = true }
    }
    assert(deleted)
    GraftTable.load(spark, path) // fresh table instance: no stale cache
    val df = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").load(path).filter($"lang" === "de")
    // ineligible → the predicate must survive as a residual Filter
    val filters = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.nonEmpty, "claim without coverage would be unsound")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
  }

  test("S55i: rewriteFileIndex rebuilds a byte-identical bitmap sidecar") {
    val path = TestSpark.tmpDir("bmrw")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    t.append((0 until 500).map(i => (i.toLong, if (i % 7 == 0) null else langOf(i % 4)))
      .toDF("id", "lang").coalesce(1))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    var sidecar: org.apache.hadoop.fs.Path = null
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(BitmapIndex.Suffix)) sidecar = p
    }
    assert(sidecar != null)
    val written = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sidecar.toUri))
    fs.delete(sidecar, false)
    assert(t.rewriteFileIndex() == 1L)
    val rebuilt = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sidecar.toUri))
    assert(java.util.Arrays.equals(written, rebuilt),
      "rebuilt sidecar must be byte-identical to the written one")
    assert(t.rewriteFileIndex() == 0L, "second pass must converge to no work")
    // rebuilt index prunes like the original
    val t2 = GraftTable.load(spark, path)
    import org.apache.spark.sql.sources.EqualTo
    assert(inputFiles(t2.read(dataFilters = Seq(EqualTo("lang", "ja")))).nonEmpty)
  }

  test("S55m: streaming appends write bitmap sidecars (shared task writer)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val path = TestSpark.tmpDir("bmstream")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.GraftStreaming.appendStream(mem.toDF().toDF("id", "lang"), t)
      .option("checkpointLocation", TestSpark.tmpDir("bmstream-ckpt")).start()
    try {
      mem.addData((1L, "en"), (2L, "de"))
      q.processAllAvailable()
      mem.addData((3L, "fr"))
      q.processAllAvailable()
    } finally q.stop()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    var data = 0
    var side = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) data += 1
      if (p.getName.endsWith(BitmapIndex.Suffix)) side += 1
    }
    assert(data > 0 && side == data, s"every streamed file needs a sidecar ($side/$data)")
    // and the streamed sidecars prune
    val miss = spark.read.format("graft").load(path).filter($"lang" === "xx")
    assert(plannedOfTotal(miss)._1 == 0)
  }

  test("S55e: sidecars die with their data files (orphan sweep + replace)") {
    val path = TestSpark.tmpDir("bmgc")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
    t.append(Seq((1L, "en")).toDF("id", "lang").coalesce(1))
    t.overwriteAll(Seq((2L, "de")).toDF("id", "lang").coalesce(1))
    t.expireSnapshots(1)
    t.removeOrphanFiles(0L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "data"), true)
    var parquets = 0
    var bmidx = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) parquets += 1
      if (p.getName.endsWith(BitmapIndex.Suffix)) bmidx += 1
    }
    assert(parquets == 1, "expired data file should be reclaimed")
    assert(bmidx == 1, "its bitmap sidecar should be reclaimed with it")
    assert(spark.read.format("graft").load(path).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
