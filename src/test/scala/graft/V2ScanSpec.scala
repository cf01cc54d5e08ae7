package graft

import graft.sources.{GraftScan, GraftTable, ScanTestAccess}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 surface of `format("graft")` (VERDICT r1 items 1, 2, 8):
  * the SQL path must plan a columnar V2 batch scan (no per-row V1
  * bridge), push filters/projections into it, prune manifest files —
  * including under NOT — and merge-on-read a bucketed PK table with ZERO
  * Exchange in the plan.
  */
class V2ScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The single graft V2 scan node of a plan. */
  private def graftScan(df: DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
    }
    assert(scans.size == 1, s"expected 1 graft V2 scan, plan:\n${df.queryExecution.executedPlan}")
    scans.head
  }

  private def plannedOfTotal(df: DataFrame): (Int, Int) = {
    val d = graftScan(df).description()
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d).getOrElse(fail(s"no file count in: $d"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("format(\"graft\") reads plan a V2 BatchScan on the columnar parquet path") {
    val path = TestSpark.tmpDir("v2col")
    (1 to 100).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "score")
      .write.format("graft").save(path)
    val df = spark.read.format("graft").load(path).filter($"id" > 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), p)
    // vectorized parquet read: batches decode columnar, then ColumnarToRow
    assert(p.contains("ColumnarToRow"), s"expected columnar read path:\n$p")
  }

  test("PushedFilters and pruned ReadSchema through format(\"graft\")") {
    val path = TestSpark.tmpDir("v2push")
    (1 to 50).map(i => (i, s"n$i", i.toLong, i % 7)).toDF("id", "name", "qty", "grp")
      .write.format("graft").save(path)
    val df = spark.read.format("graft").load(path)
      .filter($"qty" >= 10L).select("id", "qty")
    val scan = graftScan(df)
    val d = scan.description()
    assert(d.contains("GreaterThanOrEqual(qty,10)"), d)
    val read = scan.readSchema().fieldNames.toSet
    assert(read == Set("id", "qty"), s"ReadSchema not pruned: $read")
  }

  test("V2 scan reports manifest rowCount statistics, reduced by pruning") {
    val path = TestSpark.tmpDir("v2stats")
    (1 to 60).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v")
      .write.format("graft").option("partitionKeys", "p").save(path)
    val full = graftScan(spark.read.format("graft").load(path)).estimateStatistics()
    assert(full.numRows().isPresent, "manifest rowCounts must surface to the CBO")
    assert(full.numRows().getAsLong == 60, s"got ${full.numRows()}")
    // partition pruning must shrink the reported cardinality with the file set
    val pruned = graftScan(spark.read.format("graft").load(path).filter($"p" === 1))
      .estimateStatistics()
    assert(pruned.numRows().isPresent && pruned.numRows().getAsLong == 20,
      s"pruned stats ${pruned.numRows()}")
    assert(pruned.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
    // PK (merge-on-read) tables must NOT report: file counts include
    // stale row versions and delete markers, overstating output rows
    val pkPath = TestSpark.tmpDir("v2statspk")
    val t = GraftTable.create(spark, pkPath,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"))
    t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    t.upsert(Seq((1, "a2", 2L)).toDF("k", "v", "seq")) // stale version of k=1
    val pk = graftScan(spark.read.format("graft").load(pkPath)).estimateStatistics()
    assert(!pk.numRows().isPresent,
      s"PK table reported numRows ${pk.numRows()} — would overstate post-merge cardinality")
  }

  test("S41: V2 scan reports column-level min/max/null statistics from the manifest") {
    val path = TestSpark.tmpDir("v2colstats")
    Seq((1, Option(10L), "a"), (2, Option.empty[Long], "b"), (3, Option(30L), "c"))
      .toDF("id", "qty", "name").write.format("graft").save(path)
    GraftTable.load(spark, path).append(
      Seq((4, Option(40L), "d"), (5, Option.empty[Long], "e")).toDF("id", "qty", "name"))
    val cs = graftScan(spark.read.format("graft").load(path))
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (k, v) => k.fieldNames().mkString(".") -> v }
    val id = byName("id")
    assert(id.min().get() == 1 && id.max().get() == 5, s"id bounds ${id.min()}..${id.max()}")
    assert(id.nullCount().getAsLong == 0)
    val qty = byName("qty")
    assert(qty.min().get() == 10L && qty.max().get() == 40L,
      s"qty bounds folded across files: ${qty.min()}..${qty.max()}")
    assert(qty.nullCount().getAsLong == 2, s"qty nulls ${qty.nullCount()}")
    // strings: no range estimation domain — null count only
    val name = byName("name")
    assert(!name.min().isPresent && !name.max().isPresent)
    assert(name.nullCount().getAsLong == 0)
    // the CBO actually consumes them: attribute-level stats appear on the
    // optimized plan when cost-based optimization is on
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val attr = spark.read.format("graft").load(path)
        .queryExecution.optimizedPlan.stats.attributeStats
      val idStat = attr.find(_._1.name == "id").map(_._2)
      assert(idStat.isDefined, s"CBO did not surface column stats: $attr")
      assert(idStat.get.min.contains(1) && idStat.get.max.contains(5), s"$idStat")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    // PK tables stay column-stat-less (MOR fold — file stats overstate)
    val pkPath = TestSpark.tmpDir("v2colstatspk")
    val t = GraftTable.create(spark, pkPath,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"))
    t.upsert(Seq((1, "a", 1L)).toDF("k", "v", "seq"))
    assert(graftScan(spark.read.format("graft").load(pkPath))
      .estimateStatistics().columnStats().isEmpty)
    // deletion vectors mask rows footer stats still count — nullCount
    // could exceed numRows; stats must decline rather than mislead
    val dvPath = TestSpark.tmpDir("v2colstatsdv")
    val td = GraftTable.create(spark, dvPath,
      StructType(Seq(StructField("id", LongType), StructField("grp", IntegerType))),
      options = Map("deletion-vectors.enabled" -> "true"))
    td.append((0L until 50L).map(i => (i, (i % 5).toInt)).toDF("id", "grp"))
    assert(!graftScan(spark.read.format("graft").load(dvPath))
      .estimateStatistics().columnStats().isEmpty, "pre-delete stats expected")
    td.dvDelete($"grp" === 1)
    assert(graftScan(spark.read.format("graft").load(dvPath))
      .estimateStatistics().columnStats().isEmpty,
      "dv-masked files must decline column stats")
  }

  test("S44: hidden _file metadata column — per-row provenance, invisible to SELECT *") {
    val path = TestSpark.tmpDir("v2filecol")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))))
    t.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((11 to 15).map(i => (i, s"v$i")).toDF("id", "v"))
    val df = spark.read.format("graft").load(path)
    // hidden: SELECT * must not surface it
    assert(!df.columns.contains("_file"))
    // per-row provenance matches the manifest exactly
    val perFile = df.select(col("id"), col("_file"))
      .groupBy("_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val manifest = t.system("files")
      .select("file_path", "record_count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile == manifest, s"got $perFile vs manifest $manifest")
    // filters still apply above the provenance read
    assert(df.filter(col("id") > 10).select("_file").distinct().count() >= 1)
    assert(df.select("id", "_file").count() == 15)
    // PK tables declare NO metadata columns: _file is an analysis error,
    // not a fabricated single-file provenance for a multi-file merge
    val pkPath = TestSpark.tmpDir("v2filecolpk")
    val pk = GraftTable.create(spark, pkPath,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"))
    pk.upsert(Seq((1, "a", 1L)).toDF("k", "v", "seq"))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.format("graft").load(pkPath).select("_file").collect()
    }
  }

  test("S44b: _partition/_bucket metadata columns — per-file constants, " +
    "$files-consistent, hidden from *, composing with pruning") {
    val path = TestSpark.tmpDir("v2partcol")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("pt", StringType), StructField("id", IntegerType),
        StructField("v", StringType))),
      partitionKeys = Seq("pt"), options = Map("bucket" -> "4", "bucket-key" -> "id"))
    t.append((1 to 40).map(i => (s"p${i % 2}", i, s"v$i")).toDF("pt", "id", "v"))
    val df = spark.read.format("graft").load(path)
    // hidden from SELECT *
    assert(!df.columns.contains("_partition") && !df.columns.contains("_bucket"))
    // per-row constants agree with the manifest ($files) per file
    val perRow = df.select(col("_file"), col("_partition"), col("_bucket"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted.toSeq
    val manifest = t.system("files").select("file_path", "partition", "bucket")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted.toSeq
    assert(perRow == manifest, s"got $perRow vs manifest $manifest")
    // composes with partition pruning: only p1 files planned AND reported
    val pruned = df.filter(col("pt") === "p1").select("_partition", "id")
    assert(plannedOfTotal(pruned)._1 < manifest.size)
    val parts = pruned.collect().map(_.getString(0)).toSet
    assert(parts == Set("pt=p1"), s"got $parts")
    // bucket routing is real: each id reads back the bucket the writer chose
    val byBucket = df.select(col("id"), col("_bucket")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(byBucket.map(_._2).toSet.size > 1, "expected several buckets")
    // rides a lineage scan too (per-file consts on the positional read)
    val trPath = TestSpark.tmpDir("v2partcol-tr")
    val tr = GraftTable.create(spark, trPath,
      StructType(Seq(StructField("pt", StringType), StructField("id", IntegerType))),
      partitionKeys = Seq("pt"), options = Map("row-tracking.enabled" -> "true"))
    tr.append(Seq(("a", 1), ("b", 2)).toDF("pt", "id"))
    val withLineage = spark.read.format("graft").load(trPath)
      .select(col("id"), col("_row_id"), col("_partition")).collect()
      .map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
    assert(withLineage == Seq((1, "pt=a"), (2, "pt=b")), s"got $withLineage")
  }

  test("partition pruning through the V2 scan, including NOT and IsNull") {
    val path = TestSpark.tmpDir("v2prune")
    val rows = (1 to 4).map(i => (s"p$i", i)) :+ ((null: String), 5)
    rows.toDF("pt", "x").write.format("graft").option("partitionKeys", "pt").save(path)

    val eq = spark.read.format("graft").load(path).filter($"pt" === "p2")
    assert(plannedOfTotal(eq) == ((1, 5)))
    assert(eq.collect().map(_.getInt(1)).toSeq == Seq(2))

    // NOT (pt = 'p1'): null partition must ALSO be pruned (3VL: null <> 'p1' is not true)
    val ne = spark.read.format("graft").load(path).filter($"pt" =!= "p1")
    assert(plannedOfTotal(ne)._1 == 3, graftScan(ne).description())
    assert(ne.collect().map(_.getInt(1)).sorted.toSeq == Seq(2, 3, 4))

    val isNull = spark.read.format("graft").load(path).filter($"pt".isNull)
    assert(plannedOfTotal(isNull)._1 == 1, graftScan(isNull).description())
    assert(isNull.collect().map(_.getInt(1)).toSeq == Seq(5))
  }

  test("min/max data skipping prunes files through the V2 scan") {
    val path = TestSpark.tmpDir("v2skip")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    // three appends → three files with disjoint id ranges
    for (base <- Seq(0L, 100L, 200L))
      t.append((base until base + 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val df = spark.read.format("graft").load(path).filter($"id" === 105L)
    val (planned, total) = plannedOfTotal(df)
    assert(total == 3 && planned == 1, graftScan(df).description())
    assert(df.collect().map(_.getString(1)).toSeq == Seq("v105"))
  }

  test("bucketed PK merge-on-read: zero Exchange, merge inside the scan") {
    val path = TestSpark.tmpDir("v2mor")
    val t = GraftTable.create(spark, path,
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("id"),
      options = Map("bucket" -> "4", "bucket-key" -> "id", "sequence.field" -> "seq"))
    t.upsert((1L to 200L).map(i => (i, s"v1-$i", 1L)).toDF("id", "v", "seq"))
    t.upsert((1L to 100L).map(i => (i, s"v2-$i", 2L)).toDF("id", "v", "seq"))
    t.delete(Seq((5L, "", 3L)).toDF("id", "v", "seq"))

    def assertMergedInScan(df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"MOR must not shuffle a bucketed PK table:\n$p")
      assert(!p.contains("Window"), s"MOR must merge inside the scan, not via window:\n$p")
    }
    val df = spark.read.format("graft").load(path)
    assertMergedInScan(df)
    // parallelism = one task per (partition, bucket) group
    assert(df.rdd.getNumPartitions == 4)

    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 199 && !got.contains(5L))
    assert(got(3L) == "v2-3" && got(150L) == "v1-150")

    // the library's pruned reads (one bucket; pk data skipping) pin the
    // same scan to their planned files — same in-scan merge
    val b = t.bucketOf(Seq(150L))
    val inBucket = t.read(bucket = Some(b))
    assertMergedInScan(inBucket)
    val bucketRows = inBucket.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(bucketRows.nonEmpty && bucketRows == got.filter { case (k, _) => t.bucketOf(Seq(k)) == b })
    import org.apache.spark.sql.sources.EqualTo
    val skipped = t.read(dataFilters = Seq(EqualTo("id", 3L)))
    assertMergedInScan(skipped)
    assert(skipped.filter($"id" === 3L).collect().map(_.getString(1)).toSeq == Seq("v2-3"))
    assert(t.read(dataFilters = Seq(EqualTo("id", 5L))).filter($"id" === 5L).isEmpty)
  }

  test("PK table whose sequence field is a partition column reads through V2") {
    val path = TestSpark.tmpDir("v2seqpart")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("day", StringType))),
      partitionKeys = Seq("day"), primaryKeys = Seq("k"),
      options = Map("sequence.field" -> "day"))
    t.upsert(Seq((1, "a", "2024-01-01"), (2, "x", "2024-01-01")).toDF("k", "v", "day"))
    t.upsert(Seq((1, "b", "2024-01-02")).toDF("k", "v", "day"))
    // the merge needs `day` (partition-borne) for version ordering even
    // when the query selects only k/v
    val got = spark.read.format("graft").load(path).select("k", "v")
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((1, "b"), (2, "x")))
  }

  test("sorted-run MOR: multi-commit bucket streams a k-way merge (no key hash map)") {
    import graft.sources.GraftMorReaderFactory
    val path = TestSpark.tmpDir("v2stream")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"), options = Map("bucket" -> "2"))
    t.upsert((1L to 200L).map(i => (i, s"v1-$i")).toDF("id", "v"))
    t.upsert((1L to 100L by 2).map(i => (i, s"v2-$i")).toDF("id", "v"))
    t.delete(Seq((10L, ""), (11L, ""), (12L, "")).toDF("id", "v"))
    // every PK write path key-sorts → all files are sorted runs
    val s0 = GraftMorReaderFactory.streamedGroups.get()
    val h0 = GraftMorReaderFactory.hashGroups.get()
    val got = spark.read.format("graft").load(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(GraftMorReaderFactory.streamedGroups.get() - s0 == 2,
      "expected both bucket groups to take the streaming k-way merge")
    assert(GraftMorReaderFactory.hashGroups.get() == h0,
      "no group should fall back to the hash merge on all-sorted runs")
    assert(got.size == 197 && !got.contains(10L) && !got.contains(11L))
    assert(got(3L) == "v2-3" && got(2L) == "v1-2" && got(150L) == "v1-150")
  }

  test("sorted-run MOR: every run of a k-way merge stays readable until drained") {
    // Each run must own its parquet factory: a factory instance closes its
    // previous file's reader when it opens the next, so through a shared
    // one every run but the last is closed while the merge still reads
    // it. The first run here spans many row groups (tiny block size), so
    // a closed run fails on its next row group — deterministically, on
    // any codec and any thread count.
    import graft.sources.GraftMorReaderFactory
    val path = TestSpark.tmpDir("v2streamrg")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"), options = Map("bucket" -> "1"))
    spark.conf.set("parquet.block.size", "4096")
    try t.upsert((1L to 5000L).map(i => (i, s"a-$i")).toDF("id", "v"))
    finally spark.conf.unset("parquet.block.size")
    t.upsert((1L to 5000L by 500).map(i => (i, s"b-$i")).toDF("id", "v"))
    val s0 = GraftMorReaderFactory.streamedGroups.get()
    val got = spark.read.format("graft").load(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(GraftMorReaderFactory.streamedGroups.get() - s0 == 1)
    assert(got.size == 5000)
    assert(got(1L) == "b-1" && got(501L) == "b-501" && got(4999L) == "a-4999")
  }

  test("sorted-run MOR: merge metrics count decoded, key-filtered and merged-away rows") {
    import graft.sources.GraftMorReaderFactory
    val path = TestSpark.tmpDir("v2mormetrics")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"), options = Map("bucket" -> "1"))
    t.upsert((1L to 100L).map(i => (i, s"a-$i")).toDF("id", "v"))
    t.upsert((1L to 100L by 10).map(i => (i, s"b-$i")).toDF("id", "v"))
    val df = spark.read.format("graft").load(path).filter($"id".isin(11L, 12L))
    val scan = graftScan(df)
    // one vectorized factory for the whole merge: no row-based twin
    val f0 = GraftScan.fileFactoriesBuilt.get()
    scan.toBatch.createReaderFactory()
    assert(GraftScan.fileFactoriesBuilt.get() - f0 == 1)
    // a positional scan (`_file` + a claimed filter) builds at most two:
    // the filtered and the unfiltered one
    val bm = TestSpark.tmpDir("v2mormetricsbm")
    GraftTable.create(spark, bm,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang"))
      .append(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"))
    val posScan = graftScan(spark.read.format("graft").option("bitmap.claim-filters", "true")
      .load(bm).filter($"lang" === "de").select($"id", $"_file"))
    val f1 = GraftScan.fileFactoriesBuilt.get()
    posScan.toBatch.createReaderFactory()
    assert(GraftScan.fileFactoriesBuilt.get() - f1 <= 2)

    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((11L, "b-11"), (12L, "a-12")))
    val metrics = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.metrics
    }.get
    def metric(name: String) = metrics(name).value
    // both runs decode whole (110 rows); all but ids 11 (twice) and 12
    // fail the key filter; 11's older version is merged away
    assert(metric(GraftMorReaderFactory.RowsDecoded) == 110)
    assert(metric(GraftMorReaderFactory.RowsKeyFiltered) == 107)
    assert(metric(GraftMorReaderFactory.VersionsMerged) == 1)
  }

  test("unsorted files (clustered compaction) fall back to the hash merge, same results") {
    import graft.sources.GraftMorReaderFactory
    val path = TestSpark.tmpDir("v2streamfb")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      primaryKeys = Seq("id"))
    t.upsert((1L to 50L).map(i => (i, s"a-$i")).toDF("id", "v"))
    // clustering by a non-key column trades sorted runs for stats selectivity
    t.compact(sortBy = Seq("v"))
    t.upsert((1L to 10L).map(i => (i, s"b-$i")).toDF("id", "v"))
    val h0 = GraftMorReaderFactory.hashGroups.get()
    val got = spark.read.format("graft").load(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(GraftMorReaderFactory.hashGroups.get() > h0,
      "mixed sorted/unsorted group must use the hash merge")
    assert(got.size == 50 && got(5L) == "b-5" && got(30L) == "a-30")
    // a follow-up UNclustered compaction restores sorted runs
    t.compact()
    t.upsert(Seq((1L, "c-1")).toDF("id", "v"))
    val s1 = GraftMorReaderFactory.streamedGroups.get()
    val got2 = spark.read.format("graft").load(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(GraftMorReaderFactory.streamedGroups.get() > s1)
    assert(got2(1L) == "c-1" && got2(30L) == "a-30")
  }

  test("downstream group-by on the bucket key still aggregates correctly") {
    val path = TestSpark.tmpDir("v2morq")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("amt", LongType))),
      primaryKeys = Seq("id"), options = Map("bucket" -> "2"))
    t.upsert((1L to 50L).map(i => (i, i)).toDF("id", "amt"))
    t.upsert((1L to 25L).map(i => (i, i * 10)).toDF("id", "amt"))
    val total = spark.read.format("graft").load(path).agg(sum("amt")).first().getLong(0)
    // 1..25 at ×10, 26..50 at ×1
    assert(total == (1L to 25L).map(_ * 10).sum + (26L to 50L).sum)
  }

  test("S68: variant shred prunes files on variant_get / get_json_object filters") {
    val path = TestSpark.tmpDir("varshred")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("props", StringType), StructField("x", IntegerType))),
      options = Map(
        "file-index.variant.columns" -> "props",
        "file-index.variant.props.paths" -> "$.k,$.tag"))
    // three files with disjoint shredded ranges/tags
    def rows(lo: Int, hi: Int, tag: String) =
      (lo to hi).map(i => (s"""{"k": $i, "tag": "$tag", "noise": "n$i"}""", i))
        .toDF("props", "x").repartition(1)
    t.append(rows(1, 10, "aa"))
    t.append(rows(11, 20, "bb"))
    t.append(rows(21, 30, "cc"))

    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      def load = spark.read.format("graft").load(path)

      // RANGE on an integral path: variant_get prunes like a real column
      val hi = load.filter(expr("variant_get(parse_json(props), '$.k', 'bigint') > 25"))
      assert(plannedOfTotal(hi) == ((1, 3)), "k > 25 must plan only the third file")
      assert(hi.collect().map(_.getInt(1)).sorted.toSeq == (26 to 30))
      // integral equality goes through the stats pair, not the raw-text bloom
      val eq = load.filter(expr("try_variant_get(parse_json(props), '$.k', 'bigint') = 15"))
      assert(plannedOfTotal(eq) == ((1, 3)), "k = 15 must plan only the second file")
      assert(eq.collect().map(_.getInt(1)).toSeq == Seq(15))
      // try_cast(get_json_object(...)) is the same claim
      val tc = load.filter(expr("try_cast(get_json_object(props, '$.k') AS BIGINT) < 5"))
      assert(plannedOfTotal(tc) == ((1, 3)))
      assert(tc.collect().map(_.getInt(1)).sorted.toSeq == (1 to 4))
      // raw-text EQUALITY probes the entry-hash bloom
      val tag = load.filter(expr("get_json_object(props, '$.tag') = 'bb'"))
      assert(plannedOfTotal(tag) == ((1, 3)), "tag = 'bb' must plan only the second file")
      assert(tag.count() == 10)
      // an UNCONFIGURED path makes no claim (never hashed != absent)
      val un = load.filter(expr("get_json_object(props, '$.noise') = 'n7'"))
      assert(plannedOfTotal(un) == ((3, 3)), "unconfigured paths must not prune")
      assert(un.count() == 1)
      // a matching value is NEVER pruned away with the toggle on vs off
      spark.conf.set(key, "false")
      val off = load.filter(expr("variant_get(parse_json(props), '$.k', 'bigint') > 25"))
      assert(plannedOfTotal(off) == ((3, 3)))
      assert(off.collect().map(_.getInt(1)).sorted.toSeq == (26 to 30))
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }

    // soundness: a file holding a NON-INTEGRAL value for a configured
    // path must invalidate its range stats (no claim), never misprune
    val path2 = TestSpark.tmpDir("varshred2")
    val t2 = GraftTable.create(spark, path2,
      StructType(Seq(StructField("props", StringType), StructField("x", IntegerType))),
      options = Map(
        "file-index.variant.columns" -> "props",
        "file-index.variant.props.paths" -> "$.k"))
    t2.append(Seq(("""{"k": 7}""", 1), ("""{"k": "oops"}""", 2))
      .toDF("props", "x").repartition(1))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      val df = spark.read.format("graft").load(path2)
        .filter(expr("try_variant_get(parse_json(props), '$.k', 'bigint') > 100"))
      // stats invalidated -> no claim -> file kept (and the row set right)
      assert(plannedOfTotal(df) == ((1, 1)))
      assert(df.count() == 0)
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("S68b: a variant path added after a file was written makes no claim on its sidecar") {
    val path = TestSpark.tmpDir("varstale")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("js", StringType), StructField("x", IntegerType))),
      options = Map(
        "file-index.variant.columns" -> "js",
        "file-index.variant.js.paths" -> "$.n"))
    t.append(Seq(("""{"n":1,"tag":"a"}""", 1)).toDF("js", "x").repartition(1))
    t.setOptions(Map("file-index.variant.js.paths" -> "$.n,$.tag"))
    // a file written under the new list shreds both paths
    t.append(Seq(("""{"n":2,"tag":"b"}""", 2)).toDF("js", "x").repartition(1))

    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      def load = spark.read.format("graft").load(path)
      // the first sidecar never shredded $.tag: its file stays planned
      val a = load.filter(expr("get_json_object(js, '$.tag') = 'a'"))
      assert(a.count() == 1)
      assert(plannedOfTotal(a) == ((1, 2)), "only the second file's sidecar may claim")
      val b = load.filter(expr("get_json_object(js, '$.tag') = 'b'"))
      assert(plannedOfTotal(b) == ((2, 2)))
      assert(b.collect().map(_.getInt(1)).toSeq == Seq(2))
      // $.n was shredded by both sidecars and still prunes
      val n = load.filter(expr("variant_get(parse_json(js), '$.n', 'bigint') > 1"))
      assert(plannedOfTotal(n) == ((1, 2)))
      assert(n.collect().map(_.getInt(1)).toSeq == Seq(2))
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("a scan reports the files planning considered and dropped per step") {
    val path = TestSpark.tmpDir("v2planmetrics")
    GraftTable.create(spark, path,
      StructType(Seq(StructField("p", StringType), StructField("k", IntegerType),
        StructField("b", StringType), StructField("m", StringType), StructField("n", IntegerType))),
      partitionKeys = Seq("p"),
      options = Map("file-index.bloom-filter.columns" -> "b",
        "file-index.bitmap.columns" -> "m", "file-index.bsi.columns" -> "n"))
    def file(p: String, rows: (Int, String, String, Int)*): Unit =
      GraftTable.load(spark, path).append(rows.map { case (k, b, m, n) => (p, k, b, m, n) }
        .toDF("p", "k", "b", "m", "n").repartition(1))
    // each file but the last fails the query below at exactly one step,
    // and passes every step before it
    file("x", (1, "needle", "red", 11)) // partition
    file("y", (100, "needle", "red", 11), (200, "needle", "red", 11)) // stats: k in [100, 200]
    file("y", (1, "a1", "red", 11), (2, "z1", "red", 11)) // bloom: no needle in [a1, z1]
    file("y", (1, "needle", "blue", 11), (2, "needle", "yellow", 11)) // bitmap: no red in [blue, yellow]
    file("y", (1, "needle", "red", 0), (2, "needle", "red", 100)) // bsi: no n in [10, 12] in [0, 100]
    file("y", (3, "needle", "red", 11))
    spark.read.format("graft").load(path).createOrReplaceTempView("plan_metrics")
    val df = spark.sql("SELECT k FROM plan_metrics WHERE p = 'y' AND k < 50 AND " +
      "b = 'needle' AND m = 'red' AND n BETWEEN 10 AND 12")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(ScanTestAccess.planMetrics(df) == Map("considered" -> 6L, "partition" -> 1L,
      "stats" -> 1L, "bloom" -> 1L, "bitmap" -> 1L, "bsi" -> 1L, "sample" -> 0L))
    assert(plannedOfTotal(df) == ((1, 6)))

    val sampled = spark.read.format("graft").option("sample-system", "0").load(path)
      .filter(col("p") === "y")
    assert(sampled.collect().isEmpty)
    assert(ScanTestAccess.planMetrics(sampled) == Map("considered" -> 6L, "partition" -> 1L,
      "stats" -> 0L, "bloom" -> 0L, "bitmap" -> 0L, "bsi" -> 0L, "sample" -> 5L))
  }

  test("a latest scan plans the live files its builder resolved, not a later commit's") {
    val path = TestSpark.tmpDir("v2resolveonce")
    val t = GraftTable.create(spark, path, StructType(Seq(StructField("id", IntegerType))))
    t.append(Seq(1, 2).toDF("id").repartition(1))
    val first = ScanTestAccess.inputFiles(spark.read.format("graft").load(path)).toSet
    val scan = ScanTestAccess.latestScan(t)
    GraftTable.load(spark, path).append(Seq(3).toDF("id").repartition(1))
    assert(ScanTestAccess.inputFiles(spark.read.format("graft").load(path)).length == 2)
    assert(ScanTestAccess.partitionFiles(scan).toSet == first)
    assert(scan.description().contains("files=1/1"), scan.description())
  }
}
