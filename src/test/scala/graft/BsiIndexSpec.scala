package graft

import graft.sources.{BsiIndex, GraftScan, GraftTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S66 — per-file bit-slice index (file-index.bsi.columns):
  * EXACT range/equality answering on HIGH-cardinality integral columns
  * (Paimon's BSI file index). One bitmap per value bit (min-offset), so
  * a range resolves to an exact row-position set with no distinct-value
  * cap — the complement of the bitmap (S55, ≤1024 values) and the bloom
  * (S28, equality-only, probabilistic).
  */
class BsiIndexSpec extends AnyFunSuite {
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

  private def assertNoResidual(df: DataFrame): Unit = {
    val fl = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(fl.isEmpty, s"claimed predicate left a Filter node:\n${df.queryExecution}")
  }

  test("S66u: bit-sliced range algebra ≡ brute force on adversarial value sets") {
    // deterministic xorshift over a value domain with negatives, a huge
    // offset, duplicates and nulls — every (lo, hi, inclusivity) shape
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = { seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed }
    val n = 500
    val vals = new Array[java.lang.Long](n)
    val buf = new BsiIndex.BsiBuf
    for (i <- 0 until n) {
      val r = next()
      if ((r & 7) == 0) vals(i) = null // 1/8 null
      else {
        val v = -1000000L + (math.floorMod(r, 2000000L)) // [-1e6, 1e6)
        vals(i) = v
        buf.add(i.toLong, v)
      }
    }
    val col = buf.result(n.toLong).get
    val sc = BsiIndex.Sidecar(n.toLong, Map("v" -> col))
    def brute(lo: Option[Long], loInc: Boolean, hi: Option[Long], hiInc: Boolean): Seq[Long] =
      (0 until n).filter { i =>
        val v = vals(i)
        v != null &&
          lo.forall(b => if (loInc) v >= b else v > b) &&
          hi.forall(b => if (hiInc) v <= b else v < b)
      }.map(_.toLong)
    val bounds = Seq(-2000000L, -999999L, -1L, 0L, 1L, 37L, 999999L, 1000001L,
      Long.MinValue, Long.MaxValue)
    for (lo <- None +: bounds.map(Option(_)); hi <- None +: bounds.map(Option(_));
         loInc <- Seq(true, false); hiInc <- Seq(true, false)) {
      val got = BsiIndex.rangePositions(sc, "v",
        lo.map(x => x: Any), loInc, hi.map(x => x: Any), hiInc).get.toSeq
      assert(got == brute(lo, loInc, hi, hiInc),
        s"range mismatch lo=$lo($loInc) hi=$hi($hiInc)")
    }
    // equality/IN (incl. absent values) and IsNotNull
    for (v <- Seq(-1000000L, 0L, 37L, 123456L, Long.MaxValue)) {
      val got = BsiIndex.matchPositions(sc, "v", Seq(v: Any)).get.toSeq
      assert(got == (0 until n).filter(i => vals(i) != null && vals(i) == v).map(_.toLong))
    }
    assert(BsiIndex.notNullPositions(sc, "v").get.length ==
      (0 until n).count(vals(_) != null))
    // maximal legal width (63 slices): range = Long.MaxValue − 1 is the
    // widest non-declined column; every comparison shape must stay exact
    val wide = new BsiIndex.BsiBuf
    val wvals = Seq(0L, 1L, Long.MaxValue - 1, Long.MaxValue / 2, 37L)
    wvals.zipWithIndex.foreach { case (v, i) => wide.add(i.toLong, v) }
    val wcol = wide.result(wvals.length.toLong).get
    assert(wcol.width == 63, s"expected 63 slices, got ${wcol.width}")
    val wsc = BsiIndex.Sidecar(wvals.length.toLong, Map("v" -> wcol))
    for (b <- Seq(0L, 1L, 36L, 37L, Long.MaxValue / 2, Long.MaxValue - 1, Long.MaxValue)) {
      val ge = BsiIndex.rangePositions(wsc, "v", Some(b), true, None, true).get.toSeq
      assert(ge == wvals.zipWithIndex.filter(_._1 >= b).map(_._2.toLong),
        s"width-63 GE($b) wrong: $ge")
      val le = BsiIndex.rangePositions(wsc, "v", None, true, Some(b), true).get.toSeq
      assert(le == wvals.zipWithIndex.filter(_._1 <= b).map(_._2.toLong),
        s"width-63 LE($b) wrong: $le")
      val eq = BsiIndex.matchPositions(wsc, "v", Seq(b: Any)).get.toSeq
      assert(eq == wvals.zipWithIndex.filter(_._1 == b).map(_._2.toLong),
        s"width-63 EQ($b) wrong: $eq")
    }
    // round-trips through serialization byte-identically
    val p = new Path(TestSpark.tmpDir("bsi-unit"), "u.bsidx")
    BsiIndex.write(fs, p, n.toLong, Seq("v" -> Some(col)))
    val back = BsiIndex.read(fs, p).get
    assert(back.rowCount == n && back.cols("v").min == col.min &&
      back.cols("v").width == col.width &&
      back.cols("v").nonNull.toSeq == col.nonNull.toSeq &&
      back.cols("v").slices.map(_.toSeq).toSeq == col.slices.map(_.toSeq).toSeq)
    assert(BsiIndex.readCols(fs, p).get == ((n.toLong, Set("v"))))
  }

  test("S66a: range file skipping beyond min/max — gappy files prune exactly") {
    val path = TestSpark.tmpDir("bsigap")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("price", LongType))),
      options = Map("file-index.bsi.columns" -> "price"))
    // every file spans [0, 10000] at the envelope but holds DISJOINT
    // interior bands: min/max stats cannot skip a mid-range predicate,
    // only the slices prove absence
    val bands = Seq(0L until 1000L, 3000L until 4000L, 6000L until 7000L, 9000L to 10000L)
    bands.zipWithIndex.foreach { case (b, c) =>
      val rows = (0L +: b.toSeq :+ 10000L).zipWithIndex.map { case (v, i) => (c * 100000L + i, v) }
      t.append(rows.toDF("id", "price").coalesce(1))
    }
    // 4500..4600 falls in every file's [min,max] envelope but NO file's bands
    val miss = spark.read.format("graft").load(path)
      .filter($"price" >= 4500L && $"price" <= 4600L)
    assert(plannedOfTotal(miss)._1 == 0, "BSI should prove the gap empty in every file")
    assert(miss.count() == 0)
    // 3100..3200 lives only in file 1
    val hit = spark.read.format("graft").load(path)
      .filter($"price".between(3100L, 3200L))
    assert(plannedOfTotal(hit) == ((1, 4)))
    assert(hit.count() == 101)
  }

  test("S66f: claimed range/equality filters fully push and position-mask exactly") {
    val path = TestSpark.tmpDir("bsiclaim")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("qty", IntegerType))),
      options = Map("file-index.bsi.columns" -> "qty"))
    // shuffled values so position order ≠ value order
    for (c <- 0 until 3)
      t.append((0 until 400).map(i => (c * 1000L + i, ((i * 2654435761L) % 5000L).toInt))
        .toDF("id", "qty").coalesce(1))
    def plain() = spark.read.format("graft").load(path)
    def claimed() = spark.read.format("graft")
      .option("bsi.claim-filters", "true").load(path)
    for (pred <- Seq($"qty" < 700, $"qty".between(1200, 2600), $"qty" >= 4200,
      $"qty" === plain().first().getInt(1))) {
      val want = plain().filter(pred).collect().map(_.getLong(0)).sorted.toSeq
      val dfc = claimed().filter(pred)
      assertNoResidual(dfc)
      assert(dfc.collect().map(_.getLong(0)).sorted.toSeq == want, s"mismatch for $pred")
      assert(want.nonEmpty, s"degenerate predicate $pred")
    }
  }

  test("S66g: range-claimed COUNT(*) answers from sidecars alone (zero file reads)") {
    val path = TestSpark.tmpDir("bsicount")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("qty", LongType))),
      options = Map("file-index.bsi.columns" -> "qty"))
    for (c <- 0 until 3)
      t.append((0 until 400).map(i => (c * 1000L + i, (i * 7L) % 3000L))
        .toDF("id", "qty").coalesce(1))
    val plainCnt = spark.read.format("graft").load(path)
      .filter($"qty".between(500L, 1500L)).count()
    val df = spark.read.format("graft")
      .option("bsi.claim-filters", "true").load(path)
      .filter($"qty".between(500L, 1500L)).agg(count(lit(1)).as("n"))
    assert(df.first().getLong(0) == plainCnt)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"range-claimed count should be manifest+sidecar-only:\n$plan")
  }

  test("S66l: mixed bitmap + BSI claims intersect on one scan") {
    val path = TestSpark.tmpDir("bsimixed")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType),
        StructField("qty", LongType))),
      options = Map("file-index.bitmap.columns" -> "lang",
        "file-index.bsi.columns" -> "qty"))
    for (c <- 0 until 3)
      t.append((0 until 400).map(i =>
        (c * 1000L + i, Seq("en", "de", "fr", "ja")(i % 4), (i * 13L) % 2000L))
        .toDF("id", "lang", "qty").coalesce(1))
    val pred = $"lang" === "de" && $"qty" > 900L
    val want = spark.read.format("graft").load(path)
      .filter(pred).collect().map(_.getLong(0)).sorted.toSeq
    val dfc = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").option("bsi.claim-filters", "true")
      .load(path).filter(pred)
    assertNoResidual(dfc)
    assert(dfc.collect().map(_.getLong(0)).sorted.toSeq == want)
    assert(want.nonEmpty)
    // the conjunction also counts sidecar-only
    val cnt = spark.read.format("graft")
      .option("bitmap.claim-filters", "true").option("bsi.claim-filters", "true")
      .load(path).filter(pred).agg(count(lit(1)).as("n"))
    assert(cnt.first().getLong(0) == want.size.toLong)
    assert(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("S66p: DATE columns range-claim via epoch-day keys") {
    val path = TestSpark.tmpDir("bsidate")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("d", DateType))),
      options = Map("file-index.bsi.columns" -> "d"))
    val base = java.time.LocalDate.of(2020, 1, 1)
    for (c <- 0 until 2)
      t.append((0 until 300).map(i =>
        (c * 1000L + i, java.sql.Date.valueOf(base.plusDays((i * 7) % 900))))
        .toDF("id", "d").coalesce(1))
    val lo = java.sql.Date.valueOf("2020-06-01")
    val hi = java.sql.Date.valueOf("2021-02-01")
    val want = spark.read.format("graft").load(path)
      .filter($"d" >= lo && $"d" < hi).collect().map(_.getLong(0)).sorted.toSeq
    val dfc = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"d" >= lo && $"d" < hi)
    assertNoResidual(dfc)
    assert(dfc.collect().map(_.getLong(0)).sorted.toSeq == want)
    assert(want.nonEmpty)
  }

  test("S66c: range overflow declines the column; correctness preserved") {
    val path = TestSpark.tmpDir("bsiover")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))),
      options = Map("file-index.bsi.columns" -> "v"))
    // max − min overflows a signed 64-bit range → the writer omits the column
    t.append(Seq((1L, Long.MinValue), (2L, Long.MaxValue), (3L, 0L))
      .toDF("id", "v").coalesce(1))
    val fs = GraftTable.fileSystem(spark, path)
    val f = t.system("files").select("file_path").as[String].collect().head
    val sc = BsiIndex.read(fs, new Path(path, f + BsiIndex.Suffix))
    assert(sc.isDefined && !sc.get.cols.contains("v"),
      "overflowed column must be omitted, not mis-indexed")
    // no claim: reads stay correct with residual filtering
    val got = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"v" >= 0L).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L))
  }

  test("S66d: corrupt/missing sidecar degrades to no-claim, never wrong rows") {
    val path = TestSpark.tmpDir("bsicorrupt")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))),
      options = Map("file-index.bsi.columns" -> "v"))
    t.append((0 until 100).map(i => (i.toLong, i * 3L)).toDF("id", "v").coalesce(1))
    val fs = GraftTable.fileSystem(spark, path)
    val f = t.system("files").select("file_path").as[String].collect().head
    val sp = new Path(path, f + BsiIndex.Suffix)
    val out = fs.create(sp, true)
    out.write(Array.fill[Byte](64)(0x5A)); out.close()
    assert(BsiIndex.read(fs, sp).isEmpty && BsiIndex.readCols(fs, sp).isEmpty)
    // corrupt sidecar: claim eligibility fails per-file → residual read
    val got = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"v".between(30L, 60L)).count()
    assert(got == 11L) // v in {30,33,...,60}
    fs.delete(sp, false)
    assert(spark.read.format("graft").load(path).filter($"v" < 9L).count() == 3L)
  }

  test("S66h: claim declines without full sidecar coverage; reads stay correct") {
    val path = TestSpark.tmpDir("bsicover")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))))
    t.append((0 until 200).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    // enable the index AFTER the first commit: file 1 has no sidecar
    t.setOptions(Map("file-index.bsi.columns" -> "v"))
    val t2 = GraftTable.load(spark, path)
    t2.append((200 until 400).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    val df = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"v" >= 100L && $"v" < 300L)
    assert(df.count() == 200L) // correctness with partial coverage (residual path)
    // after the rebuild every file is covered and the claim masks
    assert(t2.rewriteFileIndex() == 1L)
    val df2 = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"v" >= 100L && $"v" < 300L)
    assertNoResidual(df2)
    assert(df2.count() == 200L)
  }

  test("S66i: rewriteFileIndex rebuilds a byte-identical BSI sidecar") {
    val path = TestSpark.tmpDir("bsirewrite")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType),
        StructField("d", DateType))),
      options = Map("file-index.bsi.columns" -> "v,d"))
    val base = java.time.LocalDate.of(2023, 5, 1)
    t.append((0 until 500).map(i => (i.toLong, (i * 37L) % 1000L - 250L,
      java.sql.Date.valueOf(base.plusDays(i % 90)))).toDF("id", "v", "d").coalesce(1))
    val fs = GraftTable.fileSystem(spark, path)
    val f = t.system("files").select("file_path").as[String].collect().head
    val sp = new Path(path, f + BsiIndex.Suffix)
    val written = {
      val in = fs.open(sp)
      val bytes = new Array[Byte](fs.getFileStatus(sp).getLen.toInt)
      in.readFully(bytes); in.close(); bytes.toSeq
    }
    fs.delete(sp, false)
    assert(t.rewriteFileIndex() == 1L)
    val rebuilt = {
      val in = fs.open(sp)
      val bytes = new Array[Byte](fs.getFileStatus(sp).getLen.toInt)
      in.readFully(bytes); in.close(); bytes.toSeq
    }
    assert(rebuilt == written, "rebuild must reproduce the written sidecar byte-for-byte")
  }

  test("S66m: randomized op-sequence fuzz — claimed reads ≡ plain reads through append/compact/dv/rebuild") {
    for (seed <- Seq(1, 7)) {
      val rnd = new scala.util.Random(seed)
      val path = TestSpark.tmpDir(s"bsifuzz$seed")
      val t = GraftTable.create(spark, path,
        StructType(Seq(StructField("id", LongType),
          StructField("v", LongType, nullable = true))),
        options = Map("file-index.bsi.columns" -> "v",
          "deletion-vectors.enabled" -> "true"))
      var nextId = 0L
      def appendBatch(): Unit = {
        val n = 50 + rnd.nextInt(150)
        val rows = (0 until n).map { _ =>
          val id = nextId; nextId += 1
          val v: java.lang.Long =
            if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(10000) - 3000L)
          (id, v)
        }
        t.append(rows.toDF("id", "v").coalesce(1))
      }
      appendBatch()
      for (step <- 0 until 10) {
        rnd.nextInt(4) match {
          case 0 => appendBatch()
          case 1 => t.compact()
          case 2 => t.rewriteFileIndex()
          case 3 => t.dvDelete(col("id") % (2 + rnd.nextInt(9)) === 0)
        }
        val lo = rnd.nextInt(8000) - 4000L
        val hi = lo + rnd.nextInt(3000)
        def agg(df: DataFrame): (Long, Long) = {
          val r = df.filter(col("v") >= lo && col("v") <= hi)
            .agg(count(lit(1)), coalesce(sum("id"), lit(0L))).collect().head
          (r.getLong(0), r.getLong(1))
        }
        val plain = agg(spark.read.format("graft").load(path))
        val claimedDf = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
        // every file carries the sidecar, so the claim engages — on dv'd
        // files too
        assertNoResidual(claimedDf.filter(col("v") >= lo && col("v") <= hi))
        val claimed = agg(claimedDf)
        assert(claimed == plain, s"seed=$seed step=$step range=[$lo,$hi]")
        // count-only shape (the aggregate-pushdown path when eligible)
        val pc = spark.read.format("graft").load(path)
          .filter(col("v").between(lo, hi)).count()
        val cc = spark.read.format("graft").option("bsi.claim-filters", "true")
          .load(path).filter(col("v").between(lo, hi)).count()
        assert(cc == pc, s"count mismatch seed=$seed step=$step")
      }
    }
  }

  test("S66n: streaming appends write BSI sidecars (shared task writer)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val path = TestSpark.tmpDir("bsistream")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("qty", LongType))),
      options = Map("file-index.bsi.columns" -> "qty"))
    val mem = MemoryStream[(Long, Long)]
    val q = graft.streaming.GraftStreaming.appendStream(mem.toDF().toDF("id", "qty"), t)
      .option("checkpointLocation", TestSpark.tmpDir("bsistream-ckpt")).start()
    try {
      mem.addData((1L, 100L), (2L, 900L))
      q.processAllAvailable()
      mem.addData((3L, 5000L))
      q.processAllAvailable()
    } finally q.stop()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val it = fs.listFiles(new Path(path, "data"), true)
    var data = 0
    var side = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) data += 1
      if (p.getName.endsWith(BsiIndex.Suffix)) side += 1
    }
    assert(data > 0 && side == data, s"every streamed file needs a sidecar ($side/$data)")
    // and the streamed sidecars answer ranges exactly (gap between runs)
    val miss = spark.read.format("graft").load(path)
      .filter($"qty".between(1500L, 3000L))
    assert(plannedOfTotal(miss)._1 == 0)
    assert(miss.count() == 0)
    val dfc = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"qty" >= 800L)
    assertNoResidual(dfc)
    assert(dfc.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("S66e: sidecars die with their data files (orphan sweep + compaction replace)") {
    val path = TestSpark.tmpDir("bsigc")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))),
      options = Map("file-index.bsi.columns" -> "v"))
    t.append((0 until 100).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    t.append((100 until 200).map(i => (i.toLong, i.toLong)).toDF("id", "v").coalesce(1))
    val fs = GraftTable.fileSystem(spark, path)
    def sidecars(): Int = {
      val it = fs.listFiles(new Path(path, "data"), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(BsiIndex.Suffix)) n += 1
      n
    }
    assert(sidecars() == 2)
    t.compact()
    t.expireSnapshots(retainLast = 1)
    t.removeOrphanFiles(ttlMs = 0L)
    // the compacted file has no write-path sidecar (compaction rewrites
    // data; rewrite_file_index rebuilds on demand) — the OLD files' two
    // sidecars must be gone with their data
    val live = t.system("files").select("file_path").as[String].collect().toSet
    val it = fs.listFiles(new Path(path, "data"), true)
    while (it.hasNext) {
      val n = it.next().getPath
      val rel = n.toString.substring(n.toString.indexOf("data/"))
      val base = if (rel.endsWith(BsiIndex.Suffix)) rel.dropRight(BsiIndex.Suffix.length) else rel
      assert(live.contains(base), s"stray file survived the sweep: $rel")
    }
    // rebuilt index over the compacted file serves claims again
    t.rewriteFileIndex()
    val dfc = spark.read.format("graft").option("bsi.claim-filters", "true").load(path)
      .filter($"v" < 50L)
    assertNoResidual(dfc)
    assert(dfc.count() == 50L)
  }
}
