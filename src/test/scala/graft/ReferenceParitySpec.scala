package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.inputFiles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Replays the reference's own integration scenarios
  * (paimon-presto-common/src/test/java/org/apache/paimon/presto/
  * TestPrestoITCase.java) against GraftTable, asserting the same result
  * sets the Presto connector asserts.
  */
class ReferenceParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** t1: PK table (a int, b bigint, aCa varchar, d char(1)); rows 1,3,5
    * inserted, row 3 deleted via RowKind.DELETE
    * (TestPrestoITCase.java:89-96). */
  private lazy val t1: GraftTable = {
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("aCa", StringType), StructField("d", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_t1"), schema,
      primaryKeys = Seq("a"))
    t.upsert(Seq((1, 2L, "1", "1"), (3, 4L, "2", "2"), (5, 6L, "3", "3")).toDF("a", "b", "aCa", "d"))
    t.delete(Seq((3, 4L, "2", "2")).toDF("a", "b", "aCa", "d"))
    t
  }

  /** t2: two commits (TestPrestoITCase.java:98-105). */
  private lazy val t2: GraftTable = {
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("aCa", StringType), StructField("d", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_t2"), schema,
      primaryKeys = Seq("a"))
    t.upsert(Seq((1, 2L, "1", "1"), (3, 4L, "2", "2")).toDF("a", "b", "aCa", "d"))
    t.upsert(Seq((5, 6L, "3", "3"), (7, 8L, "4", "4")).toDF("a", "b", "aCa", "d"))
    t
  }

  test("testProjection: SELECT * / column projection / SUM after RowKind.DELETE") {
    // assertThat(sql("SELECT * FROM t1")).isEqualTo("[[1, 2, 1, 1], [5, 6, 3, 3]]")
    val all = t1.read().orderBy("a").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(all.toSeq == Seq((1, 2L, "1", "1"), (5, 6L, "3", "3")))
    // SELECT a, aCa → [[1, 1], [5, 3]]
    val proj = t1.read().select("a", "aCa").orderBy("a").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(proj.toSeq == Seq((1, "1"), (5, "3")))
    // SELECT SUM(b) → [[8]]
    assert(t1.read().agg(sum("b")).first().getLong(0) == 8L)
  }

  test("testLimitCommon: LIMIT with and without filter") {
    assert(t1.read().orderBy("a").limit(1).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 2L)))
    assert(t1.read().filter(col("a") === 5).limit(1).first().getLong(1) == 6L)
  }

  test("testFilter: a < 7 over two commits") {
    // [[1, 1], [3, 2], [5, 3]]
    val got = t2.read().filter(col("a") < 7).select("a", "aCa").orderBy("a")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "1"), (3, "2"), (5, "3")))
  }

  test("testFilterWithTimeTravel: scan_version=1 sees only the first commit") {
    // [[1, 1], [3, 2]]
    val got = t2.read(snapshotId = Some(1L)).filter(col("a") < 7)
      .select("a", "aCa").orderBy("a").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "1"), (3, "2")))
  }

  test("testFilterWithTimeTravelAndTableOptions: scan_version spec strings") {
    import graft.sources.GraftCatalog
    val c = new GraftCatalog(spark, TestSpark.tmpDir("svwh"))
    c.createDatabase("default")
    val t2 = c.createTable("default", "t2",
      StructType(Seq(StructField("a", IntegerType), StructField("aCa", StringType))),
      primaryKeys = Seq("a"))
    t2.upsert(Seq((1, "1"), (3, "2")).toDF("a", "aCa"))
    t2.upsert(Seq((5, "3"), (7, "4")).toDF("a", "aCa"))
    def q(spec: String) =
      c.readTableAsOf("default", "t2", spec).filter(col("a") < 7)
        .orderBy("a").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // "1" → first commit            (sql(..., SCAN_VERSION, "1"))
    assert(q("1") == Seq((1, "1"), (3, "2")))
    // "default.t2.1" → first commit (table-qualified)
    assert(q("default.t2.1") == Seq((1, "1"), (3, "2")))
    // "default.t1.1" → does not apply to t2 → latest
    assert(q("default.t1.1") == Seq((1, "1"), (3, "2"), (5, "3")))
    // "default.t1.1|default.t2.1" → t2 entry applies
    assert(q("default.t1.1|default.t2.1") == Seq((1, "1"), (3, "2")))
  }

  test("timestamp time travel: snapshotAsOfTime picks the right version") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ts_tt"), schema)
    t.append(Seq(1).toDF("k"))
    val afterFirst = System.currentTimeMillis()
    Thread.sleep(20)
    t.append(Seq(2).toDF("k"))
    assert(t.snapshotAsOfTime(afterFirst).contains(1L))
    assert(t.snapshotAsOfTime(System.currentTimeMillis()).contains(2L))
    assert(t.snapshotAsOfTime(0L).isEmpty)
    assert(t.read(snapshotId = t.snapshotAsOfTime(afterFirst)).count() == 1)
  }

  test("testSystemTable: snapshots of t1") {
    // "[[1, 0, user, 0, APPEND]]"-shaped: first snapshot is an APPEND at schema 0
    val s = t1.system("snapshots")
      .select("snapshot_id", "schema_id", "commit_kind").orderBy("snapshot_id").collect()
    assert(s.head.getLong(0) == 1L && s.head.getLong(1) == 0L && s.head.getString(2) == "APPEND")
  }

  test("testGroupByWithCast (t3 shape): partitioned GROUP BY pt, a with sums") {
    val schema = StructType(Seq(
      StructField("pt", StringType), StructField("a", IntegerType),
      StructField("b", LongType), StructField("c", LongType), StructField("d", IntegerType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_t3"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L, 1L, 1), ("1", 1, 2L, 2L, 2), ("2", 3, 3L, 3L, 3))
      .toDF("pt", "a", "b", "c", "d"))
    // [[1, 1, 3, 3], [2, 3, 3, 3]]
    val got = t.read().groupBy("pt", "a")
      .agg(sum("b").as("sb"), sum("d").as("sd"))
      .orderBy("pt", "a").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("1", 1, 3L, 3L), ("2", 3, 3L, 3L)))
  }

  test("testComplexTypes (t4 shape): map column round-trips") {
    val schema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("map", MapType(StringType, StringType))))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_t4"), schema,
      primaryKeys = Seq("i"), options = Map("bucket" -> "1"))
    t.upsert(Seq((1, Map("1" -> "2"))).toDF("i", "map"))
    // "[[1, {1=2}]]"
    val r = t.read().first()
    assert(r.getInt(0) == 1 && r.getMap[String, String](1) == Map("1" -> "2"))
  }

  test("testQueryMap (t_map shape): map subscript filter i3[1] = '1'") {
    val schema = StructType(Seq(
      StructField("i1", IntegerType), StructField("i2", StringType),
      StructField("i3", MapType(IntegerType, StringType))))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_tmap"), schema,
      partitionKeys = Seq("i2"), primaryKeys = Seq("i2", "i1"), options = Map("bucket" -> "1"))
    t.upsert(Seq(
      (1, "20241103", Map(1 -> "1")), (2, "20241103", Map(1 -> "2")),
      (3, "20241104", Map(1 -> "1"))).toDF("i1", "i2", "i3"))
    // where upper(i2) = '20241103' and i3[1] = '1' → [[1, 20241103, {1=1}]]
    val got = t.read()
      .filter(upper(col("i2")) === "20241103" && element_at(col("i3"), 1) === "1")
      .collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1))
    // i3[1] = '1' or i3[1] = '2' → all three rows
    assert(t.read()
      .filter(element_at(col("i3"), 1) === "1" || element_at(col("i3"), 1) === "2")
      .count() == 3)
  }

  test("testQueryMap with range_filters_on_subscripts_enabled: a subscript " +
    "predicate prunes FILES via the bloom entry index, identical results either way") {
    val dir = TestSpark.tmpDir("ref_tmap_sub")
    val schema = StructType(Seq(
      StructField("i1", IntegerType), StructField("i2", StringType),
      StructField("i3", MapType(IntegerType, StringType))))
    val t = GraftTable.create(spark, dir, schema,
      options = Map("file-index.bloom-filter.columns" -> "i3"))
    // three commits → three files, each with a distinct i3[1] entry
    t.append(Seq((1, "20241103", Map(1 -> "1"))).toDF("i1", "i2", "i3"))
    t.append(Seq((2, "20241103", Map(1 -> "2"))).toDF("i1", "i2", "i3"))
    t.append(Seq((3, "20241104", Map(1 -> "3"))).toDF("i1", "i2", "i3"))
    def run(): (Seq[Int], (Int, Int)) = {
      val df = spark.read.format("graft").load(dir)
        .filter(element_at(col("i3"), lit(1)) === "2")
      val rows = df.collect().map(_.getInt(0)).toSeq.sorted
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
      (rows, (m.get.group(1).toInt, m.get.group(2).toInt))
    }
    val key = "spark.graft.subscriptFilters.enabled"
    // TestSpark's session has no extensions; inject the same rule the
    // GraftExtensions entry point registers (ApproxRuleSpec pattern)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "false") // reference default: subscript pushdown off
      val (offRows, (offRead, offTotal)) = run()
      assert(offRows == Seq(2) && offRead == 3 && offTotal == 3,
        s"toggle off must scan all files: read $offRead/$offTotal")
      spark.conf.set(key, "true")
      val (onRows, (onRead, onTotal)) = run()
      assert(onRows == Seq(2), "toggle must not change results")
      assert(onRead == 1 && onTotal == 3,
        s"subscript predicate should bloom-prune to 1/3 files, read $onRead/$onTotal")
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("array subscript (ref 'range filters on subscripts like a[2] = 5'): " +
    "element_at and 0-based a[i] both prune files via 1-based entry hashes") {
    val dir = TestSpark.tmpDir("ref_arr_sub")
    val schema = StructType(Seq(
      StructField("i1", IntegerType),
      StructField("arr", ArrayType(IntegerType))))
    val t = GraftTable.create(spark, dir, schema,
      options = Map("file-index.bloom-filter.columns" -> "arr"))
    t.append(Seq((1, Seq(7, 70))).toDF("i1", "arr"))
    t.append(Seq((2, Seq(8, 80))).toDF("i1", "arr"))
    t.append(Seq((3, Seq(9, 90))).toDF("i1", "arr"))
    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      spark.conf.set(key, "true")
      def filesOf(df: org.apache.spark.sql.DataFrame): Int =
        "files=(\\d+)/3".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
          .get.group(1).toInt
      // ANSI element_at THROWS on out-of-bounds, so pruning a file could
      // suppress the error the unpruned query raises — the rule must NOT
      // claim for failOnError array subscripts (results identical either
      // way is the contract). try_element_at (null-on-missing — Presto's
      // own subscript semantics) is the shape that prunes.
      val ansiEa = spark.read.format("graft").load(dir)
        .filter(element_at(col("arr"), lit(1)) === 8)
      assert(ansiEa.collect().map(_.getInt(0)).toSeq == Seq(2))
      assert(filesOf(ansiEa) == 3, "ANSI element_at must not prune (error suppression)")
      val ea = spark.read.format("graft").load(dir)
        .filter(try_element_at(col("arr"), lit(1)) === 8)
      assert(ea.collect().map(_.getInt(0)).toSeq == Seq(2))
      assert(filesOf(ea) == 1, "try_element_at subscript should prune to 1/3")
      // Spark's a[i] (GetArrayItem) is 0-based; same 1-based entry hash.
      // With ANSI off, a[i] is null-on-missing → claimable.
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val gi = spark.read.format("graft").load(dir)
          .filter(col("arr")(1) === 90)
        assert(gi.collect().map(_.getInt(0)).toSeq == Seq(3))
        assert(filesOf(gi) == 1, "a[i] subscript should prune to 1/3 with ansi off")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("testRowSubscript (ref PrestoDistributedQueryTest.java:974): struct-leaf " +
    "predicates prune files via entry hashes + range stats, identical results either way") {
    val dir = TestSpark.tmpDir("ref_row_sub")
    val schema = StructType(Seq(
      StructField("i1", IntegerType),
      StructField("r", StructType(Seq(
        StructField("name", StringType), StructField("score", IntegerType))))))
    val t = GraftTable.create(spark, dir, schema,
      options = Map("file-index.bloom-filter.columns" -> "r"))
    // every file spans the SAME [min,max] on both leaves (padding rows
    // "aa"/"zz", scores 1/1000), so manifest min/max stats can never
    // discriminate — only the (field, value) entry hashes can
    def file(i: Int, n: String, s: Int) =
      Seq((i, n, s), (i * 10, "aa", 1), (i * 100, "zz", 1000)).toDF("i1", "n", "s")
        .select(col("i1"), struct(col("n").as("name"), col("s").as("score")).as("r"))
        .coalesce(1)
    t.append(file(1, "dd", 5))
    t.append(file(2, "ee", 50))
    t.append(file(3, "ff", 900))
    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      def run(cond: org.apache.spark.sql.Column): (Seq[Int], Int) = {
        val df = spark.read.format("graft").load(dir).filter(cond)
        val rows = df.collect().map(_.getInt(0)).toSeq.sorted
        val m = "files=(\\d+)/3".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        (rows, m.get.group(1).toInt)
      }
      spark.conf.set(key, "false")
      assert(run(col("r").getField("name") === "ee") == ((Seq(2), 3)),
        "toggle off: all files scanned (overlapping min/max), correct rows")
      spark.conf.set(key, "true")
      // equality on a string leaf: (field, value) entry hash prunes where
      // min/max cannot
      assert(run(col("r").getField("name") === "ee") == ((Seq(2), 1)),
        "r.name = 'ee' should entry-hash-prune to 1/3")
      // a predicate value no file holds prunes everything
      assert(run(col("r").getField("name") === "qq") == ((Seq(), 0)))
      // integral-leaf ranges stay correct under the claim (per-field
      // min/max entry stats have manifest granularity for structs: the
      // padding rows make them non-discriminating here by design)
      assert(run(col("r").getField("score") > 100) == ((Seq(3, 100, 200, 300), 3)))
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("struct-leaf predicates skip files via MANIFEST min/max (no index, no rule): " +
    "parquet AND orc footers record nested leaf stats under the dotted path") {
    for (fmt <- Seq("parquet", "orc")) {
      val dir = TestSpark.tmpDir(s"ref_row_stats_$fmt")
      val schema = StructType(Seq(
        StructField("i1", IntegerType),
        StructField("r", StructType(Seq(
          StructField("name", StringType), StructField("score", IntegerType))))))
      val t = GraftTable.create(spark, dir, schema, // NO file index configured
        options = Map("file.format" -> fmt))
      def row(i: Int, n: String, s: Int) = Seq((i, n, s)).toDF("i1", "n", "s")
        .select(col("i1"), struct(col("n").as("name"), col("s").as("score")).as("r"))
      t.append(row(1, "aa", 5))
      t.append(row(2, "mm", 50))
      t.append(row(3, "zz", 900))
      def run(cond: org.apache.spark.sql.Column): (Seq[Int], Int) = {
        val df = spark.read.format("graft").load(dir).filter(cond)
        val rows = df.collect().map(_.getInt(0)).toSeq.sorted
        val m = "files=(\\d+)/3".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        (rows, m.get.group(1).toInt)
      }
      assert(run(col("r").getField("score") > 100) == ((Seq(3), 1)),
        s"$fmt: integral leaf range should manifest-prune to 1/3")
      assert(run(col("r").getField("name") === "mm") == ((Seq(2), 1)),
        s"$fmt: string leaf equality should manifest-prune to 1/3 (ASCII min/max)")
      assert(run(col("r").getField("score") <= 5) == ((Seq(1), 1)), s"$fmt")
    }
  }

  test("range filters on subscripts (ref session property's namesake): " +
    "props['k'] > v prunes files via per-entry min/max stats, identical results either way") {
    val dir = TestSpark.tmpDir("ref_sub_range")
    val schema = StructType(Seq(
      StructField("i1", IntegerType),
      StructField("props", MapType(StringType, IntegerType))))
    val t = GraftTable.create(spark, dir, schema,
      options = Map("file-index.bloom-filter.columns" -> "props"))
    // three commits → three files with disjoint value ranges for key "a";
    // the third lacks "a" entirely (key-absence pruning)
    t.append(Seq((1, Map("a" -> 5, "b" -> 1))).toDF("i1", "props"))
    t.append(Seq((2, Map("a" -> 50)), (3, Map("a" -> 70))).toDF("i1", "props").coalesce(1))
    t.append(Seq((4, Map("b" -> 999))).toDF("i1", "props"))
    val key = "spark.graft.subscriptFilters.enabled"
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.SubscriptFilterRule(() =>
        spark.conf.get(key, "false").toBoolean)
    try {
      def run(cond: org.apache.spark.sql.Column): (Seq[Int], Int) = {
        val df = spark.read.format("graft").load(dir).filter(cond)
        val rows = df.collect().map(_.getInt(0)).toSeq.sorted
        val m = "files=(\\d+)/3".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        (rows, m.get.group(1).toInt)
      }
      spark.conf.set(key, "false")
      val (offRows, offFiles) = run(element_at(col("props"), "a") > 10)
      assert(offRows == Seq(2, 3) && offFiles == 3, s"toggle off: $offRows files=$offFiles")
      spark.conf.set(key, "true")
      // > 10 rules out file 1 (max 5) and file 3 (no "a" key) by stats
      val (onRows, onFiles) = run(element_at(col("props"), "a") > 10)
      assert(onRows == Seq(2, 3), "toggle must not change results")
      assert(onFiles == 1, s"range subscript should stats-prune to 1/3, read $onFiles")
      // literal-on-left flips the operator: 60 < props['a'] → only file 2
      val (fRows, fFiles) = run(lit(60) < element_at(col("props"), "a"))
      assert(fRows == Seq(3) && fFiles == 1, s"flipped op: $fRows files=$fFiles")
      // <= keeps only file 1 (min 5); key-absent file 3 stays pruned
      val (leRows, leFiles) = run(element_at(col("props"), "a") <= 5)
      assert(leRows == Seq(1) && leFiles == 1, s"<=: $leRows files=$leFiles")
    } finally {
      spark.conf.unset(key)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_.isInstanceOf[graft.plans.SubscriptFilterRule])
    }
  }

  test("testPartitionPushDown (t5 shape): composite partition keys prune files") {
    val schema = StructType(Seq(
      StructField("i1", StringType), StructField("i2", IntegerType),
      StructField("i3", IntegerType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_t5"), schema,
      partitionKeys = Seq("i1", "i2"))
    t.append(Seq(("20241103", 1, 1), ("20241103", 2, 2), ("20241104", 3, 2))
      .toDF("i1", "i2", "i3"))
    // upper(i1) = '20241103' → [[20241103, 1, 1], [20241103, 2, 2]]
    val p1 = t.read(partitionFilter = Some(upper(col("i1")) === "20241103"))
    assert(p1.orderBy("i2").collect().map(_.getInt(2)).toSeq == Seq(1, 2))
    // ... and i2 = 1 → exactly one file scanned, one row
    val p2 = t.read(partitionFilter = Some(upper(col("i1")) === "20241103" && col("i2") === 1))
    assert(inputFiles(p2).length == 1 && p2.count() == 1)
    // no matching partition → empty scan (partitions=Optional[[]])
    val p3 = t.read(partitionFilter = Some(upper(col("i1")) === "20241105"))
    assert(p3.count() == 0)
  }

  test("testDecimal/testTimestamp shapes: exact decimal + millis timestamp round-trip") {
    val schema = StructType(Seq(
      StructField("c1", DecimalType(20, 0)), StructField("c2", DecimalType(6, 3)),
      StructField("ts", TimestampType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_dec"), schema)
    t.append(spark.sql(
      """SELECT CAST('10000000000' AS DECIMAL(20,0)) c1, CAST('123.456' AS DECIMAL(6,3)) c2,
        |TIMESTAMP'2023-01-01 01:01:01.123' ts""".stripMargin))
    val r = t.read().first()
    assert(r.getDecimal(0).toPlainString == "10000000000")
    assert(r.getDecimal(1).toPlainString == "123.456")
    assert(r.getTimestamp(2).toString.startsWith("2023-01-01 01:01:01.123"))
    // decimal range predicates (testDecimalPredicate)
    assert(t.read().filter(col("c2") > 123 && col("c2") <= 123.457).count() == 1)
    assert(t.read().filter(col("c1") >= "10000000000" && col("c1") < "10000000001").count() == 1)
    // timestamp predicates (testTimestampPredicate)
    assert(t.read().filter(col("ts") === to_timestamp(lit("2023-01-01 01:01:01.123"))).count() == 1)
    assert(t.read().filter(
      col("ts") > to_timestamp(lit("2023-01-01 01:01:00")) &&
        col("ts") < to_timestamp(lit("2023-01-01 01:01:02"))).count() == 1)
  }

  test("testTimestampPredicateWithTimezone (TestPrestoITCase.java:465): instant-valued predicates") {
    // TIMESTAMP (Spark's with-local-time-zone type ≡ the reference's
    // TIMESTAMP WITH TIME ZONE lattice entry): predicates spelled with
    // explicit zone offsets must select by INSTANT, whatever the zone
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_tz"),
      StructType(Seq(StructField("id", IntegerType), StructField("at", TimestampType))))
    t.append(Seq(
      (1, java.time.Instant.parse("2024-01-15T10:00:00Z")),
      (2, java.time.Instant.parse("2024-01-15T20:00:00Z"))).toDF("id", "at"))
    val df = spark.read.format("graft").load(t.root)
    // 17:30+05:30 == 12:00Z — only the 20:00Z row is later
    assert(df.filter(col("at") > expr("TIMESTAMP '2024-01-15 17:30:00+05:30'"))
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // the same instant spelled in another zone selects the same rows
    assert(df.filter(col("at") > expr("TIMESTAMP '2024-01-15 07:00:00-05:00'"))
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // equality across spellings: 15:30+05:30 == 10:00Z
    assert(df.filter(col("at") === expr("TIMESTAMP '2024-01-15 15:30:00+05:30'"))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("testRenameColumn/testDropColumn (TestPrestoSqlITCase.java:342,366): field-id evolution") {
    val schema = StructType(Seq(
      StructField("order_key", LongType), StructField("order_status", StringType),
      StructField("total_price", DoubleType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_evolve"), schema)
    t.append(Seq((1L, "OPEN", 10.0), (2L, "DONE", 20.0))
      .toDF("order_key", "order_status", "total_price"))
    // rename: files written under the OLD name keep reading (id resolution)
    t.renameColumn("order_status", "g")
    assert(t.schema.fieldNames.toSeq == Seq("order_key", "g", "total_price"))
    val afterRename = t.read().orderBy("order_key").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(afterRename.toSeq == Seq((1L, "OPEN"), (2L, "DONE")))
    // mixed old/new files + a filter on the renamed column
    t.append(Seq((3L, "OPEN", 30.0)).toDF("order_key", "g", "total_price"))
    assert(t.read().filter(col("g") === "OPEN").count() == 2)
    // drop, then re-add the same name: fresh field id → the dropped
    // column's old file data must NOT resurrect
    t.dropColumn("g")
    assert(t.read().columns.toSeq == Seq("order_key", "total_price"))
    t.addColumn("g", StringType)
    val revived = t.read().collect().map(r => Option(r.getString(2)))
    assert(revived.forall(_.isEmpty), "dropped column data resurrected under a recycled name")
    // and the old files still serve their surviving columns
    assert(t.read().agg(sum("total_price")).first().getDouble(0) == 60.0)
  }

  test("rename column on a PK table: V2 merge-on-read resolves old files by field id") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ref_evolve_pk"), schema,
      primaryKeys = Seq("k"), options = Map("bucket" -> "2"))
    t.upsert(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.renameColumn("v", "val")
    t.upsert(Seq((2, "b2"), (3, "c")).toDF("k", "val"))
    val out = t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "a"), (2, "b2"), (3, "c")))
    // layout-referenced columns are frozen (Paimon's own restriction)
    intercept[IllegalArgumentException](t.renameColumn("k", "kk"))
    intercept[IllegalArgumentException](t.dropColumn("k"))
  }
}
