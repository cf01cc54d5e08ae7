package graft

import graft.sources.{GraftMorReaderFactory, GraftTable, MergeTestAccess}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S26: Paimon merge engines beyond deduplicate —
  * first-row, partial-update, aggregation — resolved by the V2 in-scan
  * fold (GraftMorReaderFactory), with -D resetting folded keys.
  * (ref: Paimon CoreOptions MERGE_ENGINE; the reference connector reads
  * tables produced under all of these engines.)
  */
class MergeEngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def readSorted(t: GraftTable): Seq[Row] = t.read().orderBy("k").collect().toSeq

  test("first-row: earliest version per key wins") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-first"), schema,
      primaryKeys = Seq("k"), options = Map("merge-engine" -> "first-row"))
    t.append(Seq((1, "first"), (2, "b")).toDF("k", "v"))
    t.append(Seq((1, "second"), (3, "c")).toDF("k", "v"))
    val rows = readSorted(t).map(r => (r.getInt(0), r.getString(1)))
    assert(rows == Seq((1, "first"), (2, "b"), (3, "c")))
  }

  test("partial-update: latest non-null wins per column; nulls never overwrite") {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("a", StringType),
      StructField("b", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-pu"), schema,
      primaryKeys = Seq("k"), options = Map("merge-engine" -> "partial-update"))
    t.append(Seq((1, Some("a1"), None: Option[String])).toDF("k", "a", "b"))
    t.append(Seq((1, None: Option[String], Some("b2"))).toDF("k", "a", "b"))
    t.append(Seq((1, None: Option[String], None: Option[String])).toDF("k", "a", "b"))
    val rows = readSorted(t).map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows == Seq((1, "a1", "b2")))
  }

  test("partial-update: a delete resets the key (remove-record-on-delete)") {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("a", StringType),
      StructField("b", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-pud"), schema,
      primaryKeys = Seq("k"), options = Map("merge-engine" -> "partial-update"))
    t.append(Seq((1, Some("a1"), Some("b1"))).toDF("k", "a", "b"))
    t.delete(Seq((1, Some("a1"), Some("b1"))).toDF("k", "a", "b"))
    assert(readSorted(t).isEmpty) // delete wins
    t.append(Seq((1, None: Option[String], Some("b3"))).toDF("k", "a", "b"))
    // pre-delete a1 must NOT resurrect: fold restarts after the -D
    val rows = readSorted(t).map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows == Seq((1, null, "b3")))
  }

  test("aggregation: per-column functions fold all versions; declared types kept") {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("total", IntegerType), // sum must come back as INT
      StructField("hi", LongType),
      StructField("tags", StringType),
      StructField("any_err", BooleanType),
      StructField("last_v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-agg"), schema,
      primaryKeys = Seq("k"),
      options = Map(
        "merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum",
        "fields.hi.aggregate-function" -> "max",
        "fields.tags.aggregate-function" -> "listagg",
        "fields.any_err.aggregate-function" -> "bool_or"))
    t.append(Seq((1, 10, 5L, "x", false, "v1"), (2, 1, 9L, "m", true, "w1"))
      .toDF("k", "total", "hi", "tags", "any_err", "last_v"))
    t.append(Seq((1, 7, 3L, "y", true, "v2")).toDF("k", "total", "hi", "tags", "any_err", "last_v"))
    t.append(Seq((1, 5, 8L, "z", false, "v3")).toDF("k", "total", "hi", "tags", "any_err", "last_v"))
    val rows = readSorted(t).map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3), r.getBoolean(4), r.getString(5)))
    assert(rows == Seq(
      (1, 22, 8L, "x,y,z", true, "v3"), // sum, max, listagg in commit order, bool_or, last
      (2, 1, 9L, "m", true, "w1")))
    assert(t.read().schema("total").dataType == IntegerType)
  }

  test("S26b: aggregation product and collect fold across versions on both paths") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("aggwide"),
      StructType(Seq(
        StructField("k", IntegerType), StructField("p", LongType),
        StructField("tags", ArrayType(StringType)))),
      primaryKeys = Seq("k"),
      options = Map(
        "merge-engine" -> "aggregation",
        "fields.p.aggregate-function" -> "product",
        "fields.tags.aggregate-function" -> "collect"))
    t.upsert(Seq((1, 3L, Seq("a"))).toDF("k", "p", "tags"))
    t.upsert(Seq((1, 4L, Seq("b", "c"))).toDF("k", "p", "tags"))
    // a null version contributes nothing to either column
    t.upsert(Seq((1, Option.empty[Long], Option.empty[Seq[String]]))
      .toDF("k", "p", "tags"))
    t.upsert(Seq((1, 2L, Seq("a"))).toDF("k", "p", "tags"))
    val rows = readSorted(t).map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[String](2).toList))
    assert(rows == Seq((1, 24L, List("a", "b", "c", "a"))),
      "product multiplies non-null versions; collect appends elements in version order")
  }

  test("S26c: sketch-typed columns auto-merge through the aggregation engine") {
    import graft.functions.SketchState
    val t = GraftTable.create(spark, TestSpark.tmpDir("aggsketch"),
      StructType(Seq(StructField("k", IntegerType), StructField("sk", BinaryType))),
      primaryKeys = Seq("k"),
      options = Map(
        "merge-engine" -> "aggregation",
        "fields.sk.aggregate-function" -> "kmv_merge"))
    // two partial sketches per key (disjoint element sets), upserted as
    // separate versions — the table itself maintains the rollup
    def sketchOf(ids: Seq[Long]) = {
      import org.apache.spark.sql.functions.{col, xxhash64}
      spark.createDataset(ids).toDF("x")
        .agg(SketchState.kmvState(xxhash64(col("x"))).as("sk"))
        .first().getAs[Array[Byte]](0)
    }
    val aIds = (0L until 400L)
    val bIds = (300L until 700L) // overlaps a: union = 700 distinct
    t.upsert(Seq((1, sketchOf(aIds))).toDF("k", "sk"))
    t.upsert(Seq((1, sketchOf(bIds))).toDF("k", "sk"))
    val merged = readSorted(t).head.getAs[Array[Byte]](1)
    // the stored merged sketch estimates the UNION's distinct count;
    // compare against a one-pass sketch of the union — KMV merges are
    // lossless, so the bytes must be identical, not just close
    val onePass = sketchOf((aIds ++ bIds).distinct)
    assert(java.util.Arrays.equals(merged, onePass),
      "merge-engine kmv fold must equal the one-pass sketch bit-for-bit")
  }

  test("aggregation: sum skips nulls and a delete resets the running fold") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("total", LongType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-aggd"), schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum"))
    t.append(Seq((1, Some(10L))).toDF("k", "total"))
    t.append(Seq((1, None: Option[Long])).toDF("k", "total"))
    t.append(Seq((1, Some(4L))).toDF("k", "total"))
    assert(readSorted(t).map(r => (r.getInt(0), r.getLong(1))) == Seq((1, 14L)))
    t.delete(Seq((1, Some(0L))).toDF("k", "total"))
    t.append(Seq((1, Some(3L))).toDF("k", "total"))
    assert(readSorted(t).map(r => (r.getInt(0), r.getLong(1))) == Seq((1, 3L)))
  }

  test("merge engines survive SQL reads and compaction") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("total", LongType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-sql"), schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum"))
    t.append(Seq((1, 2L), (2, 5L)).toDF("k", "total"))
    t.append(Seq((1, 3L)).toDF("k", "total"))
    // SQL path = V2 scan fold
    val sql = spark.read.format("graft").load(t.root)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(sql.toSeq == Seq((1, 5L), (2, 5L)))
    // compaction materializes the folded state; reads keep answering,
    // and post-compact appends fold on top of the compacted base
    t.compact()
    t.append(Seq((1, 1L)).toDF("k", "total"))
    assert(readSorted(t).map(r => (r.getInt(0), r.getLong(1))) == Seq((1, 6L), (2, 5L)))
  }

  test("changelog-producer=lookup rejects non-deduplicate engines") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-cl"), schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "partial-update", "changelog-producer" -> "lookup"))
    intercept[IllegalArgumentException] {
      t.append(Seq((1, "a")).toDF("k", "v"))
    }
  }

  private def seqGroupTable(name: String) = {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("price", DoubleType),
      StructField("price_ts", LongType),
      StructField("status", StringType),
      StructField("status_ts", LongType)))
    GraftTable.create(spark, TestSpark.tmpDir(name), schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "partial-update",
        "fields.price_ts.sequence-group" -> "price",
        "fields.status_ts.sequence-group" -> "status"))
  }

  private def sgRow(r: Row) =
    (r.getInt(0), r.getDouble(1), r.getLong(2), r.getString(3), r.getLong(4))

  test("S49: sequence groups — per-group versioning, late stale rows rejected") {
    val t = seqGroupTable("me-sg")
    t.append(Seq((1, 10.0, 100L, "new", 100L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    // price feed advances; status columns null → status group untouched
    t.append(Seq((1, Some(12.0), Some(200L), Option.empty[String], Option.empty[Long]))
      .toDF("k", "price", "price_ts", "status", "status_ts"))
    // status feed advances, but its price copy is STALE (150 < 200):
    // without groups commit order would clobber price back to 11.0
    t.append(Seq((1, 11.0, 150L, "shipped", 300L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).map(sgRow) == Seq((1, 12.0, 200L, "shipped", 300L)))
    // fully stale late row: nothing moves
    t.append(Seq((1, 9.0, 50L, "stale", 50L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).map(sgRow) == Seq((1, 12.0, 200L, "shipped", 300L)))
    // hash-strategy path must agree too: a non-key clustering compaction
    // leaves unsorted files, forcing foldReader on the next read
    t.compact(sortBy = Seq("status"))
    assert(readSorted(t).map(sgRow) == Seq((1, 12.0, 200L, "shipped", 300L)))
  }

  test("S49: a stale-group-seq row cannot resurrect a value the newest group row nulled") {
    // ADVICE r10 repro: the newest group-seq row carries NULL in the
    // grouped column; a late-committed STALE row (lower group seq) holds
    // a non-null value. foldAscending rejects the whole stale row, on the
    // read and in the compaction that materializes the fold.
    val t = seqGroupTable("me-sg-stale-null")
    t.append(Seq((1, Option.empty[Double], Some(200L), Some("new"), Some(200L)))
      .toDF("k", "price", "price_ts", "status", "status_ts"))
    t.append(Seq((1, Some(9.0), Some(150L), Option.empty[String], Option.empty[Long]))
      .toDF("k", "price", "price_ts", "status", "status_ts"))
    def check(): Unit = {
      val rows = readSorted(t)
      assert(rows.map(r => (r.getInt(0), Option(r.get(1)), r.getLong(2), r.getString(3))) ==
        Seq((1, None, 200L, "new")))
    }
    check()
    // compaction materializes the fold — result must not change
    t.compact()
    check()
    // an accepted EQUAL group seq still updates (>= semantics)
    t.append(Seq((1, Some(7.5), Some(200L), Option.empty[String], Option.empty[Long]))
      .toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).map(sgRow) == Seq((1, 7.5, 200L, "new", 200L)))
  }

  test("S49: delete resets group state; null group-seq sorts oldest") {
    val t = seqGroupTable("me-sg-del")
    t.append(Seq((1, 10.0, 500L, "new", 500L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    t.delete(Seq((1, 0.0, 0L, "", 0L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).isEmpty)
    // re-insert with OLDER group seqs: the delete reset forgot them
    t.append(Seq((1, 5.0, 10L, "reborn", 10L)).toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).map(sgRow) == Seq((1, 5.0, 10L, "reborn", 10L)))
    // a null group-seq row cannot override a non-null one
    t.append(Seq((1, Some(99.0), Option.empty[Long], Some("ghost"), Option.empty[Long]))
      .toDF("k", "price", "price_ts", "status", "status_ts"))
    assert(readSorted(t).map(sgRow) == Seq((1, 5.0, 10L, "reborn", 10L)))
  }

  test("S49: sequence-group validation") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType),
      StructField("ts", LongType)))
    def make(opts: Map[String, String]) = {
      val t = GraftTable.create(spark, TestSpark.tmpDir("me-sg-bad"), schema,
        primaryKeys = Seq("k"), options = opts)
      t.append(Seq((1, "a", 1L)).toDF("k", "v", "ts"))
      t.read().collect()
    }
    // group on a non-partial-update engine
    intercept[IllegalArgumentException](make(Map(
      "merge-engine" -> "aggregation", "fields.ts.sequence-group" -> "v")))
    // unknown column in the group
    intercept[IllegalArgumentException](make(Map(
      "merge-engine" -> "partial-update", "fields.ts.sequence-group" -> "nope")))
    // one column claimed by two groups
    intercept[IllegalArgumentException](make(Map(
      "merge-engine" -> "partial-update",
      "fields.ts.sequence-group" -> "v",
      "fields.v.sequence-group" -> "v")))
    // a global sequence.field cannot double as a group sequence
    intercept[IllegalArgumentException](make(Map(
      "merge-engine" -> "partial-update",
      "sequence.field" -> "ts",
      "fields.ts.sequence-group" -> "v")))
    // group-referenced columns are layout-frozen: rename/drop rejected
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-sg-frozen"), schema,
      primaryKeys = Seq("k"),
      options = Map("merge-engine" -> "partial-update",
        "fields.ts.sequence-group" -> "v"))
    t.append(Seq((1, "a", 1L)).toDF("k", "v", "ts"))
    intercept[IllegalArgumentException](t.renameColumn("ts", "ts2"))
    intercept[IllegalArgumentException](t.dropColumn("v"))
  }

  // ---- the streaming k-way merge against every other read of it --------

  private val diffSchema = StructType(Seq(
    StructField("s", StringType), StructField("n", IntegerType),
    StructField("ts", LongType), StructField("a", IntegerType),
    StructField("b", StringType), StructField("g_ts", LongType)))

  /** One CDC run of 15,000 rows over 5,000 composite (string, int) keys:
    * every key three times, at distinct `ts` within the run and tying
    * with other runs, so a sorted run's key triples straddle its 4,096-row
    * batch boundaries. Every tenth row is a `-D`, every tenth a `-U`. */
  private def cdcRun(r: Int): DataFrame = {
    val kidx = (col("id") * 7 + r * 13) % 5000
    spark.range(15000).select(
      concat(lit("k"), (kidx % 625).cast("string")).as("s"),
      (kidx / 625).cast("int").as("n"),
      ((col("id") + r) % 3).as("ts"),
      (col("id") % 97).cast("int").as("a"),
      when(col("id") % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit(s"r$r-"), col("id").cast("string"))).as("b"),
      ((col("id") * 31 + r) % 5).as("g_ts"),
      when(col("id") % 10 === 0, "-D").when(col("id") % 10 === 1, "-U")
        .when(col("id") % 10 === 2, "+U").otherwise("+I").as("rowkind"))
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.select(diffSchema.fieldNames.map(col).toSeq: _*).collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int]))

  /** Three CDC runs (the middle one in many small row groups) into a
    * 2-bucket table; the streamed merge must equal the hash strategy over
    * the same files, the row-based fallback, and an unfiltered read
    * filtered afterwards for key lookups. */
  private def differential(engine: String, extra: Map[String, String] = Map.empty): Unit = {
    val t = GraftTable.create(spark, TestSpark.tmpDir(s"me-diff-$engine"), diffSchema,
      primaryKeys = Seq("s", "n"),
      options = Map("merge-engine" -> engine, "sequence.field" -> "ts",
        "changelog-producer" -> "input", "bucket" -> "2") ++ extra)
    t.writeCdc(cdcRun(0))
    spark.conf.set("parquet.block.size", "4096")
    try t.writeCdc(cdcRun(1)) finally spark.conf.unset("parquet.block.size")
    t.writeCdc(cdcRun(2))

    val s0 = GraftMorReaderFactory.streamedGroups.get()
    val h0 = GraftMorReaderFactory.hashGroups.get()
    val streamed = rowsOf(t.read())
    assert(GraftMorReaderFactory.streamedGroups.get() - s0 == 2, engine)
    assert(GraftMorReaderFactory.hashGroups.get() == h0, engine)
    assert(streamed.size > 1000 && streamed.size < 5000, s"$engine: ${streamed.size} keys")

    val h1 = GraftMorReaderFactory.hashGroups.get()
    assert(rowsOf(MergeTestAccess.hashRead(t)) == streamed, s"$engine: hash strategy differs")
    assert(GraftMorReaderFactory.hashGroups.get() - h1 == 2, engine)

    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try assert(rowsOf(t.read()) == streamed, s"$engine: row-based fallback differs")
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")

    def load = spark.read.format("graft").load(t.root)
    val keys = Seq("k1", "k77", "k300", "k624", "nope")
    val lookup = rowsOf(load.filter(col("s").isin(keys: _*)))
    assert(lookup.nonEmpty && lookup == streamed.filter(r => keys.contains(r(0))),
      s"$engine: key IN read differs")
    val one = rowsOf(load.filter(col("s") === "k77" && col("n") > 3))
    assert(one == streamed.filter(r => r(0) == "k77" && r(1).asInstanceOf[Int] > 3),
      s"$engine: composite key read differs")
  }

  test("merge differential: deduplicate") {
    differential("deduplicate")
  }

  test("merge differential: first-row") {
    differential("first-row")
  }

  test("merge differential: partial-update with a sequence group") {
    differential("partial-update", Map("fields.g_ts.sequence-group" -> "b"))
  }

  test("merge differential: aggregation") {
    differential("aggregation", Map(
      "fields.a.aggregate-function" -> "sum",
      "fields.b.aggregate-function" -> "max"))
  }

  test("merge: a non-key filter matching only an older version returns nothing") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-oldver"),
      StructType(Seq(StructField("k", StringType), StructField("v", StringType))),
      primaryKeys = Seq("k"))
    t.upsert(Seq(("a", "old"), ("b", "old")).toDF("k", "v"))
    t.upsert(Seq(("a", "new")).toDF("k", "v"))
    def load = spark.read.format("graft").load(t.root)
    assert(load.filter(col("v") === "old").collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(load.filter(col("k") === "a" && col("v") === "old").isEmpty)
    assert(load.filter(col("k") === "a").collect().map(_.getString(1)).toSeq == Seq("new"))
  }

  test("merge: a 64-run group streams within the test heap") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("me-64runs"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1"))
    (0 until 64).foreach { r =>
      t.upsert(spark.range(r * 50L, r * 50L + 600)
        .select(col("id").as("k"), concat(lit(s"r$r-"), col("id").cast("string")).as("v")))
    }
    val s0 = GraftMorReaderFactory.streamedGroups.get()
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(GraftMorReaderFactory.streamedGroups.get() - s0 == 1)
    // key k's newest version comes from the last run covering it
    assert(got.size == 63 * 50 + 600)
    assert(got.forall { case (k, v) => v == s"r${math.min(63L, k / 50)}-$k" })
  }
}
