package graft

import graft.sources.ScanTestAccess.inputFiles
import graft.sources.{GraftAvro, GraftTable}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S54: avro as the third data-file format (Paimon
  * file.format = avro), implemented on avro-core (no spark-avro module
  * in this distribution): V1 FileFormat registered as `avro`, V2
  * row-based reader factory, writer-counted row counts (no footer
  * stats), sync-marker split protocol. */
class AvroFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S54a: full supported lattice round-trips through an avro append table") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f32", FloatType),
      StructField("f64", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dec", DecimalType(12, 2)),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val rows = Seq(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5, "hi",
        Array[Byte](1, 2, 3), BigDecimal("12345.67").bigDecimal,
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        Seq(1, 2, 3), Map("a" -> 1L, "b" -> 2L), Row(7, "s")),
      Row(false, null, null, null, null, null, null, null,
        null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-lattice"), schema,
      options = Map("file.format" -> "avro"))
    t.append(df)
    // library read path (format("avro") V1 registration)
    val back = t.read().orderBy(desc("b")).collect()
    assert(back.length == 2)
    val r = back(0)
    assert(r.getBoolean(0) && r.getByte(1) == 1 && r.getShort(2) == 2 &&
      r.getInt(3) == 3 && r.getLong(4) == 4L && r.getFloat(5) == 1.5f &&
      r.getDouble(6) == 2.5 && r.getString(7) == "hi")
    assert(r.getAs[Array[Byte]](8).toSeq == Seq[Byte](1, 2, 3))
    assert(r.getDecimal(9) == BigDecimal("12345.67").bigDecimal)
    assert(r.getDate(10).toString == "2024-02-29")
    assert(r.getTimestamp(11).toString.startsWith("2024-02-29 12:34:56.789"))
    assert(r.getSeq[Int](12) == Seq(1, 2, 3))
    assert(r.getMap[String, Long](13) == Map("a" -> 1L, "b" -> 2L))
    assert(r.getStruct(14) == Row(7, "s"))
    assert(back(1).isNullAt(1) && back(1).isNullAt(9) && back(1).isNullAt(13))
    // V2 scan path (SQL surface) — row-based, must agree exactly
    // (binary rendered via hex — Row.toString prints array identity)
    def rendered(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bin", hex(col("bin"))).orderBy(desc("b"))
        .collect().map(_.toString).toSeq
    assert(rendered(spark.read.format("graft").load(t.root)) ==
      rendered(t.read()))
  }

  test("S54b: PK merge-on-read, delete and compaction on an avro table") {
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-pk"), schema,
      primaryKeys = Seq("k"), options = Map("file.format" -> "avro"))
    t.upsert(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    t.upsert(Seq((2, "b2"), (4, "d")).toDF("k", "v"))
    t.delete(Seq((3, "x")).toDF("k", "v"))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val want = Seq((1, "a"), (2, "b2"), (4, "d"))
    assert(state(t.read()) == want) // V2 in-scan fold
    assert(state(t.read(dataFilters =
      Seq(org.apache.spark.sql.sources.IsNotNull("k")))) == want) // pruned read
    assert(state(spark.read.format("graft").load(t.root)) == want) // SQL
    t.compact()
    assert(state(t.read()) == want)
    t.upsert(Seq((1, "a2")).toDF("k", "v"))
    assert(state(t.read()) == Seq((1, "a2"), (2, "b2"), (4, "d")))
  }

  test("S54c: sync-marker splits neither drop nor duplicate rows") {
    val dir = TestSpark.tmpDir("avro-split")
    val schema = StructType(Seq(StructField("id", LongType), StructField("pad", StringType)))
    val t = GraftTable.create(spark, dir, schema, options = Map("file.format" -> "avro"))
    // enough rows for multiple 64 KB sync blocks in ONE file
    t.append(spark.range(50000).select(col("id"), lpad(col("id").cast("string"), 32, "x").as("pad"))
      .coalesce(1))
    val meta = t.currentFiles(None).head
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(s"${t.root}/${meta.path}")
    val half = meta.sizeBytes / 2
    val a = GraftAvro.openSplit(conf, path, 0, half, schema).map(_.getLong(0)).toSeq
    val b = GraftAvro.openSplit(conf, path, half, meta.sizeBytes - half, schema)
      .map(_.getLong(0)).toSeq
    assert(a.nonEmpty && b.nonEmpty, "both splits should see rows")
    assert(a.length + b.length == 50000, s"split union ${a.length}+${b.length} != 50000")
    assert((a ++ b).toSet.size == 50000, "splits overlapped")
  }

  test("S54d: manifest carries writer-counted rows, NO min/max; reads+COUNT stay exact") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-stats"), schema,
      options = Map("file.format" -> "avro"))
    (0 until 3).foreach(b =>
      t.append(((b * 100L) until (b * 100L + 100L)).map(i => (i, s"v$i")).toDF("id", "v")
        .coalesce(1)))
    val metas = t.currentFiles(None)
    assert(metas.forall(_.statsOrEmpty.isEmpty), "avro files must record no min/max stats")
    assert(metas.forall(_.rowCountOpt.contains(100L)), "writer row counts missing")
    // value predicates cannot prune (no stats) but stay CORRECT
    val f = t.read(dataFilters = Seq(org.apache.spark.sql.sources.EqualTo("id", 250L)))
    assert(inputFiles(f).length == 3, "stats-less files must all be kept")
    assert(f.filter(col("id") === 250L).count() == 1)
    // manifest-only COUNT(*) pushdown works off the writer counts
    val cnt = spark.read.format("graft").load(t.root).count()
    assert(cnt == 300)
  }

  test("S54e: schema ADD works (absent fields read null); rename/drop rejected") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-evolve"), schema,
      options = Map("file.format" -> "avro"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.addColumn("extra", LongType)
    t.append(Seq((2, "b", 9L)).toDF("k", "v", "extra"))
    val rows = t.read().orderBy("k").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1, -1L), (2, 9L)))
    intercept[IllegalArgumentException](t.renameColumn("v", "w"))
    intercept[IllegalArgumentException](t.dropColumn("v"))
  }

  test("S54f: incremental reads and time travel work over avro commits") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-incr"), schema,
      options = Map("file.format" -> "avro"))
    val s1 = t.append(Seq((1, "a")).toDF("k", "v"))
    val s2 = t.append(Seq((2, "b")).toDF("k", "v"))
    val delta = t.readIncrement(s1, s2).collect().map(_.getInt(0))
    assert(delta.toSeq == Seq(2))
    assert(t.read(snapshotId = Some(s1)).count() == 1)
    assert(t.read().count() == 2)
  }

  test("S54h: streaming reads follow avro commits (snapshot-id offsets)") {
    val path = TestSpark.tmpDir("avro-stream")
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, path, schema,
      options = Map("file.format" -> "avro"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("avro_stream").start()
    try {
      q.processAllAvailable()
      t.append(Seq((2, "b"), (3, "c")).toDF("k", "v"))
      q.processAllAvailable()
      val got = spark.sql("SELECT k FROM avro_stream ORDER BY k")
        .collect().map(_.getInt(0)).toSeq
      assert(got == Seq(1, 2, 3))
    } finally q.stop()
  }

  test("S54i: edge values — negative/zero decimals, multi-byte UTF8, empty containers, " +
    "null struct fields") {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("dec", DecimalType(10, 2)),
      StructField("s", StringType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, StringType)),
      StructField("st", StructType(Seq(
        StructField("x", IntegerType), StructField("y", StringType))))))
    val rows = Seq(
      Row(1, BigDecimal("-12345.67").bigDecimal, "héllo — 日本語 ü",
        Seq.empty[Long], Map.empty[String, String], Row(null, "only-y")),
      Row(2, BigDecimal("0.00").bigDecimal, "", Seq(-1L, 0L, Long.MaxValue),
        Map("k" -> null), Row(5, null)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-edge"), schema,
      options = Map("file.format" -> "avro"))
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    val back = t.read().orderBy("k").collect()
    assert(back(0).getDecimal(1) == BigDecimal("-12345.67").bigDecimal,
      "negative decimal (two's-complement unscaled bytes) corrupted")
    assert(back(0).getString(2) == "héllo — 日本語 ü", "multi-byte UTF8 corrupted")
    assert(back(0).getSeq[Long](3).isEmpty && back(0).getMap[String, String](4).isEmpty)
    assert(back(0).getStruct(5).isNullAt(0) && back(0).getStruct(5).getString(1) == "only-y")
    assert(back(1).getDecimal(1) == BigDecimal("0.00").bigDecimal)
    assert(back(1).getString(2) == "")
    assert(back(1).getSeq[Long](3) == Seq(-1L, 0L, Long.MaxValue))
    assert(back(1).getMap[String, String](4) == Map("k" -> null))
    assert(back(1).getStruct(5).getInt(0) == 5 && back(1).getStruct(5).isNullAt(1))
    // the V2 scan agrees on every edge value
    val v2 = spark.read.format("graft").load(t.root).orderBy("k").collect()
    assert(v2.map(_.toString).toSeq == back.map(_.toString).toSeq)
  }

  test("S54j: file.compression codec option — deflate/none round-trip, bad codec rejected") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    for (codec <- Seq("deflate", "none", "snappy")) {
      val t = GraftTable.create(spark, TestSpark.tmpDir(s"avro-codec-$codec"), schema,
        options = Map("file.format" -> "avro", "file.compression" -> codec))
      t.append(Seq((1, "a" * 1000), (2, "b")).toDF("k", "v"))
      assert(t.read().count() == 2, s"codec $codec round-trip failed")
    }
    val bad = GraftTable.create(spark, TestSpark.tmpDir("avro-codec-bad"), schema,
      options = Map("file.format" -> "avro", "file.compression" -> "zstdx"))
    intercept[IllegalArgumentException](bad.append(Seq((1, "a")).toDF("k", "v")))
  }

  test("S54g: unsupported avro types fail loudly at write time") {
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("m", MapType(IntegerType, StringType)))) // non-string keys
    val t = GraftTable.create(spark, TestSpark.tmpDir("avro-bad"), schema,
      options = Map("file.format" -> "avro"))
    val err = intercept[Exception] {
      t.append(Seq((1, Map(1 -> "a"))).toDF("k", "m"))
    }
    assert(err.getMessage != null)
  }
}
