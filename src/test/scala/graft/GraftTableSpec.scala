package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.inputFiles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S4, S5, S8, S9, S10, S12. */
class GraftTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pt", StringType),
    StructField("a", IntegerType),
    StructField("b", LongType)))

  test("S5: append creates snapshots; read sees all rows") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("append"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 10L), ("2", 2, 20L)).toDF("pt", "a", "b"))
    t.append(Seq(("1", 3, 30L)).toDF("pt", "a", "b"))
    assert(t.latestSnapshotId.contains(2L))
    assert(t.snapshots.map(_.commitKind) == Seq("APPEND", "APPEND"))
    val rows = t.read().orderBy("a").collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("1", 1, 10L), ("2", 2, 20L), ("1", 3, 30L)))
  }

  test("S4: manifest partition pruning keeps only matching files, driver-side") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("prune"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L), ("1", 2, 2L), ("2", 3, 3L), ("3", 4, 4L)).toDF("pt", "a", "b"))
    val all = t.read()
    assert(all.count() == 4)
    val pruned = t.read(partitionFilter = Some(col("pt") === "2"))
    assert(inputFiles(pruned).length < inputFiles(all).length)
    assert(pruned.collect().map(_.getInt(1)).toSeq == Seq(3))
    // pruning to nothing yields an empty, correctly-typed frame
    val none = t.read(partitionFilter = Some(col("pt") === "99"))
    assert(none.count() == 0 && none.schema.fieldNames.toSeq == Seq("pt", "a", "b"))
  }

  test("S4b: partition values keep their declared type through the path round-trip") {
    val s2 = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, TestSpark.tmpDir("ptype"), s2, partitionKeys = Seq("k"))
    t.append(Seq((1, "x"), (2, "y")).toDF("k", "v"))
    val pruned = t.read(partitionFilter = Some(col("k") === 2))
    assert(pruned.collect().map(_.getString(1)).toSeq == Seq("y"))
    assert(t.read().schema("k").dataType == IntegerType)
  }

  test("S8: system tables snapshots/files/options/partitions/schemas") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("sys"), schema,
      partitionKeys = Seq("pt"), options = Map("write.batch" -> "x"))
    t.append(Seq(("1", 1, 1L), ("2", 2, 2L)).toDF("pt", "a", "b"))
    val snaps = t.system("snapshots")
    assert(snaps.columns.toSeq.take(5) ==
      Seq("snapshot_id", "schema_id", "commit_user", "commit_identifier", "commit_kind"))
    assert(snaps.select("snapshot_id", "commit_kind").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "APPEND")))
    assert(t.system("files").count() == 2) // one file per partition
    // $files carries the manifest's per-file record counts (Paimon $files)
    val fsum = t.system("files").agg(sum("record_count")).first().getLong(0)
    assert(fsum == 2L)
    assert(t.system("partitions").count() == 2)
    assert(t.system("options").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("write.batch", "x")))
    assert(t.system("schemas").count() == 1)
  }

  test("S9: schema evolution — added column reads as NULL from old files") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("evol"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L)).toDF("pt", "a", "b"))
    t.addColumn("c", DoubleType)
    t.append(Seq(("1", 2, 2L, 2.5)).toDF("pt", "a", "b", "c"))
    val rows = t.read().orderBy("a").collect()
    assert(rows(0).isNullAt(3) && rows(1).getDouble(3) == 2.5)
    assert(t.system("schemas").count() == 2)
  }

  test("S10: type lattice round-trip (ref PrestoTypeUtils.java)") {
    val wide = StructType(Seq(
      StructField("i8", ByteType), StructField("i16", ShortType),
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f32", FloatType), StructField("f64", DoubleType),
      StructField("dec", DecimalType(20, 3)), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("map", MapType(StringType, StringType)),
      StructField("row", StructType(Seq(StructField("x", IntegerType))))))
    val t = GraftTable.create(spark, TestSpark.tmpDir("types"), wide)
    val df = spark.sql(
      """SELECT CAST(1 AS TINYINT) i8, CAST(2 AS SMALLINT) i16, 3 i32, CAST(4 AS BIGINT) i64,
        |CAST(1.5 AS FLOAT) f32, CAST(2.5 AS DOUBLE) f64, CAST('12345.678' AS DECIMAL(20,3)) dec,
        |'str' s, CAST('bin' AS BINARY) bin, true b, DATE'2024-01-02' dt,
        |TIMESTAMP'2023-01-01 01:01:01.123' ts, array(1,2,3) arr, map('k','v') map,
        |named_struct('x', 7) row""".stripMargin)
    t.append(df)
    val r = t.read().collect()(0)
    assert(r.getByte(0) == 1 && r.getShort(1) == 2 && r.getInt(2) == 3 && r.getLong(3) == 4L)
    assert(r.getFloat(4) == 1.5f && r.getDouble(5) == 2.5)
    assert(r.getDecimal(6).toPlainString == "12345.678")
    assert(r.getString(7) == "str" && new String(r.getAs[Array[Byte]](8)) == "bin")
    assert(r.getBoolean(9) && r.getDate(10).toString == "2024-01-02")
    assert(r.getTimestamp(11).toString.startsWith("2023-01-01 01:01:01.123"))
    assert(r.getSeq[Int](12) == Seq(1, 2, 3))
    assert(r.getMap[String, String](13) == Map("k" -> "v"))
    assert(r.getStruct(14).getInt(0) == 7)
  }

  test("S10c: file.format=orc — wide round-trip, MOR, data skipping, V2 scan") {
    val wide = StructType(Seq(
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f64", DoubleType), StructField("dec", DecimalType(20, 3)),
      StructField("s", StringType), StructField("dt", DateType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("map", MapType(StringType, StringType))))
    val t = GraftTable.create(spark, TestSpark.tmpDir("orc"), wide,
      options = Map("file.format" -> "orc"))
    t.append(spark.sql(
      """SELECT 3 i32, CAST(4 AS BIGINT) i64, CAST(2.5 AS DOUBLE) f64,
        |CAST('12345.678' AS DECIMAL(20,3)) dec, 'str' s, DATE'2024-01-02' dt,
        |array(1,2,3) arr, map('k','v') map""".stripMargin))
    assert(inputFiles(t.read()).forall(_.endsWith(".orc")))
    val r = t.read().collect()(0)
    assert(r.getInt(0) == 3 && r.getLong(1) == 4L && r.getDouble(2) == 2.5)
    assert(r.getDecimal(3).toPlainString == "12345.678" && r.getString(4) == "str")
    assert(r.getDate(5).toString == "2024-01-02")
    assert(r.getSeq[Int](6) == Seq(1, 2, 3) && r.getMap[String, String](7) == Map("k" -> "v"))

    // ORC footer stats feed the same manifest skipping domain
    import org.apache.spark.sql.sources.EqualTo
    val s = GraftTable.create(spark, TestSpark.tmpDir("orcskip"),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      options = Map("file.format" -> "orc"))
    for (base <- Seq(0L, 100L, 200L))
      s.append((base until base + 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val skipped = s.read(dataFilters = Seq(EqualTo("id", 105L)))
    assert(inputFiles(skipped).length == 1)
    assert(skipped.filter(col("v") === "v105").count() == 1)

    // PK merge-on-read through the V2 scan works on ORC files too
    val pk = GraftTable.create(spark, TestSpark.tmpDir("orcpk"),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"),
      options = Map("file.format" -> "orc", "sequence.field" -> "seq", "bucket" -> "2"))
    pk.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    pk.upsert(Seq((1, "a2", 2L)).toDF("k", "v", "seq"))
    pk.delete(Seq((2, "b", 3L)).toDF("k", "v", "seq"))
    val got = spark.read.format("graft").load(pk.root)
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(got.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a2")))
  }

  test("S12: bucketed layout splits files by key hash; bucket pruning finds the key") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("bucket"),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      options = Map("bucket" -> "4", "bucket-key" -> "id"))
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val buckets = t.system("files").select("bucket").distinct().count()
    assert(buckets == 4)
    val b = t.bucketOf(Seq(42L))
    val hit = t.read(bucket = Some(b)).filter(col("id") === 42L)
    assert(hit.count() == 1)
    // the pruned read touches only that bucket's files
    assert(inputFiles(hit).length < inputFiles(t.read()).length)
  }

  test("S10b: char/varchar/time/timestamp_ntz lattice round-trip (ref PrestoTypeUtils.java:39-100)") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("lattice"),
      StructType(Seq(
        StructField("id", IntegerType),
        StructField("code", CharType(4)),
        StructField("tag", VarcharType(5)),
        StructField("tod", TimeType(6)),
        StructField("naive", TimestampNTZType))))
    // the declared lattice keeps char/varchar; the runtime schema is string
    assert(t.lattice("code").dataType == CharType(4))
    assert(t.lattice("tag").dataType == VarcharType(5))
    assert(t.schema("code").dataType == StringType && t.schema("tag").dataType == StringType)
    val df = Seq(
      (1, "ab", "abcdefgh", java.time.LocalTime.of(1, 2, 3),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)),
      (2, "wxyz!", "ok", java.time.LocalTime.of(23, 59, 59),
        java.time.LocalDateTime.of(2024, 6, 7, 8, 9, 10))
    ).toDF("id", "code", "tag", "tod", "naive")
    t.append(df)
    val rows = t.read().orderBy("id").collect()
    assert(rows(0).getString(1) == "ab  ") // char(4) pads
    assert(rows(1).getString(1) == "wxyz") // char(4) truncates
    assert(rows(0).getString(2) == "abcde") // varchar(5) truncates
    assert(rows(1).getString(2) == "ok") // varchar under bound unpadded
    assert(rows(0).getAs[java.time.LocalTime]("tod") == java.time.LocalTime.of(1, 2, 3))
    assert(rows(1).getAs[java.time.LocalDateTime]("naive")
      == java.time.LocalDateTime.of(2024, 6, 7, 8, 9, 10))
    // reload from disk: the lattice survives the schema-json round-trip
    val t2 = GraftTable.load(spark, t.root)
    assert(t2.lattice("code").dataType == CharType(4)
      && t2.lattice("tod").dataType == TimeType(6)
      && t2.lattice("naive").dataType == TimestampNTZType)
    // schema evolution preserves the lattice
    t2.addColumn("extra", LongType)
    assert(GraftTable.load(spark, t.root).lattice("code").dataType == CharType(4))
  }

  test("S14: min/max file stats skip files for range/equality predicates") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
    val t = GraftTable.create(spark, TestSpark.tmpDir("skip"),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    // 4 commits with disjoint id ranges → 4 files with disjoint [min,max]
    (0 until 4).foreach { b =>
      t.append(((b * 100L) until (b * 100L + 100L)).map(i => (i, s"v$i")).toDF("id", "v")
        .coalesce(1))
    }
    val all = t.read()
    assert(inputFiles(all).length == 4)
    val skipped = t.read(dataFilters = Seq(EqualTo("id", 250L)))
    assert(inputFiles(skipped).length == 1)
    assert(skipped.filter(col("id") === 250L).count() == 1)
    // files [100,199], [200,299], [300,399] overlap (150, 320) ⇒ 3 of 4 kept
    val range = t.read(dataFilters = Seq(GreaterThan("id", 150L), LessThan("id", 320L)))
    assert(inputFiles(range).length == 3)
    assert(range.filter(col("id") > 150L && col("id") < 320L).count() == 169)
    // predicates that match nothing read nothing
    assert(inputFiles(t.read(dataFilters = Seq(GreaterThan("id", 5000L)))).isEmpty)
    // string stats prune on LEXICOGRAPHIC ranges: "v250" falls inside
    // ["v0","v99"] as well as ["v200","v299"] ⇒ 2 of 4 files kept
    val sv = t.read(dataFilters = Seq(EqualTo("v", "v250")))
    assert(inputFiles(sv).length == 2)
    assert(sv.filter(col("v") === "v250").count() == 1)
  }

  test("S39: null-count stats skip files for IS NULL / IS NOT NULL / value predicates on all-null columns") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, IsNotNull, IsNull, Or}
    val t = GraftTable.create(spark, TestSpark.tmpDir("nullskip"),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    // file 1: no nulls; file 2: some null v; file 3: ALL-null v
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, "c"), (4L, null)).toDF("id", "v").coalesce(1))
    t.append(Seq((5L, null), (6L, null)).toDF("id", "v")
      .select(col("id"), col("v").cast("string")).coalesce(1))
    assert(inputFiles(t.read()).length == 3)
    // IS NULL: the provably null-free file drops
    val isNull = t.read(dataFilters = Seq(IsNull("v")))
    assert(inputFiles(isNull).length == 2)
    assert(isNull.filter(col("v").isNull).count() == 3)
    // IS NOT NULL: only the all-null file drops
    val notNull = t.read(dataFilters = Seq(IsNotNull("v")))
    assert(inputFiles(notNull).length == 2)
    assert(notNull.filter(col("v").isNotNull).count() == 3)
    // a value predicate on the all-null column drops that file too
    // ("z" is above every stats range, so only the all-null skip differs
    // from plain min/max pruning on the other two)
    val eq = t.read(dataFilters = Seq(EqualTo("v", "a")))
    assert(inputFiles(eq).length == 1)
    assert(eq.filter(col("v") === "a").count() == 1)
    // composite with an IS NULL branch must NOT blanket-prune on the
    // all-null column (the null branch matches its rows)
    val or = t.read(dataFilters = Seq(Or(IsNull("v"), GreaterThan("id", 100L))))
    assert(inputFiles(or).length == 2)
    assert(or.filter(col("v").isNull || col("id") > 100L).count() == 3)
  }

  test("S14c: decimal min/max stats skip files (ref testDecimalPredicate)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    // DECIMAL(9,2) → parquet INT32; DECIMAL(20,4) → FIXED_LEN_BYTE_ARRAY:
    // both encodings must decode into the BigDecimal pruning domain
    val t = GraftTable.create(spark, TestSpark.tmpDir("decskip"),
      StructType(Seq(
        StructField("id", LongType),
        StructField("amt", DecimalType(9, 2)),
        StructField("big", DecimalType(20, 4)))))
    (0 until 4).foreach { b =>
      val rows = (0 until 50).map { i =>
        val v = BigDecimal(b * 1000 + i) / 100 // [b*10, b*10+0.49]
        (b * 50L + i, v.toString, (v * 1000).toString)
      }
      t.append(rows.toDF("id", "amt", "big")
        .select(col("id"), col("amt").cast(DecimalType(9, 2)), col("big").cast(DecimalType(20, 4)))
        .coalesce(1))
    }
    val eq = t.read(dataFilters = Seq(EqualTo("amt", new java.math.BigDecimal("20.25"))))
    assert(inputFiles(eq).length == 1)
    assert(eq.filter(col("amt") === 20.25).count() == 1)
    val gt = t.read(dataFilters = Seq(GreaterThan("big", new java.math.BigDecimal("15000.0000"))))
    assert(inputFiles(gt).length == 2) // files 2 [20000..] and 3 [30000..]
    assert(inputFiles(
      t.read(dataFilters = Seq(GreaterThan("amt", new java.math.BigDecimal("999.99"))))).isEmpty)
    // writes must conform to the table's types: a default-precision
    // Scala BigDecimal batch (38,18) cannot silently land in (9,2)
    intercept[IllegalArgumentException] {
      t.append(Seq((999L, BigDecimal("1.23"), BigDecimal("4.5"))).toDF("id", "amt", "big"))
    }
  }

  test("S14b: PK tables data-skip only on version-invariant key columns (no stale resurrection)") {
    import org.apache.spark.sql.sources.EqualTo
    val t = GraftTable.create(spark, TestSpark.tmpDir("pkskip"),
      StructType(Seq(StructField("k", IntegerType), StructField("x", LongType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq"))
    t.upsert(Seq((1, 1L, 1L)).toDF("k", "x", "seq")) // v1: x=1
    t.upsert(Seq((1, 2L, 2L)).toDF("k", "x", "seq")) // v2: x=2 (the live version)
    // a PK read is a V2 scan (no file relation behind `inputFiles`): count
    // the files its merge-on-read scan planned
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      val d = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description()
      }.getOrElse(fail(s"no V2 scan in:\n${df.queryExecution.executedPlan}"))
      "files=(\\d+)/".r.findFirstMatchIn(d).getOrElse(fail(s"no file count in: $d")).group(1).toInt
    }
    // a non-key filter must NOT skip files: skipping the x=2 file would
    // resurrect the stale x=1 version through the merge
    val r = t.read(dataFilters = Seq(EqualTo("x", 1L)))
    assert(scanned(r) == 2, "non-key filter must not skip PK-table files")
    assert(r.filter(col("x") === 1L).count() == 0) // post-merge x=2, so no match
    // sequence fields are NOT skip-safe either — they are exactly the
    // columns that change across versions: skipping on seq=1 would drop
    // the seq=2 file and resurrect (k=1, seq=1) through the merge
    val sq = t.read(dataFilters = Seq(EqualTo("seq", 1L)))
    assert(scanned(sq) == 2, "sequence-field filter must not skip PK-table files")
    assert(sq.filter(col("seq") === 1L).count() == 0) // live version has seq=2
    // key-column skipping is version-invariant and still prunes
    assert(scanned(t.read(dataFilters = Seq(EqualTo("k", 999)))) == 0)
  }

  test("S15: snapshot expiry drops old snapshots and their orphaned files only") {
    import org.apache.spark.sql.types.{LongType => LT, StringType => ST}
    val t = GraftTable.create(spark, TestSpark.tmpDir("expire"),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))), primaryKeys = Seq("k"))
    t.upsert(Seq((1, "a", 1L)).toDF("k", "v", "seq"))
    t.upsert(Seq((1, "a2", 2L)).toDF("k", "v", "seq"))
    t.compact() // snapshot 3 references only the merged file
    val expired = t.expireSnapshots(retainLast = 1)
    assert(expired == Seq(1L, 2L))
    assert(t.snapshots.map(_.id) == Seq(3L))
    // current read unaffected; expired version unreadable
    assert(t.read().collect().map(_.getString(1)).toSeq == Seq("a2"))
    intercept[Exception](t.read(snapshotId = Some(1L)).collect())
    // pre-compaction files physically deleted
    assert(t.system("files").count() == 1)
  }

  test("S16: commit conflict detection — an occupied snapshot id aborts the commit") {
    val root = TestSpark.tmpDir("conflict")
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("k", IntegerType))))
    import spark.implicits._
    t.append(Seq(1).toDF("k"))
    // another writer claims snapshot 2 between our read and our rename:
    // plant the file, then drive the id-targeted commit directly (a
    // stateless append would just see the plant as the new latest)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "snapshot/snap-2.json"), true)
    out.write("{}".getBytes); out.close()
    intercept[IllegalStateException](t.commitAt(2, "APPEND", Seq.empty))
    // a regular commit REFUSES to build on an unreadable latest snapshot
    // (it would silently lose the real history's manifest chain —
    // building an empty chain from garbage is data loss, not progress)
    intercept[IllegalArgumentException](t.append(Seq(2).toDF("k")))
    // the operator removes the corrupt file; writes flow again
    fs.delete(new org.apache.hadoop.fs.Path(root, "snapshot/snap-2.json"), false)
    t.append(Seq(2).toDF("k"))
    assert(t.latestSnapshotId.contains(2L))
    assert(t.read().collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("S4c: partition values with '+', '%' escapes, and NULL round-trip") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("escape"),
      StructType(Seq(StructField("pt", StringType), StructField("x", IntegerType))),
      partitionKeys = Seq("pt"))
    t.append(Seq(("a+b", 1), ("with space", 2), (null.asInstanceOf[String], 3)).toDF("pt", "x"))
    // '+' must stay a literal plus (URLDecoder would turn it into a space)
    val plus = t.read(partitionFilter = Some(col("pt") === "a+b"))
    assert(plus.collect().map(_.getInt(1)).toSeq == Seq(1))
    val sp = t.read(partitionFilter = Some(col("pt") === "with space"))
    assert(sp.collect().map(_.getInt(1)).toSeq == Seq(2))
    // null partitions survive pruned reads (predicate excludes them, no crash)
    assert(plus.count() == 1 && t.read().count() == 3)
    // overwrite of the null partition replaces it rather than duplicating
    t.overwritePartitions(Seq((null.asInstanceOf[String], 9)).toDF("pt", "x"))
    val rows = t.read().orderBy("x").collect().map(r => (Option(r.getString(0)), r.getInt(1)))
    assert(rows.toSeq == Seq((Some("a+b"), 1), (Some("with space"), 2), (None, 9)))
  }

  test("S15c: time-based expiry (snapshot.time-retained semantics)") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("expttl"),
      StructType(Seq(StructField("k", IntegerType))))
    t.append(Seq(1).toDF("k")); t.append(Seq(2).toDF("k")); t.append(Seq(3).toDF("k"))
    // a generous TTL expires nothing
    assert(t.expireOlderThan(ttlMs = 3600 * 1000L).isEmpty)
    assert(t.snapshots.map(_.id) == Seq(1L, 2L, 3L))
    // everything is older than a cutoff in the future — but the latest
    // snapshot is always retained
    val expired = t.expireOlderThan(ttlMs = 0, nowMs = System.currentTimeMillis() + 60000)
    assert(expired == Seq(1L, 2L))
    assert(t.snapshots.map(_.id) == Seq(3L))
    assert(t.read().count() == 3)
  }

  test("S15b: incremental read across expired snapshots fails with a clear error") {
    import spark.implicits._
    val t = GraftTable.create(spark, TestSpark.tmpDir("expinc"),
      StructType(Seq(StructField("k", IntegerType))))
    t.append(Seq(1).toDF("k")); t.append(Seq(2).toDF("k")); t.append(Seq(3).toDF("k"))
    t.expireSnapshots(retainLast = 1)
    val e = intercept[IllegalStateException](t.readIncrement(1L, 3L).collect())
    assert(e.getMessage.contains("expired"))
  }

  test("S5b: overwritePartitions replaces only the named partitions") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("ow"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L), ("2", 2, 2L)).toDF("pt", "a", "b"))
    t.overwritePartitions(Seq(("1", 9, 9L)).toDF("pt", "a", "b"))
    val rows = t.read().orderBy("a").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows.toSeq == Seq(("2", 2), ("1", 9)))
    assert(t.snapshots.last.commitKind == "OVERWRITE")
  }

  test("S5c: overwritePartitions scans its input exactly once") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("ow1scan"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L), ("2", 2, 2L)).toDF("pt", "a", "b"))
    val acc = spark.sparkContext.longAccumulator("input-rows-seen")
    val input = Seq(("1", 9, 9L), ("1", 10, 10L), ("2", 11, 11L)).toDF("pt", "a", "b")
      .filter { r: org.apache.spark.sql.Row => acc.add(1); true }
    t.overwritePartitions(input)
    // the affected-partition set comes from the staged FileMeta, not a
    // distinct() pre-pass — each input row is evaluated exactly once
    assert(acc.value == 3L, s"expected 1 scan of 3 rows, saw ${acc.value} row evaluations")
    val rows = t.read().orderBy("a").collect().map(_.getInt(1)).toSeq
    assert(rows == Seq(9, 10, 11))
  }

  test("S4c: planning a pruned read launches zero Spark jobs") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("nojob"), schema, partitionKeys = Seq("pt"))
    t.append(Seq(("1", 1, 1L), ("2", 2, 2L), ("3", 3, 3L)).toDF("pt", "a", "b"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // metadata-only planning: prune the manifest and build the frame
      val df = t.read(partitionFilter = Some(col("pt") === "2"))
      assert(inputFiles(df).length == 1)
      // fence: listener events are async but FIFO — once the sentinel
      // job's start event lands, any earlier job event would be counted
      // (an RDD count is exactly ONE job; a SQL count under AQE is not)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.get() == 1,
        s"expected only the sentinel job; pruning/planning launched ${jobs.get() - 1} extra job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
