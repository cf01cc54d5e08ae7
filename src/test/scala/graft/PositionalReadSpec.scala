package graft

import graft.sources.{GraftScan, GraftTable, PositionalReaderFactory}
import graft.sources.ScanTestAccess.plainRows
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential checks of the V2 scan's positional reads — deletion
  * vectors, claimed index filters, row lineage and the per-file metadata
  * columns — in combinations the feature specs do not cover. Every case
  * compares against a reference that does not take the positional path:
  * rows the case generated, plain parquet read with `_metadata.row_index`
  * ([[graft.sources.ScanTestAccess.plainRows]]), or the same query with
  * claims off. Also pins that every library read of a table plans the
  * V2 scan alone, and the masked-row metrics the positional reader
  * reports. */
class PositionalReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plan walks that descend into adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private def scanOf(df: DataFrame): GraftScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b.scan.asInstanceOf[GraftScan]
    }.get

  private def claimEngaged(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** `df` plans exactly one leaf — a BatchScanExec over a GraftScan —
    * and no join. */
  private def assertOneGraftScan(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val leaves = Plans.collect(plan) {
      case p: SparkPlan if p.children.isEmpty &&
        !p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec] => p
    }
    assert(leaves.size == 1 && (leaves.head match {
      case b: BatchScanExec => b.scan.isInstanceOf[GraftScan]
      case _ => false
    }), s"not one GraftScan leaf:\n$plan")
    assert(Plans.collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"join planned:\n$plan")
  }

  /** The value of scan metric `name` after `df` ran. */
  private def scanMetric(df: DataFrame, name: String): Long =
    Plans.collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.metrics(name).value }
      .sum

  /** (id → absolute file path) of every parquet data file under the
    * table, read as plain parquet. */
  private def filePathById(root: String): Map[Long, String] =
    spark.read.option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
      .parquet(s"$root/data")
      .select(col("id"), col("_metadata.file_path")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("_file on a dv table matches the plain-parquet rows") {
    val path = TestSpark.tmpDir("posdvfile")
    val df = (0 until 300).map(i => (i.toLong, s"r$i", i % 7)).toDF("id", "name", "grp")
    val t = GraftTable.create(spark, path, df.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    for (c <- 0 until 3) t.append(df.filter($"id" % 3 === c).coalesce(1))
    t.dvDelete($"grp" === 2 && $"id" % 3 =!= 1) // two of the three files
    val pred = $"id" >= 40L
    val got = spark.read.format("graft").load(path).filter(pred)
      .select($"id", $"name", $"grp", $"_file")
    assert(sorted(got.drop("_file")) == sorted(plainRows(t).filter(pred)))
    val files = filePathById(path)
    got.collect().foreach { r =>
      assert(files(r.getLong(0)).endsWith("/" + r.getString(3)),
        s"row ${r.getLong(0)}: _file ${r.getString(3)} vs ${files(r.getLong(0))}")
    }
    assert(got.count() == (40 until 300).count(i => !(i % 7 == 2 && i % 3 != 1)))
  }

  test("_file with a claimed bitmap filter and a claimed BSI range matches claims off") {
    val path = TestSpark.tmpDir("posclaimfile")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType),
        StructField("qty", LongType))),
      options = Map("file-index.bitmap.columns" -> "lang", "file-index.bsi.columns" -> "qty"))
    val langs = Seq("en", "de", "fr", "ja")
    for (c <- 0 until 3)
      t.append((0 until 200).map(i => (c * 1000L + i, langs((i + c) % 4), (i * 37L) % 101))
        .toDF("id", "lang", "qty").coalesce(1))
    for ((option, pred) <- Seq(
      "bitmap.claim-filters" -> $"lang".isin("de", "ja"),
      "bsi.claim-filters" -> $"qty".between(20L, 60L))) {
      def q(claims: Boolean) = spark.read.format("graft").option(option, claims.toString)
        .load(path).filter(pred).select($"id", $"lang", $"qty", $"_file")
      val claimed = q(claims = true)
      assert(claimEngaged(claimed), s"$option did not claim:\n${claimed.queryExecution}")
      val plain = q(claims = false)
      assert(!claimEngaged(plain))
      assert(sorted(claimed) == sorted(plain), option)
      assert(claimed.count() > 0 && claimed.select("_file").distinct().count() == 3)
      assert(sorted(claimed.drop("_file")) == sorted(plainRows(t).filter(pred)), option)
    }
  }

  test("a claimed BSI range on a dv table matches claims off and the plain-parquet rows") {
    val path = TestSpark.tmpDir("posbsidv")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("qty", LongType))),
      options = Map("file-index.bsi.columns" -> "qty", "deletion-vectors.enabled" -> "true"))
    for (c <- 0 until 3)
      t.append((0 until 200).map(i => (c * 1000L + i, (i * 37L + c) % 101)).toDF("id", "qty")
        .coalesce(1))
    t.dvDelete($"id" % 5 === 0 && $"id" < 2000L) // vectors on two of the three files
    assert(t.system("files").filter($"dv_path".isNotNull).count() == 2)
    val pred = $"qty".between(20L, 60L)
    def q(claims: Boolean) = spark.read.format("graft").option("bsi.claim-filters", claims.toString)
      .load(path).filter(pred).select($"id", $"qty")
    val claimed = q(claims = true)
    assert(claimEngaged(claimed), s"the range did not claim:\n${claimed.queryExecution}")
    assert(!claimEngaged(q(claims = false)))
    val want = for {
      c <- 0 until 3; i <- 0 until 200
      id = c * 1000L + i; qty = (i * 37L + c) % 101
      if qty >= 20 && qty <= 60 && !(id % 5 == 0 && id < 2000)
    } yield Row(id, qty)
    assert(sorted(claimed) == want.sortBy(_.toString))
    assert(sorted(claimed) == sorted(q(claims = false)))
    assert(sorted(claimed) == sorted(plainRows(t).filter(pred)))
  }

  test("lineage columns on a row-tracking dv table with a claimed filter match plain parquet") {
    val path = TestSpark.tmpDir("poslineage")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("row-tracking.enabled" -> "true", "deletion-vectors.enabled" -> "true",
        "file-index.bitmap.columns" -> "lang"))
    val langs = Seq("en", "de", "fr")
    for (c <- 0 until 2)
      t.append((0 until 150).map(i => (c * 1000L + i, langs(i % 3))).toDF("id", "lang")
        .coalesce(1))
    def check(): Unit = {
      val got = spark.read.format("graft").option("bitmap.claim-filters", "true").load(path)
        .filter($"lang" === "de")
        .select($"id", $"lang", $"_row_id", $"_sequence_number")
      // a deletion vector composes with the claim, file by file
      assert(claimEngaged(got), got.queryExecution.executedPlan.toString)
      val ref = plainRows(t, lineage = true).filter($"lang" === "de")
        .select($"id", $"lang", $"_row_id", $"_sequence_number")
      assert(sorted(got) == sorted(ref))
      assert(got.count() > 0)
    }
    check()
    t.dvDelete($"id" % 4 === 0)
    check()
  }

  test("a dv scan with a pushed filter reads a partition holding dv and plain files") {
    val path = TestSpark.tmpDir("posdvmixed")
    val df = (0 until 4000).map(i => (i.toLong, s"r$i")).toDF("id", "name")
    val t = GraftTable.create(spark, path, df.schema,
      options = Map("deletion-vectors.enabled" -> "true"))
    // files of contiguous ids in many row groups: the pushed filter skips
    // row groups of every file, which the dv file must not do
    spark.conf.set("parquet.block.size", "4096")
    try for (c <- 0 until 4)
      t.append(df.filter($"id" >= c * 1000L && $"id" < (c + 1) * 1000L).coalesce(1))
    finally spark.conf.unset("parquet.block.size")
    t.dvDelete($"id".between(1000L, 1999L) && $"id" % 10 === 3) // one file only
    val dvFiles = t.system("files").filter($"dv_path".isNotNull)
      .select("file_path").as[String].collect().toSet
    assert(dvFiles.size == 1)
    // one input partition for the whole table (split planning packs by
    // bytes per core), so the dv file shares it with three plain ones
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try checkMixed(path, dvFiles)
    finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("lineage reads and a delta UPDATE keep nulls of nullable data and partition columns") {
    spark.conf.set("spark.sql.catalog.gpos", "graft.sources.GraftSparkCatalog")
    val wh = TestSpark.tmpDir("gpos-wh")
    spark.conf.set("spark.sql.catalog.gpos.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpos.db")
    spark.sql("""CREATE TABLE gpos.db.nulls (k BIGINT, n INT, x DOUBLE, dt DATE, p INT)
                 |PARTITIONED BY (p)
                 |TBLPROPERTIES ('row-tracking.enabled'='true',
                 |  'deletion-vectors.enabled'='true')""".stripMargin)
    val t = GraftTable.load(spark, s"$wh/db.db/nulls")
    // nulls follow non-null values within a file, so a reader that takes
    // a null field's value from the column buffer returns a stale one
    def row(k: Long): Row = Row(k,
      if (k % 3 == 0) null else k.toInt,
      if (k % 4 == 1) null else k * 0.5,
      if (k % 5 == 2) null else java.sql.Date.valueOf(f"2024-01-${k % 28 + 1}%02d"),
      if (k % 2 == 0) null else (k % 4).toInt)
    val schema = spark.table("gpos.db.nulls").schema
    for (c <- 0 until 2)
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize((c * 30L until (c + 1) * 30L).map(row), 1), schema))
    val cols = Seq("k", "n", "x", "dt", "p", "_row_id", "_sequence_number")
    def check(expect: Seq[Row]): Unit = {
      val got = spark.sql(s"SELECT ${cols.mkString(", ")} FROM gpos.db.nulls")
      assert(sorted(got) == sorted(plainRows(t, lineage = true).select(cols.map(col): _*)))
      assert(sorted(got.select("k", "n", "x", "dt", "p")) == expect.sortBy(_.toString))
    }
    check((0L until 60L).map(row))
    // the delta path reads the updated rows with _row_id and writes them
    // back with every untouched column as read
    spark.sql("UPDATE gpos.db.nulls SET k = k + 1000 WHERE k % 2 = 0")
    check((0L until 60L).map { k =>
      val r = row(k)
      if (k % 2 == 0) Row((k + 1000) +: r.toSeq.tail: _*) else r
    })
  }

  test("library reads, incremental reads and lineage reads of dv tables plan the V2 scan alone") {
    val path = TestSpark.tmpDir("posplan")
    val df = (0 until 300).map(i => (i.toLong, s"r$i")).toDF("id", "name")
    val t = GraftTable.create(spark, path, df.schema,
      options = Map("row-tracking.enabled" -> "true", "deletion-vectors.enabled" -> "true"))
    for (c <- 0 until 3) t.append(df.filter($"id" % 3 === c).coalesce(1))
    t.dvDelete($"id" % 7 === 0)
    val live = (0L until 300L).filter(_ % 7 != 0)
    val read = t.read(dataFilters = Seq(sources.GreaterThanOrEqual("id", 40L)))
    assertOneGraftScan(read)
    assert(read.filter($"id" >= 40L).select("id").as[Long].collect().sorted.toSeq ==
      live.filter(_ >= 40L))
    val incr = t.readIncrement(0L, t.latestSnapshotId.get)
    assertOneGraftScan(incr)
    assert(incr.select("id").as[Long].collect().sorted.toSeq == live)
    val lineage = t.readWithLineage()
    assertOneGraftScan(lineage)
    assert(sorted(lineage) == sorted(plainRows(t, lineage = true)))
    assert(lineage.count() == live.size)
  }

  test("a pinned library read answers COUNT over its own file set") {
    val path = TestSpark.tmpDir("pospincount")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      options = Map("bucket" -> "2", "bucket-key" -> "id", "deletion-vectors.enabled" -> "true"))
    t.append((0L until 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.dvDelete($"id" % 10 === 0)
    val files = t.system("files").select("bucket", "record_count", "delete_row_count")
      .as[(Int, Long, Long)].collect()
    assert(files.map(_._1).distinct.length == 2)
    for (b <- 0 until 2) {
      val want = files.filter(_._1 == b).map(f => f._2 - f._3).sum
      assert(t.read(bucket = Some(b)).count() == want, s"bucket $b")
      assert(t.read(bucket = Some(b)).collect().length == want, s"bucket $b rows")
    }
  }

  test("the positional reader reports the rows deletion vectors and claims masked") {
    val path = TestSpark.tmpDir("posmetrics")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", LongType), StructField("lang", StringType))),
      options = Map("file-index.bitmap.columns" -> "lang", "deletion-vectors.enabled" -> "true"))
    val langs = Seq("en", "de", "fr", "ja")
    // the last row of every file is `ja`, so a `ja` claim decodes whole files
    for (c <- 0 until 2)
      t.append((0 until 200).map(i => (c * 1000L + i, langs(i % 4))).toDF("id", "lang")
        .coalesce(1))
    val claimed = spark.read.format("graft").option("bitmap.claim-filters", "true").load(path)
      .filter($"lang" === "ja").select("id")
    assert(claimEngaged(claimed))
    assert(claimed.collect().length == 100)
    assert(scanMetric(claimed, PositionalReaderFactory.ClaimRowsDropped) == 300)
    assert(scanMetric(claimed, PositionalReaderFactory.DvRowsSkipped) == 0)
    t.dvDelete($"id" % 10 === 3) // 20 rows of each file
    val masked = t.read().select("id")
    assert(masked.collect().length == 360)
    assert(scanMetric(masked, PositionalReaderFactory.DvRowsSkipped) == 40)
    assert(scanMetric(masked, PositionalReaderFactory.ClaimRowsDropped) == 0)
  }

  private def checkMixed(path: String, dvFiles: Set[String]): Unit = {
    val got = spark.read.format("graft").load(path).filter($"id" > 1500L && $"id" < 3500L)
    // the filter is pushed, not claimed
    val desc = scanOf(got).description()
    assert(desc.contains("GreaterThan(id,1500)") && !desc.contains("ClaimedFilters"), desc)
    val mixed = scanOf(got).toBatch.planInputPartitions().exists {
      case fp: FilePartition =>
        val dv = fp.files.count(f => dvFiles.exists(p => f.filePath.toString.endsWith("/" + p)))
        dv > 0 && dv < fp.files.length
      case _ => false
    }
    assert(mixed, "no input partition holds both a dv file and a plain file")
    val want = (1501 until 3500).filterNot(i => i / 1000 == 1 && i % 10 == 3).map(_.toLong)
    val ids = got.select("id").as[Long].collect().sorted.toSeq
    assert(ids == want,
      s"extra ${ids.diff(want).take(5)}, missing ${want.diff(ids).take(5)} of ${want.size}")
  }
}
