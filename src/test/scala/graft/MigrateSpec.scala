package graft

import graft.sources.GraftTable
import graft.sources.ScanTestAccess.inputFiles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1 S45: in-place migration of raw parquet directories
  * (Paimon's migrate_table procedure): footer adoption (stats + row
  * counts), zero data rewrite (same bytes, new home), partition pruning
  * on the adopted hive layout, crash-resume, and the CALL SQL surface.
  */
class MigrateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(
    spark.sessionState.newHadoopConf())

  private def parquetsUnder(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")) Seq.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Seq.empty
    val p = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(p)) walk(fs.getFileStatus(p)) else Seq.empty
  }

  test("S45a: flat-directory migrate is lossless, adopts stats, rewrites nothing") {
    val src = TestSpark.tmpDir("mig-flat-src")
    (1 to 90).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(3, col("k")).write.parquet(src)
    val before = parquetsUnder(src).map(f => f.getPath.getName -> f.getLen).toMap
    assert(before.size == 3)

    val root = TestSpark.tmpDir("mig-flat")
    val t = GraftTable.migrate(spark, src, root)

    // lossless: every row, exact values
    assert(t.read().count() == 90)
    assert(t.read().agg(sum("k")).head.getLong(0) == 90L * 91 / 2)
    // moved, not rewritten: same byte lengths, and each adopted name is
    // the original basename behind a table-unique mig- prefix (raw Spark
    // writes reuse basenames across partition dirs; graft's dv masking
    // and index rebuild key on table-wide-unique basenames)
    val after = parquetsUnder(s"$root/data")
      .map(f => f.getPath.getName -> f.getLen)
    assert(after.map(_._2).sorted == before.values.toSeq.sorted,
      "adopted files must be the source bytes, renamed in")
    assert(after.forall { case (n, _) =>
      n.startsWith("mig-") && before.keySet.exists(o => n.endsWith(s"-$o"))
    }, s"adopted names must be mig-<id>-<seq>-<original>: ${after.map(_._1)}")
    assert(parquetsUnder(src).isEmpty, "source directory should be drained")
    // footer stats adopted: min/max data skipping prunes to one range file
    assert(inputFiles(t.read()).length == 3)
    assert(inputFiles(t.read(dataFilters =
      Seq(org.apache.spark.sql.sources.EqualTo("k", 5L)))).length == 1)
    // row counts adopted: $files reports them (manifest-exact COUNT inputs)
    val counts = t.system("files").select("record_count").collect().map(_.getLong(0))
    assert(counts.sum == 90 && counts.forall(_ > 0))
  }

  test("S45b: hive-partitioned migrate prunes partitions from the manifest") {
    val src = TestSpark.tmpDir("mig-part-src")
    (1 to 90).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "v", "m")
      .write.partitionBy("m").parquet(src)
    val t = GraftTable.migrate(spark, src, TestSpark.tmpDir("mig-part"))

    assert(t.partitionKeys == Seq("m"))
    assert(t.read().count() == 90)
    val total = inputFiles(t.read()).length
    val pruned = t.read(partitionFilter = Some(col("m") === 1))
    assert(inputFiles(pruned).length * 3 <= total + 2,
      s"partition filter should prune to ~1/3 of $total files")
    assert(pruned.count() == 30)
    assert(pruned.agg(sum("k")).head.getLong(0) ==
      (1 to 90).filter(_ % 3 == 1).map(_.toLong).sum)
    // partition column values reconstruct through the V2 scan too
    val v2 = spark.read.format("graft").load(t.root).filter(col("m") === 2)
    assert(v2.count() == 30)
    // raw partitionBy writes REUSE one basename across the partition
    // dirs a task touched — adoption must have made them unique
    // table-wide (dv masking and the index rebuild join on basenames)
    val names = parquetsUnder(s"${t.root}/data").map(_.getPath.getName)
    assert(names.distinct.size == names.size,
      s"adopted basenames must be table-wide unique: $names")
  }

  test("S45c: migrate resumes into a snapshot-less target; refuses a live table") {
    val src = TestSpark.tmpDir("mig-res-src")
    (1 to 20).map(i => (i, s"v$i")).toDF("k", "v").coalesce(2).write.parquet(src)

    // simulate a crash after the schema write + a partial move: create
    // the table shell, move ONE source file into data/ by hand
    val root = TestSpark.tmpDir("mig-res")
    val schema = spark.read.parquet(src).schema
    GraftTable.create(spark, root, schema)
    val one = parquetsUnder(src).head
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
    assert(fs.rename(one.getPath,
      new org.apache.hadoop.fs.Path(s"$root/data/${one.getPath.getName}")))

    // resume: moves the remaining file AND adopts the already-moved one
    val t = GraftTable.migrate(spark, src, root)
    assert(t.read().count() == 20)
    assert(t.latestSnapshotId.contains(1L))

    // a second migrate into the now-live table must refuse
    val err = intercept[IllegalArgumentException] {
      GraftTable.migrate(spark, src, root)
    }
    assert(err.getMessage.contains("already has snapshots"))
  }

  test("S45d: CALL sys.migrate_table adopts through the catalog") {
    val wh = TestSpark.tmpDir("mig-wh")
    spark.conf.set("spark.sql.catalog.migc", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.migc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS migc.db")
    val src = TestSpark.tmpDir("mig-call-src")
    (1 to 40).map(i => (i, i * 2)).toDF("a", "b").coalesce(2).write.parquet(src)

    val row = spark.sql(
      s"CALL migc.sys.migrate_table('$src', 'db.adopted')").collect().head
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L)
    assert(spark.sql("SELECT sum(b) FROM migc.db.adopted").head.getLong(0) == 40L * 41)
    // adopted table is a normal graft table: writes append on top
    spark.sql("INSERT INTO migc.db.adopted VALUES (999, 0)")
    assert(spark.sql("SELECT count(*) FROM migc.db.adopted").head.getLong(0) == 41)
  }
}
