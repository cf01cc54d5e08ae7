package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Test access to what a graft read scans, and a reader of table rows
  * that does not go through the V2 scan. */
object ScanTestAccess {

  /** The data files `df` reads: Spark's own `inputFiles` (built-in file
    * relations only) plus the root-relative paths of the files every
    * graft V2 scan in the optimized plan planned. Planning only — no
    * job runs. */
  def inputFiles(df: DataFrame): Array[String] =
    (df.inputFiles ++ df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftScan] =>
        r.scan.asInstanceOf[GraftScan].scannedFiles.map(_.path)
    }.flatten).distinct

  /** A scan of `t`'s latest snapshot with no pushed filter, built the way
    * Spark builds one (builder, then `build`). */
  def latestScan(t: GraftTable): GraftScan =
    new GraftScanBuilder(t.spark, t,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build().asInstanceOf[GraftScan]

  /** Root-relative paths of the data files `scan`'s input partitions read. */
  def partitionFiles(scan: GraftScan): Seq[String] =
    scan.planInputPartitions().toSeq.flatMap { case fp: FilePartition =>
      fp.files.toSeq.map { pf =>
        val abs = pf.filePath.toPath.toString
        abs.substring(abs.lastIndexOf("/data/") + 1)
      }
    }.distinct

  /** The planning metrics of the graft scans of `df`'s executed plan, by
    * step ("considered" and each of `FilePlan.Steps`), summed over scans.
    * Spark sets them when the scan runs, so run an action first. */
  def planMetrics(df: DataFrame): Map[String, Long] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b }
    ("considered" +: FilePlan.Steps).map { s =>
      s -> scans.map(_.metrics(PlanMetric.name(s)).value).sum
    }.toMap
  }

  /** The live rows of `t` at `snapshotId` read as plain parquet: each
    * planned file with `_metadata.row_index`, minus the positions its
    * deletion vector lists. With `lineage`, `_row_id` and
    * `_sequence_number` follow: the stored `__row_id`/`__row_seq` where
    * a file carries them, else `firstRowId + row_index` and `rowSeq`.
    * Columns are the table's (by name, current schema), then the two
    * lineage ones. */
  def plainRows(t: GraftTable, snapshotId: Option[Long] = None,
      lineage: Boolean = false): DataFrame = {
    val spark = t.spark
    val root = t.root.stripSuffix("/")
    val conf = spark.sessionState.newHadoopConf()
    val stored =
      if (!lineage) Nil
      else Seq(StructField(GraftTable.RowIdCol, LongType), StructField(GraftTable.RowSeqCol, LongType))
    val out = t.schema.fieldNames.map(col).toSeq ++
      (if (lineage) Seq(col("_row_id"), col("_sequence_number")) else Nil)
    val frames = t.planFiles(snapshotId).map { f =>
      val masked: Seq[Long] =
        if (f.hasDv) DeletionVector.read(conf, t.root, f.dvPath).toSeq else Nil
      val rows = spark.read.option("basePath", s"$root/data")
        .schema(StructType(t.schema.fields ++ stored))
        .parquet(s"$root/${f.path}")
        .withColumn("__pos", col("_metadata.row_index"))
        .filter(!col("__pos").isin(masked: _*))
      val withLineage =
        if (!lineage) rows
        else rows
          .withColumn("_row_id", coalesce(col(GraftTable.RowIdCol), lit(f.firstRowId) + col("__pos")))
          .withColumn("_sequence_number", coalesce(col(GraftTable.RowSeqCol), lit(f.rowSeq)))
      withLineage.select(out: _*)
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      val schema = StructType(t.schema.fields ++
        (if (lineage) Seq(StructField("_row_id", LongType), StructField("_sequence_number", LongType))
         else Nil))
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
  }
}
