package graftbench

import scala.collection.mutable

import graft.sources.GraftTable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC into a dynamic-bucket primary-key table of orders, partitioned by
  * order year. Each step commits a seeded upsert (or delete) batch through
  * one long-lived table handle, then reads its own write back through the
  * DataSource (a key lookup and a partition aggregate). After every
  * round of steps the table is compacted and old snapshots expire.
  * Results are checked against a last-writer-wins model of the batches. */
final class Ingest(run: Run, dir: String, seed: Long) extends Workload {
  import Ingest._
  private val spark = run.spark
  // graft writes parquet with the session's codec; zstd is Paimon's
  // default file.compression. With snappy, graft's streaming merge-on-read
  // reader fails now and then (FAILED_READ_FILE, "Corrupt file: Zero bytes
  // read during decompression") when several tasks read sorted runs at
  // once, which README.md records under what this benchmark cannot see.
  spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
  private val inputs = s"$dir/inputs"
  private val rng = new java.util.SplittableRandom(seed)

  // every round commits the same sequence of batch kinds; the seed
  // chooses the keys and values
  private def kind(step: Int): String = RoundKinds(step % RoundKinds.size)
  private def size(step: Int): Int = if (kind(step) == "D") DeleteRows else UpsertRows

  private var root = ""
  private var inputDigest = ""
  def digest(): String = inputDigest
  private var table: GraftTable = _
  private var step = 0
  private var lastAcked = 0L
  private var liveFiles = 0L
  private var lastBatch = Array.empty[Row]
  private val ackedSteps = mutable.ArrayBuffer[Int]()
  private var rowsCommitted = 0L
  private var inputBytes = 0L
  private var addedBytes = 0L
  private var spaceAmp = Double.NaN
  private var endStats = Map.empty[String, Double]
  // key -> current row, the last-writer-wins model of every acknowledged commit
  private val model = mutable.HashMap[Long, Row]()

  private def orderCols(key: Column, version: Column): Seq[Column] = {
    val date = Gen.date(seed, 4, key)
    Seq(key.cast("long").as("o_orderkey"),
      Gen.below(seed, 1, 15000L, key, version).as("o_custkey"),
      Gen.pick(seed, 2, Seq("O", "F", "P"), key, version).as("o_orderstatus"),
      round(Gen.u(seed, 3, key, version) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      date.as("o_orderdate"),
      Gen.pick(seed, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        key, version).as("o_orderpriority"),
      year(date).as("o_year"))
  }

  def generate(): Unit = {
    val base = spark.range(BaseRows).select(orderCols(col("id"), lit(-1)): _*)
    base.write.parquet(s"$inputs/orders")
    val stepCol = (col("id") / MaxBatch).cast("int")
    val idx = col("id") % MaxBatch
    val kinds = (0 until MaxSteps).map(kind)
    val rows = element_at(typedLit((0 until MaxSteps).map(size)), stepCol + 1)
    val isUpsert = element_at(typedLit(kinds), stepCol + 1) === "U"
    // keys that exist (or existed) before a step, skewed toward recent ones
    val known = lit(BaseRows) + stepCol * NewPerUpsert
    val skewed = floor(known * pow(Gen.u(seed, 12, stepCol, idx), 1.0 / 3)).cast("long")
    val key = when(isUpsert && idx < NewPerUpsert, known + idx).otherwise(skewed)
    spark.range(MaxSteps.toLong * MaxBatch)
      .filter(idx < rows)
      .select((orderCols(key, stepCol) :+ stepCol.as("step")): _*)
      .dropDuplicates()
      .repartition(col("step"))
      .write.partitionBy("step").parquet(s"$inputs/batches")
    inputDigest = Gen.combine(Seq(Gen.digest(spark.read.parquet(s"$inputs/orders")),
      Gen.digest(spark.read.parquet(s"$inputs/batches"))))
  }

  private lazy val schema = spark.read.parquet(s"$inputs/orders").schema
  private def baseDf: DataFrame = spark.read.schema(schema).parquet(s"$inputs/orders")
  private def batchDir(s: Int) = s"$inputs/batches/step=$s"
  private def batchDf(s: Int): DataFrame = spark.read.schema(schema).parquet(batchDir(s))

  def setup(rep: Int): Unit = {
    root = s"$dir/table-$rep"
    table = GraftTable.create(spark, root, schema, partitionKeys = Seq("o_year"),
      primaryKeys = Seq("o_orderkey", "o_year"), options = Map("bucket" -> "-1"))
    lastAcked = table.append(baseDf)
  }

  def warmup(): Unit = {
    baseDf.collect().foreach(r => model(r.getLong(0)) = r)
    lookup(Seq(1L, 2L, 3L)).collect()
    partitionAgg(1995).collect()
  }

  private def lookup(keys: Seq[Long]): DataFrame =
    spark.read.format("graft").load(root).filter(col("o_orderkey").isin(keys: _*))

  private def partitionAgg(y: Int): DataFrame =
    spark.read.format("graft").load(root).filter(col("o_year") === y)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  /** One graft query of a read: planning (DataFrame build to physical
    * plan), then execution. */
  private def query(build: => DataFrame): Array[Row] = {
    val df = run.span("sources.plan") {
      val d = build
      d.queryExecution.executedPlan
      d
    }
    if (run.tracer.tracing) run.annotate("input_partitions" -> Tracer.inputPartitions(df),
      "live_files" -> liveFiles.toDouble)
    val rows = run.span("sources.scan") {
      run.tracer.watch(df.queryExecution)
      df.collect()
    }
    run.annotate("live_rows" -> model.size.toDouble, "rows_out" -> rows.length.toDouble)
    rows
  }

  def nextRound(): Boolean = {
    if (step + RoundKinds.size > MaxSteps) return false
    RoundKinds.indices.foreach { _ =>
      commitStep(step)
      readYourWrite(step)
      step += 1
    }
    maintain()
    true
  }

  private def commitStep(s: Int): Unit = {
    val batchRows = batchDf(s).collect()
    val before = DirStats.of(root)
    val isDelete = kind(s) == "D"
    val acked = run.op(if (isDelete) "delete" else "upsert") {
      val df = batchDf(s)
      run.span("sources.commit")(if (isDelete) table.delete(df) else table.upsert(df))
    }(id => if (id > lastAcked) None else Some(s"commit $s returned snapshot $id <= $lastAcked"))
    val after = DirStats.of(root)
    run.annotate("files_added" -> (after.files.size - before.files.size).toDouble,
      "bytes_added" -> after.addedSince(before).toDouble,
      "meta_bytes_added" -> DirStats(after.metaFiles).addedSince(before).toDouble,
      "rows" -> batchRows.length.toDouble)
    if (run.traceOps) liveFiles = table.system("files").count()
    acked.foreach { id =>
      lastAcked = id
      ackedSteps += s
      rowsCommitted += batchRows.length
      inputBytes += DirStats.parquetBytes(batchDir(s))
      addedBytes += after.addedSince(before)
      batchRows.foreach { r =>
        if (isDelete) model.remove(r.getLong(0)) else model(r.getLong(0)) = r
      }
    }
    lastBatch = batchRows
  }

  /** Reads the step's write back [[ReadsPerStep]] times. Each read looks
    * up the batch's next twelve keys plus four others, then aggregates the
    * partition of the first of those twelve rows. */
  private def readYourWrite(s: Int): Unit = (0 until ReadsPerStep).foreach { r =>
    val rows = lastBatch.slice(r * 12, r * 12 + 12)
    val keys = (rows.map(_.getLong(0)) ++
      Seq.fill(4)(rng.nextLong(BaseRows + s.toLong * NewPerUpsert))).toSeq.distinct
    val y = rows.headOption.map(_.getInt(6)).getOrElse(1995)
    run.op("read")((query(lookup(keys)), query(partitionAgg(y)))) { case (found, agg) =>
      val want = keys.flatMap(model.get)
      val wantAgg = model.values.filter(_.getInt(6) == y).groupBy(_.getString(2)).map { case (st, rs) =>
        Seq[Any](st, rs.size.toLong, rs.iterator.map(r => math.round(r.getDouble(3) * 100)).sum)
      }.toSeq
      if (Workload.rowSet(found.toSeq) != Workload.rowSet(want))
        Some(s"lookup after step $s: got ${found.length} rows, want ${want.size}")
      else if (Workload.rowSet(agg.toSeq) != wantAgg.groupBy(identity).map(x => x._1 -> x._2.size))
        Some(s"partition aggregate of $y after step $s differs from the model")
      else None
    }
  }

  private def maintain(): Unit = {
    val before = DirStats.of(root)
    run.op("maint") {
      run.span("sources.maintenance")(table.compact())
      val mid = DirStats.of(root)
      run.annotate("bytes_rewritten" -> mid.addedSince(before).toDouble)
      val expired = run.span("sources.maintenance")(table.expireSnapshots(RetainSnapshots))
      run.annotate("files_removed" -> DirStats.of(root).removedSince(mid).toDouble)
      expired
    }(_ => if (table.snapshots.size <= RetainSnapshots) None
           else Some(s"${table.snapshots.size} snapshots left after expiry"))
    if (run.traceOps) liveFiles = table.system("files").count()
  }

  def finish(): Unit = {
    val fresh = GraftTable.load(spark, root)
    // one read of the table and one evaluation of the model serve every
    // check below
    val actual = fresh.read().persist()
    val want = lwwModel.persist()
    run.verify("final table state vs last-writer-wins model")(diff(actual, want))
    run.verify("last acknowledged commit") {
      val latest = fresh.latestSnapshotId.getOrElse(0L)
      if (latest >= lastAcked) None else Some(s"latest snapshot $latest < acknowledged $lastAcked")
    }
    run.verify("in-memory model size")(
      if (actual.count() == model.size) None else Some("row count differs from the model"))
    actual.coalesce(1).write.parquet(s"$dir/live-plain")
    actual.unpersist()
    want.unpersist()
    val st = DirStats.of(root)
    spaceAmp = st.bytes.toDouble / DirStats.parquetBytes(s"$dir/live-plain")
    endStats = Map(
      "storage.data_files_live" -> fresh.system("files").count().toDouble,
      "storage.data_bytes" -> st.dataFiles.values.sum.toDouble,
      "storage.meta_files" -> st.metaFiles.size.toDouble,
      "storage.meta_bytes" -> st.metaFiles.values.sum.toDouble,
      "storage.snapshots" -> st.snapshots.toDouble,
      "storage.write_amp" -> addedBytes.toDouble / inputBytes,
      "storage.space_amp" -> spaceAmp)
  }

  /** Last writer wins over the base rows and the acknowledged batches,
    * in plain Spark over the generated files. */
  private def lwwModel: DataFrame = {
    val events = (baseDf.withColumn("__ord", lit(-1)).withColumn("__del", lit(false)) +:
      ackedSteps.toSeq.map(s => batchDf(s).withColumn("__ord", lit(s))
        .withColumn("__del", lit(kind(s) == "D")))).reduce(_ unionByName _)
    events
      .withColumn("__rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("__ord").desc)))
      .filter(col("__rn") === 1 && !col("__del"))
      .drop("__ord", "__del", "__rn")
  }

  private def diff(a: DataFrame, b: DataFrame): Option[String] = {
    val n = Workload.symmetricDiff(a.select(schema.fieldNames.map(col).toSeq: _*),
      b.select(schema.fieldNames.map(col).toSeq: _*))
    if (n == 0) None else Some(s"$n rows differ")
  }

  def mainClasses: Set[String] = Set("upsert", "delete")
  def readClasses: Set[String] = Set("read")
  def rowsProcessed: Long = rowsCommitted

  def extraMetrics: Seq[Metric] = {
    val writes = run.ops.count(o => (o.cls == "upsert" || o.cls == "delete") && o.ok)
    Seq(Metric("write_amp", addedBytes.toDouble / inputBytes, "ratio", writes),
      Metric("space_amp", spaceAmp, "ratio", 1))
  }

  def layerValues: Map[String, Double] = endStats
}

object Ingest {
  val BaseRows = 150000L
  /** Batch kinds of one round: upserts, one delete among them. */
  val RoundKinds = Seq("U", "U", "D", "U")
  val MaxSteps = 4 * RoundKinds.size
  val UpsertRows = 3000
  val DeleteRows = 1000
  val MaxBatch = UpsertRows
  /** An upsert's first NewPerUpsert rows are new keys:
    * BaseRows + step * NewPerUpsert + i. */
  val NewPerUpsert = UpsertRows / 5
  val RetainSnapshots = 3
  /** Reads after each commit. A read is short, so one run needs several
    * a step for a steady median. */
  val ReadsPerStep = 3
}
