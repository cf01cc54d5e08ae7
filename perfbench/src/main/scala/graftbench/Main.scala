package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: Spark local[n] with n = available
  * processors and one client thread in a closed loop.
  *
  * {{{
  * Main --workload ingest|curate --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE
  * }}}
  *
  * Inputs are generated from the seed under DIR; the run writes a JSON
  * result to FILE (and, when traced, the spans beside it). */
object Main {
  val SetupReps = 3

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val out = a("out")
    val cpus = Runtime.getRuntime.availableProcessors

    val (spark, sessionS) = time(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark)
    val data = s"$work/data"
    val w: Workload = workload match {
      case "ingest" => new Ingest(run, data, seed)
      case "curate" => new Curate(run, data, seed, s"$work/oracle")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val (_, generateS) = time(w.generate())
    val setupTimes = (0 until SetupReps).map(rep => time(w.setup(rep))._2)
    val (_, warmupS) = time(w.warmup())
    val calibBefore = calibrate(spark, cpus)
    val firstOpMs = System.currentTimeMillis()
    val wallStart = System.nanoTime()
    // closed loop of whole rounds until `seconds` of op time have passed;
    // a traced run then repeats it with tracing on, and the difference
    // between the two phases is the tracing overhead
    var more = true
    def loop(): Unit = {
      val start = run.opSeconds
      while (more && run.opSeconds - start < seconds) {
        more = w.nextRound()
        Heap.sample()
      }
    }
    loop()
    if (trace) {
      run.traceOps = true
      loop()
    }
    val loopWall = (System.nanoTime() - wallStart) / 1e9
    val calibAfter = calibrate(spark, cpus)
    w.finish()
    run.tracer.drain()
    run.tracer.detach()

    // end-to-end metrics come from the untraced ops only
    val m = mutable.ArrayBuffer[Metric]()
    val untraced = run.ops.filter(!_.traced)
    val okOps = untraced.filter(_.ok)
    val opSecs = untraced.map(_.seconds).sum
    def lat(name: String, xs: Seq[Double]): Unit =
      if (xs.nonEmpty) m += Metric(name, Stats.median(xs), "s", xs.size)
    // the first set-up also warms the JVM up; the ones after it are
    // graft's set-up work alone
    val warmSetups = setupTimes.drop(1)
    m += Metric("setup_s", Stats.median(warmSetups), "s", warmSetups.size)
    m += Metric("ops_per_s", okOps.size / opSecs, "1/s", untraced.size)
    lat("main_p50_s", okOps.filter(o => w.mainClasses(o.cls)).map(_.seconds).toSeq)
    lat("read_p50_s", okOps.filter(o => w.readClasses(o.cls)).map(_.seconds).toSeq)
    m += Metric("heap_peak_mb", Heap.peakMb, "MB", 1)
    if (w.rowsProcessed > 0 && !trace)
      m += Metric("rows_per_s", w.rowsProcessed / opSecs, "rows/s", untraced.size)
    // each op class: median, and the highest tail percentile that has at
    // least ten samples beyond it
    okOps.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, os) =>
      val xs = os.map(_.seconds).toSeq
      m += Metric(s"$cls.p50_s", Stats.median(xs), "s", xs.size)
      Stats.tail(xs).foreach { case (p, v) => m += Metric(s"$cls.p${p}_s", v, "s", xs.size) }
    }
    m ++= w.extraMetrics
    val failed = run.ops.count(!_.ok)

    val layers = if (trace) new Layers(run, w) else null
    val layerMetrics = if (trace) layers.compute() else Nil
    if (trace) TextFile.write(s"${new File(out).getParent}/spans.jsonl", layers.spansJsonl())

    def metricsJson(ms: Seq[Metric]) = ListMap(
      ms.map(x => x.name -> ListMap("value" -> x.value, "unit" -> x.unit, "n" -> x.n)): _*)
    val oracle = w match {
      case c: Curate => c.oracleChecks.map { case (q, shard, res) =>
        Map("query" -> q, "shard" -> shard, "result" -> res, "sql" -> SparkEntry.oracleSql(q))
      }.toSeq
      case _ => Nil
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "digest" -> w.digest(),
      "attempted" -> run.ops.size, "failed" -> failed,
      "checks" -> run.checksOutsideOps, "checks_failed" -> run.failedChecksOutsideOps,
      "errors" -> run.errors.take(20).toSeq,
      "metrics" -> metricsJson(m.toSeq),
      "layers" -> metricsJson(layerMetrics),
      "oracle" -> oracle,
      "diag" -> Map(
        "cpus" -> cpus,
        "session_s" -> sessionS,
        "generate_s" -> generateS,
        "setup_reps_s" -> setupTimes,
        "warmup_s" -> warmupS,
        "start_to_first_op_s" -> (firstOpMs - jvmStart) / 1e3,
        "loop_wall_s" -> loopWall,
        "op_s" -> opSecs,
        "calibration_before_s" -> calibBefore,
        "calibration_after_s" -> calibAfter,
        "process_cpu_s" -> processCpuSeconds))
    TextFile.write(out, Json.render(result))
    spark.stop()
  }

  /** A fixed CPU-bound Spark job, the median of three timings: when it
    * moves between runs of the same code, the host changed. */
  private def calibrate(spark: SparkSession, cpus: Int): Double = Stats.median(Seq.fill(3) {
    time(spark.range(0L, 2000000L, 1L, cpus)
      .selectExpr("sum(hash(concat('k', cast(id as string))))").collect())._2
  })

  private def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
}
