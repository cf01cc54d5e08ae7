package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** `Bridge.stage` / `release`: the staging primitive behind every
  * multi-branch intermediate of the dedup operators. */
class StageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A candidate-pair frame with a shuffle of its own, like the ones
    * `Dedup.stageCand` receives. */
  private def cand: DataFrame =
    spark.range(0, 4000)
      .select((col("id") % 400).as("d1"), (col("id") % 997 + 400).as("d2"))
      .distinct()

  /** Both sides of the join read the same aggregate over `f` (every
    * column of it on both sides, so column pruning keeps them equal). */
  private def selfJoin(f: DataFrame): DataFrame = {
    val agg = f.groupBy("d1").agg(count(lit(1)).as("n"), max("d2").as("m"))
    agg.as("a").join(agg.as("b"), col("a.d1") === col("b.d1"))
      .select(col("a.d1"), col("a.n") + col("b.n"), col("a.m") - col("b.m"))
  }

  /** Jobs `body` runs, fenced by one single-partition RDD job (the
    * listener bus is asynchronous; the fence's start event arrives after
    * every earlier job's). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "stage-fence"))
          fenced.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("stage-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(10, java.util.concurrent.TimeUnit.SECONDS), "fence job never seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with shuffle joins only, so the job count does not
    * depend on broadcast size estimates. */
  private def withoutBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a self-join over a staged frame reuses its exchange and runs one job fewer than over a persisted one") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    withoutBroadcast {
      val persisted = cand.persist()
      persisted.count()
      val overPersist = selfJoin(persisted)
      var persistRows = Array.empty[org.apache.spark.sql.Row]
      val persistJobs = jobsOf { persistRows = overPersist.collect() }
      persisted.unpersist(blocking = true)

      val staged = graft.operators.Dedup.stageCand(cand)
      try {
        val overStage = selfJoin(staged)
        var stageRows = Array.empty[org.apache.spark.sql.Row]
        val stageJobs = jobsOf { stageRows = overStage.collect() }
        assert(stageRows.map(_.toString).sorted.toSeq == persistRows.map(_.toString).sorted.toSeq)
        assert(stageRows.length == 400)
        val plan = overStage.queryExecution.executedPlan.toString
        assert(plan.contains("ReusedExchange"), s"no exchange reuse over the staged frame:\n$plan")
        assert(!overPersist.queryExecution.executedPlan.toString.contains("ReusedExchange"),
          "a persisted frame's exchange is reused now — the staging rationale no longer holds")
        assert(stageJobs == persistJobs - 1, s"staged $stageJobs jobs vs persisted $persistJobs")
        info(s"jobs: persisted $persistJobs, staged $stageJobs")
      } finally Bridge.release(staged)
    }
  }

  test("release drops the staged frame's blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val staged = Bridge.stage(cand)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "stage persisted nothing")
    Bridge.release(staged)
    assert((sc.getPersistentRDDs.keySet intersect added).isEmpty,
      s"still persisted after release: ${sc.getPersistentRDDs.keySet intersect added}")
  }

  test("a frame planned over a staged frame returns the same rows after release") {
    val staged = Bridge.stage(cand)
    val q = staged.groupBy("d1").agg(sum("d2").as("s")).orderBy("d1")
    val first = q.collect().toSeq
    assert(first.length == 400)
    Bridge.release(staged)
    assert(q.collect().toSeq == first) // recomputes from lineage
    // a frame derived after release reads the same rows too
    assert(staged.groupBy("d1").agg(sum("d2").as("s")).orderBy("d1").collect().toSeq == first)
  }

  test("a session keeps one directory's staged frames") {
    // two small corpora, each a directory holding documents.parquet
    def corpus(name: String, n: Int): String = {
      val d = TestSpark.tmpDir(name)
      import spark.implicits._
      (0 until n).map { i =>
        val text = (0 until 12).map(j => s"w${(i * 7 + j * j) % 31}").mkString(" ")
        (i.toLong, text, "en", "web", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    val (small, large) = (corpus("stage-a", 200), corpus("stage-b", 600))
    // a session of its own: the shared one's frames of earlier suites
    // would be released by the first directory switch
    val session = spark.newSession()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val held = Seq(small, large, small).map { d =>
      SparkEntry.queries("q_dedup_minhash")(session, d).collect()
      sc.getPersistentRDDs.size - before
    }
    // the shingle stage and the minhash candidates of ONE directory
    assert(held == Seq(2, 2, 2), s"persisted RDDs after each run: $held")
    // the index verify stages its candidates in a slot of its own: it
    // releases no corpus frame and replaces its previous candidates
    val corpusRdds = sc.getPersistentRDDs.keySet
    val withIndex = Seq(1, 2).map { _ =>
      SparkEntry.queries("q_dedup_index")(session, small).collect()
      assert(corpusRdds.subsetOf(sc.getPersistentRDDs.keySet),
        "the index verify released corpus frames")
      sc.getPersistentRDDs.size - before
    }
    assert(withIndex == Seq(3, 3), s"persisted RDDs after each index verify: $withIndex")
  }
}
