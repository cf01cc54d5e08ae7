package graft

import graft.sources.GraftTable
import graft.streaming.GraftStreaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.4 T1–T3. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("T1: streaming append commits one snapshot per micro-batch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val t = GraftTable.create(spark, TestSpark.tmpDir("stream"),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    val q = GraftStreaming.appendStream(mem.toDF().toDF("k", "v"), t).start()
    try {
      mem.addData((1, "a"), (2, "b")); q.processAllAvailable()
      mem.addData((3, "c")); q.processAllAvailable()
    } finally q.stop()
    assert(t.latestSnapshotId.contains(2L))
    assert(t.read().orderBy("k").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("T1b: streaming upsert merges by PK across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Int, String, Long)]
    val t = GraftTable.create(spark, TestSpark.tmpDir("streamup"),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq"))
    val q = GraftStreaming.upsertStream(mem.toDF().toDF("k", "v", "seq"), t).start()
    try {
      mem.addData((1, "a", 1L), (2, "b", 1L)); q.processAllAvailable()
      mem.addData((1, "a2", 2L)); q.processAllAvailable()
    } finally q.stop()
    val rows = t.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "a2"), (2, "b")))
  }

  test("T2: watermarked windowed aggregation over the events table") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val stream = spark.readStream
      .schema(ev.schema)
      .parquet("/root/testdata/sf0.001") // dir contains events.parquet only matched below
    // run the same shape in batch mode for determinism, then the stream
    val batchResult = GraftStreaming.windowedCounts(ev, "ts", "1 hour", "6 hours")
    assert(batchResult.count() > 0)
    // streaming smoke: memory sink over a memory stream of the same rows
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = GraftStreaming.windowedCounts(df, "ts", "1 hour", "6 hours")
      .writeStream.outputMode("complete").format("memory").queryName("winagg").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "click", 2.0),
        (java.sql.Timestamp.valueOf("2024-01-01 07:10:00"), "view", 3.0))
      q.processAllAvailable()
      val out = spark.sql("SELECT event_type, n, v FROM winagg ORDER BY win_start, event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(out.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("T4: readStream.format(\"graft\") emits each snapshot increment exactly once") {
    val path = TestSpark.tmpDir("streamsrc")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("graft_src").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM graft_src ORDER BY k").collect().map(_.getInt(0)).toSeq
        == Seq(1, 2))
      t.append(Seq((3, "c")).toDF("k", "v")) // new snapshot while running
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM graft_src ORDER BY k").collect().map(_.getInt(0)).toSeq
        == Seq(1, 2, 3)) // increment only — no re-emit of 1,2
    } finally q.stop()
  }

  test("T4f: a running stream keeps its declared columns while another handle evolves the schema") {
    val path = TestSpark.tmpDir("streamevolve")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    t.append(Seq((1, "a")).toDF("k", "v"))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("graft_evolve").start()
    try {
      q.processAllAvailable()
      val other = GraftTable.load(spark, path)
      other.addColumn("w", StringType)
      other.append(Seq((2, "b", "x")).toDF("k", "v", "w"))
      q.processAllAvailable()
      GraftTable.load(spark, path).dropColumn("v")
      GraftTable.load(spark, path).append(Seq((3, "y")).toDF("k", "w"))
      q.processAllAvailable()
      val sink = spark.table("graft_evolve")
      assert(sink.columns.toSeq == Seq("k", "v"))
      val got = sink.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == Seq((1, "a"), (2, "b"), (3, null)), s"got $got")
    } finally q.stop()
  }

  test("T4e: a running stream sees MERGE's NOT-MATCHED inserts, not its retractions") {
    // S65q's streaming half: the source rides readIncrement, so the
    // append-visible component of a delta MERGE commit (snapshot
    // appendPaths) must flow to a live stream exactly like an append,
    // while the same commit's dv retractions and update rewrites stay
    // silent.
    spark.conf.set("spark.sql.catalog.gt4e", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gt4e.warehouse", TestSpark.tmpDir("t4e-wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gt4e.db")
    spark.sql("""CREATE TABLE gt4e.db.m (k BIGINT, v STRING)
                |TBLPROPERTIES ('row-tracking.enabled'='true')""".stripMargin)
    val root = spark.conf.get("spark.sql.catalog.gt4e.warehouse") + "/db.db/m"
    val t = GraftTable.load(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val q = spark.readStream.format("graft").load(root)
      .writeStream.outputMode("append").format("memory").queryName("t4e_sink").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM t4e_sink ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L))
      Seq((1L, "ONE"), (9L, "nine")).toDF("k", "v").createOrReplaceTempView("t4e_src")
      spark.sql("""MERGE INTO gt4e.db.m t USING t4e_src s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET t.v = s.v
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      q.processAllAvailable()
      val got = spark.sql("SELECT k, v FROM t4e_sink ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      // inserted row flows once; the updated row is NOT re-emitted
      assert(got == Seq((1L, "a"), (2L, "b"), (9L, "nine")), s"got $got")
    } finally q.stop()
  }

  test("T4b: changelog stream over a PK table carries rowkind + commit_seq") {
    val path = TestSpark.tmpDir("streamcdc")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq"))
    t.upsert(Seq((1, "a", 1L)).toDF("k", "v", "seq"))
    val q = spark.readStream.format("graft").option("readChangelog", "true").load(path)
      .writeStream.outputMode("append").format("memory").queryName("graft_cdc").start()
    try {
      q.processAllAvailable()
      t.upsert(Seq((1, "a2", 2L)).toDF("k", "v", "seq"))
      t.delete(Seq((1, "a2", 3L)).toDF("k", "v", "seq"))
      q.processAllAvailable()
      val got = spark.sql("SELECT rowkind, commit_seq, k, v FROM graft_cdc ORDER BY commit_seq")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3)))
      assert(got.toSeq == Seq(("+I", 1L, "a"), ("+I", 2L, "a2"), ("-D", 3L, "a2")))
    } finally q.stop()
  }

  test("T4b-full: lookup changelog-producer streams -U/+U update pairs") {
    val path = TestSpark.tmpDir("streamcdcfull")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"),
      options = Map("sequence.field" -> "seq", "changelog-producer" -> "lookup"))
    t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    val q = spark.readStream.format("graft").option("readChangelog", "true").load(path)
      .writeStream.outputMode("append").format("memory").queryName("graft_cdc_full").start()
    try {
      q.processAllAvailable()
      t.upsert(Seq((1, "a2", 2L), (3, "c", 2L)).toDF("k", "v", "seq"))
      t.delete(Seq((2, "x", 3L)).toDF("k", "v", "seq"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT rowkind, commit_seq, k, v FROM graft_cdc_full ORDER BY commit_seq, k, rowkind")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getString(3)))
      assert(got.toSeq == Seq(
        ("+I", 1L, 1, "a"), ("+I", 1L, 2, "b"),
        // commit 2: key 1 updates (pre-image + post-image), key 3 inserts
        ("+U", 2L, 1, "a2"), ("-U", 2L, 1, "a"), ("+I", 2L, 3, "c"),
        // commit 3: -D carries the TRUE pre-image ("b"), not the caller's "x"
        ("-D", 3L, 2, "b")))
      // the merged table is unaffected by the markers
      assert(t.read().orderBy("k").collect().map(_.getString(1)).toSeq == Seq("a2", "c"))
    } finally q.stop()
  }

  test("T4c: plain stream suppresses deletes; compaction does not flood the stream") {
    val path = TestSpark.tmpDir("streamnoflood")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq"))
    t.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("nf_out").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM nf_out").first().getLong(0) == 2)
      // a delete commit must NOT resurrect rows on a non-changelog stream
      t.delete(Seq((2, "b", 2L)).toDF("k", "v", "seq"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM nf_out").first().getLong(0) == 2)
      // compaction rewrites every file — nothing new may be emitted
      t.compact()
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM nf_out").first().getLong(0) == 2)
      // and a post-compaction append still streams incrementally
      t.upsert(Seq((3, "c", 3L)).toDF("k", "v", "seq"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM nf_out").first().getLong(0) == 3)
    } finally q.stop()
  }

  test("T4d: readStream with the branch option sees only the branch's commits") {
    val path = TestSpark.tmpDir("streambranch")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    t.append(Seq((1, "base")).toDF("k", "v"))
    t.createBranch("live")
    val b = t.forBranch("live")
    b.append(Seq((10, "b1")).toDF("k", "v"))
    val q = spark.readStream.format("graft").option("branch", "live").load(path)
      .writeStream.outputMode("append").format("memory").queryName("br_out").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM br_out ORDER BY k").collect().map(_.getInt(0)).toSeq
        == Seq(1, 10)) // cut-point state + branch commit
      // a MAIN commit is invisible to the branch stream
      t.append(Seq((2, "main")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM br_out").first().getLong(0) == 2)
      // a further branch commit streams incrementally
      b.append(Seq((11, "b2")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.sql("SELECT k FROM br_out ORDER BY k").collect().map(_.getInt(0)).toSeq
        == Seq(1, 10, 11))
    } finally q.stop()
  }

  test("T15: Trigger.AvailableNow backfill drains the snapshot log and terminates") {
    val path = TestSpark.tmpDir("streamavail")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    t.append(Seq((1, "a")).toDF("k", "v"))
    t.append(Seq((2, "b")).toDF("k", "v"))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("avail_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow = batch-style backfill THROUGH the streaming source:
    // consume everything available at start, then stop on its own
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(spark.sql("SELECT k FROM avail_out ORDER BY k").collect().map(_.getInt(0)).toSeq
      == Seq(1, 2))
    // a commit AFTER termination stays unconsumed (no running query)
    t.append(Seq((3, "c")).toDF("k", "v"))
    assert(spark.sql("SELECT count(*) FROM avail_out").first().getLong(0) == 2)
    // a SECOND AvailableNow run from the same checkpointless sink state
    // re-reads from scratch (fresh query) and sees all three commits
    spark.sql("DROP TABLE IF EXISTS avail_out")
    val q2 = spark.readStream.format("graft").load(path)
      .writeStream.outputMode("append").format("memory").queryName("avail_out2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000))
    assert(spark.sql("SELECT count(*) FROM avail_out2").first().getLong(0) == 3)
  }

  test("T16: maxSnapshotsPerTrigger caps each micro-batch and survives restart without regression") {
    val path = TestSpark.tmpDir("streamcap")
    val ckpt = TestSpark.tmpDir("streamcapckpt")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    val batches = new scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    def start() = spark.readStream.format("graft")
      .option("maxSnapshotsPerTrigger", "2").load(path)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").collect().map(_.getInt(0)).toSeq.sorted
        batches.synchronized { if (ks.nonEmpty) batches += ks }; ()
      }.start()
    val q = start()
    try { q.processAllAvailable() } finally q.stop()
    val first = batches.synchronized(batches.toList)
    // the 5-commit backlog drains completely, in bounded micro-batches
    // of at most 2 snapshots (1 row per commit)
    assert(first.flatten.sorted == (1 to 5), s"backlog not fully drained: $first")
    assert(first.map(_.size) == Seq(2, 2, 1), s"expected capped batches 2/2/1, got $first")
    // restart from the checkpoint: the persisted floor keeps the capped
    // offset from regressing below the engine's committed end — only
    // commits AFTER the checkpoint are delivered, exactly once
    (6 to 7).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    batches.synchronized(batches.clear())
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val second = batches.synchronized(batches.toList)
    assert(second.flatten.sorted == Seq(6, 7), s"restart must deliver only new commits: $second")
  }

  test("T19: changelog-driven aggregate view stays exact under update and delete") {
    val path = TestSpark.tmpDir("aggview")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("id", IntegerType), StructField("grp", StringType),
        StructField("amount", LongType), StructField("seq", LongType))),
      primaryKeys = Seq("id"),
      options = Map("sequence.field" -> "seq", "changelog-producer" -> "lookup"))
    t.upsert(Seq((1, "A", 10L, 1L), (2, "A", 20L, 1L), (3, "B", 5L, 1L))
      .toDF("id", "grp", "amount", "seq"))
    val changelog = spark.readStream.format("graft")
      .option("readChangelog", "true").load(path)
    val q = GraftStreaming.aggregateChangelog(changelog, "grp", "amount")
      .writeStream.outputMode("complete").format("memory").queryName("agg_view")
      .start()
    def state(): Map[String, (Long, Long)] =
      spark.sql("SELECT grp, total, live_rows FROM agg_view").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      q.processAllAvailable()
      assert(state() == Map("A" -> ((30L, 2L)), "B" -> ((5L, 1L))))
      // UPDATE id=1: the -U pre-image retracts 10, the +U adds 15
      t.upsert(Seq((1, "A", 15L, 2L)).toDF("id", "grp", "amount", "seq"))
      q.processAllAvailable()
      assert(state() == Map("A" -> ((35L, 2L)), "B" -> ((5L, 1L))))
      // DELETE id=2: the -D pre-image retracts 20 and one live row
      t.delete(Seq((2, "A", 0L, 3L)).toDF("id", "grp", "amount", "seq"))
      q.processAllAvailable()
      assert(state() == Map("A" -> ((15L, 1L)), "B" -> ((5L, 1L))))
    } finally q.stop()
  }

  test("T21: composed streaming ingest — quality gate → fingerprint dedup → graft sink") {
    // the end-to-end 100 TB ingest shape as ONE continuous query: raw
    // docs stream in, a rule gate (L21's integer bounds) drops junk, the
    // exact-dedup stage (T7, fingerprint state) drops re-crawls across
    // micro-batches, and the survivors land as graft snapshots (T1) —
    // each stage is a declared component; this pins their composition
    // (gate before dedup keeps junk out of the state store; dedup state
    // keyed on the md5 fingerprint, not the text).
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val t = GraftTable.create(spark, TestSpark.tmpDir("ingest"),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val gated = mem.toDF().toDF("doc_id", "text")
      .withColumn("nw", size(graft.functions.Text.words(col("text"))))
      .filter(col("nw") >= 3 && col("nw") <= 50) // rule gate: word-count bounds
      .withColumn("fp", md5(col("text")))
    val clean = GraftStreaming.dedupStream(gated, Seq("fp"))
      .select("doc_id", "text")
    val q = GraftStreaming.appendStream(clean, t)
      .option("checkpointLocation", TestSpark.tmpDir("ingest-ckpt")).start()
    try {
      mem.addData(
        (1L, "a good little document"),
        (2L, "no"), // gated: too short
        (3L, "a good little document")) // in-batch duplicate of 1
      q.processAllAvailable()
      mem.addData(
        (4L, "a good little document"), // cross-batch duplicate of 1
        (5L, "another fine document here"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = t.read().orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 5L),
      "gate drops junk, dedup drops in-batch AND cross-batch re-crawls, rest lands")
    assert(t.latestSnapshotId.contains(2L), "one snapshot per non-empty micro-batch")
  }

  test("T24: streaming ingest keeps the persisted dedup index current") {
    // the L68 index as a LIVE artifact: each micro-batch lands in the
    // corpus table and the signature index refreshes from the snapshot
    // watermark — build-on-first-batch, delta-refresh after (the
    // operational recipe; at 100 TB the refresh signs kilobytes of new
    // text while the corpus stays untouched). Pins: per-batch signed
    // counts are DELTA-sized, and the streamed index serves the same
    // pairs as a from-scratch rebuild.
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val src = GraftTable.create(spark, TestSpark.tmpDir("dixsrc-t24"),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val idxRoot = TestSpark.tmpDir("dixidx-t24")
    val signed = scala.collection.mutable.ArrayBuffer[Long]()
    val fs = GraftTable.fileSystem(spark, idxRoot)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        src.append(b)
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$idxRoot/signatures"))) {
          graft.operators.DedupIndex.build(spark, src, idxRoot)
          signed += GraftTable.load(spark, s"$idxRoot/signatures").read().count()
        } else signed += graft.operators.DedupIndex.refresh(spark, src, idxRoot)
        ()
      }
      .option("checkpointLocation", TestSpark.tmpDir("dixidx-t24-ckpt")).start()
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    try {
      mem.addData((1L, dupText), (2L, "an entirely different sentence about streams"))
      q.processAllAvailable()
      mem.addData((3L, dupText)) // near-dup of doc 1, arriving a batch later
      q.processAllAvailable()
    } finally q.stop()
    assert(signed.toSeq == Seq(2L, 1L), s"per-batch signing must be delta-sized: $signed")
    val streamedPairs = graft.operators.DedupIndex.pairs(spark, src, idxRoot)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuiltRoot = TestSpark.tmpDir("dixidx-t24-full")
    graft.operators.DedupIndex.build(spark, src, rebuiltRoot)
    val rebuiltPairs = graft.operators.DedupIndex.pairs(spark, src, rebuiltRoot)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs == Set((1L, 3L)) && streamedPairs == rebuiltPairs)
  }

  test("T27: streaming ingest keeps the persisted ANN index current") {
    // the L62 index as a LIVE artifact (the T24 shape for vectors): each
    // micro-batch lands in the vector table and the index assigns ONLY
    // the batch's vectors against the persisted centroids — no retrain,
    // no corpus re-assignment. Pins: the post-stream probe serves the
    // same neighbors as a from-scratch rebuild, and the refreshes were
    // delta-sized (assignment count grows by exactly the batch size,
    // retrain never triggered below the drift threshold).
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val src = GraftTable.create(spark, TestSpark.tmpDir("annsrc-t27"),
      graft.operators.AnnIndex.SourceSchema)
    val idxRoot = TestSpark.tmpDir("annidx-t27")
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val retrained = scala.collection.mutable.ArrayBuffer[Boolean]()
    val fs = GraftTable.fileSystem(spark, idxRoot)
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        src.append(b)
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$idxRoot/assignments")))
          graft.operators.AnnIndex.build(spark, src, idxRoot, k = 2)
        else retrained += graft.operators.AnnIndex.refresh(spark, src, idxRoot)
        counts += GraftTable.load(spark, s"$idxRoot/assignments").read().count()
        ()
      }
      .option("checkpointLocation", TestSpark.tmpDir("annidx-t27-ckpt")).start()
    // two tight clusters around (1,0) and (0,1)
    def v(x: Double, y: Double) = Seq(x, y)
    try {
      mem.addData((1L, v(1.0, 0.0)), (2L, v(0.9, 0.1)), (3L, v(0.0, 1.0)),
        (4L, v(0.1, 0.9)), (5L, v(1.0, 0.1)), (6L, v(0.1, 1.0)))
      q.processAllAvailable()
      mem.addData((7L, v(0.95, 0.05)), (8L, v(0.05, 0.95)))
      q.processAllAvailable()
    } finally q.stop()
    assert(counts.toSeq == Seq(6L, 8L), s"refresh must be delta-sized: $counts")
    assert(retrained.toSeq == Seq(false), s"drift retrain must not trigger: $retrained")
    // streamed index == from-scratch rebuild, probe-for-probe
    def probes(root: String) =
      graft.operators.AnnIndex.probe(spark, src, root, col("vec_id") >= 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuiltRoot = TestSpark.tmpDir("annidx-t27-full")
    graft.operators.AnnIndex.build(spark, src, rebuiltRoot, k = 2)
    val streamed = probes(idxRoot)
    assert(streamed == probes(rebuiltRoot), s"streamed index diverged: $streamed")
    // the late vectors found their own cluster, not the other one
    val n7 = streamed.filter(_._1 == 7L).map(_._3)
    assert(n7.nonEmpty && n7.subsetOf(Set(1L, 2L, 5L)), s"q7 neighbors: $n7")
  }

  test("T28: streamed classifier training via the aggregation merge engine") {
    // the L74 trainer as a LIVE artifact: per-batch hashed-BoW slot
    // DELTAS upsert into an aggregation-merge-engine weights table whose
    // sum-fold IS the incremental trainer (label-difference weights are
    // sums, so any batch split merges exactly). Pins: the streamed table
    // equals the one-shot batch trainer over the union, and scoring
    // through the learned table routes identically.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.types._
    val wt = graft.sources.GraftTable.create(spark, TestSpark.tmpDir("clfw-t28"),
      StructType(Seq(StructField("slot", LongType, nullable = false),
        StructField("weight", LongType))),
      primaryKeys = Seq("slot"),
      options = Map("merge-engine" -> "aggregation",
        "fields.weight.aggregate-function" -> "sum"))
    val mem = MemoryStream[(String, Boolean)]
    val q = graft.streaming.GraftStreaming.classifierStream(
      mem.toDF().toDF("text", "label"), wt)
      .option("checkpointLocation", TestSpark.tmpDir("clfw-t28-ckpt")).start()
    val batch1 = Seq(("good fine nice words here", true),
      ("awful bad poor text sample", false))
    val batch2 = Seq(("fine good again and again", true),
      ("bad bad awful repeat", false), ("good mixed bad", true))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // streamed fold ≡ the one-shot L74 batch trainer over the union
    import spark.implicits._
    val all = (batch1 ++ batch2).toDF("text", "label")
    val batchW = graft.operators.TextOps.trainLinearWeights(all, "text", "label")
    val streamedW = new Array[Long](64)
    wt.read().collect().foreach(r => streamedW(r.getLong(0).toInt) = r.getLong(1))
    assert(streamedW.toSeq == batchW.toSeq,
      s"streamed weights diverged:\n ${streamedW.toSeq}\n ${batchW.toSeq}")
    // scoring through the streamed table matches batch-trained scoring
    val s1 = all.select(graft.functions.HashExpr.hashedScoreWeights(
      graft.functions.Text.words(col("text")), streamedW.toSeq)).collect().map(_.getLong(0)).toSeq
    val s2 = all.select(graft.functions.HashExpr.hashedScoreWeights(
      graft.functions.Text.words(col("text")), batchW.toSeq)).collect().map(_.getLong(0)).toSeq
    assert(s1 == s2)
  }

  test("T20: foreachBatch MERGE INTO applies a CDC stream onto a graft table") {
    // the operational upsert-apply shape: a change stream lands on a
    // catalog table through SQL MERGE once per micro-batch (the S31
    // row-level-op machinery driven from structured streaming — Paimon
    // users run exactly this to sink Debezium-style feeds). Each batch
    // here carries at most one change per key (a real pipeline dedups
    // per key first — MERGE rejects multi-matches by SQL contract).
    implicit val sc = spark.sqlContext
    spark.conf.set("spark.sql.catalog.gms", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gms.warehouse", TestSpark.tmpDir("mergewh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gms.db")
    spark.sql("DROP TABLE IF EXISTS gms.db.state")
    spark.sql("CREATE TABLE gms.db.state (k INT, v STRING)")
    val mem = MemoryStream[(Int, String, String)] // (key, value, op U/D)
    val q = mem.toDF().toDF("k", "v", "op").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.createOrReplaceTempView("t20_batch")
        b.sparkSession.sql(
          """MERGE INTO gms.db.state s USING t20_batch b ON s.k = b.k
            |WHEN MATCHED AND b.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET v = b.v
            |WHEN NOT MATCHED AND b.op != 'D' THEN INSERT (k, v) VALUES (b.k, b.v)
            |""".stripMargin)
        ()
      }.start()
    try {
      mem.addData((1, "a", "U"), (2, "b", "U")); q.processAllAvailable()
      mem.addData((1, "a2", "U"), (3, "c", "U")); q.processAllAvailable()
      mem.addData((2, "", "D"), (3, "c2", "U")); q.processAllAvailable()
    } finally q.stop()
    val state = spark.sql("SELECT k, v FROM gms.db.state ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(state == Seq((1, "a2"), (3, "c2")),
      "update + insert + delete must all land through the streamed MERGE")
  }

  test("T26: streamed MERGE onto a row-tracking table rides the delta path — " +
    "ids stable across micro-batches, deletes are dv metadata") {
    implicit val sc = spark.sqlContext
    spark.conf.set("spark.sql.catalog.gms26", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gms26.warehouse", TestSpark.tmpDir("merge26wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gms26.db")
    spark.sql("""CREATE TABLE gms26.db.state (k BIGINT, v STRING)
                |TBLPROPERTIES ('row-tracking.enabled'='true')""".stripMargin)
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("k", "v", "op").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.createOrReplaceTempView("t26_batch")
        b.sparkSession.sql(
          """MERGE INTO gms26.db.state s USING t26_batch b ON s.k = b.k
            |WHEN MATCHED AND b.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET v = b.v
            |WHEN NOT MATCHED AND b.op != 'D' THEN INSERT (k, v) VALUES (b.k, b.v)
            |""".stripMargin)
        ()
      }.start()
    def ids(): Map[Long, Long] =
      spark.sql("SELECT k, _row_id FROM gms26.db.state").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      mem.addData((1L, "a", "U"), (2L, "b", "U"), (3L, "c", "U")); q.processAllAvailable()
      val after1 = ids()
      assert(after1.keySet == Set(1L, 2L, 3L) && after1.values.toSeq.distinct.size == 3)
      mem.addData((2L, "b2", "U"), (3L, "", "D"), (5L, "e", "U")); q.processAllAvailable()
      val after2 = ids()
      assert(after2(1L) == after1(1L), "untouched row renumbered")
      assert(after2(2L) == after1(2L), "streamed MERGE update must keep the id")
      assert(!after2.contains(3L))
      assert(after2(5L) > after1.values.max, "insert must mint a fresh id")
    } finally q.stop()
    // the delete landed as dv metadata on batch-1's file, not a rewrite
    val t = graft.sources.GraftTable.load(spark,
      spark.conf.get("spark.sql.catalog.gms26.warehouse") + "/db.db/state")
    assert(t.system("files").select("delete_row_count").collect()
      .map(_.getLong(0)).sum >= 1L, "streamed delete must be a dv, not a rewrite")
  }

  test("T18: writeStream.format(\"graft\") — snapshot per batch, replay-idempotent, branch routing") {
    implicit val sc = spark.sqlContext
    val path = TestSpark.tmpDir("sinkfmt")
    val ckpt = TestSpark.tmpDir("sinkfmtckpt")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    val mem = MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start(path)
    try {
      mem.addData((1, "a")); q.processAllAvailable()
      mem.addData((2, "b")); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.format("graft").load(path).collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      == Seq((1, "a"), (2, "b")))
    // one snapshot per micro-batch, stamped with a CHECKPOINT-derived
    // sink id (batch ids are checkpoint-scoped — a static default would
    // let another query's batch 0 alias this one's and drop data)
    assert(t.snapshots.count(_.commitUser.startsWith("sink-")) == 2)
    // a REPLAYED batch id of the SAME query (same checkpoint) commits
    // nothing — the crash window between the engine's offset/commit logs
    val head = t.latestSnapshotId.get
    def sinkWith(params: Map[String, String]) =
      new sources.GraftSink(spark, path, params,
        org.apache.spark.sql.streaming.OutputMode.Append())
    sinkWith(Map("checkpointLocation" -> ckpt)).addBatch(1L, Seq((9, "dup")).toDF("k", "v"))
    assert(GraftTable.load(spark, path).latestSnapshotId.get == head,
      "replayed batch id must be skipped")
    // ...but a DIFFERENT query's batch 1 (other checkpoint) must commit
    sinkWith(Map("checkpointLocation" -> (ckpt + "-other")))
      .addBatch(1L, Seq((3, "c")).toDF("k", "v"))
    assert(spark.read.format("graft").load(path).filter($"k" === 3).count() == 1,
      "another query's identically-numbered batch must not be aliased away")
    // the branch option routes commits onto the branch ref only
    t.createBranch("side", None)
    sinkWith(Map("branch" -> "side")).addBatch(0L, Seq((7, "z")).toDF("k", "v"))
    assert(spark.read.format("graft").option("branch", "side").load(path)
      .filter($"k" === 7).count() == 1)
    assert(spark.read.format("graft").load(path).filter($"k" === 7).count() == 0)
    // Complete mode is rejected loudly
    intercept[IllegalArgumentException] {
      new sources.GraftSink(spark, path, Map.empty,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    }
    // Update mode needs a PK table (append would accumulate stale rows)
    intercept[IllegalArgumentException] {
      new sources.GraftSink(spark, path, Map.empty,
        org.apache.spark.sql.streaming.OutputMode.Update())
        .addBatch(99L, Seq((8, "u")).toDF("k", "v"))
    }
    // a partitionBy spec that differs from the table layout fails loudly
    intercept[IllegalArgumentException] {
      new sources.GraftSink(spark, path, Map.empty,
        org.apache.spark.sql.streaming.OutputMode.Append(), Seq("nope"))
        .addBatch(99L, Seq((8, "p")).toDF("k", "v"))
    }
  }

  test("T16b: maxSnapshotsPerTrigger composes with Trigger.AvailableNow — full drain, bounded batches") {
    val path = TestSpark.tmpDir("streamcapnow")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))))
    (1 to 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    val batches = new scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val q = spark.readStream.format("graft")
      .option("maxSnapshotsPerTrigger", "2").load(path)
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = b.select("k").collect().map(_.getInt(0)).toSeq.sorted
        batches.synchronized { if (ks.nonEmpty) batches += ks }; ()
      }.start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val got = batches.synchronized(batches.toList)
    assert(got.flatten.sorted == (1 to 5), s"AvailableNow must drain the full backlog: $got")
    assert(got.forall(_.size <= 2), s"every batch must respect the cap: $got")
  }

  test("T17: stream-static lookup join re-reads the graft dim table every micro-batch") {
    implicit val sc = spark.sqlContext
    val dimPath = TestSpark.tmpDir("lookupdim")
    val dim = GraftTable.create(spark, dimPath,
      StructType(Seq(StructField("id", IntegerType), StructField("name", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("id"), options = Map("sequence.field" -> "seq"))
    dim.upsert(Seq((1, "old", 1L)).toDF("id", "name", "seq"))
    val mem = MemoryStream[(Int, Int)]
    val dimDf = spark.read.format("graft").load(dimPath).select("id", "name")
    val joined = mem.toDF().toDF("k", "id").join(dimDf, Seq("id"))
    val out = new scala.collection.mutable.ArrayBuffer[(Int, String)]()
    val q = joined.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.select("k", "name").collect().map(r => (r.getInt(0), r.getString(1)))
        }; ()
      }.start()
    try {
      mem.addData((1, 1)); q.processAllAvailable()
      // dim updated BETWEEN micro-batches: the PK upsert folds id=1 to
      // the new value; the next batch's static side must see it
      dim.upsert(Seq((1, "new", 2L)).toDF("id", "name", "seq"))
      mem.addData((2, 1)); q.processAllAvailable()
    } finally q.stop()
    val got = out.synchronized(out.sortBy(_._1).toList)
    assert(got == List((1, "old"), (2, "new")),
      s"lookup join must serve each batch from the dim's current snapshot: $got")
  }

  test("T14: session_window sessionization merges in-gap events and splits across the gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = GraftStreaming.sessionCounts(
        mem.toDF().toDF("user_id", "ts"), "user_id", "ts", "1 minute", "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sess_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:05:00")), // merges into session 1 (< 10 min gap)
        (1L, ts("2024-01-01 10:30:00")), // > gap → session 2
        (2L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // a later event EXTENDS user 2's open session across batches
      mem.addData((2L, ts("2024-01-01 10:08:00")))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT user_id, sess_start, n FROM sess_out ORDER BY user_id, sess_start")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      assert(out.toSeq == Seq(
        (1L, "2024-01-01 10:00:00.0", 2L),
        (1L, "2024-01-01 10:30:00.0", 1L),
        (2L, "2024-01-01 10:00:00.0", 2L)))
    } finally q.stop()
  }

  test("T13: watermarked stream-stream interval join attributes clicks to impressions") {
    implicit val sc = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = GraftStreaming.intervalJoin(
      imps.toDF().toDF("user_id", "imp_ts", "imp_id"),
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      key = "user_id", leftTs = "imp_ts", rightTs = "click_ts",
      delay = "10 minutes", withinSeconds = 600)
    val q = joined.select("user_id", "imp_id", "click_id")
      .writeStream.outputMode("append").format("memory").queryName("attr_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      imps.addData(
        (1L, ts("2024-01-01 10:00:00"), "i1"),
        (2L, ts("2024-01-01 10:00:00"), "i2"),
        (3L, ts("2024-01-01 10:00:00"), "i3"))
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00"), "c1"), // within 10 min → match
        (2L, ts("2024-01-01 10:20:00"), "c2"), // outside the interval
        (3L, ts("2024-01-01 09:55:00"), "c3")) // click BEFORE impression
      q.processAllAvailable()
      val out = spark.sql("SELECT user_id, imp_id, click_id FROM attr_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(out.toSeq == Seq((1L, "i1", "c1")))
      // a second in-window click for the same impression also matches
      // (inner interval join emits every qualifying pair)
      clicks.addData((1L, ts("2024-01-01 10:08:00"), "c4"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM attr_out").first().getLong(0) == 2L)
    } finally q.stop()
  }

  test("T29: LEFT OUTER interval join emits non-converting impressions after watermark expiry") {
    implicit val sc = spark.sqlContext
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = GraftStreaming.intervalJoinOuter(
      imps.toDF().toDF("user_id", "imp_ts", "imp_id"),
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      key = "user_id", leftTs = "imp_ts", rightTs = "click_ts",
      delay = "1 minute", withinSeconds = 600)
    val q = joined.select("user_id", "imp_id", "click_id")
      .writeStream.outputMode("append").format("memory").queryName("outer_attr").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      imps.addData(
        (1L, ts("2024-01-01 10:00:00"), "i1"),  // converts (c1 inside 10 min)
        (2L, ts("2024-01-01 10:00:00"), "i2"))  // never converts
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00"), "c1"),
        (9L, ts("2024-01-01 10:05:00"), "c9"))  // orphan click: left-outer drops it
      q.processAllAvailable()
      // matched pair emits immediately; i2 is still inside its horizon
      val early = spark.sql("SELECT user_id, imp_id, click_id FROM outer_attr")
        .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      assert(early.toSeq == Seq((1L, "i1", Some("c1"))),
        s"inner matches must not wait for the watermark: ${early.toSeq}")
      // advance BOTH sides' event time past i2's release bound
      // (10:00 + 600 s within + 1 min delay = 10:11) — the watermark is
      // the min across sources, so each side needs a newer event
      imps.addData((98L, ts("2024-01-01 10:30:00"), "i_wm"))
      clicks.addData((99L, ts("2024-01-01 10:30:00"), "c_wm"))
      q.processAllAvailable()
      // null-padded rows emit on state eviction, one batch after the
      // watermark moves — run one more (empty) trigger to flush
      imps.addData((98L, ts("2024-01-01 10:31:00"), "i_wm2"))
      clicks.addData((99L, ts("2024-01-01 10:31:00"), "c_wm2"))
      q.processAllAvailable()
      val out = spark.sql(
        "SELECT user_id, imp_id, click_id FROM outer_attr WHERE user_id < 50 " +
          "ORDER BY user_id").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      assert(out.toSeq == Seq((1L, "i1", Some("c1")), (2L, "i2", None)),
        s"left-outer must emit i2 with NULL click and drop the orphan click: ${out.toSeq}")
    } finally q.stop()
  }

  test("T5: flatMapGroupsWithState session tracker closes sessions across micro-batches") {
    import graft.streaming.UserEvent
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    // idleTimeout=None: with a timer the engine runs no-data batches and
    // processAllAvailable never quiesces
    val sessions = GraftStreaming.sessionTracker(mem.toDS(), gapSeconds = 1800, idleTimeout = None)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      val h = 3600000000L // 1h in micros
      // batch 1: user 1 has events at t=0h and t=0.25h (one open session)
      mem.addData(UserEvent(1L, 0L, 1L), UserEvent(1L, h / 4, 2L))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM sess_out").first().getLong(0) == 0) // still open
      // batch 2: event at t=2h closes the first session, opens another
      mem.addData(UserEvent(1L, 2 * h, 3L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, start_us, end_us, n_events FROM sess_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 0L
        && rows(0).getLong(2) == h / 4 && rows(0).getInt(3) == 2)
      // batch 3: another user interleaves; gap closes user-1's second session
      mem.addData(UserEvent(2L, 0L, 4L), UserEvent(1L, 4 * h, 5L))
      q.processAllAvailable()
      val all = spark.sql("SELECT user_id, n_events FROM sess_out ORDER BY user_id, n_events").collect()
      assert(all.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 1), (1L, 2)))
    } finally q.stop()
  }

  test("T7a: dedupStream drops a key duplicated across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val q = GraftStreaming.dedupStream(mem.toDF().toDF("k", "v"), Seq("k"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      mem.addData((1, "a")); q.processAllAvailable()
      // same key in a LATER micro-batch: the state store remembers it
      mem.addData((1, "a-again"), (2, "b")); q.processAllAvailable()
      val got = spark.sql("SELECT k, v FROM dedup_out ORDER BY k")
        .collect().map(r => (r.getInt(0), r.getString(1)))
      assert(got.toSeq == Seq((1, "a"), (2, "b")))
    } finally q.stop()
  }

  test("T7b: watermarked dedup evicts state past the horizon and re-admits the key") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Int, java.sql.Timestamp)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val q = GraftStreaming.dedupStreamWatermarked(
        mem.toDF().toDF("k", "ts"), Seq("k"), "ts", "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName("dedup_wm").start()
    try {
      mem.addData((1, ts(0))); q.processAllAvailable()
      // duplicate within the horizon: dropped
      mem.addData((1, ts(5)), (2, ts(5))); q.processAllAvailable()
      // advance the watermark far past key 1's (event_time + delay) expiry
      mem.addData((99, ts(200))); q.processAllAvailable()
      // key 1's state was evicted at the horizon → re-admitted (not a dup)
      mem.addData((1, ts(195))); q.processAllAvailable()
      val got = spark.sql("SELECT k, count(*) AS n FROM dedup_wm GROUP BY k ORDER BY k")
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(got.toSeq == Seq((1, 2L), (2, 1L), (99, 1L)))
      // bounded state: only keys still inside the horizon survive (1@195, 99@200);
      // 4 admissions ever, so < 4 proves eviction ran
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state store holds $stateRows rows; horizon eviction failed")
    } finally q.stop()
  }

  test("T7c: dedupStream restart from checkpoint preserves the seen-key set") {
    implicit val sc = spark.sqlContext
    val cp = TestSpark.tmpDir("dedup_cp")
    val seen = new scala.collection.mutable.ArrayBuffer[(Int, String)]()
    val mem = MemoryStream[(Int, String)]
    def start() = GraftStreaming.dedupStream(mem.toDF().toDF("k", "v"), Seq("k"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= batch.collect().map(r => (r.getInt(0), r.getString(1)))
        }; ()
      }.start()
    val q1 = start()
    try { mem.addData((1, "a"), (2, "b")); q1.processAllAvailable() } finally q1.stop()
    // restart against the SAME checkpoint: the recovered state store must
    // still know key 1, so only key 3 passes
    mem.addData((1, "dup"), (3, "c"))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val got = seen.synchronized(seen.sortBy(_._1).toSeq)
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("T8: CDC replication — changelog stream replays a PK table onto a replica") {
    val srcPath = TestSpark.tmpDir("cdc_src")
    val dstPath = TestSpark.tmpDir("cdc_dst")
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
      StructField("seq", LongType)))
    val src = GraftTable.create(spark, srcPath, schema,
      primaryKeys = Seq("k"),
      options = Map("sequence.field" -> "seq", "changelog-producer" -> "lookup"))
    val dst = GraftTable.create(spark, dstPath, schema,
      primaryKeys = Seq("k"), options = Map("sequence.field" -> "seq"))
    src.upsert(Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "seq"))
    val changelog = spark.readStream.format("graft")
      .option("readChangelog", "true").load(srcPath)
    val q = GraftStreaming.replicateStream(changelog, dst).start()
    try {
      q.processAllAvailable()
      assert(dst.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
        == Seq((1, "a"), (2, "b")))
      // update + insert + delete across several source commits; the -D
      // of key 2 must NOT resurrect through the replica's merge
      src.upsert(Seq((1, "a2", 2L), (3, "c", 2L)).toDF("k", "v", "seq"))
      src.delete(Seq((2, "b", 3L)).toDF("k", "v", "seq"))
      src.upsert(Seq((2, "b2", 4L)).toDF("k", "v", "seq")) // re-insert after delete
      q.processAllAvailable()
      val want = src.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      val got = dst.read().orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(want == Seq((1, "a2"), (2, "b2"), (3, "c")))
      assert(got == want, s"replica diverged: $got vs $want")
    } finally q.stop()
  }

  test("T9: streaming KMV approx-distinct — exact below k, cross-batch distinct, bounded state") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val out = GraftStreaming.approxDistinctStream(mem.toDF().toDF("g", "h"), "g", "h", k = 256)
    val q = out.toDF("g", "nd").writeStream
      .outputMode("update").format("memory").queryName("kmv_stream").start()
    try {
      mem.addData(("a", 11L), ("a", 22L), ("b", 11L)); q.processAllAvailable()
      // re-sending 22 must not inflate (distinct semantics across batches)
      mem.addData(("a", 22L), ("a", 33L)); q.processAllAvailable()
      val got = spark.sql("SELECT g, nd FROM kmv_stream")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got == Seq(("a", 2L), ("a", 3L), ("b", 1L)), s"got $got")
      // high-cardinality group: 5000 uniform hashes in two batches;
      // k=256 state (~2 KB) must estimate within KMV error (~1/√k)
      val rnd = new java.util.SplittableRandom(42)
      val hs = Array.fill(5000)(rnd.nextLong())
      mem.addData(hs.take(2500).map(("c", _)).toSeq: _*); q.processAllAvailable()
      mem.addData(hs.drop(2500).map(("c", _)).toSeq: _*); q.processAllAvailable()
      val est = spark.sql("SELECT nd FROM kmv_stream WHERE g = 'c' ORDER BY nd DESC LIMIT 1")
        .first().getLong(0)
      assert(math.abs(est - 5000.0) / 5000.0 < 0.2, s"estimate $est for true 5000")
      // one state row per group, k longs each — bounded regardless of stream length
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 3, s"state rows $stateRows (expected one per group)")
    } finally q.stop()
  }

  test("T10: streaming frequent items — exact below 2k, cross-batch accumulation, heavy hitter survives, bounded state") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = GraftStreaming.freqItemsStream(
      mem.toDF().toDF("g", "item"), "g", "item", k = 8, topN = 3)
    val q = out.toDF("g", "top").writeStream
      .outputMode("update").format("memory").queryName("freq_stream").start()
    try {
      mem.addData(("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")); q.processAllAvailable()
      mem.addData(("a", "x"), ("a", "y"), ("a", "y"), ("a", "w")); q.processAllAvailable()
      val emissions = spark.sql("SELECT g, top FROM freq_stream")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // ≤ 2k distinct items per group ⇒ exact counts; (count desc, item
      // asc) order; batch 2's emission proves cross-batch accumulation
      assert(emissions.contains(("a", "x:2,y:1")), s"batch-1 emission missing: $emissions")
      assert(emissions.contains(("b", "z:1")))
      assert(emissions.contains(("a", "x:3,y:3,w:1")), s"batch-2 emission missing: $emissions")
      // high-cardinality stream: 2000 HOT + 3000 singletons, k=8 state.
      // MG survival: freq 2000 > n/(k+1) = 555 ⇒ HOT must survive, and
      // its estimate (undercount ≤ err ≤ 555) still dominates every
      // singleton (≤ 1 + err), so HOT is rank 1 in the final emission.
      val items = new scala.util.Random(7).shuffle(
        (Seq.fill(2000)("HOT") ++ (0 until 3000).map(i => s"i$i")).toVector)
      mem.addData(items.take(2500).map(("c", _)): _*); q.processAllAvailable()
      mem.addData(items.drop(2500).map(("c", _)): _*); q.processAllAvailable()
      // the memory sink guarantees no row ORDER across batches — identify
      // the final emission as the one with the LARGEST HOT estimate
      // (counts only grow across batches), not by collect() position
      val cTops = spark.sql("SELECT top FROM freq_stream WHERE g = 'c'")
        .collect().map(_.getString(0))
      assert(cTops.forall(_.startsWith("HOT:")),
        s"heavy hitter not rank 1 in every emission: ${cTops.toSeq}")
      val hotEst = cTops.map(_.split(",")(0).split(":")(1).toLong).max
      assert(hotEst <= 2000, "MG must never overcount")
      assert(hotEst >= 2000 - 5000 / 9, s"undercount $hotEst exceeds n/(k+1) bound")
      // one state row per group, ≤ 2k pairs each — bounded forever
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 3, s"state rows $stateRows (expected one per group)")
    } finally q.stop()
  }

  test("T11: streaming KLL quantiles — exact below k, cross-batch accumulation, error-bounded, bounded state") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val out = GraftStreaming.quantileStream(
      mem.toDF().toDF("g", "v"), "g", "v", k = 256)
    val q = out.toDF("g", "p50", "p95", "n").writeStream
      .outputMode("update").format("memory").queryName("kll_stream").start()
    try {
      // exact regime: ≤ k values never compact — p50 of 1..5 split
      // across two batches is the exact interpolated median
      mem.addData(("a", 1.0), ("a", 2.0), ("a", 3.0)); q.processAllAvailable()
      mem.addData(("a", 4.0), ("a", 5.0)); q.processAllAvailable()
      val aRows = spark.sql("SELECT p50, n FROM kll_stream WHERE g = 'a'")
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      assert(aRows.exists(_._2 == 5L), s"cross-batch count missing: ${aRows.toSeq}")
      assert(aRows.find(_._2 == 5L).get._1 == 3.0, "exact-regime median of 1..5 must be 3")
      // compaction regime: 20k uniform values in two batches; p50/p95
      // must land within ~2% rank error of the true quantiles
      val rnd = new java.util.SplittableRandom(11)
      val vs = Array.fill(20000)(rnd.nextDouble() * 1000.0)
      mem.addData(vs.take(10000).map(("b", _)).toSeq: _*); q.processAllAvailable()
      mem.addData(vs.drop(10000).map(("b", _)).toSeq: _*); q.processAllAvailable()
      val sorted = vs.sorted
      val b = spark.sql("SELECT p50, p95, n FROM kll_stream WHERE g = 'b' ORDER BY n DESC LIMIT 1")
        .collect().head
      assert(b.getLong(2) == 20000L)
      def rankOf(x: Double): Double =
        sorted.count(_ <= x).toDouble / sorted.length
      assert(math.abs(rankOf(b.getDouble(0)) - 0.50) < 0.02,
        s"p50 rank ${rankOf(b.getDouble(0))}")
      assert(math.abs(rankOf(b.getDouble(1)) - 0.95) < 0.02,
        s"p95 rank ${rankOf(b.getDouble(1))}")
      // one state row per group — bounded regardless of stream length
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 2, s"state rows $stateRows (expected one per group)")
    } finally q.stop()
  }

  test("T12: streaming bounded top-N selection — exact under any batch split, eviction, tie order, bounded state") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val out = GraftStreaming.minNStream(
      mem.toDF().toDF("g", "ord", "id"), "g", "ord", "id", n = 3)
    val q = out.toDF("g", "kept", "ids").writeStream
      .outputMode("update").format("memory").queryName("minn_stream").start()
    try {
      mem.addData(("a", 5L, 50L), ("a", 1L, 10L), ("a", 3L, 30L), ("b", 2L, 20L))
      q.processAllAvailable()
      mem.addData(("a", 2L, 21L), ("a", 9L, 99L)); q.processAllAvailable()
      val emissions = spark.sql("SELECT g, kept, ids FROM minn_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      // batch 1: full kept set in (ord, id) order
      assert(emissions.contains(("a", 3L, "10,30,50")), s"batch-1 emission missing: $emissions")
      assert(emissions.contains(("b", 1L, "20")))
      // batch 2: (2,21) EVICTS (5,50) across the batch boundary; (9,99)
      // is rejected — the kept set is the global 3 smallest (ord, id)
      assert(emissions.contains(("a", 3L, "10,21,30")), s"batch-2 emission missing: $emissions")
      // equal ord ranks by id — the total-order tie-break
      mem.addData(("t", 7L, 2L), ("t", 7L, 1L), ("t", 7L, 3L), ("t", 7L, 0L))
      q.processAllAvailable()
      assert(spark.sql("SELECT ids FROM minn_stream WHERE g = 't'")
        .collect().map(_.getString(0)).contains("0,1,2"))
      // hot key: 5000 rows split across two batches — the kept set must
      // be the exact global n-smallest regardless of the split (selection
      // by a total order is merge-order independent), from n-entry state
      val rnd = new java.util.SplittableRandom(13)
      val rows = Array.fill(5000)((rnd.nextLong(1000000), rnd.nextLong(1 << 30)))
      mem.addData(rows.take(2500).map(r => ("c", r._1, r._2)).toSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2500).map(r => ("c", r._1, r._2)).toSeq: _*); q.processAllAvailable()
      val expect = rows.sortBy(r => (r._1, r._2)).take(3).map(_._2).mkString(",")
      val cIds = spark.sql("SELECT ids FROM minn_stream WHERE g = 'c'")
        .collect().map(_.getString(0))
      assert(cIds.contains(expect), s"final kept set $expect not in ${cIds.toSeq}")
      // one state row per group, ≤ n entries each — bounded forever
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 4, s"state rows $stateRows (expected one per group)")
    } finally q.stop()
  }

  test("T3: changelog exposes only post-snapshot row versions with rowkind") {
    val t = GraftTable.create(spark, TestSpark.tmpDir("cdc"),
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType),
        StructField("seq", LongType))),
      primaryKeys = Seq("k"))
    val s1 = t.upsert(Seq((1, "a", 1L)).toDF("k", "v", "seq"))
    t.upsert(Seq((2, "b", 2L)).toDF("k", "v", "seq"))
    t.delete(Seq((1, "a", 3L)).toDF("k", "v", "seq"))
    val changes = GraftStreaming.changelog(t, s1)
      .orderBy("commit_seq").collect().map(r => (r.getString(0), r.getInt(2)))
    assert(changes.toSeq == Seq(("+I", 2), ("-D", 1)))
  }

  test("T22: streaming upsert into a DYNAMIC-BUCKET table — stable assignments, bucket-local MOR") {
    implicit val sc = spark.sqlContext
    val path = TestSpark.tmpDir("sinkdyn")
    val ckpt = TestSpark.tmpDir("sinkdynckpt")
    val t = GraftTable.create(spark, path,
      StructType(Seq(StructField("k", IntegerType), StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "3"))
    val mem = MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start(path)
    def assignments: Map[Long, Int] =
      Option(t.snapshots.last.bucketIndexes).getOrElse(Seq.empty).flatMap { dir =>
        spark.read.parquet(s"$path/$dir")
          .collect().map(r => r.getAs[Long]("kh") -> r.getAs[Int]("bucket"))
      }.toMap
    try {
      mem.addData((1, "a"), (2, "b"), (3, "c"), (4, "d")); q.processAllAvailable()
      val a1 = assignments
      assert(a1.size == 4 && a1.values.toSet == Set(0, 1))
      // batch 2: updates (same keys) + one new key — updates add NO
      // assignments, the new key fills bucket 1 (2nd slot of 3)
      mem.addData((2, "b2"), (5, "e")); q.processAllAvailable()
      val a2 = assignments
      assert(a2.size == 5 && a2.view.filterKeys(a1.contains).toMap == a1)
      assert(a2.values.count(_ == 1) == 2)
    } finally q.stop()
    // MOR across micro-batches resolves per key (bucket-local merge)
    val rows = spark.read.format("graft").load(path).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b2"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("T30: streaming replication-validation checksums — live per-group bit_xor under insert/update/delete") {
    val srcPath = TestSpark.tmpDir("cksum_src")
    val aggPath = TestSpark.tmpDir("cksum_agg")
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("grp", StringType), StructField("v", StringType),
      StructField("seq", LongType)))
    val src = GraftTable.create(spark, srcPath, schema,
      primaryKeys = Seq("k"),
      options = Map("sequence.field" -> "seq", "changelog-producer" -> "lookup"))
    // the live checksum table: one row per group, cksum XOR-folds, n sums
    val agg = GraftTable.create(spark, aggPath,
      StructType(Seq(StructField("grp", StringType),
        StructField("cksum", LongType), StructField("n", LongType))),
      primaryKeys = Seq("grp"),
      options = Map("merge-engine" -> "aggregation",
        "fields.cksum.aggregate-function" -> "bit_xor",
        "fields.n.aggregate-function" -> "sum"))
    // the rendered identity excludes seq (a replica may re-sequence);
    // all render cols are non-null here (concat_ws would silently skip
    // a NULL — callers render nullable cols via explicit coalesce)
    val render = Seq("CAST(k AS STRING)", "grp", "v")
    def expect(): Map[String, (Long, Long)] =
      src.read()
        .select(col("grp"), GraftStreaming.rowChecksum(render).as("h"))
        .groupBy("grp")
        .agg(expr("bit_xor(h)").as("cksum"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def got(): Map[String, (Long, Long)] =
      agg.read().filter(col("n") =!= 0L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    src.upsert(Seq((1, "g1", "a", 1L), (2, "g1", "b", 1L), (3, "g2", "c", 1L))
      .toDF("k", "grp", "v", "seq"))
    val changelog = spark.readStream.format("graft")
      .option("readChangelog", "true").load(srcPath)
    val q = GraftStreaming.checksumStream(changelog, agg, "grp", render).start()
    try {
      q.processAllAvailable()
      assert(got() == expect(), s"after initial load: ${got()} vs ${expect()}")
      // update (the -U pre-image must retract the OLD rendering), insert,
      // and delete across separate commits
      src.upsert(Seq((1, "g1", "a2", 2L), (4, "g2", "d", 2L))
        .toDF("k", "grp", "v", "seq"))
      src.delete(Seq((2, "g1", "b", 3L)).toDF("k", "grp", "v", "seq"))
      q.processAllAvailable()
      assert(got() == expect(), s"after update+insert+delete: ${got()} vs ${expect()}")
      // empty out g2 entirely: its row converges to (cksum=0, n=0) and
      // drops from the n!=0 reader face, matching the recompute exactly
      src.delete(Seq((3, "g2", "c", 4L), (4, "g2", "d", 4L))
        .toDF("k", "grp", "v", "seq"))
      q.processAllAvailable()
      assert(got() == expect(), s"after emptying g2: ${got()} vs ${expect()}")
      assert(!got().contains("g2"))
      // a divergence IS visible: flip one replica-side row's rendering
      // and the checksums disagree (the witness property)
      val tampered = expect() + ("g1" -> (expect()("g1")._1 ^ 5L, expect()("g1")._2))
      assert(tampered != got())
      // both read paths fold bit_xor identically (window fold vs the V2
      // merge-on-read combiner)
      val v2 = spark.read.format("graft").load(aggPath).filter(col("n") =!= 0L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(v2 == got(), s"V2 read diverged from window fold: $v2 vs ${got()}")
    } finally q.stop()
  }
}
