package graft.operators

import graft.functions.VectorExpr
import graft.sources.GraftTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** L62: persisted, incrementally-maintained IVF-flat ANN index.
  *
  * The per-query IVF path (L19) retrains the coarse quantizer and
  * re-assigns every corpus vector on each run — KmIters + 2 full corpus
  * scans per query. At 100 TB the index IS the artifact, so here both
  * halves live as graft tables under one index root:
  *
  *   `<root>/centroids`    append table `(cent_id, cv)` — k rows
  *   `<root>/assignments`  PK table `vec_id → list_id`  — 2 longs/vector
  *
  * Maintenance is incremental: [[refresh]] reads ONLY the source
  * table's rows appended since the recorded snapshot watermark (the S33
  * `incremental-between` read), assigns them against the persisted
  * centroids (k-row broadcast, one pass over the delta) and upserts
  * into the assignments table — no retraining, and already-indexed
  * vectors are never touched. A drift trigger retrains from scratch
  * when the never-trained-on fraction of the corpus exceeds
  * [[DriftRetrainFraction]] (quantizer quality decays once the corpus
  * outgrows its training sample).
  *
  * [[probe]] answers top-k FROM the persisted tables. `q_ann_index`
  * proves probe-from-persisted ≡ probe-from-fresh-build against the
  * SAME DuckDB trainer-replay oracle as `q_ann_ivf_trained`: the
  * centroids are the bit-exact quantized-Lloyd's output either way
  * (SURVEY §5 quantized-input discipline), and the probe tail is the
  * literally shared [[Similarity.ivfRerank]].
  */
object AnnIndex {
  /** Source snapshot id the assignments cover (assignments table option). */
  val SnapshotProp = "ann.indexed-snapshot"
  /** Source row count the current quantizer was trained on. */
  val TrainedOnProp = "ann.trained-on-rows"
  /** Never-trained-on corpus fraction that triggers a retrain. */
  val DriftRetrainFraction = 0.5

  private def centPath(root: String) = s"$root/centroids"
  private def asgPath(root: String) = s"$root/assignments"

  /** Source tables hold `(vec_id: long, v: array<double>)`. */
  val SourceSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType), nullable = false)))
  private val centSchema = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType), nullable = false)))
  private val asgSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("list_id", LongType, nullable = false)))

  /** (vec_id, v, nrm) with zero vectors dropped — the exact normed frame
    * the fresh IVF path computes from raw parquet. */
  private def normedOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(VectorExpr.dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  /** Persisted centroids with their norms recomputed (cn is derived, not
    * stored: float parity needs the same IEEE op sequence as the fresh
    * path, and storing it would just duplicate a derivable value). */
  private def centDfOf(s: SparkSession, root: String): DataFrame =
    GraftTable.load(s, centPath(root)).read()
      .withColumn("cn", sqrt(VectorExpr.dot(col("cv"), col("cv"))))

  /** Nearest-centroid assignment — the same argmax as the fresh path's
    * assignCells (r18/r19 discipline): score against the k-row
    * broadcast, project the vector away immediately, and fold
    * `max(struct(ccos, -cent_id))` — a map-side-combinable scalar
    * aggregate instead of a window that shuffled corpus×k rows CARRYING
    * the vector array and sorted per key. The struct max reproduces the
    * window's (ccos desc, cent_id asc) tie-break exactly: highest ccos,
    * then highest negated id = lowest id. */
  private def assignOf(df: DataFrame, cent: DataFrame): DataFrame =
    normedOf(df).crossJoin(broadcast(cent))
      .select(col("vec_id"),
        Similarity.cosine(col("v"), col("cv"), col("nrm"), col("cn")).as("ccos"),
        (-col("cent_id")).as("negc"))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), col("negc"))).as("m"))
      .select(col("vec_id"), (-col("m.negc")).cast(LongType).as("list_id"))

  /** Train the quantizer on the source's CURRENT rows (the replayable
    * quantized Lloyd's — KMeansOp.fitReplayable) and (re)write both
    * index tables. Destroys any previous index at `root`. */
  def build(s: SparkSession, source: GraftTable, root: String,
      k: Int = Similarity.IvfK): Unit = {
    // path-COMPONENT containment, not a raw string prefix ("/wh/ann"
    // must not reject a sibling "/wh/ann_src")
    require(source.root != root &&
        !source.root.startsWith(root.stripSuffix("/") + "/"),
      s"index root $root would clobber the source table ${source.root}")
    val snap = source.latestSnapshotId.getOrElse(0L)
    val corpus = source.read()
    val cent = KMeansOp.fitReplayable(
      corpus.select(col("vec_id"),
        VectorExpr.quantize(col("v"), KMeansOp.KmScale).as("qv")),
      "vec_id", "qv", k, KMeansOp.KmIters)
    val fs = GraftTable.fileSystem(s, root)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val cT = GraftTable.create(s, centPath(root), centSchema)
    cT.append(s.createDataFrame(
      s.sparkContext.parallelize(cent.toSeq.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i.toLong, c.toSeq)
      }, 1), centSchema))
    val aT = GraftTable.create(s, asgPath(root), asgSchema,
      primaryKeys = Seq("vec_id"))
    aT.upsert(assignOf(corpus, centDfOf(s, root)))
    // trained-on size for the drift trigger: ONE upsert into an empty
    // deduplicate PK table makes every written row a distinct key, so
    // the merged count equals the manifest's per-file row counts —
    // driver-side metadata, no count job. (refresh() cannot use this:
    // its upserts overwrite existing keys, so it keeps the merged count.)
    val n = aT.currentFiles(None).map(f => f.rowCountOpt.getOrElse(
      throw new IllegalStateException(
        s"assignment file ${f.path} carries no row count; the trained-on size needs one"))).sum
    aT.setOptions(Map(SnapshotProp -> snap.toString, TrainedOnProp -> n.toString))
  }

  /** Index the rows appended to `source` since the last build/refresh:
    * assign ONLY the delta against the persisted centroids and upsert.
    * Retrains from scratch when the never-trained-on fraction passes
    * [[DriftRetrainFraction]]. Returns true iff a retrain happened. */
  def refresh(s: SparkSession, source: GraftTable, root: String): Boolean = {
    val aT = GraftTable.load(s, asgPath(root))
    val from = aT.options.get(SnapshotProp).map(_.toLong).getOrElse(0L)
    val latest = source.latestSnapshotId.getOrElse(0L)
    if (latest <= from) return false
    val delta = s.read.format("graft")
      .option("incremental-between", s"$from,$latest").load(source.root)
      .select(col("vec_id"), col("v"))
    val trainedOn = aT.options.get(TrainedOnProp).map(_.toLong).getOrElse(0L)
    // assign FIRST, measure drift from the REAL assignment count: a
    // raw delta row count would charge re-delivered vec_ids (upserts
    // that grow nothing) and zero-norm vectors (never indexed) as
    // never-trained-on corpus and over-trigger retrains
    aT.upsert(assignOf(delta, centDfOf(s, root)))
    val total = aT.read().count()
    if (total > 0 && (total - trainedOn).toDouble > DriftRetrainFraction * total) {
      val k = GraftTable.load(s, centPath(root)).read().count().toInt
      build(s, source, root, k)
      true
    } else {
      aT.setOptions(Map(SnapshotProp -> latest.toString))
      false
    }
  }

  /** Top-3 cosine probe for the source rows matching `isQuery`, answered
    * FROM the persisted index: the k-row centroid broadcast routes each
    * query to its nprobe lists; candidates come from the assignments
    * table joined back to the source vectors — equality joins only, no
    * corpus re-assignment, no training. */
  def probe(s: SparkSession, source: GraftTable, root: String,
      isQuery: Column): DataFrame = {
    val cent = centDfOf(s, root)
    val n = normedOf(source.read())
    val asg = GraftTable.load(s, asgPath(root)).read()
    val assigned = n.join(asg, Seq("vec_id"))
      .select(col("vec_id").as("c_id"), col("v").as("cv2"),
        col("nrm").as("cn2"), col("list_id"))
    val wAssign = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cent_id"))
    val probes = n.filter(isQuery).crossJoin(broadcast(cent))
      .withColumn("ccos", Similarity.cosine(col("v"), col("cv"), col("nrm"), col("cn")))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") <= Similarity.IvfProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("cent_id").cast(LongType).as("list_id"))
    Similarity.ivfRerank(assigned, probes)
  }
}
