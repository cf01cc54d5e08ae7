package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** LLM-data curation over fresh corpus shards, one shard at a time. Each
  * shard is a seeded corpus of documents (with injected near-duplicates)
  * and embeddings in the shapes of the sf0.1 `documents` and `embeddings`
  * tables; every round runs the curation queries on the next shard
  * through `SparkEntry.queries`. No graft table is touched, and no shard
  * is visited twice, so the operators' per-directory caches never hit.
  * Set-up runs the MinHash deduplication cold on small shards, and
  * warm-up runs the other two queries on the first of them; those results
  * are kept for the DuckDB oracle check. */
final class Curate(run: Run, dir: String, seed: Long, oracleDir: String) extends Workload {
  import Curate._
  private val spark = run.spark
  private var next = 0
  private var docsDone = 0L
  private val shardDigests = mutable.ArrayBuffer[String]()
  /** (query, shard dir, result dir) triples to compare with the oracle. */
  val oracleChecks = mutable.ArrayBuffer[(String, String, String)]()

  def shardDir(i: Int): String = s"$dir/shard-$i"
  def setupShardDir(rep: Int): String = s"$dir/setup-$rep"

  /** Writes shard `i` to `path`: `docs` re-keyed documents of seeded
    * words, every 20th a near-duplicate (one token changed, "dup"
    * appended) of an earlier document, and `vectors` random unit
    * embeddings with labels independent of them. README.md compares the
    * shapes with sf0.1's. */
  private def writeShard(i: Int, path: String, docs: Long, vectors: Long): Unit = {
    val s = lit(i)
    // a seeded permutation of 0 until n keeps ids dense, as the queries expect
    def perm(j: Column, n: Long, salt: Int): Column = {
      val r = new java.util.SplittableRandom(seed * 31 + i * 7 + salt)
      val a = Iterator.continually(1 + r.nextLong(n - 1)).find(x => BigInt(x).gcd(BigInt(n)) == 1).get
      pmod(j * a + r.nextLong(n), lit(n))
    }
    val vocab = array(Vocab.map(lit): _*)
    def words(j: Column, changeAt: Column): Column = {
      val n = Gen.below(seed, 50, 91L, s, j) + 10
      transform(sequence(lit(1L), n), w => {
        val word = (Gen.below(seed, 51, Vocab.size.toLong, s, j, w) +
          when(w === changeAt, Gen.below(seed, 52, Vocab.size - 1L, s, j) + 1).otherwise(0L)) %
          Vocab.size
        element_at(vocab, (word + 1).cast("int"))
      })
    }
    val j = col("id")
    val isDup = j % 20 === 19
    // the source of a near-duplicate: an earlier document that is not one itself
    val early = floor(Gen.below(seed, 53, docs, s, j) * j / docs).cast("long")
    val src = when(early % 20 === 19, early - 1).otherwise(early)
    val text = when(isDup, concat_ws(" ", words(src, Gen.below(seed, 54, 10L, s, j) + 1), lit("dup")))
      .otherwise(concat_ws(" ", words(j, lit(0L))))
    spark.range(docs).select(perm(j, docs, 1).as("doc_id"), text.as("text"),
        Gen.pick(seed, 55, Langs, s, j).as("lang"))
      .withColumn("source", concat(lit("src"), (col("doc_id") % 20).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$path/documents.parquet")
    val label = Gen.below(seed, 60, 10L, s, j)
    // a standard normal vector: normalised, a uniform direction
    val raw = transform(sequence(lit(1L), lit(Dim.toLong)), d => Gen.normal(seed, 62, s, j, d))
    spark.range(vectors).select(perm(j, vectors, 2).as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y)))
          .cast("float")).as("embedding"),
        col("label"))
      .write.parquet(s"$path/embeddings.parquet")
    shardDigests += Gen.combine(Seq(
      Gen.digest(spark.read.parquet(s"$path/documents.parquet")),
      Gen.digest(spark.read.parquet(s"$path/embeddings.parquet")
        .select(col("vec_id"), col("label"), to_json(col("embedding")).as("e")))))
  }

  /** The set-up shards: one small shard, copied once per further set-up
    * repetition. A copy is as cold as a new shard, because graft's shard
    * caches key on the directory. */
  def generate(): Unit = {
    writeShard(SetupShard, setupShardDir(0), Docs / 25, Vectors / 25)
    val from = Paths.get(setupShardDir(0))
    for (rep <- 1 until Main.SetupReps) {
      val to = Paths.get(setupShardDir(rep))
      val walk = Files.walk(from)
      try walk.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p))))
      finally walk.close()
    }
  }

  /** Set-up is graft's cold start on a shard: the first [[SetupQuery]]
    * call on a small shard in a fresh directory, its result written out. */
  def setup(rep: Int): Unit = {
    val d = setupShardDir(rep)
    val out = s"$oracleDir/$rep/$SetupQuery"
    SparkEntry.queries(SetupQuery)(spark, d).write.parquet(out)
    if (rep == 0) oracleChecks += ((SetupQuery, d, out))
  }

  def digest(): String = Gen.combine(shardDigests.toSeq)

  /** Runs the queries set-up left out on the first set-up shard. */
  def warmup(): Unit = for (q <- Queries if q != SetupQuery) {
    val d = setupShardDir(0)
    val out = s"$oracleDir/0/$q"
    SparkEntry.queries(q)(spark, d).write.parquet(out)
    oracleChecks += ((q, d, out))
  }

  def nextRound(): Boolean = {
    if (next >= MaxShards) return false
    val i = next
    val d = shardDir(i)
    writeShard(i, d, Docs, Vectors)
    for (q <- Queries) {
      run.op(q) {
        val rows = run.span("operators")(SparkEntry.queries(q)(spark, d).collect())
        if (run.tracer.tracing) run.annotate("docs" -> Docs.toDouble, "rows_out" -> rows.length.toDouble,
          "cached_bytes" -> spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble)
        rows
      }(rows => if (rows.nonEmpty) None else Some(s"$q on shard $i returned no rows"))
    }
    docsDone += Docs
    next += 1
    true
  }

  def finish(): Unit = ()

  /** The two deduplication queries; the vector search is the read. */
  def mainClasses: Set[String] = Set("q_pipeline_curate", "q_dedup_minhash")
  def readClasses: Set[String] = Set("q_ann_ivf_trained")
  def rowsProcessed: Long = docsDone
  def extraMetrics: Seq[Metric] = Nil
  def layerValues: Map[String, Double] = Map.empty
}

object Curate {
  val Docs = 5000L
  val Vectors = 2000L
  val Dim = 64
  val MaxShards = 40
  /** Shard number of the first set-up shard, past every timed one. */
  val SetupShard = MaxShards
  val Queries = Seq("q_pipeline_curate", "q_dedup_minhash", "q_ann_ivf_trained")
  /** The query set-up runs cold: it builds the per-shard shingle stage
    * (`Dedup.docsWithShingles`) that `q_pipeline_curate` reuses. */
  val SetupQuery = "q_dedup_minhash"
  val Langs = Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++ Seq.fill(3)("es") ++
    Seq.fill(3)("fr") ++ Seq.fill(3)("de")
  val Vocab = Seq("a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window")
}
