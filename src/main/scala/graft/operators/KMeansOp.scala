package graft.operators

import graft.{QDef, Tables => T}
import graft.functions.VectorExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Distributed Lloyd's k-means over an embedding column (SURVEY §2.3
  * L26) — the trainer for the IVF coarse quantizer (L19, whose scaladoc
  * promises "swapping in trained k-means centroids changes only the
  * `cent` frame"), and the vector-clustering primitive a curation
  * pipeline uses for topic balancing / semantic dedup binning.
  *
  * Scale shape:
  *  - centroids live on the DRIVER as k × dims doubles (bounded
  *    metadata, like Percentiles' run table); each round broadcasts
  *    them into the plan as literals, so the per-round frame derives
  *    FRESH from the input — no growing lineage, no checkpoint needed
  *    (contrast connectedComponents, whose labels are data-sized and
  *    must flow through localCheckpoint).
  *  - assignment is one codegen-friendly pass: squared L2 via the
  *    expansion |v|² − 2·v·c + |c|² with the native sequential-fold dot
  *    (VectorExpr.dot — NOT a higher-order function; HOFs are
  *    interpreted and 17-30× slower on per-element hot paths), argmin
  *    as array_position(array_min) — first minimum wins, deterministic.
  *  - the update step aggregates per-(cluster, dimension) sums — scalar
  *    rows, map-side combinable, k × dims values to the driver per
  *    round. No per-group vector state anywhere.
  *
  * Init is deterministic; empty clusters keep their previous centroid.
  * Cross-row float sums are partitioning-dependent at the ulp level for
  * arbitrary doubles, so the ORACLE-CHECKED entry (q_kmeans) first
  * quantizes the vectors to integer-valued doubles (exact sums under any
  * partitioning — the same design-for-the-oracle move SURVEY §5 uses for
  * interpolated quantiles) and trains via [[fitReplayable]], whose whole
  * 5-round run the DuckDB oracle replays bit-exactly. The float-input
  * farthest-first [[fit]] is the production trainer (KMeansSpec, L19b).
  */
object KMeansOp {

  /** Squared L2 distance from vector column `v` (with precomputed
    * |v|² column `vn2`) to a literal centroid. */
  private def dist2(v: Column, vn2: Column, c: Array[Double]): Column =
    vn2 - lit(2.0) * VectorExpr.dot(v, typedlit(c.toSeq)) +
      lit(c.map(x => x * x).sum)

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic sampled farthest-first init: ONE pass takes a
    * hash-ordered sample (top-k sort, no full collect), then a
    * driver-local greedy picks k maximally-spread sample points (strict
    * > keeps ties deterministic: first in hash order wins). Naive
    * smallest-k-ids seeding puts every seed in one region of an
    * id-ordered corpus and Lloyd's sticks in that local optimum
    * (observed: 3 seeds in one blob left a 3-blob dataset unrecovered);
    * farthest-first is the standard deterministic fix. If the corpus has
    * fewer than k distinct points the surplus seeds DUPLICATE an
    * existing one — the first-minimum assignment tie-break then starves
    * the duplicate and empty-cluster handling keeps it inert. */
  private def initCentroids(base: DataFrame, k: Int): Array[Array[Double]] = {
    val sampleN = math.max(k * 32, 512)
    val sample = base
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(sampleN)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"corpus has fewer than $k vectors")
    // incremental farthest-first: keep each sample's min distance to the
    // chosen set and refresh it with only the NEWEST centroid per round —
    // O(sampleN · k) total instead of re-scanning all chosen centroids
    // per candidate (which made large-k seeding driver-quadratic).
    // Strict > keeps ties deterministic: first in hash order wins.
    val minD = Array.fill(sample.length)(Double.MaxValue)
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    while (chosen.size < k) {
      val newest = chosen.last
      var best = 0
      var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        val d = l2sq(sample(i), newest)
        if (d < minD(i)) minD(i) = d
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      chosen += sample(best)
    }
    chosen.toArray
  }

  /** Train k centroids; returns (centroids, iterations run). The base
    * frame is persisted for the duration of the fit — initCentroids plus
    * every Lloyd's round scans it, so without the persist each round
    * re-reads the source and re-runs the normalize/quantize pass
    * (maxIters + 1 source scans; at 100 TB this stage is materialized). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIters: Int = 10, tol: Double = 1e-9): (Array[Array[Double]], Int) = {
    require(k >= 1 && maxIters >= 1)
    val base = normalized(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try lloyd(base, initCentroids(base, k), maxIters, tol)
    finally base.unpersist()
  }

  /** Oracle-replayable trainer (the L26 QDef path): deterministic
    * hash-ordered seeding — the k smallest (polyHash(id), id) vectors,
    * hash order ≈ a uniform draw but exactly reproducible in SQL (the
    * farthest-first greedy of [[fit]] needs driver iteration; this
    * variant trades a little seed spread for full SQL replay) — and a
    * FIXED round count with tol = 0 (a zero-movement early exit is a
    * fixed point, so the oracle's unrolled rounds replay identically).
    * Feed it integer-valued vectors ([[graft.functions.VectorExpr.quantize]]):
    * per-(cluster, dim) sums are then exact under ANY partitioning and
    * every centroid double is bit-identical to the SQL replay. */
  def fitReplayable(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, sampleDivisor: Long = 1L): Array[Array[Double]] = {
    require(k >= 1 && iters >= 1 && sampleDivisor >= 1)
    // bounded-sample trainer (L32 scale path): seeds and every Lloyd
    // round run over the deterministic `polyhash(id) % d = 0` subset —
    // mirrored by lloydCtes' `vt` CTE, so the replayed-trainer SQL sees
    // the SAME training set. The consumer's final full-corpus
    // assignment is untouched. d = 1 keeps today's full-corpus trainer.
    val all = normalized(df, idCol, vecCol)
    val base = (if (sampleDivisor == 1L) all
      else all.filter(
        graft.functions.HashExpr.polyHash(col("__id").cast("string"))
          % lit(sampleDivisor) === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = base
        .orderBy(graft.functions.HashExpr.polyHash(col("__id").cast("string")), col("__id"))
        .limit(k)
        .select("__v").collect().map(_.getSeq[Double](0).toArray)
      require(seeds.length == k, s"training sample has fewer than $k vectors")
      lloyd(base, seeds, iters, 0.0)._1
    } finally base.unpersist()
  }

  private def lloyd(base: DataFrame, init: Array[Array[Double]],
      maxIters: Int, tol: Double): (Array[Array[Double]], Int) = {
    val k = init.length
    var centroids: Array[Array[Double]] = init
    val dims = centroids.head.length
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved > tol) {
      val assigned = assign(base, "__v", "__vn2", centroids)
      // per-(cluster, dim) sums: scalar rows, map-side combinable;
      // k × dims scalars reach the driver
      val sums = assigned
        .select(col("__c"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy("__c", "__p")
        .agg(sum("__x").as("s"), count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(k)(new Array[Double](dims))
      val cnt = new Array[Long](k)
      sums.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        acc(c)(p) = r.getDouble(2)
        cnt(c) = r.getLong(3)
      }
      val next = Array.tabulate(k) { c =>
        if (cnt(c) == 0) centroids(c) // empty cluster: keep previous
        else acc(c).map(_ / cnt(c))
      }
      moved = centroids.zip(next).map { case (a, b) =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      }.max
      centroids = next
      iter += 1
    }
    (centroids, iter)
  }

  /** Adds `__c` (0-based cluster id, first-minimum tie-break). */
  private def assign(df: DataFrame, vecCol: String, vn2Col: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val ds = array(centroids.map(c => dist2(col(vecCol), col(vn2Col), c)): _*)
    // array_position needs the needle as a COLUMN: the functions-API
    // overload would treat array_min's Column as a literal
    df.withColumn("__ds", ds)
      .withColumn("__c",
        (expr("array_position(__ds, array_min(__ds))") - 1).cast("int"))
      .drop("__ds")
  }

  /** (__id, __v: array<double>, __vn2) — the vector column is widened
    * with a plain codegen'd Cast (identity-eliminated by Catalyst when
    * already array<double>), NOT a `transform(_, _.cast(...))` HOF:
    * higher-order functions are interpreted and this expression re-runs
    * corpus-wide every Lloyd's round (r8 verdict #4). */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__vn2", VectorExpr.dot(col("__v"), col("__v")))

  /** Assign every vector of `df` to its nearest trained centroid. */
  def transformDf(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    assign(normalized(df, idCol, vecCol), "__v", "__vn2", centroids)
      .select(col("__id").as(idCol), col("__c").as("cluster_id"))
  }

  private[operators] val KmK = 8
  private[operators] val KmIters = 5
  private[operators] val KmScale = 1000.0

  /** Quantized embeddings frame for `d` (the replayable trainer's input). */
  private[operators] def quantizedEmbeddings(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    T.embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorExpr.quantize(
        col("embedding").cast(ArrayType(DoubleType)), KmScale).as("qv"))

  /** Replayable-trained centroids over the quantized embeddings of `d`,
    * computed ONCE per (session, dir, k, iters) — q_kmeans,
    * q_ann_ivf_trained and q_dedup_semantic all train the SAME model, so
    * training three times per sweep would triple the corpus scans (the
    * r8 shingle-stage lesson applied to the trainer). Centroids are
    * k×dims driver doubles — bounded, no executor memory held. */
  private val centCache =
    scala.collection.concurrent.TrieMap[String, Array[Array[Double]]]()
  private[operators] def trainedCentroids(
      s: org.apache.spark.sql.SparkSession, d: String,
      k: Int, iters: Int = KmIters, sampleDivisor: Long = 1L): Array[Array[Double]] =
    centCache.getOrElseUpdate(
      s"${DirFrames.key(s, d)}:$k:$iters:$sampleDivisor",
      fitReplayable(quantizedEmbeddings(s, d), "vec_id", "qv", k, iters, sampleDivisor))

  /** DuckDB replay of the full quantized Lloyd's run (r8 verdict #3 —
    * q_kmeans previously verified nothing at the driver). The rounds are
    * UNROLLED as CTE chains; every double either is integer-valued
    * (quantized inputs, their sums) or is produced by the identical IEEE
    * op sequence on both engines (s/n division, the sequential-fold
    * distance expansion (vn2 - 2·dot) + cn2), so assignments — double
    * comparisons with ties broken by centroid index — hash-match. */
  /** dist(a row of vv, c row of a cn-CTE) — same shape as dist2():
    * (vn2 - 2·seq-fold-dot) + cn2. */
  private val SqlDist = {
    val dot =
      "list_reduce(list_cat([0.0], list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])), (p,x) -> p+x)"
    s"(a.vn2 - 2.0*$dot + c.cn2)"
  }

  /** The quantize→seed→k-round Lloyd's chain as a WITH-body prefix:
    * defines `vv` (vec_id, v, vn2 — quantized vectors) and `c$iters`
    * (c, cv — final centroids), plus internal v0, hh, c0 and per-round
    * cnN, aN, eN, mN CTEs. Shared by the L26 oracle and the trained-IVF
    * oracle (L19),
    * which appends its own probe/re-rank tail. */
  private[operators] def lloydCtes(k: Int, iters: Int, scale: Double): String =
    lloydCtes(k.toString, iters, scale)

  /** As above with k as a SQL scalar expression — lets an oracle derive
    * the centroid count from the corpus itself (Similarity.semKFor's
    * corpus-scaled k), since oracle strings are static per query.
    * `dSql` is the TRAINING-SAMPLE divisor (SQL scalar, default 1 = no
    * sampling): seeds and every Lloyd round run over the `hv % d = 0`
    * subset (`vt`) while `vv` stays the full corpus for the consumer's
    * final assignment — the bounded-sample trainer that keeps the
    * n·K round cost from going quadratic when K itself scales with the
    * corpus (L32). With d = 1, vt ≡ vv and results are unchanged. */
  private[operators] def lloydCtes(kSql: String, iters: Int, scale: Double,
      dSql: String = "1"): String = {
    // parity-exact per-element quantizer (see VecImpl.quantize)
    val q = s"CAST(x AS DOUBLE)*$scale"
    val quant = s"CASE WHEN $q >= 0 THEN floor($q + 0.5) ELSE -floor(-($q) + 0.5) END"
    // shared poly-hash SQL mirror (Dedup.polyHashSqlOf — single source)
    val polyId = Dedup.polyHashSqlOf("CAST(vec_id AS VARCHAR)")
    val dist = SqlDist
    // AS MATERIALIZED on the CHAINED CTEs: DuckDB inlines a CTE per
    // reference, and each round references c(r-1) twice (cn + the
    // carry-forward join) — inlined, the base plan re-evaluates 2^rounds
    // times, which at the sf10 gate spilled >70 GB of sort temp before
    // running the disk out. Materialization pins each round to ONE
    // evaluation; results are value-identical (found by the r17 full
    // sf10 oracle compare).
    def round(r: Int): String =
      s"""cn${r - 1} AS MATERIALIZED (SELECT c, cv,
         |    list_reduce(list_cat([0.0], list_transform(cv, x -> x*x)), (p,x) -> p+x) AS cn2
         |  FROM c${r - 1}),
         |a$r AS MATERIALIZED (SELECT vec_id, v, c FROM (
         |    SELECT a.vec_id, a.v, c.c,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $dist, c.c) AS rn
         |    FROM vt a CROSS JOIN cn${r - 1} c) WHERE rn = 1),
         |e$r AS (SELECT c, unnest(v) AS x, unnest(range(1, len(v)+1)) AS p FROM a$r),
         |m$r AS MATERIALIZED (SELECT c, list(cm ORDER BY p) AS cv FROM (
         |    SELECT c, p, sum(x)/count(*) AS cm FROM e$r GROUP BY c, p) GROUP BY c),
         |c$r AS MATERIALIZED (SELECT prev.c, coalesce(nw.cv, prev.cv) AS cv
         |  FROM c${r - 1} prev LEFT JOIN m$r nw ON prev.c = nw.c)""".stripMargin
    val rounds = (1 to iters).map(round).mkString(",\n")
    s"""v0 AS (SELECT vec_id, list_transform(embedding, x -> $quant) AS v
       |  FROM embeddings),
       |vv AS MATERIALIZED (SELECT vec_id, v,
       |    list_reduce(list_cat([0.0], list_transform(v, x -> x*x)), (p,x) -> p+x) AS vn2
       |  FROM v0 WHERE v IS NOT NULL),
       |hh AS (SELECT vec_id, v, vn2, $polyId AS hv FROM vv),
       |vt AS MATERIALIZED (SELECT vec_id, v, vn2, hv FROM hh
       |  WHERE (hv % ($dSql)) = 0),
       |c0 AS MATERIALIZED (SELECT cid - 1 AS c, cv FROM (
       |    SELECT row_number() OVER (ORDER BY hv, vec_id) AS cid, v AS cv FROM vt)
       |  WHERE cid <= ($kSql)),
       |$rounds""".stripMargin
  }

  private def kmeansOracle: String =
    s"""WITH ${lloydCtes(KmK, KmIters, KmScale)},
       |cnF AS (SELECT c, cv,
       |    list_reduce(list_cat([0.0], list_transform(cv, x -> x*x)), (p,x) -> p+x) AS cn2
       |  FROM c$KmIters),
       |f AS (SELECT vec_id, c FROM (
       |    SELECT a.vec_id, c.c,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $SqlDist, c.c) AS rn
       |    FROM vv a CROSS JOIN cnF c) WHERE rn = 1)
       |SELECT c AS cluster_id, count(*) AS n, min(vec_id) AS min_id
       |FROM f GROUP BY c ORDER BY cluster_id""".stripMargin

  val defs: Seq[QDef] = Seq(
    // L26: distributed Lloyd's k-means over the embeddings corpus,
    // quantized to integer-valued doubles so the ENTIRE 5-round run is
    // partitioning-independent and replayed bit-exactly by the DuckDB
    // oracle (cluster sizes + min member id per cluster). The
    // farthest-first float-input trainer stays spec-covered (KMeansSpec,
    // AnnSpec L19b); this entry is the driver-checkable form.
    QDef(
      "q_kmeans",
      (s, d) => {
        val qv = quantizedEmbeddings(s, d)
        val cent = trainedCentroids(s, d, KmK)
        transformDf(qv, "vec_id", "qv", cent)
          .groupBy(col("cluster_id").cast("long").as("cluster_id"))
          .agg(count(lit(1)).as("n"), min("vec_id").as("min_id"))
          .orderBy("cluster_id")
      },
      Some(kmeansOracle)),

    // L41: label coherence / confusion matrix — nearest-CLASS-centroid
    // assignment of every embedding against its own label (the
    // training-data curation lens: off-diagonal mass = label noise or
    // class overlap in embedding space; a per-class nearest-centroid
    // probe is the standard cheap separability check). Reuses the
    // ENTIRE proven k-means parity machinery: quantized inputs make the
    // per-LABEL centroid sums exact under any partitioning, centroids
    // are L × dims bounded driver doubles, assignment is the same
    // (vn2 − 2·dot + cn2) sequential-fold distance with first-index
    // (lowest label) tie-break both engines. One scalar-pair shuffle for
    // the sums, one broadcast-literal pass for assignment.
    QDef(
      "q_label_confusion",
      (s, d) => {
        // the quantized frame feeds the centroid sums AND the assignment
        // pass — one persisted stage, not three corpus scans
        val q = T.embeddings(s, d).select(col("vec_id"), col("label"),
          graft.functions.VectorExpr.quantize(
            col("embedding").cast(ArrayType(DoubleType)), KmScale).as("qv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        // per-(label, dim) exact sums → L × dims driver scalars
        val sums = q
          .select(col("label"), posexplode(col("qv")).as(Seq("p", "x")))
          .groupBy("label", "p").agg(sum("x").as("s"), count(lit(1)).as("n"))
          .collect()
        val labels = sums.map(_.getInt(0)).distinct.sorted
        val dims = sums.map(_.getInt(1)).max + 1
        val acc = labels.map(_ => new Array[Double](dims))
        val cnt = new Array[Long](labels.length)
        val idx = labels.zipWithIndex.toMap
        sums.foreach { r =>
          acc(idx(r.getInt(0)))(r.getInt(1)) = r.getDouble(2)
          cnt(idx(r.getInt(0))) = r.getLong(3)
        }
        val cents = labels.indices.map(i => acc(i).map(_ / cnt(i))).toArray
        val predOfIdx = map(labels.zipWithIndex.flatMap { case (l, i) =>
          Seq(lit(i), lit(l)) }.toSeq: _*)
        val result = transformDf(q, "vec_id", "qv", cents)
          .join(q.select(col("vec_id"), col("label")), "vec_id")
          .select(col("label"), element_at(predOfIdx, col("cluster_id")).as("pred"))
          .groupBy("label", "pred").agg(count(lit(1)).as("n"))
          .orderBy("label", "pred")
        val rows = result.collect() // bounded (≤ L²) — release the stage
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        } finally q.unpersist()
      },
      Some {
        val qx = s"CAST(x AS DOUBLE)*$KmScale"
        val quant = s"CASE WHEN $qx >= 0 THEN floor($qx + 0.5) ELSE -floor(-($qx) + 0.5) END"
        val dot =
          "list_reduce(list_cat([0.0], list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i])), (p,x) -> p+x)"
        s"""WITH v0 AS (SELECT vec_id, label,
           |    list_transform(embedding, x -> $quant) AS v FROM embeddings),
           |vv AS (SELECT vec_id, label, v,
           |    list_reduce(list_cat([0.0], list_transform(v, x -> x*x)), (p,x) -> p+x) AS vn2
           |  FROM v0 WHERE v IS NOT NULL),
           |e AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS p FROM vv),
           |m AS (SELECT label AS c, list(cm ORDER BY p) AS cv FROM (
           |    SELECT label, p, sum(x)/count(*) AS cm FROM e GROUP BY label, p) GROUP BY label),
           |cn AS (SELECT c, cv,
           |    list_reduce(list_cat([0.0], list_transform(cv, x -> x*x)), (p,x) -> p+x) AS cn2
           |  FROM m),
           |pr AS (SELECT vec_id, label, c AS pred FROM (
           |    SELECT a.vec_id, a.label, c.c,
           |      row_number() OVER (PARTITION BY a.vec_id
           |        ORDER BY (a.vn2 - 2.0*$dot + c.cn2), c.c) AS rn
           |    FROM vv a CROSS JOIN cn c) WHERE rn = 1)
           |SELECT label, pred, count(*) AS n FROM pr
           |GROUP BY label, pred ORDER BY label, pred""".stripMargin
      })
  )
}
