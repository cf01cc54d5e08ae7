package graft.operators

import graft.{QDef, Tables => T}
import graft.functions.VectorExpr
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Distributed PCA — top principal component by power iteration over the
  * embedding corpus (SURVEY §2.3 L45): the dimensionality probe a
  * training-data pipeline runs before whitening / compressing vectors
  * (an embedding column whose top component explains most variance is
  * collapsed or near-duplicated — the vector-space analogue of the L44
  * TTR collapse signal).
  *
  * Scale shape (the k-means L26 pattern applied to the gramian):
  *  - the component vector lives on the DRIVER as d doubles (bounded
  *    metadata); each round broadcasts it into the plan as a literal,
  *    so every per-round frame derives fresh from the staged
  *    quantized input — no growing lineage.
  *  - one power-iteration round is ONE corpus pass: a codegen'd
  *    sequential-fold projection (VectorExpr.dot — not an interpreted
  *    HOF) plus a per-dimension scalar aggregation (map-side
  *    combinable, d rows to the driver). Centering never materializes
  *    x−μ: the round computes Σ y·x and corrects with μ·Σy driver-side
  *    (the standard trick — a centered copy of a 100 TB corpus would
  *    double storage AND break integer exactness).
  *  - every cross-row sum is over INTEGER-VALUED doubles (quantized
  *    inputs × quantized projections), so results are exact under any
  *    partitioning; every derived double (μ=S/n, g=s−μ·t, v=g/‖g‖,
  *    folds) is the identical IEEE op sequence in both engines — the
  *    whole PcaIters-round run replays bit-exactly as unrolled DuckDB
  *    CTEs (the q_kmeans §5 discipline).
  */
object PcaOp {

  /** Input quantizer scale (shared with L26's k-means). */
  private val Scale = KMeansOp.KmScale
  /** Per-round projection quantizer: y → round(y·256)/— keeps the
    * gramian sums integer-exact; 1/256 projection resolution is far
    * below the corpus' variance floor. */
  private val S2 = 256.0
  /** Fixed round count (no early exit — the oracle unrolls exactly
    * this many CTE rounds; a converged round is a fixed point). */
  private val PcaIters = 4

  /** Driver-side sequential left fold Σ a·b — the exact op order of the
    * oracle's `list_reduce(list_cat([0.0], products), +)`. */
  private def foldDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Scalar twin of [[VectorExpr.quantize]]'s parity formula. Spark's
    * `floor` returns LongType (DuckDB's returns DOUBLE) — cast back so
    * every downstream sum is the double-typed exact-integer sum the
    * oracle computes. */
  private def quantScalar(u: Column): Column =
    when(u >= 0, floor(u + lit(0.5))).otherwise(-floor(-u + lit(0.5)))
      .cast(DoubleType)

  /** (μ per dim, n) then `PcaIters` power-iteration rounds; returns the
    * final unit component. `q` must be the staged quantized frame. */
  private def powerIterate(q: DataFrame): (Array[Double], Array[Double]) = {
    val stats = q
      .select(posexplode(col("qv")).as(Seq("p", "x")))
      .groupBy("p").agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .collect().sortBy(_.getInt(0))
    val dims = stats.length
    val n = stats.head.getLong(2)
    val mu = stats.map(r => r.getDouble(1) / n)
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 1 to PcaIters) {
      val m = foldDot(mu, v)
      val yq = quantScalar((VectorExpr.dot(col("qv"), typedlit(v.toSeq)) - lit(m)) * lit(S2))
      val sums = q
        .withColumn("yq", yq)
        .select(col("yq"), posexplode(col("qv")).as(Seq("p", "x")))
        .groupBy("p").agg(sum(col("yq") * col("x")).as("s"), sum("yq").as("t"))
        .collect().sortBy(_.getInt(0))
      val t = sums.head.getDouble(2) // Σyq is the same at every p
      val g = sums.map(r => r.getDouble(1) - mu(r.getInt(0)) * t)
      val norm = math.sqrt(foldDot(g, g))
      v = g.map(_ / norm)
    }
    (mu, v)
  }

  val defs: Seq[QDef] = Seq(
    // L45: per-label projection of the corpus onto the trained top
    // component — class separation along PC1 (labels whose projection
    // means coincide are not linearly separable in the dominant
    // direction). pq sums are exact integers; the mean is one division.
    QDef(
      "q_pca_power",
      (s, d) => {
        val q = quantizedLabeled(s, d)
        val (mu, v) = powerIterate(q)
        val m = foldDot(mu, v)
        val pq = quantScalar(
          (VectorExpr.dot(col("qv"), typedlit(v.toSeq)) - lit(m)) * lit(S2))
        q.withColumn("pq", pq)
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum("pq").cast("long").as("pq_sum"),
            round(sum("pq") / (count(lit(1)) * lit(S2)), 4).as("mean_proj"))
          .orderBy("label")
      },
      Some(pcaOracle))
  )

  /** Quantized (vec_id, label, qv) frame, staged per (session, dir)
    * ([[DirFrames]]). An eager per-invocation release would drop the
    * cache BEFORE the returned projection frame (the largest pass) ever
    * executes, re-quantizing the corpus for exactly the consumer the
    * stage exists to serve. */
  private def quantizedLabeled(s: SparkSession, d: String): DataFrame =
    DirFrames.staged(s, d, "pca")(T.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        VectorExpr.quantize(
          col("embedding").cast(ArrayType(DoubleType)), Scale).as("qv"))
      .filter(col("qv").isNotNull))

  /** DuckDB replay: quantize → μ/n → v0 = 1/√d → PcaIters unrolled
    * rounds (z fold, yq quantize, Σyq·x / Σyq per dim, center, normalize)
    * → final per-label projection stats. Every list fold mirrors the
    * Spark sequential order. */
  private def pcaOracle: String = {
    val qx = s"CAST(x AS DOUBLE)*$Scale"
    val quant = s"CASE WHEN $qx >= 0 THEN floor($qx + 0.5) ELSE -floor(-($qx) + 0.5) END"
    def fold(expr: String) =
      s"list_reduce(list_cat([0.0], $expr), (acc,e) -> acc+e)"
    // z = v·pc fold for a row alias `a` against the 1-row component CTE `w`
    def zFold(pcCol: String) =
      fold(s"list_transform(range(1, len(a.v)+1), i -> a.v[i]*w.$pcCol[i])")
    def round(r: Int): String = {
      val prev = s"pc${r - 1}"
      s"""m$r AS (SELECT ${fold(s"list_transform(range(1, len(w.pv)+1), i -> mv.ml[i]*w.pv[i])")} AS m
         |  FROM muv mv CROSS JOIN $prev w),
         |y$r AS (SELECT a.vec_id, a.v,
         |    CASE WHEN (${zFold("pv")} - m.m)*$S2 >= 0
         |      THEN floor((${zFold("pv")} - m.m)*$S2 + 0.5)
         |      ELSE -floor(-((${zFold("pv")} - m.m)*$S2) + 0.5) END AS yq
         |  FROM vv a CROSS JOIN pc${r - 1} w CROSS JOIN m$r m),
         |e$r AS (SELECT yq, unnest(v) AS x, unnest(range(1, len(v)+1)) AS p FROM y$r),
         |s$r AS (SELECT p, sum(yq*x) AS s, sum(yq) AS t FROM e$r GROUP BY p),
         |g$r AS (SELECT s$r.p, s$r.s - mu.m * s$r.t AS g FROM s$r JOIN mu ON s$r.p = mu.p),
         |gl$r AS (SELECT list(g ORDER BY p) AS gl FROM g$r),
         |pc$r AS (SELECT list_transform(gl, x -> x / sqrt(${fold("list_transform(gl, x -> x*x)")})) AS pv
         |  FROM gl$r)""".stripMargin
    }
    val rounds = (1 to PcaIters).map(round).mkString(",\n")
    s"""WITH v0 AS (SELECT vec_id, label, list_transform(embedding, x -> $quant) AS v
       |  FROM embeddings),
       |vv AS (SELECT vec_id, label, v FROM v0 WHERE v IS NOT NULL),
       |st AS (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS p FROM vv),
       |mu AS (SELECT p, sum(x)/count(*) AS m FROM st GROUP BY p),
       |muv AS (SELECT list(m ORDER BY p) AS ml FROM mu),
       |dd AS (SELECT min(len(v)) AS d FROM vv),
       |pc0 AS (SELECT list_transform(range(1, d+1), i -> 1.0/sqrt(CAST(d AS DOUBLE))) AS pv
       |  FROM dd),
       |$rounds,
       |mF AS (SELECT ${fold(s"list_transform(range(1, len(w.pv)+1), i -> mv.ml[i]*w.pv[i])")} AS m
       |  FROM muv mv CROSS JOIN pc$PcaIters w),
       |prj AS (SELECT a.vec_id, a.label,
       |    CASE WHEN (${zFold("pv")} - m.m)*$S2 >= 0
       |      THEN floor((${zFold("pv")} - m.m)*$S2 + 0.5)
       |      ELSE -floor(-((${zFold("pv")} - m.m)*$S2) + 0.5) END AS pq
       |  FROM vv a CROSS JOIN pc$PcaIters w CROSS JOIN mF m)
       |SELECT label, count(*) AS n, CAST(sum(pq) AS BIGINT) AS pq_sum,
       |  round(sum(pq) / (count(*)*$S2), 4) AS mean_proj
       |FROM prj GROUP BY label ORDER BY label""".stripMargin
  }
}
