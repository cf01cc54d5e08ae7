package graft.operators

import graft.{QDef, Tables => T}
import graft.functions.Text
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Inverted-index construction over the documents corpus (SURVEY §2.3
  * L24) — the retrieval-side complement of decontamination (L20): term →
  * document frequency + head-of-posting-list, df-banded.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - TWO passes, not one. Pass 1 computes df per term — a map-side-
  *    combinable count of scalar pairs, no lists anywhere. The df band
  *    (floor drops hapax noise; ceiling drops stopwords, defined
  *    corpus-relatively as "in > 90% of documents" with N from parquet
  *    footer metadata — driver-side, zero Spark jobs) filters THAT
  *    result, and only then does pass 2 materialize postings, for
  *    surviving terms only. A one-aggregation plan would build the full
  *    posting array of every stopword before dropping it — unbounded
  *    per-group state, the classic index-build OOM.
  *  - Posting materialization itself is BOUNDED AND MERGEABLE: the
  *    MinNRows aggregate keeps the 20 smallest doc_ids per term with
  *    ≤ 20 entries per term per partition crossing the shuffle (no
  *    per-term sort task anywhere — a hot term near the 0.9·N ceiling
  *    is partial-aggregated map-side like any other), so no task ever
  *    holds state longer than the cap — full postings at scale would
  *    be written sharded, exactly this plan per shard.
  *
  * The oracle replays the band (scalar-subquery ceiling — SF-portable),
  * the ranked head, and the list ordering exactly; integer/string
  * semantics only, so no float-divergence risk anywhere.
  */
object Indexing {

  private val MinDf = 5
  private val HeadLen = 20
  private val Top = 200

  // BM25 (L38): standard Robertson/Sparck-Jones parameters
  private val K1 = 1.2
  private val B = 0.75
  private val QSkip = 10 // skip the 10 highest-df terms (corpus stopwords)
  private val QTerms = 8 // query = the next 8 by (df desc, term asc)
  private val TopDocs = 50
  /** L59: semantic-side candidate depth for the RRF fusion. */
  private val SemTop = 20

  val defs: Seq[QDef] = Seq(
    QDef(
      "q_inverted_index",
      (s, d) => {
        val maxDf = T.metadataRowCount(s, d, "documents") * 9 / 10
        // pairs feeds the df pass AND the posting materialization — one
        // staged frame, not two corpus tokenizations (shared-stage rule;
        // the distinct is the expensive half)
        val pairs = Bridge.stage(T.documents(s, d)
          .select(col("doc_id"), explode(Text.words(col("text"))).as("term"))
          .distinct()) // presence, not tf: one (doc, term) pair each
        try {
          val kept = pairs.groupBy("term").agg(count(lit(1)).as("df"))
            .filter(col("df") >= MinDf && col("df") <= maxDf)
          // head-cap via the bounded MinNRows aggregate, NOT a row_number
          // window: the band ceiling is 0.9·N, so a near-universal term
          // would still sort up to 0.9·N rows in ONE task under the
          // window form (the per-key-window hot-key wall, CLAUDE.md
          // rule). The aggregate ships ≤ HeadLen doc_ids per term per
          // partition across the shuffle and its array arrives already
          // sorted ascending — bit-identical to the window + sort_array
          // form (doc_id is unique ⇒ total order).
          // head rendered as a comma-joined STRING, not array<long>: the
          // driver's oracle harness hashes result cells via pandas, which
          // cannot hash ndarray cells — oracle-checked outputs must be
          // scalar columns only (r8 verdict #1).
          val result = pairs.join(kept, "term")
            .groupBy("term", "df")
            .agg(graft.functions.MinNAgg.minNRows(HeadLen,
              Seq(("doc_id", col("doc_id"), false))).as("h"))
            .withColumn("postings_head",
              array_join(col("h").cast("array<string>"), ","))
            .drop("h")
            .orderBy(desc("df"), col("term"))
            .limit(Top)
          val rows = result.collect() // bounded (Top) — release the stage
          s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        } finally Bridge.release(pairs)
      },
      Some(s"""WITH pairs AS (SELECT DISTINCT doc_id, term FROM (
              |    SELECT doc_id, unnest(string_split_regex(trim(text),'\\s+')) AS term
              |    FROM documents) t),
              |d AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
              |k AS (SELECT term, df FROM d
              |      WHERE df >= $MinDf AND df <= (SELECT count(*)*9//10 FROM documents)),
              |r AS (SELECT k.term, k.df, pairs.doc_id,
              |        row_number() OVER (PARTITION BY k.term ORDER BY pairs.doc_id) AS rn
              |      FROM pairs JOIN k USING (term)),
              |p AS (SELECT term, df,
              |        array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
              |          AS postings_head
              |      FROM r WHERE rn <= $HeadLen GROUP BY term, df)
              |SELECT term, df, postings_head FROM p
              |ORDER BY df DESC, term LIMIT $Top""".stripMargin)),

    /** BM25 ranking (L38) — the scoring-side complement of the inverted
      * index: score every document against a deterministic 8-term query
      * (the terms ranked 11-18 by document frequency — high-signal,
      * sub-stopword) and return the top 50 by rounded score.
      *
      * Scale shape: ONE tokenization pass feeds all three statistics —
      * dl (per-doc length, a map-combinable count), df (distinct-pair
      * count, same plan as L24), and tf (counted only for the 8 query
      * terms, so the scored frame is tiny). avgdl is an EXACT integer
      * sum over docs divided once (sum of longs in double is exact below
      * 2^53 — no cross-row float-order divergence), the df/idf table is
      * 8 rows broadcast, and the only full-corpus shuffles are the two
      * scalar-pair aggregations. Driver state: 18 (term, df) rows.
      * Ordering/parity: both engines order by the ROUNDED score (ties by
      * doc_id), so sub-ULP ln/sum differences cannot flip the cutoff.
      */
    QDef("q_rank_bm25", bm25TopDocs,
      Some(s"""WITH $Bm25Ctes
              |SELECT doc_id, matched, score FROM sc
              |ORDER BY score DESC, doc_id LIMIT $TopDocs""".stripMargin)),

    // L59: hybrid retrieval — reciprocal-rank fusion (RRF, k = 60) of
    // the BM25 lexical ranking (L38, shared computation) and a
    // brute-cosine semantic ranking against the vec_id-0 probe (the
    // synthetic corpus convention: embedding i ↔ document i). RRF is
    // the standard hybrid-search combiner (rank-only, so the two score
    // scales never need calibration). Parity: both rankings order by
    // ROUNDED scores (2dp BM25 / 6dp cosine, ties by id) before ranks
    // exist, ranks are exact integers, and the fused score is the same
    // two IEEE divisions + one addition on both engines, rounded 6dp
    // before the final cut. Scale: BM25's one-tokenize-pass plan + a
    // one-probe broadcast cosine scan; the fusion join is ≤ 70 rows.
    QDef(
      "q_hybrid_rank",
      (s, d) => {
        val lex = bm25TopDocs(s, d)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(desc("score"), col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("lex_rank"))
        val n = T.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(graft.functions.VectorExpr.dot(col("v"), col("v"))))
          .filter(col("nrm") > 0)
        val probe = n.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qn"))
        val sem = n.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .withColumn("cos", round(
            graft.functions.VectorExpr.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
          .orderBy(desc("cos"), col("vec_id")).limit(SemTop)
          .withColumn("sem_rank", row_number().over(
            Window.orderBy(desc("cos"), col("vec_id"))).cast("long"))
          .select(col("vec_id").as("doc_id"), col("sem_rank"))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60L) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("sem_rank")), lit(0.0)), 6))
          .orderBy(desc("rrf"), col("doc_id")).limit(10)
          .select(col("doc_id"),
            coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
            coalesce(col("sem_rank"), lit(0L)).as("sem_rank"),
            col("rrf"))
      },
      Some(s"""WITH $Bm25Ctes,
              |lextop AS (SELECT doc_id, score FROM sc
              |           ORDER BY score DESC, doc_id LIMIT $TopDocs),
              |lexr AS (SELECT doc_id, row_number() OVER
              |           (ORDER BY score DESC, doc_id) AS lex_rank FROM lextop),
              |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
              |      FROM embeddings),
              |nv AS (SELECT vec_id, v, nrm FROM (
              |  SELECT vec_id, v,
              |    sqrt(list_reduce(list_cat([0.0], list_transform(v, x -> x*x)),
              |      (a,x) -> a+x)) nrm FROM e) WHERE nrm > 0),
              |qv AS (SELECT v, nrm FROM nv WHERE vec_id = 0),
              |cosr AS (SELECT c.vec_id AS doc_id,
              |    round(list_reduce(list_cat([0.0],
              |        list_transform(range(1, len(qv.v)+1), i -> qv.v[i]*c.v[i])),
              |      (a,x) -> a+x) / (qv.nrm * c.nrm), 6) AS cos
              |  FROM nv c, qv WHERE c.vec_id <> 0),
              |semtop AS (SELECT doc_id, cos FROM cosr
              |           ORDER BY cos DESC, doc_id LIMIT $SemTop),
              |semr AS (SELECT doc_id, row_number() OVER
              |           (ORDER BY cos DESC, doc_id) AS sem_rank FROM semtop),
              |fused AS (SELECT doc_id, lex_rank, sem_rank,
              |    round(COALESCE(1.0/(60 + lex_rank), 0)
              |        + COALESCE(1.0/(60 + sem_rank), 0), 6) AS rrf
              |  FROM lexr FULL JOIN semr USING (doc_id))
              |SELECT doc_id, CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
              |  CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank, rrf
              |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin))
  )

  /** BM25 result frame (doc_id, matched, score), shared by q_rank_bm25
    * and the L59 hybrid fusion. */
  private[operators] def bm25TopDocs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
        // ONE tokenize pass + ONE (doc,term) shuffle: every statistic —
        // dl (sum of tf per doc), df (row count per term), tf (filtered
        // rows) — derives from the staged tf frame. Naively deriving
        // the three from the raw token stream re-tokenizes the corpus
        // three times; at 100 TB those are three full scans.
        val grouped = Bridge.stage(T.documents(s, d)
          .select(col("doc_id"), explode(Text.words(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
        try {
          val dl = grouped.groupBy("doc_id").agg(sum("tf").as("dl"))
          val nDocs = T.metadataRowCount(s, d, "documents")
          val avgdl = dl.agg(sum("dl")).head().getLong(0).toDouble / nDocs
          val dfAll = grouped.groupBy("term").agg(count(lit(1)).as("df"))
          val qterms = dfAll.orderBy(desc("df"), col("term"))
            .limit(QSkip + QTerms).collect().drop(QSkip)
            .map(r => (r.getString(0), r.getLong(1)))
          val qdf = s.createDataFrame(
            s.sparkContext.parallelize(qterms.toSeq.map(Row.fromTuple), 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("term",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("df",
                org.apache.spark.sql.types.LongType))))
          val idf = log(
            (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          val score = idf * (col("tf") * lit(K1 + 1.0)) /
            (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(avgdl)))
          val result = grouped.join(broadcast(qdf), "term")
            .join(dl, "doc_id")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("matched"), round(sum(score), 2).as("score"))
            .orderBy(desc("score"), col("doc_id"))
            .limit(TopDocs)
            .select("doc_id", "matched", "score")
          // materialize the (bounded) result before releasing the stage
          val rows = result.collect()
          s.createDataFrame(
            s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        } finally Bridge.release(grouped)
  }

  /** The BM25 oracle CTE chain (ends at `sc`), shared by the q_rank_bm25
    * oracle and the L59 hybrid fusion oracle. */
  private lazy val Bm25Ctes: String =
    s"""toks AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(text),'\\s+')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n,
       |         CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
       |           / (SELECT count(*) FROM documents) AS avgdl),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
       |q AS (SELECT term, df FROM df
       |      ORDER BY df DESC, term LIMIT $QTerms OFFSET $QSkip),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
       |sc AS (SELECT tf.doc_id, count(*) AS matched,
       |         round(sum(
       |           ln((st.n - q.df + 0.5)/(q.df + 0.5) + 1.0)
       |             * (tf.tf * ${K1 + 1.0})
       |             / (tf.tf + $K1 * (${1.0 - B} + $B * dl.dl / st.avgdl))), 2)
       |           AS score
       |       FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |       GROUP BY tf.doc_id)""".stripMargin
}
