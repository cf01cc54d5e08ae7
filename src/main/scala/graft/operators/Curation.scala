package graft.operators

import graft.{QDef, Tables => T}
import graft.functions.{HashExpr, Text}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Corpus-curation operators beyond the dedup/decontamination family
  * (SURVEY §2.3 L28–L31): per-source quota caps, corpus-adaptive
  * vocabulary coverage, per-language distinctive terms, and
  * temperature-weighted mixture sampling — the remaining knobs a
  * training-data pipeline turns between "raw corpus" and "export".
  *
  * Determinism discipline (shared with L14): every sampling/selection
  * decision is a pure function of the data via poly_hash64 — stable
  * across runs, partitionings and task retries, and exactly replayable
  * by the DuckDB oracle. Every ratio in an output is a SINGLE division
  * of exact integers (bit-identical IEEE both engines); no cross-row
  * float accumulation anywhere.
  */
object Curation {

  /** L28: max docs kept per source. */
  val QuotaN = 10
  /** L29: corpus-adaptive vocabulary size. */
  val VocabV = 200
  /** L30: minimum corpus df for a distinctive term (drops hapax noise). */
  val TermMinDf = 5
  /** L31: temperature exponent is 1/2 (sqrt — IEEE-exact both engines). */
  val TempBps = 10000L

  /** DuckDB polyhash of `doc_id ':' <col>` (mirrors HashExpr.polyHash —
    * shared builder, see Dedup.polyHashSqlOf). */
  private def polySql(saltCol: String): String =
    Dedup.polyHashSqlOf(s"CAST(doc_id AS VARCHAR) || ':' || $saltCol")

  val defs: Seq[QDef] = Seq(
    // L28: per-source quota cap — keep at most QuotaN docs per source,
    // chosen deterministically by (hash, doc_id) order (the common-crawl
    // "cap every domain" rule). NOT a row_number window: a sort-based
    // window must co-locate and sort EVERY row of a key in one task —
    // the hot-key wall at 100 TB. MinNSummary is the bounded two-stage
    // form: map-side combinable, ≤ N entries per key per partition
    // cross the shuffle (the KMV/KLL/MG bounded-state idiom applied to
    // selection); selection by the total order (hash, doc_id) is
    // merge-order independent, so the kept set is bit-identical to the
    // window formulation under any partitioning (MinNSpec proves both).
    QDef(
      "q_quota_cap",
      (s, d) => {
        val h = HashExpr.polyHash(
          concat(col("doc_id").cast("string"), lit(":"), col("source")))
        T.documents(s, d)
          .groupBy("source")
          .agg(
            count(lit(1)).as("total"),
            graft.functions.MinNAgg.minNSummary(
              h, col("doc_id"), col("n_chars"), QuotaN).as("s"))
          .select(col("source"), col("total"),
            col("s.kept").as("kept"), col("s.payload_sum").as("kept_chars"))
          .orderBy("source")
      },
      Some(s"""WITH h AS (SELECT source, n_chars,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY ${polySql("source")}, doc_id) rn
              |  FROM documents)
              |SELECT source, count(*) AS total,
              |  CAST(sum(CASE WHEN rn <= $QuotaN THEN 1 ELSE 0 END) AS BIGINT) AS kept,
              |  CAST(sum(CASE WHEN rn <= $QuotaN THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
              |FROM h GROUP BY source ORDER BY source""".stripMargin)),

    // L29: corpus-adaptive vocabulary coverage — the C4/Gopher
    // "common-word ratio" quality signal with the vocabulary LEARNED
    // from the corpus itself: top-V words by document frequency (ties
    // by word), then per-doc fraction of distinct words in-vocabulary,
    // aggregated per lang as exact integer sums with ONE final
    // division. Two passes over the tokenized corpus (df pass + scoring
    // pass), both map-side combinable; the vocabulary is bounded V and
    // broadcasts. TakeOrdered handles top-V without a global sort.
    QDef(
      "q_vocab_coverage",
      (s, d) => {
        val words = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(array_distinct(Text.words(col("text")))).as("w"))
        val vocab = words.groupBy("w").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), col("w")).limit(VocabV)
          .select(col("w"), lit(1L).as("inv"))
        words.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("dw"), sum(coalesce(col("inv"), lit(0L))).as("hits"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"), sum("hits").as("vocab_hits"),
            sum("dw").as("distinct_words"))
          .withColumn("coverage",
            round(col("vocab_hits").cast("double") / col("distinct_words"), 4))
          .orderBy("lang")
      },
      Some(s"""WITH wd AS (SELECT doc_id, lang,
              |    unnest(list_distinct(string_split_regex(trim(text),'\\s+'))) w
              |  FROM documents),
              |dfq AS (SELECT w, count(*) df FROM wd GROUP BY w),
              |vocab AS (SELECT w FROM dfq ORDER BY df DESC, w LIMIT $VocabV),
              |pd AS (SELECT doc_id, lang, count(*) dw,
              |    sum(CASE WHEN vocab.w IS NOT NULL THEN 1 ELSE 0 END) hits
              |  FROM wd LEFT JOIN vocab ON wd.w = vocab.w
              |  GROUP BY doc_id, lang)
              |SELECT lang, count(*) AS docs,
              |  CAST(sum(hits) AS BIGINT) AS vocab_hits,
              |  CAST(sum(dw) AS BIGINT) AS distinct_words,
              |  round(CAST(sum(hits) AS DOUBLE)/sum(dw), 4) AS coverage
              |FROM pd GROUP BY lang ORDER BY lang""".stripMargin)),

    // L30: distinctive terms per language — presence-based TF-IDF:
    // score(term, lang) = docs-in-lang-containing / docs-containing,
    // df-floored to drop hapax noise; top-5 per lang. The score is one
    // division of two exact counts — bit-identical ranking both
    // engines; ties break (score desc, ldf desc, term). Two map-side-
    // combinable groupBys + one equality join on term, all linear; the
    // per-lang top-5 is the bounded MinNRows aggregate, NOT a window —
    // a window over lang sorts that language's WHOLE vocabulary in one
    // task, while the aggregate ships ≤ 5 rows per lang per partition
    // (selection by the total order (score desc, ldf desc, term) is
    // merge-independent; term is unique per (lang, term) group, so the
    // order is total). posexplode's pos + 1 IS the window's row_number.
    QDef(
      "q_tfidf_terms",
      (s, d) => {
        val pairs = T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(array_distinct(Text.words(col("text")))).as("term"))
        val cdf = pairs.groupBy("term").agg(count(lit(1)).as("cdf"))
          .filter(col("cdf") >= TermMinDf)
        val ldf = pairs.groupBy("lang", "term").agg(count(lit(1)).as("ldf"))
        ldf.join(cdf, "term")
          .withColumn("score", col("ldf").cast("double") / col("cdf"))
          .groupBy("lang")
          .agg(graft.functions.MinNAgg.minNRows(5,
            Seq(("score", col("score"), true), ("ldf", col("ldf"), true),
              ("term", col("term"), false)),
            Seq(("cdf", col("cdf")))).as("t"))
          .select(col("lang"), posexplode(col("t")))
          .select(col("lang"), (col("pos") + 1).cast("long").as("rn"),
            col("col.term").as("term"), col("col.ldf").as("ldf"),
            col("col.cdf").as("cdf"), round(col("col.score"), 4).as("score"))
          .orderBy("lang", "rn")
      },
      Some(s"""WITH pairs AS (SELECT doc_id, lang,
              |    unnest(list_distinct(string_split_regex(trim(text),'\\s+'))) term
              |  FROM documents),
              |cdf AS (SELECT term, count(*) cdf FROM pairs GROUP BY term
              |        HAVING count(*) >= $TermMinDf),
              |ldf AS (SELECT lang, term, count(*) ldf FROM pairs GROUP BY lang, term),
              |sc AS (SELECT lang, ldf.term, ldf, cdf.cdf,
              |    CAST(ldf AS DOUBLE)/cdf.cdf AS score
              |  FROM ldf JOIN cdf ON ldf.term = cdf.term),
              |r AS (SELECT lang, term, ldf, cdf, score,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY score DESC, ldf DESC, term) rn
              |  FROM sc)
              |SELECT lang, rn, term, ldf, cdf, round(score, 4) AS score
              |FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin)),

    // L31: temperature-weighted mixture sampling — per-lang keep rate ∝
    // sqrt(n_lang) (temperature α = 1/2), normalized so the largest
    // stratum keeps everything; the standard move that UP-weights
    // low-resource languages relative to proportional sampling. The
    // stratum counts are a bounded driver collect (one map-side-
    // combinable aggregate — langs, not rows); thresholds are derived
    // with IEEE-exact single ops (sqrt, one multiply, one divide,
    // floor) so the oracle replays them bit-identically, and the draw
    // itself is the L14 deterministic hash-threshold rule.
    QDef(
      "q_mixture_temperature",
      (s, d) => {
        val counts = T.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val mx = math.sqrt(counts.values.max.toDouble)
        val thr: Map[String, Long] = counts.map { case (l, n) =>
          l -> math.floor(TempBps * math.sqrt(n.toDouble) / mx).toLong
        }
        val h = pmod(
          HashExpr.polyHash(
            concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
          lit(TempBps))
        val thrCol = thr.foldLeft(lit(0L)) { case (acc, (l, t)) =>
          when(col("lang") === l, lit(t)).otherwise(acc)
        }
        T.documents(s, d)
          .withColumn("thr", thrCol)
          .groupBy("lang", "thr")
          .agg(count(lit(1)).as("n"),
            sum(when(h < col("thr"), 1L).otherwise(0L)).as("kept"))
          .select(col("lang"), col("n"), col("thr"), col("kept"))
          .orderBy("lang")
      },
      Some(s"""WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY lang),
              |mx AS (SELECT sqrt(CAST(max(n) AS DOUBLE)) m FROM c),
              |t AS (SELECT lang, n,
              |    CAST(floor($TempBps * sqrt(CAST(n AS DOUBLE)) / (SELECT m FROM mx)) AS BIGINT) thr
              |  FROM c),
              |h AS (SELECT lang, ${polySql("lang")} % $TempBps hv FROM documents)
              |SELECT t.lang, CAST(t.n AS BIGINT) AS n, t.thr,
              |  CAST(sum(CASE WHEN h.hv < t.thr THEN 1 ELSE 0 END) AS BIGINT) AS kept
              |FROM h JOIN t USING (lang) GROUP BY t.lang, t.n, t.thr
              |ORDER BY t.lang""".stripMargin)),

    // L37: deterministic stratified train/val/test split — the export
    // step every training pipeline ends with. The assignment is a pure
    // function of (doc_id, lang) via poly_hash64 with a split-specific
    // salt (independent of the L14/L31 sampling draws): stable across
    // runs/partitionings/retries, reproducible from the raw corpus
    // alone, and exactly replayable by the oracle. 90/5/5 by hash
    // bands; hashing (doc_id, lang) stratifies each language at the
    // same expected proportions without a per-stratum shuffle — one
    // linear pass, map-side-combinable groupBy. The per-lang fraction
    // is ONE division of exact integers (same IEEE op both engines).
    // Disjoint + exhaustive by construction (CASE bands partition
    // [0,10000)); CurationSpec proves it on the materialized frame.
    QDef(
      "q_split_train",
      (s, d) => {
        val h = pmod(
          HashExpr.polyHash(concat(
            lit("split:"), col("doc_id").cast("string"), lit(":"), col("lang"))),
          lit(10000L))
        T.documents(s, d)
          .withColumn("split",
            when(h < 9000, "train").when(h < 9500, "val").otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .withColumn("lang_total",
            sum("n").over(Window.partitionBy("lang")))
          .withColumn("frac",
            round(col("n").cast("double") / col("lang_total"), 4))
          .orderBy("lang", "split")
      },
      Some(s"""WITH h AS (SELECT lang, n_chars,
              |  ${Dedup.polyHashSqlOf("'split:' || CAST(doc_id AS VARCHAR) || ':' || lang")} % 10000 AS hv
              |  FROM documents),
              |s AS (SELECT lang, n_chars,
              |  CASE WHEN hv < 9000 THEN 'train'
              |       WHEN hv < 9500 THEN 'val' ELSE 'test' END AS split
              |  FROM h),
              |g AS (SELECT lang, split, count(*) AS n, sum(n_chars) AS chars
              |  FROM s GROUP BY 1, 2)
              |SELECT lang, split, CAST(n AS BIGINT) AS n,
              |  CAST(chars AS BIGINT) AS chars,
              |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
              |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT), 4) AS frac
              |FROM g ORDER BY lang, split""".stripMargin)),

    // L44: per-language vocabulary shape (Zipf diagnostics) — token
    // count, type count, hapax-legomena count, type/token ratio and
    // hapax/type ratio. TTR and hapax share are the standard corpus
    // health probes (a scraped corpus whose TTR collapses is template
    // spam; a hapax share near 1 is OCR noise). Two map-side-combinable
    // aggregations — (lang, word) term frequencies, then per-lang
    // reduction; vocabulary is sublinear in the corpus (Heaps' law), so
    // the second shuffle SHRINKS with scale relative to the first. Each
    // ratio is ONE division of exact integers (bit-identical IEEE both
    // engines, §5 discipline) — no cross-row float accumulation.
    QDef(
      "q_vocab_zipf",
      (s, d) => {
        val tf = T.documents(s, d)
          .select(col("lang"), explode(graft.functions.Text.words(col("text"))).as("w"))
          .groupBy("lang", "w")
          .agg(count(lit(1)).as("f"))
        tf.groupBy("lang")
          .agg(
            sum("f").as("tokens"),
            count(lit(1)).as("types"),
            sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
          .select(col("lang"), col("tokens"), col("types"), col("hapax"),
            round(col("types").cast("double") / col("tokens").cast("double"), 6).as("ttr"),
            round(col("hapax").cast("double") / col("types").cast("double"), 6).as("hapax_share"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang,
             |    unnest(string_split_regex(trim(text),'\s+')) AS w FROM documents),
             |tf AS (SELECT lang, w, count(*) AS f FROM t GROUP BY lang, w)
             |SELECT lang, CAST(sum(f) AS BIGINT) AS tokens,
             |  count(*) AS types,
             |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             |  round(CAST(count(*) AS DOUBLE) / CAST(sum(f) AS DOUBLE), 6) AS ttr,
             |  round(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS hapax_share
             |FROM tf GROUP BY lang ORDER BY lang""".stripMargin)),

    // L47: token-length histogram — power-of-two length buckets per
    // language (doc counts + token mass), the input a sequence-packing
    // planner (L16) reads to pick its window/stride and a curation
    // pipeline watches for truncation cliffs. Bucket = number of binary
    // digits of the token count (bin() is exact integer rendering on
    // both engines — no float log2 whose x.9999 at exact powers flips a
    // bucket). One linear pass, (lang × ~12 buckets) keys — map-side
    // combinable, output bounded at any corpus size.
    QDef(
      "q_len_histogram",
      (s, d) =>
        T.documents(s, d)
          .select(col("lang"),
            size(graft.functions.Text.words(col("text"))).as("ntok"))
          .select(col("lang"), col("ntok"),
            length(bin(col("ntok"))).cast("long").as("b"))
          .groupBy("lang", "b")
          .agg(count(lit(1)).as("docs"), sum("ntok").as("toks"))
          .orderBy("lang", "b"),
      Some("""WITH t AS (SELECT lang,
             |    len(string_split_regex(trim(text),'\s+')) AS ntok FROM documents)
             |SELECT lang, CAST(length(bin(ntok)) AS BIGINT) AS b,
             |  count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS toks
             |FROM t GROUP BY lang, b ORDER BY lang, b""".stripMargin)),

    // L51: token-budget corpus selection — the data-mixing primitive:
    // per language, greedily keep the highest-quality documents until a
    // token budget (here lang_total div 4) is spent. Quality is banded
    // to an integer (floor of 1000 × alphanumeric ratio — a single
    // exact-int division then floor, deterministic both engines), so
    // selection is: whole bands best-first while they fit, then the one
    // BOUNDARY band fills the remainder in doc_id order. Scale shape:
    // the band aggregation is map-combinable over ≤ langs×1001 keys;
    // the band-level cumulative walk is a window over those same
    // bounded keys; only the single boundary band (~1/1000 of the
    // corpus) pays a per-doc running sum. Every number is an exact
    // integer — bit-stable under any partitioning.
    QDef(
      "q_budget_select",
      (s, d) => {
        // ONE fused byte pass per document (TextStats: ntok/alnum/len)
        // replaces the tokenize-array + per-char regexp_replace trio —
        // the banding arithmetic below is the identical IEEE sequence on
        // the identical integers (TextStatsSpec pins the equivalence).
        val st = graft.functions.TextStatsExpr.textStats(col("text"))
        val len = st.getField("len")
        val alnum = st.getField("alnum")
        // the doc-stats pass feeds three branches of one action —
        // stage it once (4 scalars/doc, the "doc stats" table a real
        // pipeline stages; a lazy frame recomputes the text scan per
        // branch)
        val t = Bridge.stage(T.documents(s, d).select(
          col("lang"), col("doc_id"),
          st.getField("ntok").as("ntok"),
          when(len > 0, floor(lit(1000.0) * (alnum.cast("double") / len.cast("double"))))
            .otherwise(lit(0L)).cast("long").as("b")))
        val bands = t.groupBy("lang", "b")
          .agg(sum("ntok").as("toks"), count(lit(1)).as("docs"))
        val wCum = Window.partitionBy("lang").orderBy(desc("b"))
        val cum = bands.withColumn("cumtoks", sum("toks").over(wCum))
        // total tokens per lang = sum of its band sums: derive the
        // budget from the band aggregate, not a second corpus pass
        val bud = bands.groupBy("lang").agg(expr("sum(toks) div 4").as("bb"))
        val fullAgg = cum.join(bud, "lang").filter(col("cumtoks") <= col("bb"))
          .groupBy("lang")
          .agg(sum("docs").as("full_docs"), sum("toks").as("full_toks"))
        val cutoff = cum.join(bud, "lang").filter(col("cumtoks") > col("bb"))
          .groupBy("lang").agg(max("b").as("cb"))
        val wDoc = Window.partitionBy("lang").orderBy("doc_id")
        // rename the join keys: cutoff derives from t, and a self-join on
        // the shared lineage's `lang` is ambiguous to the analyzer
        val cutoffR = cutoff.withColumnRenamed("lang", "cl")
        val boundary = t.join(cutoffR, col("lang") === col("cl") && col("b") === col("cb"))
          .select(col("lang"), col("doc_id"), col("ntok"))
          .withColumn("cum2", sum("ntok").over(wDoc))
        val rem = bud.join(fullAgg, Seq("lang"), "left")
          .select(col("lang"), (col("bb") - coalesce(col("full_toks"), lit(0L))).as("rem"))
        val bndAgg = boundary.join(rem, "lang").filter(col("cum2") <= col("rem"))
          .groupBy("lang")
          .agg(count(lit(1)).as("bnd_docs"), sum("ntok").as("bnd_toks"))
        bud
          .join(fullAgg, Seq("lang"), "left")
          .join(cutoff, Seq("lang"), "left")
          .join(bndAgg, Seq("lang"), "left")
          .select(col("lang"), col("bb"),
            coalesce(col("cb"), lit(-1L)).as("cb"),
            coalesce(col("full_docs"), lit(0L)).as("full_docs"),
            coalesce(col("full_toks"), lit(0L)).as("full_toks"),
            coalesce(col("bnd_docs"), lit(0L)).as("bnd_docs"),
            coalesce(col("bnd_toks"), lit(0L)).as("bnd_toks"))
          .withColumn("sel_toks", col("full_toks") + col("bnd_toks"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang, doc_id,
             |    CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS ntok,
             |    CASE WHEN length(text) > 0 THEN CAST(floor(1000.0 *
             |        (CAST(length(regexp_replace(text,'[^A-Za-z0-9]','','g')) AS DOUBLE)
             |         / CAST(length(text) AS DOUBLE))) AS BIGINT)
             |      ELSE 0 END AS b
             |  FROM documents),
             |bands AS (SELECT lang, b, CAST(sum(ntok) AS BIGINT) toks, count(*) docs
             |  FROM t GROUP BY lang, b),
             |cum AS (SELECT lang, b, toks, docs,
             |    CAST(sum(toks) OVER (PARTITION BY lang ORDER BY b DESC) AS BIGINT) cumtoks
             |  FROM bands),
             |bud AS (SELECT lang, CAST(sum(ntok) // 4 AS BIGINT) bb FROM t GROUP BY lang),
             |fullagg AS (SELECT c.lang, CAST(sum(c.docs) AS BIGINT) full_docs,
             |    CAST(sum(c.toks) AS BIGINT) full_toks
             |  FROM cum c JOIN bud USING (lang) WHERE c.cumtoks <= bb GROUP BY c.lang),
             |cutoff AS (SELECT c.lang, max(c.b) cb
             |  FROM cum c JOIN bud USING (lang) WHERE c.cumtoks > bb GROUP BY c.lang),
             |rem AS (SELECT bud.lang, bb - coalesce(full_toks, 0) AS rem
             |  FROM bud LEFT JOIN fullagg ON bud.lang = fullagg.lang),
             |bnd AS (SELECT t.lang, t.doc_id, t.ntok,
             |    CAST(sum(t.ntok) OVER (PARTITION BY t.lang ORDER BY t.doc_id) AS BIGINT) cum2
             |  FROM t JOIN cutoff ON t.lang = cutoff.lang AND t.b = cutoff.cb),
             |bndagg AS (SELECT bnd.lang, count(*) bnd_docs, CAST(sum(ntok) AS BIGINT) bnd_toks
             |  FROM bnd JOIN rem ON bnd.lang = rem.lang WHERE cum2 <= rem.rem GROUP BY bnd.lang)
             |SELECT bud.lang, bb,
             |  coalesce(cutoff.cb, -1) AS cb,
             |  coalesce(full_docs, 0) AS full_docs,
             |  coalesce(full_toks, 0) AS full_toks,
             |  coalesce(bnd_docs, 0) AS bnd_docs,
             |  coalesce(bnd_toks, 0) AS bnd_toks,
             |  coalesce(full_toks, 0) + coalesce(bnd_toks, 0) AS sel_toks
             |FROM bud
             |LEFT JOIN fullagg ON bud.lang = fullagg.lang
             |LEFT JOIN cutoff ON bud.lang = cutoff.lang
             |LEFT JOIN bndagg ON bud.lang = bndagg.lang
             |ORDER BY bud.lang""".stripMargin)),

    // L52: train/test contamination report — the leak check run AFTER
    // the split (L37) and BEFORE eval: fraction of each test doc's
    // distinct shingles present anywhere in the train split, leaked =
    // containment ≥ 1/2 in exact integer form (2·hits ≥ sz). The L20
    // decontamination shape turned inward: candidate generation is ONE
    // shingle-equality join of the (5%) test explosion against the
    // vocabulary-bounded DISTINCT train-shingle presence set — never
    // doc×doc pairs, never a corpus self-join. Consumes the SHARED
    // staged shingle frame; split assignment replays L37's salted
    // hash exactly. Counts exact integers; leak_rate one division.
    QDef(
      "q_split_leakage",
      (s, d) => {
        val hv = pmod(
          HashExpr.polyHash(concat(
            lit("split:"), col("doc_id").cast("string"), lit(":"), col("lang"))),
          lit(10000L))
        val docs = T.documents(s, d).select(col("doc_id"), col("lang"))
          .withColumn("hv", hv)
        val tagged = Dedup.docsWithShingles(s, d)
          .join(docs, "doc_id").filter(size(col("sh")) >= 1)
        val trainG = tagged.filter(col("hv") < 9000)
          .select(explode(col("sh")).as("g")).distinct()
          .withColumn("hit", lit(1))
        val testEx = tagged.filter(col("hv") >= 9500)
          .select(col("doc_id"), col("lang"),
            size(col("sh")).cast("long").as("sz"), explode(col("sh")).as("g"))
        val perDoc = testEx.join(trainG, Seq("g"), "left")
          .groupBy("doc_id", "lang")
          .agg(max("sz").as("sz"), count(col("hit")).as("hits"))
        perDoc.groupBy("lang")
          .agg(
            count(lit(1)).as("n_test"),
            sum(when(col("hits") * 2 >= col("sz"), 1L).otherwise(0L)).as("n_leaked"),
            sum("hits").as("tot_hits"),
            sum("sz").as("tot_sh"))
          .withColumn("leak_rate",
            round(col("n_leaked").cast("double") / col("n_test"), 4))
          .orderBy("lang")
      },
      Some(s"""WITH sp AS (SELECT doc_id, lang,
              |    ${Dedup.polyHashSqlOf("'split:' || CAST(doc_id AS VARCHAR) || ':' || lang")} % 10000 AS hv,
              |    ${Dedup.ShSql} AS sh
              |  FROM documents),
              |f AS (SELECT * FROM sp WHERE len(sh) >= 1),
              |tr AS (SELECT DISTINCT unnest(sh) AS g FROM f WHERE hv < 9000),
              |te AS (SELECT doc_id, lang, CAST(len(sh) AS BIGINT) AS sz,
              |    unnest(sh) AS g FROM f WHERE hv >= 9500),
              |h AS (SELECT te.doc_id, te.lang, max(te.sz) AS sz, count(tr.g) AS hits
              |  FROM te LEFT JOIN tr ON te.g = tr.g GROUP BY te.doc_id, te.lang)
              |SELECT lang, count(*) AS n_test,
              |  CAST(sum(CASE WHEN hits*2 >= sz THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
              |  CAST(sum(hits) AS BIGINT) AS tot_hits,
              |  CAST(sum(sz) AS BIGINT) AS tot_sh,
              |  round(CAST(sum(CASE WHEN hits*2 >= sz THEN 1 ELSE 0 END) AS DOUBLE)
              |    / count(*), 4) AS leak_rate
              |FROM h GROUP BY lang ORDER BY lang""".stripMargin)),

    // L53: chunk-level duplication rate — exact dedup at RAG-chunk
    // granularity (the L36 window geometry, md5 fingerprints): share of
    // each language's chunks that are byte-duplicates of another chunk.
    // Chunk dedup is the retrieval-index hygiene step (duplicate chunks
    // waste index space and skew retrieval scores); document-level dedup
    // (L1/L43) misses chunks repeated ACROSS distinct documents
    // (boilerplate headers, quoted passages). One codegen chunking pass
    // (fan-out len/stride, linear in corpus tokens), one distinct-count
    // aggregate keyed on the 16-byte hash; integer/string exact, rate is
    // one division.
    QDef(
      "q_chunk_dedup",
      (s, d) => {
        val W = 32
        val S = 24
        val chunks = T.documents(s, d)
          .select(col("lang"), Text.words(col("text")).as("w"))
          .withColumn("nw", size(col("w")).cast("long"))
          .withColumn("n_chunks", expr(
            s"CASE WHEN nw <= $W THEN CAST(1 AS BIGINT) " +
              s"ELSE ((nw - $W + ${S - 1}) div $S) + 1 END"))
          .select(col("lang"), col("w"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("cid"))
          .select(col("lang"),
            md5(array_join(
              slice(col("w"), (col("cid") * S + 1).cast("int"), lit(W)), " ")).as("h"))
        chunks.groupBy("lang")
          .agg(count(lit(1)).as("n_chunks"), countDistinct(col("h")).as("n_unique"))
          .withColumn("n_dup", col("n_chunks") - col("n_unique"))
          .withColumn("dup_rate",
            round(col("n_dup").cast("double") / col("n_chunks"), 4))
          .orderBy("lang")
      },
      Some("""WITH dw AS (
             |  SELECT lang, string_split_regex(trim(text), '\s+') AS w FROM documents),
             |d2 AS (SELECT lang, w, len(w) AS nw,
             |    CASE WHEN len(w) <= 32 THEN 1
             |         ELSE ((len(w) - 32 + 23) // 24) + 1 END AS n_chunks
             |  FROM dw),
             |ch AS (SELECT lang, w, unnest(range(n_chunks)) AS cid FROM d2),
             |hs AS (SELECT lang,
             |    md5(array_to_string(list_slice(w, cid*24+1, cid*24+32), ' ')) AS h
             |  FROM ch)
             |SELECT lang, count(*) AS n_chunks,
             |  CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
             |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup,
             |  round(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_rate
             |FROM hs GROUP BY lang ORDER BY lang""".stripMargin)),

    // L56: per-source term-distribution drift — L1 distance between each
    // source's term-frequency profile and the corpus profile over the
    // top-V corpus vocabulary (the crawl-drift monitor: a source whose
    // distribution walks away from the corpus changed its content mix —
    // re-crawl or re-weight before it skews the mixture). EXACT integer
    // arithmetic throughout: score = Σ_t |n_st·N_c − n_ct·N_s| over
    // PRESENT terms plus (N_c − ΣpresC)·N_s for the source's absent
    // vocabulary terms — algebraically the full-grid sum WITHOUT a
    // source×vocab cross join (PlanAuditSpec forbids cartesians; the
    // absent-term mass folds into one closed form). Long products stay
    // < 2^63 at any realistic scale; the normalized drift is computed by
    // the same two-op IEEE sequence both engines (mult, div), rounded.
    // Two map-side-combinable count passes + one broadcast vocab join.
    QDef(
      "q_source_drift",
      (s, d) => {
        val V = 200
        val words = T.documents(s, d)
          .select(col("source"), explode(Text.words(col("text"))).as("w"))
        val vocab = words.groupBy("w")
          .agg(count(lit(1)).as("n_ct"))
          .orderBy(desc("n_ct"), col("w")).limit(V)
          .withColumn("n_c", sum("n_ct").over(Window.partitionBy()))
        val st = words.join(broadcast(vocab), "w")
          .groupBy("source", "w")
          .agg(count(lit(1)).as("n_st"), max("n_ct").as("n_ct"), max("n_c").as("n_c"))
        val ns = st.groupBy("source")
          .agg(sum("n_st").as("n_s"), sum("n_ct").as("pres_c"), max("n_c").as("n_c"))
        st.join(broadcast(ns.select(col("source"), col("n_s"))), "source")
          .groupBy("source")
          .agg(sum(abs(col("n_st") * col("n_c") - col("n_ct") * col("n_s"))).as("pres_score"))
          .join(ns, "source")
          .select(col("source"), col("n_s"), col("n_c"),
            (col("pres_score") + (col("n_c") - col("pres_c")) * col("n_s")).as("score"))
          .withColumn("drift",
            round(col("score").cast("double") / (col("n_s").cast("double") * col("n_c").cast("double")), 4))
          .orderBy("source")
      },
      Some("""WITH words AS (SELECT source,
             |    unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             |cnt AS (SELECT w, count(*) AS n_ct FROM words GROUP BY w),
             |vocab AS (SELECT w, CAST(n_ct AS BIGINT) AS n_ct FROM
             |  (SELECT *, row_number() OVER (ORDER BY n_ct DESC, w) AS rn FROM cnt)
             |  WHERE rn <= 200),
             |vc AS (SELECT w, n_ct, CAST(sum(n_ct) OVER () AS BIGINT) AS n_c FROM vocab),
             |st AS (SELECT source, words.w, count(*) AS n_st,
             |    max(n_ct) AS n_ct, max(n_c) AS n_c
             |  FROM words JOIN vc ON words.w = vc.w GROUP BY source, words.w),
             |ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s,
             |    CAST(sum(n_ct) AS BIGINT) AS pres_c, max(n_c) AS n_c
             |  FROM st GROUP BY source),
             |sc AS (SELECT st.source,
             |    CAST(sum(abs(n_st * st.n_c - st.n_ct * ns.n_s)) AS BIGINT) AS pres_score
             |  FROM st JOIN ns ON st.source = ns.source GROUP BY st.source)
             |SELECT ns.source, n_s, n_c,
             |  CAST(pres_score + (n_c - pres_c) * n_s AS BIGINT) AS score,
             |  round(CAST(pres_score + (n_c - pres_c) * n_s AS DOUBLE)
             |    / (CAST(n_s AS DOUBLE) * CAST(n_c AS DOUBLE)), 4) AS drift
             |FROM sc JOIN ns ON sc.source = ns.source
             |ORDER BY ns.source""".stripMargin)),

    // L54: robust length-outlier bounds — per-language median + MAD
    // (median absolute deviation) of token counts, and the doc counts
    // beyond median ± 3·MAD (the robust trimming rule: mean/stddev
    // bounds are themselves dragged by the outliers they should catch).
    // Exact order statistics stay oracle-checkable by the §5 rule:
    // token counts are integers, so the interpolated median is
    // .5-quantized, each |nw − med| is .5-quantized, the MAD is
    // .25-quantized and 3·MAD is exact — every comparison is between
    // exactly-representable doubles on both engines. Three linear
    // passes; the per-lang median tables are dimension-bounded
    // broadcasts. (The 100 TB form swaps Percentiles.exact for the KLL
    // sketch — same contract as q_percentile vs Percentiles.approx.)
    QDef(
      "q_len_outliers",
      (s, d) => {
        val tok = T.documents(s, d)
          .select(col("lang"), size(Text.words(col("text"))).cast("long").as("nw"))
        val med = tok.groupBy("lang")
          .agg(expr("percentile(nw, CAST(0.5 AS DOUBLE))").as("med"))
        val dev = tok.join(broadcast(med), "lang")
          .withColumn("dev", abs(col("nw") - col("med")))
        val mad = dev.groupBy("lang")
          .agg(expr("percentile(dev, CAST(0.5 AS DOUBLE))").as("mad"))
        dev.join(broadcast(mad), "lang")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n"),
            max("med").as("med"),
            max("mad").as("mad"),
            sum(when(col("nw") < col("med") - col("mad") * 3, 1L).otherwise(0L)).as("n_low"),
            sum(when(col("nw") > col("med") + col("mad") * 3, 1L).otherwise(0L)).as("n_high"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT lang,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw
             |  FROM documents),
             |med AS (SELECT lang, quantile_cont(nw, 0.5) AS med FROM tok GROUP BY lang),
             |dev AS (SELECT tok.lang, nw, med, abs(nw - med) AS dev
             |  FROM tok JOIN med ON tok.lang = med.lang),
             |mad AS (SELECT lang, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY lang)
             |SELECT dev.lang, count(*) AS n, max(dev.med) AS med, max(mad.mad) AS mad,
             |  CAST(sum(CASE WHEN nw < med - mad*3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             |  CAST(sum(CASE WHEN nw > med + mad*3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
             |FROM dev JOIN mad ON dev.lang = mad.lang
             |GROUP BY dev.lang ORDER BY dev.lang""".stripMargin)),

    // L75: the FINAL TRAINING-MIX EXPORT — the step that actually
    // decides what gets trained on, composing the curated stages the
    // diagnostics above audit: exact-dedup keepers (L1 groupBy shape) ∖
    // near-dup drops (the SHARED staged pair table) → the TRAINED
    // quality gate (L74 weights, score above the corpus MEDIAN — a zero threshold rejects everything when the reference class is the minority) → per-lang sqrt-temperature
    // keep (L31's rule, derived over SURVIVOR counts — the mix is
    // balanced over what remains after cleaning, not the raw corpus;
    // salt "mix:" decorrelates the draw from L31's). Reports per lang
    // the survivor count, derived threshold, kept docs and kept
    // whitespace tokens — the export manifest. Three corpus passes
    // (trainer, survivor counts, final pass) + the staged pair
    // stage; every selection is a pure hash/integer function, and the
    // threshold derivation is the L31 IEEE-exact single-op sequence
    // replayed in SQL from the survivor counts.
    QDef(
      "q_mixture_final",
      (s, d) => {
        val docs = T.documents(s, d)
        val dupKey = md5(concat_ws(" ",
          slice(Text.words(col("text")), 1, 8)).cast("binary"))
        val keepers = docs.select(col("doc_id"), dupKey.as("k"))
          .groupBy("k").agg(min("doc_id").as("doc_id")).select("doc_id")
        val nearDrop = Dedup.jaccardPairsStaged(s, d)
          .select(col("d2").as("doc_id")).distinct()
        val w = TextOps.trainLinearWeights(
          docs.select(col("text"), (col("lang") === "en").as("__lbl")), "text", "__lbl")
        // gate at the corpus MEDIAN score, not zero: the label-difference
        // weights are majority-negative whenever the reference class is
        // the minority, so a zero threshold can reject everything — the
        // median keeps the better-scoring half at ANY SF, and Spark's
        // percentile ≡ DuckDB's quantile_cont exactly (R26).
        // Scale contract (L54's): the single-group exact percentile's
        // aggregation buffer is value-histogram-sized — scores are
        // bounded-range integer weight sums — and past that bound the
        // threshold swaps to the L22 KLL sketch (Sketches.kllQuantiles),
        // exactly as q_percentile documents vs Percentiles.approx.
        val scored = docs.withColumn("__score",
          HashExpr.hashedScoreWeights(Text.words(col("text")), w.toSeq))
        val med = scored.agg(
          expr("percentile(__score, CAST(0.5 AS DOUBLE))")).head().getDouble(0)
        val surv = scored
          .join(keepers, "doc_id")
          .join(nearDrop, Seq("doc_id"), "left_anti")
          .filter(col("__score") > med)
        val counts = surv.groupBy("lang").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val mx = math.sqrt(counts.values.max.toDouble)
        val thr: Map[String, Long] = counts.map { case (l, n) =>
          l -> math.floor(TempBps * math.sqrt(n.toDouble) / mx).toLong
        }
        val thrCol = thr.foldLeft(lit(0L)) { case (acc, (l, t)) =>
          when(col("lang") === l, lit(t)).otherwise(acc)
        }
        val h = pmod(HashExpr.polyHash(concat(
          lit("mix:"), col("doc_id").cast("string"), lit(":"), col("lang"))),
          lit(TempBps))
        surv
          .withColumn("thr", thrCol)
          .withColumn("keep", h < col("thr"))
          .groupBy("lang", "thr")
          .agg(count(lit(1)).as("n_surv"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
            sum(when(col("keep"),
              size(Text.words(col("text"))).cast("long")).otherwise(0L))
              .as("kept_tokens"))
          .select(col("lang"), col("n_surv"), col("thr"), col("kept"), col("kept_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH w AS (SELECT doc_id, ${Dedup.ShSql} sh FROM documents),
              |e AS (SELECT doc_id, unnest(sh) g FROM w),
              |${Dedup.PrefixCandSql},
              |${Dedup.jrCtesSql("jv")},
              |dropd AS (SELECT DISTINCT d2 FROM jv WHERE jr >= ${Dedup.Tau}),
              |k0 AS (SELECT doc_id,
              |  md5(array_to_string(string_split_regex(trim(text),'\\s+')[1:8],' ')) k
              |  FROM documents),
              |keep AS (SELECT min(doc_id) doc_id FROM k0 GROUP BY k),
              |toks AS (SELECT doc_id, lang,
              |    unnest(string_split_regex(trim(text),'\\s+')) AS tok FROM documents),
              |sl AS (SELECT doc_id, lang,
              |    (${Dedup.polyHashSqlOf("tok")}) % 64 AS s FROM toks),
              |wt AS (SELECT s,
              |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS w
              |  FROM sl GROUP BY s),
              |scs AS (SELECT sl.doc_id, CAST(sum(wt.w) AS BIGINT) AS score
              |  FROM sl JOIN wt USING (s) GROUP BY sl.doc_id),
              |med AS (SELECT quantile_cont(score, 0.5) m FROM scs),
              |surv AS (SELECT d.doc_id, d.lang,
              |    CAST(len(string_split_regex(trim(d.text),'\\s+')) AS BIGINT) AS ntok
              |  FROM documents d
              |  JOIN keep ON d.doc_id = keep.doc_id
              |  JOIN scs ON d.doc_id = scs.doc_id
              |  WHERE d.doc_id NOT IN (SELECT d2 FROM dropd)
              |    AND scs.score > (SELECT m FROM med)),
              |c AS (SELECT lang, count(*) n FROM surv GROUP BY lang),
              |mx AS (SELECT sqrt(CAST(max(n) AS DOUBLE)) m FROM c),
              |t AS (SELECT lang, n,
              |    CAST(floor($TempBps * sqrt(CAST(n AS DOUBLE)) / (SELECT m FROM mx))
              |      AS BIGINT) thr
              |  FROM c),
              |hk AS (SELECT surv.doc_id, surv.lang, surv.ntok,
              |    (${Dedup.polyHashSqlOf("'mix:' || CAST(surv.doc_id AS VARCHAR) || ':' || surv.lang")})
              |      % $TempBps AS hv
              |  FROM surv)
              |SELECT t.lang, CAST(t.n AS BIGINT) AS n_surv, t.thr,
              |  CAST(sum(CASE WHEN hk.hv < t.thr THEN 1 ELSE 0 END) AS BIGINT) AS kept,
              |  CAST(sum(CASE WHEN hk.hv < t.thr THEN hk.ntok ELSE 0 END) AS BIGINT)
              |    AS kept_tokens
              |FROM hk JOIN t USING (lang) GROUP BY t.lang, t.n, t.thr
              |ORDER BY t.lang""".stripMargin))
  )
}
