package graft.operators

import graft.{QDef, Tables => T}
import graft.functions.{CharStatsExpr, HashExpr, Text}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Text-analysis operators over `documents` (SURVEY §2.3 L8–L11).
  * All are single-pass scans with map-side partial aggregation — linear
  * at 100 TB, no shuffle beyond the final small groupBy.
  */
object TextOps {

  val defs: Seq[QDef] = Seq(
    // L42: tokenizer vocabulary induction — the literal FIRST BPE merge
    // iteration: count adjacent symbol (character) pairs inside every
    // word across the corpus and rank the merge candidates (the pair a
    // BPE trainer would fuse first). Exact-integer counts, deterministic
    // (cnt desc, pair asc) ranking; the char-pair walk reuses the native
    // Bigrams expression over a char split (one codegen pass per word).
    // Scale: tokenize + double explode is the linear corpus pass; the
    // count shuffle is map-side-combinable on a vocabulary-sized key
    // space (distinct char pairs), top-50 via the final bounded sort.
    QDef(
      "q_bpe_pairs",
      (s, d) => {
        import graft.functions.ShingleExpr
        T.documents(s, d)
          .select(explode(Text.words(col("text"))).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(ShingleExpr.bigrams(split(col("w"), ""))).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("pair"))
          .limit(50)
      },
      Some("""WITH w AS (SELECT unnest(string_split_regex(trim(text),'\s+')) AS w
             |  FROM documents),
             |p AS (SELECT unnest(list_transform(range(1, len(w)),
             |    i -> w[i] || ' ' || w[i+1])) AS pair
             |  FROM w WHERE len(w) >= 2)
             |SELECT pair, count(*) AS cnt FROM p
             |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin)),

    // L39: corpus-familiarity quality score — the LM-lite member of the
    // quality family (L8/L21 are per-doc surface heuristics; this one is
    // CORPUS-relative, the CCNet idea with counts in place of a trained
    // LM): a doc whose adjacent bigrams are rare across the corpus is
    // likely garbled/boilerplate-free noise, one whose bigrams are all
    // corpus-common is formulaic. score = mean corpus-frequency of the
    // doc's bigram OCCURRENCES (tf-weighted, multiplicity kept — native
    // Bigrams expression, codegen). Exact-integer until ONE final
    // division: corpus counts and per-doc sums are long arithmetic, so
    // cross-row order cannot diverge; both engines perform the same
    // single IEEE divide, rounded 4dp. Scale: one tokenize pass, two
    // map-combinable count shuffles and one vocabulary join — no floats,
    // no windows, no driver state.
    QDef(
      "q_quality_bigram",
      (s, d) => {
        import graft.functions.ShingleExpr
        // pairs feeds BOTH the corpus counts and the per-doc fold — one
        // staged frame instead of tokenizing the corpus twice (the same
        // shared-stage rule as the dedup shingles and BM25)
        val pairs = Bridge.stage(T.documents(s, d)
          .select(col("doc_id"),
            explode(ShingleExpr.bigrams(Text.words(col("text")))).as("bg")))
        try {
          val counts = pairs.groupBy("bg").agg(count(lit(1)).as("cnt"))
          val result = pairs.join(counts, "bg")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_bigrams"), sum("cnt").as("fam_sum"))
            .withColumn("familiarity",
              round(col("fam_sum").cast("double") / col("n_bigrams"), 4))
            .orderBy(col("familiarity"), col("doc_id"))
            .limit(100)
            .select("doc_id", "n_bigrams", "fam_sum", "familiarity")
          val rows = result.collect() // bounded (100) — release the stage
          s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        } finally Bridge.release(pairs)
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    string_split_regex(trim(text),'\s+') AS t FROM documents),
             |pairs AS (SELECT doc_id, unnest(list_transform(
             |    range(1, greatest(len(t), 1)),
             |    i -> array_to_string(t[i:i+1], ' '))) AS bg FROM toks),
             |counts AS (SELECT bg, count(*) AS cnt FROM pairs GROUP BY bg),
             |sc AS (SELECT doc_id, count(*) AS n_bigrams, sum(cnt) AS fam_sum
             |       FROM pairs JOIN counts USING (bg) GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, CAST(fam_sum AS BIGINT) AS fam_sum,
             |  round(CAST(fam_sum AS DOUBLE) / n_bigrams, 4) AS familiarity
             |FROM sc ORDER BY familiarity, doc_id LIMIT 100""".stripMargin)),
    // L71: bigram-LM perplexity PROXY (the CCNet/Gopher LM-filter shape —
    // the other half of quality scoring next to L39's raw-frequency
    // familiarity): train CONDITIONAL bigram counts on the corpus itself
    // and score each doc by its mean scaled transition probability
    // q = floor(1e6·c(w1 w2) / c(w1 ·)). Exact integer arithmetic
    // end-to-end — real pipelines sum log-probs, but libm log is not
    // replayable across engines, and the scaled-ratio mean ranks docs
    // identically for filtering. Shapes: two map-combinable groupBys +
    // equality joins back on the bigram/left-context keys
    // (AQE-skew-splittable — stopword-headed contexts are the hot keys);
    // the tokenize pass is ONE staged frame (the L39 rule); output is
    // the per-lang quality mix (low-quality = mean scaled transition < 33000, ~the corpus p10-p25).
    QDef(
      "q_lm_score",
      (s, d) => {
        import graft.functions.ShingleExpr
        // three branches of one action read it
        val pairs = Bridge.stage(T.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(ShingleExpr.bigrams(Text.words(col("text")))).as("bg")))
        try {
          val cb = pairs.groupBy("bg").agg(count(lit(1)).as("cb"))
          val cl = pairs
            .select(substring_index(col("bg"), " ", 1).as("w1"))
            .groupBy("w1").agg(count(lit(1)).as("cl"))
          // cb is a GLOBAL bigram count: at 100 TB a stopword bigram
          // exceeds ~9.2e12 occurrences and 1000000*cb overflows BIGINT
          // (ANSI throws). Widen the scaled ratio to DECIMAL(38,0) —
          // still exact integer arithmetic (q = floor(1e6·cb/cl) ≤ 1e6
          // since cb ≤ cl, so div's BIGINT result never overflows);
          // the oracle widens the same product to HUGEINT (ADVICE r15).
          // r19 (guide §2.3/§2.4): q = floor(1e6·cb/cl) is a pure
          // function of the BIGRAM, so compute it on the
          // VOCABULARY-sized count table (cb ⋈ cl over distinct bigrams)
          // and attach it to the corpus occurrences with ONE join — the
          // previous plan joined the full occurrence frame twice (by bg,
          // then by w1), i.e. two corpus-sized shuffles where one
          // suffices and the w1 join now runs over the vocabulary.
          // Identical values: same cb/cl counts, same q per bg, same
          // per-occurrence sum.
          val qtab = cb
            .withColumn("w1", substring_index(col("bg"), " ", 1))
            .join(cl, "w1")
            .withColumn("q", expr("(CAST(cb AS DECIMAL(38,0)) * 1000000) div cl"))
            .select("bg", "q")
          val docScores = pairs.join(qtab, "bg")
            .groupBy("doc_id", "lang")
            .agg(expr("sum(q) div count(*)").as("score"))
          // lang-level mean: sum(score) is docs·1e6-scaled — widen too
          val result = docScores.groupBy("lang")
            .agg(count(lit(1)).as("docs"),
              sum(when(col("score") < lit(33000L), 1L).otherwise(0L)).as("low_docs"),
              expr("sum(CAST(score AS DECIMAL(38,0))) div count(*)").as("avg_q"))
            .orderBy("lang")
          val rows = result.collect() // bounded (langs) — release the stage
          s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), result.schema)
        } finally Bridge.release(pairs)
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    string_split_regex(trim(text),'\s+') AS t FROM documents),
             |pairs AS (SELECT doc_id, lang, unnest(list_transform(
             |    range(1, greatest(len(t), 1)),
             |    i -> array_to_string(t[i:i+1], ' '))) AS bg FROM toks),
             |p2 AS (SELECT doc_id, lang, bg, string_split(bg, ' ')[1] AS w1 FROM pairs),
             |cb AS (SELECT bg, count(*) AS cb FROM p2 GROUP BY bg),
             |cl AS (SELECT w1, count(*) AS cl FROM p2 GROUP BY w1),
             |q AS (SELECT doc_id, lang, (1000000 * CAST(cb.cb AS HUGEINT)) // cl.cl AS q
             |      FROM p2 JOIN cb USING (bg) JOIN cl USING (w1)),
             |ds AS (SELECT doc_id, lang, sum(q) // count(*) AS score
             |       FROM q GROUP BY doc_id, lang)
             |SELECT lang, count(*) AS docs,
             |  CAST(sum(CASE WHEN score < 33000 THEN 1 ELSE 0 END) AS BIGINT) AS low_docs,
             |  CAST(sum(score) // count(*) AS BIGINT) AS avg_q
             |FROM ds GROUP BY lang ORDER BY lang""".stripMargin)),

    // L21: Gopher/C4-style rule-based quality FILTERING — the keep/drop
    // gate a pipeline runs before training, with per-rule rejection
    // counts (the curation dashboard). Rules are exact INTEGER
    // arithmetic (2·nw ≤ chars ≤ 12·nw, 10·sym ≤ len) so the oracle
    // replays them with no float divergence; one linear pass, map-side
    // aggs only.
    QDef(
      "q_quality_filter",
      (s, d) => {
        val nw = size(Text.words(col("text"))).cast("long")
        val cns = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
        val sym = (length(col("text")) -
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))).cast("long")
        val okLen = nw >= 10 && nw <= 5000
        val okWl = cns >= nw * 2 && cns <= nw * 12
        val okSym = sym * 10 <= length(col("text")).cast("long")
        T.documents(s, d)
          .select(col("lang"), okLen.as("ol"), okWl.as("ow"), okSym.as("os"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("ol") && col("ow") && col("os"), 1L).otherwise(0L)).as("kept"),
            sum(when(!col("ol"), 1L).otherwise(0L)).as("rej_len"),
            sum(when(!col("ow"), 1L).otherwise(0L)).as("rej_wordlen"),
            sum(when(!col("os"), 1L).otherwise(0L)).as("rej_symbol"))
          .orderBy("lang")
      },
      Some("""WITH m AS (SELECT lang,
             |  CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS nw,
             |  CAST(length(regexp_replace(text,'\s+','','g')) AS BIGINT) AS cns,
             |  CAST(length(text) - length(regexp_replace(text,'[^A-Za-z0-9 ]','','g')) AS BIGINT) AS sym,
             |  CAST(length(text) AS BIGINT) AS chars
             |  FROM documents),
             |r AS (SELECT lang,
             |  (nw >= 10 AND nw <= 5000) AS ol,
             |  (cns >= nw*2 AND cns <= nw*12) AS ow,
             |  (sym*10 <= chars) AS os
             |  FROM m)
             |SELECT lang, count(*) AS n,
             |  CAST(sum(CASE WHEN ol AND ow AND os THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |  CAST(sum(CASE WHEN NOT ol THEN 1 ELSE 0 END) AS BIGINT) AS rej_len,
             |  CAST(sum(CASE WHEN NOT ow THEN 1 ELSE 0 END) AS BIGINT) AS rej_wordlen,
             |  CAST(sum(CASE WHEN NOT os THEN 1 ELSE 0 END) AS BIGINT) AS rej_symbol
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // L10: token counting — whitespace words + BPE-ish regex tokens.
    QDef(
      "q_text_tokens",
      (s, d) =>
        T.documents(s, d)
          .select(
            col("lang"),
            size(Text.words(col("text"))).cast("long").as("ws"),
            size(regexp_extract_all(col("text"), lit(Text.BpeishPattern), lit(0)))
              .cast("long").as("re"))
          .groupBy("lang")
          .agg(
            sum("ws").as("ws_tokens"),
            sum("re").as("re_tokens"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang"),
      Some(s"""SELECT lang,
              |  CAST(sum(len(regexp_split_to_array(trim(text),'\\s+'))) AS BIGINT) AS ws_tokens,
              |  CAST(sum(len(regexp_extract_all(text, '${Text.BpeishPattern}'))) AS BIGINT) AS re_tokens,
              |  count(*) AS n_docs
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // L66: tokenizer fertility per language — the tokenizer-efficiency
    // diagnostic a multilingual pipeline watches (a language whose
    // bytes/token or BPE-per-word fertility is an outlier is getting
    // over-fragmented and under-represented per compute budget). One
    // codegen pass per doc, integer sums map-side combine, the three
    // ratios are single IEEE divisions over ≤5 lang groups (§5).
    QDef(
      "q_token_fertility",
      (s, d) =>
        T.documents(s, d)
          .select(
            col("lang"), col("n_chars"),
            size(Text.words(col("text"))).cast("long").as("tok"),
            size(regexp_extract_all(col("text"), lit(Text.BpeishPattern), lit(0)))
              .cast("long").as("bpe"),
            octet_length(col("text")).cast("long").as("bytes"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("tok").as("tok_sum"),
            round(sum("bpe").cast("double") / sum("tok"), 4).as("fertility"),
            round(sum("bytes").cast("double") / sum("bpe"), 4).as("bytes_per_tok"),
            round(sum("tok").cast("double") / sum("n_chars"), 6).as("tok_per_char"))
          .orderBy("lang"),
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(tok) AS BIGINT) AS tok_sum,
              |  round(CAST(sum(bpe) AS DOUBLE)/sum(tok), 4) AS fertility,
              |  round(CAST(sum(bytes) AS DOUBLE)/sum(bpe), 4) AS bytes_per_tok,
              |  round(CAST(sum(tok) AS DOUBLE)/sum(n_chars), 6) AS tok_per_char
              |FROM (SELECT lang, n_chars,
              |        len(regexp_split_to_array(trim(text),'\\s+')) AS tok,
              |        len(regexp_extract_all(text, '${Text.BpeishPattern}')) AS bpe,
              |        strlen(text) AS bytes
              |      FROM documents) t
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // L8: language ID — confusion matrix of heuristic vs labeled lang.
    QDef(
      "q_text_langid",
      (s, d) =>
        T.documents(s, d)
          .select(col("lang"), Text.langGuess(col("text")).as("guess"))
          .groupBy("lang", "guess")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "guess"),
      Some(s"""SELECT lang, ${Text.langGuessSql("text")} AS guess, count(*) AS n
              |FROM documents GROUP BY lang, guess ORDER BY lang, guess""".stripMargin)),

    // L9: quality scoring per source.
    QDef(
      "q_text_quality",
      (s, d) =>
        T.documents(s, d)
          .select(col("source"), Text.quality(col("text")).as("q"))
          .groupBy("source")
          .agg(
            round(avg("q"), 3).as("avg_q"),
            round(min("q"), 4).as("min_q"),
            round(max("q"), 4).as("max_q"),
            count(lit(1)).as("n"))
          .orderBy("source"),
      Some(s"""SELECT source,
              |  round(avg(q),3) AS avg_q, round(min(q),4) AS min_q,
              |  round(max(q),4) AS max_q, count(*) AS n
              |FROM (SELECT source, ${Text.qualitySql("text")} AS q FROM documents) t
              |GROUP BY source ORDER BY source""".stripMargin)),

    // L17: PII scrubbing — regex redaction of emails/phones, the
    // pre-training hygiene pass. The corpus is synthetic (no real PII),
    // so the query injects deterministic PII into a third of the docs
    // first, then measures what the scrubber removes — the redaction
    // logic under test is exactly what runs on real data. Patterns stay
    // in the Java-regex ∩ RE2 subset so the oracle replays them.
    QDef(
      "q_text_pii",
      (s, d) => {
        val aug = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com or +1 (555) 123-"),
              (lit(1000) + col("doc_id") % 9000).cast("string")))
            .otherwise(lit("")))
        val redacted =
          regexp_replace(regexp_replace(aug, lit(Text.EmailRe), lit("[EMAIL]")),
            lit(Text.PhoneRe), lit("[PHONE]"))
        T.documents(s, d)
          .select(col("lang"),
            regexp_count(aug, lit(Text.EmailRe)).cast("long").as("emails"),
            regexp_count(aug, lit(Text.PhoneRe)).cast("long").as("phones"),
            (length(aug) - length(redacted)).cast("long").as("removed"))
          .groupBy("lang")
          .agg(
            sum("emails").as("n_email"),
            sum("phones").as("n_phone"),
            sum("removed").as("chars_removed"),
            sum(when(col("emails") + col("phones") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
          .orderBy("lang")
      },
      Some(s"""WITH a AS (SELECT lang,
              |  text || CASE WHEN doc_id % 3 = 0
              |    THEN ' contact user' || doc_id || '@example.com or +1 (555) 123-' ||
              |         CAST(1000 + doc_id % 9000 AS VARCHAR)
              |    ELSE '' END AS aug
              |  FROM documents),
              |m AS (SELECT lang,
              |  CAST(len(regexp_extract_all(aug, '${Text.EmailRe}')) AS BIGINT) AS emails,
              |  CAST(len(regexp_extract_all(aug, '${Text.PhoneRe}')) AS BIGINT) AS phones,
              |  CAST(length(aug) - length(
              |    regexp_replace(regexp_replace(aug, '${Text.EmailRe}', '[EMAIL]', 'g'),
              |      '${Text.PhoneRe}', '[PHONE]', 'g')) AS BIGINT) AS removed
              |  FROM a)
              |SELECT lang, CAST(sum(emails) AS BIGINT) AS n_email,
              |  CAST(sum(phones) AS BIGINT) AS n_phone,
              |  CAST(sum(removed) AS BIGINT) AS chars_removed,
              |  CAST(sum(CASE WHEN emails + phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // L18: repetition scoring (Gopher-style quality signal): fraction of
    // repeated words per doc; high-repetition docs are the boilerplate /
    // spam a training pipeline filters out. Single pass, map-side aggs.
    QDef(
      "q_text_repetition",
      (s, d) => {
        val ws = Text.words(col("text"))
        T.documents(s, d)
          .select(col("lang"), size(ws).as("nw"), size(array_distinct(ws)).as("nd"))
          .filter(col("nw") > 0)
          .withColumn("rep", round(lit(1.0) - col("nd").cast("double") / col("nw"), 4))
          .groupBy("lang")
          .agg(
            round(avg("rep"), 3).as("avg_rep"),
            round(max("rep"), 4).as("max_rep"),
            sum(when(col("rep") > 0.5, 1L).otherwise(0L)).as("high_rep"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some("""WITH w AS (SELECT lang, regexp_split_to_array(trim(text),'\s+') ws FROM documents),
             |r AS (SELECT lang,
             |  round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)/len(ws), 4) AS rep
             |  FROM w WHERE len(ws) > 0)
             |SELECT lang, round(avg(rep),3) AS avg_rep, round(max(rep),4) AS max_rep,
             |  CAST(sum(CASE WHEN rep > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS high_rep,
             |  count(*) AS n_docs
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // L11: document fingerprint via the native rolling-hash expression
    // (PolyHash64, whole-stage codegen); oracle mirrors the polynomial
    // with list_reduce over ord(char).
    QDef(
      "q_text_fingerprint",
      (s, d) =>
        T.documents(s, d)
          .select(col("doc_id"), HashExpr.polyHash(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  list_reduce(list_cat([CAST(0 AS BIGINT)],
             |    list_transform(string_split(text,''), c -> CAST(ord(c) AS BIGINT))),
             |    (a, c) -> (a*31 + c) % 1000000007) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // L57: character-diversity quality gate — per-language POOLED
    // collision probability Σ cnt_c(cnt_c−1) / Σ n(n−1) (Rényi-2 /
    // Simpson index; low diversity ⇒ aaaa…/base64/template junk) plus
    // avg distinct code points per doc. The per-doc stats come from the
    // native single-pass CharStats expression (codegen'd, NO shuffle of
    // corpus characters — the explode→groupBy(doc,char) formulation the
    // oracle uses would exchange every character at 100 TB); pooling
    // sums are exact integers so the two final divisions are the same
    // IEEE ops in both engines under any partitioning (§5 discipline).
    QDef(
      "q_char_diversity",
      (s, d) =>
        T.documents(s, d)
          .select(col("lang"), CharStatsExpr.charStats(col("text")).as("cs"))
          .select(col("lang"), col("cs.coll").as("coll"), col("cs.n").as("n"),
            col("cs.dchars").cast("long").as("dchars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"),
            sum(col("coll")).as("coll_sum"),
            sum(col("n") * (col("n") - 1)).as("pairs_sum"),
            sum(col("dchars")).as("dchars_sum"))
          .select(col("lang"), col("docs"),
            round(col("coll_sum").cast("double") / col("pairs_sum"), 6).as("collision_p"),
            round(col("dchars_sum").cast("double") / col("docs"), 4).as("avg_distinct_chars"))
          .orderBy("lang"),
      Some("""WITH ch AS (
             |  SELECT doc_id, lang, substr(text, CAST(i AS INTEGER), 1) AS c
             |  FROM (SELECT doc_id, lang, text,
             |          unnest(range(1, length(text) + 1)) AS i FROM documents)),
             |cnt AS (SELECT doc_id, lang, c, count(*) AS cc
             |        FROM ch GROUP BY doc_id, lang, c),
             |per AS (SELECT doc_id, lang, sum(cc) AS n,
             |          sum(cc * (cc - 1)) AS coll, count(*) AS dchars
             |        FROM cnt GROUP BY doc_id, lang)
             |SELECT lang, count(*) AS docs,
             |  round(CAST(sum(coll) AS DOUBLE) / CAST(sum(n * (n - 1)) AS DOUBLE), 6)
             |    AS collision_p,
             |  round(CAST(sum(dchars) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
             |    AS avg_distinct_chars
             |FROM per GROUP BY lang ORDER BY lang""".stripMargin)),

    // L69: hashed-bag-of-words LINEAR QUALITY CLASSIFIER scoring — the
    // fastText-style filter every pretraining pipeline runs (CCNet /
    // GPT-3 quality filtering shape): each word hashes into one of 64
    // feature slots, the slot's weight accumulates, keep iff the doc's
    // score is positive. The weight schedule here is deterministic
    // pseudo-weights (slot*37+11 mod 21, shifted to [-10,10]) so the
    // oracle replays it exactly — a trained model swaps the schedule for
    // a learned table and changes NOTHING Spark-side. Fused per-doc
    // native expression (HashedWeightSum: one codegen pass, no
    // interpreted per-token lambda — the SimHash lesson); integer sums
    // map-side combine; one IEEE division per lang group (§5).
    QDef(
      "q_quality_linear",
      (s, d) =>
        T.documents(s, d)
          .select(
            col("lang"),
            graft.functions.HashExpr.hashedScore(Text.words(col("text"))).as("score"),
            size(Text.words(col("text"))).cast("long").as("ntok"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("score") > 0, 1L).otherwise(0L)).as("kept"),
            sum("score").as("score_sum"),
            round(sum(col("score")).cast("double") / sum(col("ntok")), 4)
              .as("mean_tok_score"))
          .orderBy("lang"),
      Some("""WITH sc AS (SELECT lang,
             |  list_sum(list_transform(string_split_regex(trim(text),'\s+'),
             |    w -> ((list_reduce(list_cat([CAST(0 AS BIGINT)],
             |            list_transform(string_split(w,''), ch -> CAST(ord(ch) AS BIGINT))),
             |            (acc,cv) -> (acc*31+cv) % 1000000007) % 64) * 37 + 11) % 21 - 10))
             |    AS score,
             |  len(string_split_regex(trim(text),'\s+')) AS ntok
             |FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |  CAST(sum(score) AS BIGINT) AS score_sum,
             |  round(sum(score) * 1.0 / sum(ntok), 4) AS mean_tok_score
             |FROM sc GROUP BY lang ORDER BY lang""".stripMargin)),

    // L74: TRAIN-then-apply quality classifier — the full CCNet loop
    // L69 scores only half of: fit the hashed-BoW linear weights ON the
    // corpus against a deterministic reference class (lang = 'en', the
    // high-resource-language target CCNet trains its LM filter toward),
    // then score every document with the LEARNED table. Training is one
    // explode + a 64-key map-combinable groupBy collected as 64 longs of
    // driver state (bounded metadata); scoring is the one-pass
    // HashedWeightTableSum codegen expression with the table riding the
    // plan. Exact integer arithmetic end-to-end — the oracle REPLAYS the
    // trainer in SQL (per-slot label-difference sums) and re-derives
    // each doc's score as the same token→slot→weight sum, so the learned
    // weights themselves are oracle-checked, not just the plumbing.
    QDef(
      "q_quality_trained",
      (s, d) => {
        import graft.functions.HashExpr
        val docs = T.documents(s, d)
        val w = TextOps.trainLinearWeights(
          docs.select(col("text"), (col("lang") === "en").as("__lbl")), "text", "__lbl")
        docs
          .select(col("lang"),
            HashExpr.hashedScoreWeights(Text.words(col("text")), w.toSeq).as("score"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score") > 0, 1L).otherwise(0L)).as("kept"),
            sum("score").as("score_sum"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang,
              |    unnest(string_split_regex(trim(text),'\\s+')) AS w FROM documents),
              |sl AS (SELECT doc_id, lang,
              |    (${Dedup.polyHashSqlOf("w")}) % 64 AS s FROM toks),
              |wt AS (SELECT s,
              |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS w
              |  FROM sl GROUP BY s),
              |sc AS (SELECT sl.doc_id, sl.lang, CAST(sum(wt.w) AS BIGINT) AS score
              |  FROM sl JOIN wt USING (s) GROUP BY sl.doc_id, sl.lang)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
              |  CAST(sum(score) AS BIGINT) AS score_sum
              |FROM sc GROUP BY lang ORDER BY lang""".stripMargin))
  )

  /** L69 trainer: label-difference weights for the hashed-BoW linear
    * classifier — weight(slot) = Σ over training tokens of (+1 from
    * positive docs, −1 from negative), the centroid-difference step a
    * hashed linear quality filter bootstraps from (one pass; a real
    * pipeline iterates the same shape). Distributed: one explode + a
    * map-combinable groupBy on ≤ `buckets` slot keys; the collected
    * table is `buckets` longs of driver state (bounded metadata, the
    * k-means-centroid discipline). Unhit slots weigh 0. Score with
    * [[graft.functions.HashExpr.hashedScoreWeights]]. */
  def trainLinearWeights(
      docs: org.apache.spark.sql.DataFrame, textCol: String, labelCol: String,
      buckets: Int = 64): Array[Long] = {
    import graft.functions.HashExpr
    val rows = docs
      .select(explode(Text.words(col(textCol))).as("__w"),
        when(col(labelCol), 1L).otherwise(-1L).as("__y"))
      .select(pmod(HashExpr.polyHash(col("__w")), lit(buckets.toLong)).as("__s"),
        col("__y"))
      .groupBy("__s").agg(sum("__y").as("__wt"))
      .collect()
    val out = new Array[Long](buckets)
    rows.foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }
}
