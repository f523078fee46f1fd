package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.sources.Tables

/** Text analysis for LLM-training-data pipelines (SURVEY.md §2.8 +
  * builder prompt): tokenization/TF, TF-IDF, n-grams, language
  * profiling, language ID (token log-prob heuristic), quality scoring,
  * token counting, rolling-hash fingerprinting.
  *
  * Everything is expressed with codegen'd built-ins (split / explode /
  * higher-order functions) — tokenization never leaves the JVM and the
  * explode pipelines are narrow (project + generate), so the only
  * shuffles are the final small aggregations. Transcendentals (ln) are
  * rounded to 8 places before use so libm last-ulp drift can't leak
  * into rankings (ranking always on a rounded score + lexical
  * tiebreak).
  */
object TextQueries {

  private def duckHash(seedAndVal: String): String =
    s"CAST(concat('0x', substr(md5($seedAndVal), 1, 12)) AS BIGINT)"

  /** tokens with multiplicity: (doc_id, lang, term). Reads the spread
    * corpus so the explode fan-out parallelizes (the small-SF corpus
    * is a single parquet split). Memoized + persisted: four contract
    * queries consume it (TF, TF-IDF, language ID, quality scoring) —
    * at 100 TB the tokenized corpus is materialized once, not
    * re-exploded per consumer. */
  private[operators] def tokens(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "doc_tokens") {
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("term"))
    }

  /** word bigrams with multiplicity: (doc_id, ngram). Memoized +
    * persisted: three contract queries consume it (bigram top-k,
    * repetition signals, bigram LM score) — at 100 TB the bigram
    * explode is materialized once, not re-run per consumer. */
  private[operators] def bigrams(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "doc_bigrams") {
      graft.api.Text.ngrams(Tables.documentsSpread(s, dir),
        "doc_id", "text", n = 2)
    }

  /** Materialize the shared memoized pipelines untimed (Bench's
    * warmup): the token/bigram explodes are materialize-once by
    * design — the 100 TB posture — but whichever consumer runs first
    * pays them, so per-query bench numbers misattribute the shared
    * cost unless the memos are warmed beside the prebuilt indexes.
    * Returns the number of memos warmed (declared in Bench's JSON). */
  private[graft] def prewarmSharedMemos(s: SparkSession, dir: String): Int = {
    tokens(s, dir).count()
    bigrams(s, dir).count()
    2
  }

  /** Wordcount: top-20 terms overall. */
  val textTokensTf: GQuery = GQuery(
    "text_tokens_tf",
    """SELECT term, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |GROUP BY term
      |ORDER BY cnt DESC, term
      |LIMIT 20""".stripMargin) { (s, dir) =>
    tokens(s, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(20)
  }

  /** TF-IDF: highest-scoring term per document. idf is rounded before
    * the tf× multiply; ranking is on the rounded score with a term
    * tiebreak, so the winner is deterministic cross-engine. */
  val textTfidfTopterm: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      graft.api.Text.tfidfTopTerm(Tables.documents(s, dir), "doc_id",
        "text", preTokenized =
          Some(tokens(s, dir).withColumnRenamed("term", "token")))
        .orderBy(col("doc_id"))
    }
    GQuery("text_tfidf_topterm",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * round(ln(CAST(n AS DOUBLE) / df), 8), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term AS top_term, score
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)(sparkImpl)
  }

  /** Bigram counts, top-20. */
  val textNgrams: GQuery = GQuery(
    "text_ngrams",
    """SELECT bigram, count(*) AS cnt
      |FROM (
      |  SELECT unnest([t[i] || ' ' || t[i+1]
      |                 for i in generate_series(1, len(t) - 1)]) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents))
      |GROUP BY bigram
      |ORDER BY cnt DESC, bigram
      |LIMIT 20""".stripMargin) { (s, dir) =>
    bigrams(s, dir)
      .select(col("ngram").as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  /** PMI COLLOCATIONS — pointwise-mutual-information-scored bigrams,
    * the classic collocation extractor (Church & Hanks 1990): which
    * word pairs co-occur far more than their unigram frequencies
    * predict (multi-word expressions, named entities, domain terms —
    * the phrases a tokenizer or stopword list should treat as units).
    * PMI = ln p(ab) − ln p(a) − ln p(b) over bigram/unigram corpus
    * probabilities, restricted to bigrams seen ≥ 3 times (raw PMI is
    * noise-dominated at count 1), top-20 by (pmi desc, bigram).
    *
    * Determinism: every ln() is rounded to 8 places and combined on
    * the DECIMAL(14,8) grid (the text_zipf_fit discipline), so the
    * score is order-free and bit-identical cross-engine; the final
    * cast-to-double rounds at 6.
    *
    * Scale shape: both count frames ride the SHARED memoized token /
    * bigram explodes (materialized once per corpus); the two corpus
    * totals are 1-row broadcasts; the unigram attach joins are keyed
    * on the word (never a vocabulary broadcast — the fleet policy);
    * the ≥ 3 support filter shrinks the bigram side before both
    * joins. */
  val textPmiCollocations: GQuery = GQuery(
    "text_pmi_collocations",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |uc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
      |nu AS (SELECT sum(cnt) AS n FROM uc),
      |bg AS (
      |  SELECT unnest([t[i] || ' ' || t[i+1]
      |                 for i in generate_series(1, len(t) - 1)]) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents)),
      |bc AS (SELECT bigram, count(*) AS cnt FROM bg
      |       GROUP BY bigram HAVING count(*) >= 3),
      |nb AS (SELECT count(*) AS n FROM bg),
      |s AS (
      |  SELECT b.bigram, b.cnt,
      |    CAST(round(ln(CAST(b.cnt AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      - CAST(round(ln(CAST(nb.n AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      - CAST(round(ln(CAST(ua.cnt AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      - CAST(round(ln(CAST(ub.cnt AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      + CAST(round(ln(CAST(nu.n AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      + CAST(round(ln(CAST(nu.n AS DOUBLE)), 8) AS DECIMAL(14,8))
      |      AS p
      |  FROM bc b
      |  JOIN uc ua ON ua.term = string_split(b.bigram, ' ')[1]
      |  JOIN uc ub ON ub.term = string_split(b.bigram, ' ')[2],
      |  nu, nb)
      |SELECT bigram, CAST(cnt AS BIGINT) AS cnt,
      |  round(CAST(p AS DOUBLE), 6) AS pmi
      |FROM s
      |ORDER BY pmi DESC, bigram
      |LIMIT 20""".stripMargin) { (s, dir) =>
    def l8(c: org.apache.spark.sql.Column) =
      round(log(c.cast("double")), 8).cast("decimal(14,8)")
    val uc = tokens(s, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("ucnt"))
    val nu = uc.agg(sum(col("ucnt")).as("nuni"))
    val bc = bigrams(s, dir)
      .groupBy(col("ngram").as("bigram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)
    val nb = bigrams(s, dir).agg(count(lit(1)).as("nbi"))
    bc.withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uc.select(col("term").as("w1"), col("ucnt").as("ca")),
        Seq("w1"))
      .join(uc.select(col("term").as("w2"), col("ucnt").as("cb")),
        Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("p",
        l8(col("cnt")) - l8(col("nbi")) - l8(col("ca")) - l8(col("cb"))
          + l8(col("nuni")) + l8(col("nuni")))
      .select(col("bigram"), col("cnt").cast("long").as("cnt"),
        round(col("p").cast("double"), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  /** Per-language corpus profile. Averages are emitted at 6 places
    * alongside the exact integer sums they derive from. */
  val textLangProfile: GQuery = GQuery(
    "text_lang_profile",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6)
      |    AS avg_tokens,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("avg_chars"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
          .as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Language ID by additive-smoothed token log-probability against
    * per-language profiles learned from the corpus itself (n-gram
    * heuristic LID). Scores are sums of 8-place-rounded log-probs,
    * re-rounded to 6 before the argmax, with a lang tiebreak. */
  val textLangId: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      // fully relational scoring — no pivot, no driver collects (see
      // graft.api.Text.langId); the memoized token table is donated
      // so the corpus is tokenized once.
      graft.api.Text.langId(Tables.documents(s, dir), "doc_id", "text",
        "lang", preTokenized =
          Some(tokens(s, dir).withColumnRenamed("term", "token")))
        // actual-lang attach is a corpus-cardinality join — no
        // broadcast hint (AQE decides from runtime stats)
        .join(Tables.documents(s, dir).select(col("doc_id"),
          col("lang").as("actual_lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred_lang"), col("actual_lang"),
          (col("pred_lang") === col("actual_lang")).as("correct"))
        .orderBy(col("doc_id"))
    }
    GQuery("text_lang_id",
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |prof AS (SELECT lang AS cand, term, count(*) AS c
        |  FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang AS cand, count(*) AS t FROM tok GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT term) AS v FROM tok),
        |doc_tok AS (SELECT doc_id, term, count(*) AS m
        |  FROM tok GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang AS cand FROM documents),
        |scores AS (
        |  SELECT d.doc_id, l.cand,
        |    round(sum(d.m * round(ln(
        |      CAST(coalesce(p.c, 0) + 1 AS DOUBLE) / (t.t + v.v)), 8)), 6)
        |      AS score
        |  FROM doc_tok d
        |  CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.cand = l.cand AND p.term = d.term
        |  JOIN tot t ON t.cand = l.cand
        |  CROSS JOIN vocab v
        |  GROUP BY 1, 2),
        |ranked AS (SELECT doc_id, cand,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rn
        |  FROM scores)
        |SELECT r.doc_id, r.cand AS pred_lang, d.lang AS actual_lang,
        |  (r.cand = d.lang) AS correct
        |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
        |WHERE r.rn = 1
        |ORDER BY r.doc_id""".stripMargin)(sparkImpl)
  }

  /** Classifier-EVAL harness for the language-ID model: the full
    * actual×predicted CONFUSION MATRIX — which language pairs the
    * n-gram LID confuses, the artifact that decides whether the
    * classifier is good enough to route a 100 TB crawl (per-class
    * accuracy alone hides systematic pair confusion). Deterministic
    * classifier ⇒ even the evaluation is oracle-replayable — the
    * sim_recall_eval principle applied to a classifier.
    *
    * Scale shape: the scoring chain is text_lang_id's (shared
    * memoized token table, vocabulary-keyed joins, min-struct
    * argmax); the matrix itself is a ≤|langs|² map-side-combining
    * count. */
  val textLangidConfusion: GQuery = GQuery(
    "text_langid_confusion",
    """WITH tok AS (SELECT doc_id, lang,
      |    unnest(string_split(text, ' ')) AS term FROM documents),
      |prof AS (SELECT lang AS cand, term, count(*) AS c
      |  FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang AS cand, count(*) AS t FROM tok GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT term) AS v FROM tok),
      |doc_tok AS (SELECT doc_id, term, count(*) AS m
      |  FROM tok GROUP BY 1, 2),
      |langs AS (SELECT DISTINCT lang AS cand FROM documents),
      |scores AS (
      |  SELECT d.doc_id, l.cand,
      |    round(sum(d.m * round(ln(
      |      CAST(coalesce(p.c, 0) + 1 AS DOUBLE) / (t.t + v.v)), 8)), 6)
      |      AS score
      |  FROM doc_tok d
      |  CROSS JOIN langs l
      |  LEFT JOIN prof p ON p.cand = l.cand AND p.term = d.term
      |  JOIN tot t ON t.cand = l.cand
      |  CROSS JOIN vocab v
      |  GROUP BY 1, 2),
      |ranked AS (SELECT doc_id, cand,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, cand) AS rn
      |  FROM scores)
      |SELECT d.lang AS actual_lang, r.cand AS pred_lang,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
      |WHERE r.rn = 1
      |GROUP BY d.lang, r.cand
      |ORDER BY actual_lang, pred_lang""".stripMargin) { (s, dir) =>
    graft.api.Text.langId(Tables.documents(s, dir), "doc_id", "text",
      "lang", preTokenized =
        Some(tokens(s, dir).withColumnRenamed("term", "token")))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        col("lang").as("actual_lang")), Seq("doc_id"))
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("actual_lang"), col("pred_lang"))
  }

  /** Pairwise KL divergence between per-language smoothed unigram
    * distributions — the distribution-drift metric between corpus
    * slices (which languages read "most alike"). */
  val textLangDivergence: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      graft.api.Text.langDivergence(Tables.documents(s, dir), "doc_id",
        "text", "lang", preTokenized =
          Some(tokens(s, dir).withColumnRenamed("term", "token")))
        .orderBy(col("lang1"), col("lang2"))
    }
    GQuery("text_lang_divergence",
      """WITH tok AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |langs AS (SELECT DISTINCT lang AS cand FROM documents),
        |prof AS (SELECT lang AS cand, token, count(*) AS c
        |  FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang AS cand, count(*) AS t FROM tok GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT token) AS v FROM tok),
        |dict AS (
        |  SELECT tk.token, l.cand,
        |    CAST(coalesce(p.c, 0) + 1 AS DOUBLE) / (t.t + v.v) AS p
        |  FROM (SELECT DISTINCT token FROM tok) tk
        |  CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.cand = l.cand AND p.token = tk.token
        |  JOIN tot t ON t.cand = l.cand
        |  CROSS JOIN vocab v)
        |SELECT a.cand AS lang1, b.cand AS lang2,
        |  round(sum(a.p * round(ln(a.p / b.p), 8)), 6) AS kl_divergence
        |FROM dict a JOIN dict b
        |  ON a.token = b.token AND a.cand <> b.cand
        |GROUP BY 1, 2
        |ORDER BY lang1, lang2""".stripMargin)(sparkImpl)
  }

  /** Per-document quality score: uniqueness ratio, mean token length,
    * stopword ratio, length saturation — combined into one score. */
  val textQualityScore: GQuery = {
    val stop = "('a','the','and','of','to','in','is','on','for','with')"
    val sparkImpl = (s: SparkSession, dir: String) => {
      graft.api.Text.qualityScoreFromTokens(
        tokens(s, dir).withColumnRenamed("term", "token"), "doc_id")
        .orderBy(col("doc_id"))
    }
    GQuery("text_quality_score",
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |             FROM documents),
         |per_doc AS (SELECT doc_id,
         |    count(*) AS n_tokens,
         |    count(DISTINCT term) AS n_distinct,
         |    sum(length(term)) AS sum_len,
         |    sum(CASE WHEN term IN $stop THEN 1 ELSE 0 END) AS n_stop
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
         |  round(CAST(sum_len AS DOUBLE) / n_tokens, 6) AS avg_token_len,
         |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |  CAST(round(
         |    0.5 * CAST(round(CAST(n_distinct AS DOUBLE) / n_tokens, 6)
         |               AS DECIMAL(12,6))
         |    + 0.3 * (1 - CAST(round(CAST(n_stop AS DOUBLE) / n_tokens, 6)
         |                      AS DECIMAL(12,6)))
         |    + 0.002 * least(n_tokens, 100), 6) AS DOUBLE) AS quality
         |FROM per_doc
         |ORDER BY doc_id""".stripMargin)(sparkImpl)
  }

  /** Token counting three ways: whitespace, word-regex, and a BPE-ish
    * chars/4 estimate. */
  val textTokenCount: GQuery = GQuery(
    "text_token_count",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_split_to_array(text, '[^a-zA-Z0-9]+')) AS INT)
      |    AS re_tokens,
      |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS INT) AS bpe_est
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(split(col("text"), "[^a-zA-Z0-9]+")).as("re_tokens"),
        ceil(col("n_chars").cast("double") / 4).cast("int").as("bpe_est"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash document fingerprint: min portable hash over 8-char
    * shingles, two independent 32-bit permutations sliced from ONE md5
    * digest per gram (md5 is the kernel cost — one digest, two mins). */
  val textFingerprint: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      graft.api.Text.fingerprint(
        Tables.documentsSpread(s, dir), "doc_id", "text", gram = 8)
        .orderBy(col("doc_id"))
    }
    GQuery("text_fingerprint",
      """SELECT doc_id,
        |  min(CAST(concat('0x', substr(m, 1, 8)) AS BIGINT)) AS fp1,
        |  min(CAST(concat('0x', substr(m, 9, 8)) AS BIGINT)) AS fp2
        |FROM (SELECT doc_id,
        |    md5(unnest([substr(text, i, 8)
        |                for i in generate_series(1, length(text) - 7)])) AS m
        |  FROM documents)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)(sparkImpl)
  }

  /** Normalization / PII-redaction scrub pass (emails → <EMAIL>,
    * 3+-digit runs → <NUM>, whitespace collapse + trim) — the
    * pre-dedup cleanup every corpus pipeline runs first. Pure per-row
    * codegen'd regexp projection; patterns stay in the RE2-compatible
    * subset so Spark's Java regex and DuckDB's RE2 agree byte for
    * byte (DuckDB needs the explicit 'g' flag — its regexp_replace is
    * first-match by default, Spark's is always global). */
  val textNormalize: GQuery = GQuery(
    "text_normalize",
    """SELECT doc_id, clean, CAST(length(clean) AS INT) AS n_clean
      |FROM (SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{3,}', '<NUM>', 'g'),
      |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Text.normalize(Tables.documents(s, dir), "doc_id", "text")
      .withColumn("n_clean", length(col("clean")))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size overlapping character chunking (200-char chunks,
    * 150-char stride) — the context-window splitter feeding
    * embedding/training jobs. Emits the chunk's md5 rather than its
    * text so the contract result stays compact; chunk identity is
    * pinned just as hard. */
  val textChunks: GQuery = GQuery(
    "text_chunks",
    """SELECT doc_id,
      |  CAST(floor((chunk_start - 1) / 150) AS INT) AS chunk_id,
      |  CAST(chunk_start AS INT) AS chunk_start,
      |  CAST(length(substr(text, CAST(chunk_start AS INT), 200)) AS INT)
      |    AS chunk_len,
      |  md5(substr(text, CAST(chunk_start AS INT), 200)) AS chunk_md5
      |FROM (SELECT doc_id, text,
      |    unnest(generate_series(1, length(text), 150)) AS chunk_start
      |  FROM documents WHERE length(text) >= 1)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    graft.api.Text.chunks(Tables.documentsSpread(s, dir), "doc_id", "text",
      size = 200, stride = 150)
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Gopher-style repetition signals: per-document duplicate-bigram
    * fraction and most-frequent-bigram share — the boilerplate /
    * degenerate-repetition filter a quality gate stacks on
    * text_quality_score. Duplicate grams collapse map-side before
    * either shuffle (min-struct discipline, same as dedup_exact). */
  val textRepetition: GQuery = GQuery(
    "text_repetition",
    """WITH ng AS (
      |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
      |                         for i in generate_series(1, len(t) - 1)]) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM ng GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_ngrams,
      |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
      |        / sum(c), 6) AS dup_frac,
      |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Text.repetitionFromNgrams(bigrams(s, dir), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Dictionary tagging by regex extraction: every mention of a fixed
    * taxonomy (here four query-operator terms) pulled from each doc
    * with `regexp_extract_all`, summarized per doc — the
    * keyword/taxonomy tagging pass of a corpus pipeline (PII
    * inventories, topic dictionaries, license markers all run this
    * shape). Pure per-row projection, RE2-compatible pattern,
    * streaming-safe. */
  val textExtractTags: GQuery = {
    val pattern = """\b(join|scan|merge|sort)\b"""
    GQuery(
      "text_extract_tags",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$pattern')) AS INT)
         |    AS n_tags,
         |  CAST(len(list_distinct(regexp_extract_all(text, '$pattern')))
         |    AS INT) AS n_distinct_tags,
         |  coalesce(array_to_string(list_sort(list_distinct(
         |    regexp_extract_all(text, '$pattern'))), ','), '') AS tags
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hits = regexp_extract_all(col("text"), lit(pattern), lit(1))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(hits).as("n_tags"),
          size(array_distinct(hits)).as("n_distinct_tags"),
          concat_ws(",", array_sort(array_distinct(hits))).as("tags"))
        .orderBy(col("doc_id"))
    }
  }

  /** Per-document mean unigram surprisal under the corpus's own
    * add-1-smoothed unigram model — the CCNet-style LM-score quality
    * filter (high = rare-token-heavy OCR noise/gibberish, low =
    * repetitive boilerplate; both tails get inspected). Same rounding
    * discipline as the other log-prob queries: per-token logs rounded
    * to 8 places before the sum, mean rounded to 6. */
  val textSurprisal: GQuery = GQuery(
    "text_surprisal",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cnt),
      |sc AS (SELECT token,
      |         CAST(round(-ln((c + 1.0) / (n + v)), 8) AS DECIMAL(14,8)) AS s
      |       FROM cnt CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS surprisal
      |FROM tok JOIN sc USING (token)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Text.surprisalFromTokens(
      tokens(s, dir).withColumnRenamed("term", "token"), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Concat-and-chunk sequence packing: concatenate all documents'
    * whitespace tokens in doc_id order, cut into 2048-token training
    * sequences, and report each document's global token offset and
    * first/last sequence — the provenance map a pre-training data
    * loader needs ("which documents fed sequence s?").
    *
    * The global running total is api.Text's DISTRIBUTED prefix sum
    * (range buckets from a quantile sketch → 8-row per-bucket totals
    * collect → per-bucket windows on broadcast bases); the oracle is
    * the naive single-window cumulative sum — same integers, but the
    * Spark plan never materializes a single-partition global order. */
  val textPackSequences: GQuery = GQuery(
    "text_pack_sequences",
    """WITH t AS (SELECT doc_id,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |           FROM documents),
      |c AS (SELECT doc_id, tok,
      |        CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS off
      |      FROM t)
      |SELECT doc_id, tok, off,
      |  off // 2048 AS start_seq,
      |  (off + tok - 1) // 2048 AS end_seq
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Text.packSequences(
      Tables.documentsSpread(s, dir), "doc_id", "text",
      seqLen = 2048, ranges = 8)
      .orderBy(col("doc_id"))
  }

  private val packSeqLens = Seq(128, 256, 512, 1024)

  /** The packing sweep's full oracle chain (unique `p1*` CTE names)
    * ending in `p1f (seq_len, n_docs, n_splits, splits_per_doc)`
    * plus the totals CTE `p1b` — shared verbatim with
    * pipeline_knob_card's oracle (round-14 ADVICE). */
  private[operators] val packSweepCte: String =
    s"""p1t AS (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |        FROM documents),
       |p1c AS (SELECT doc_id, tok,
       |    CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM p1t),
       |p1b AS (SELECT CAST(sum(tok) AS BIGINT) AS total FROM p1t),
       |p1s AS (SELECT unnest([${packSeqLens.mkString(", ")}])
       |        AS seq_len),
       |p1m AS (
       |  SELECT seq_len, count(*) AS n_docs,
       |    sum((off + tok - 1) // seq_len - off // seq_len)
       |      AS n_splits
       |  FROM p1c, p1s GROUP BY seq_len),
       |p1f AS (SELECT seq_len, n_docs, n_splits,
       |    CAST((2 * n_splits * 1000000 + n_docs)
       |      // (2 * n_docs) AS DOUBLE) / 1000000 AS splits_per_doc
       |  FROM p1m)""".stripMargin

  /** SEQUENCE-LENGTH SIZING SWEEP — the training-shape knob priced
    * (the seventh sizing sweep): sequences produced and document
    * boundary-splits at seq lengths 128/256/512/1024 under
    * concat-and-chunk packing in doc_id (ingestion) order. The
    * oracle chain lives in [[packSweepCte]], shared verbatim with
    * pipeline_knob_card (round-14 ADVICE). The
    * cumulative offset is LENGTH-INDEPENDENT, so the distributed
    * prefix sum (the text_pack_sequences machinery) runs once and the
    * sweep is four predicate aggregates: a doc's split count under
    * length L is ((off+tok−1) div L) − (off div L), pure integer
    * arithmetic on the one off column. Longer sequences = fewer
    * attention windows but more cross-document token bleed (every
    * split is a attention-mask seam a trainer must handle); this
    * curve is what sizes that trade.
    *
    * Scale shape: the one pack pass (quantile-bucketed prefix sum,
    * never a single-partition window), a ×4 per-row explode, 4-row
    * rollup; the totals scalar is a 1-row broadcast. */
  val textPackSweep: GQuery = {
    val lens = packSeqLens
    GQuery("text_pack_sweep",
      s"""WITH $packSweepCte
         |SELECT CAST(p1f.seq_len AS INT) AS seq_len,
         |  CAST(p1f.n_docs AS BIGINT) AS n_docs,
         |  CAST((p1b.total + p1f.seq_len - 1) // p1f.seq_len AS BIGINT)
         |    AS n_sequences,
         |  CAST(p1f.n_splits AS BIGINT) AS n_splits,
         |  p1f.splits_per_doc
         |FROM p1f CROSS JOIN p1b
         |ORDER BY seq_len""".stripMargin) { (s, dir) =>
      // 4-row planning curve, memoized per (session, dir): the
      // standalone row and pipeline_knob_card share one
      // materialization (round-15 VERDICT item 7)
      graft.PlanCache.memo(s, dir, "pack_sweep_curve") {
        val perDoc = tokens(s, dir).groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("bigint").as("tok"))
        val packed = graft.api.Text.packFromCounts(perDoc, "doc_id",
          "tok", seqLen = 1)
        val total = broadcast(
          perDoc.agg(sum(col("tok")).cast("long").as("total")))
        packed
          .withColumn("seq_len",
            explode(array(lens.map(l => lit(l)): _*)))
          .groupBy(col("seq_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("(off + tok - 1) div seq_len - off div seq_len"))
              .as("n_splits"))
          .crossJoin(total)
          .select(col("seq_len"), col("n_docs"),
            expr("(total + seq_len - 1) div seq_len").cast("bigint")
              .as("n_sequences"),
            col("n_splits").cast("bigint").as("n_splits"),
            (expr("(2 * n_splits * 1000000 + n_docs) div (2 * n_docs)")
              .cast("double") / 1000000).as("splits_per_doc"))
      }.orderBy(col("seq_len"))
    }
  }

  /** Exact heavy hitters over the token stream (count > n/100),
    * served by the mergeable Misra–Gries sketch: pass 1 ships O(k)
    * state per task instead of shuffling the full vocabulary, pass 2
    * exact-counts only the ≤ k sketch candidates (a superset of every
    * true heavy hitter — MG admits no false negatives), with the
    * bounded `isin` pushed into the parquet scan. The oracle is the
    * plain full-vocabulary groupBy: same rows, provably. */
  val textHeavyHitters: GQuery = GQuery(
    "text_heavy_hitters",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |n AS (SELECT count(*) AS n FROM tok),
      |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
      |SELECT token, cnt FROM c CROSS JOIN n WHERE cnt * 100 > n
      |ORDER BY cnt DESC, token""".stripMargin) { (s, dir) =>
    graft.api.Text.heavyHittersFromTokens(
      tokens(s, dir).withColumnRenamed("term", "token"), k = 100)
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Feature hashing (the hashing trick, Weinberger et al. 2009 —
    * HashingTF's relational form): each token lands in one of 16
    * buckets by portable hash, per-document bucket counts are the
    * fixed-width feature vector a downstream model consumes — no
    * vocabulary dictionary to build, broadcast, or keep consistent
    * across engines/runs. Narrow explode + one map-side-combining
    * aggregate on (doc, bucket): the key space is docs×16 no matter
    * how large the vocabulary grows. Emitted sparse (absent buckets
    * are zero), doc 0..19 to keep the contract row count fixed. */
  val textFeatureHashing: GQuery = GQuery(
    "text_feature_hashing",
    s"""SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
       |FROM (
       |  SELECT doc_id,
       |    ${duckHash("concat('fh:', token)")} % 16 AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |        FROM documents WHERE doc_id < 20))
       |GROUP BY doc_id, bucket
       |ORDER BY doc_id, bucket""".stripMargin) { (s, dir) =>
    tokens(s, dir).filter(col("doc_id") < 20)
      .select(col("doc_id"),
        pmod(graft.api.Sampling.portableHash(col("term"), "fh:"),
          lit(16L)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** Per-document mean BIGRAM surprisal, −mean ln p(w₂|w₁) with add-1
    * smoothing — the conditional companion to text_surprisal: a doc
    * whose words are normal but whose word ORDER is scrambled or
    * templated only stands out under a second-order model. Same
    * decimal-grid sum discipline (8-place-rounded logs, DECIMAL sum,
    * 6-place mean). */
  val textSurprisalBigram: GQuery = GQuery(
    "text_surprisal_bigram",
    """WITH spl AS (SELECT doc_id, string_split(text, ' ') AS sp
      |             FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest([list_extract(sp, i) || ' ' || list_extract(sp, i + 1)
      |                 for i in range(1, len(sp))]) AS ngram
      |       FROM spl),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents),
      |c2 AS (SELECT ngram, count(*) AS c2 FROM bg GROUP BY 1),
      |c1 AS (SELECT token AS w1, count(*) AS c1 FROM tok GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM c1),
      |sc AS (SELECT ngram,
      |         CAST(round(-ln((c2 + 1.0) / (c1 + v)), 8)
      |           AS DECIMAL(14,8)) AS s
      |       FROM c2 JOIN c1
      |         ON list_extract(string_split(ngram, ' '), 1) = c1.w1
      |       CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS surprisal
      |FROM bg JOIN sc USING (ngram)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.api.Text.surprisalBigram(
      Tables.documentsSpread(s, dir), "doc_id", "text",
      preTokenized =
        Some(tokens(s, dir).withColumnRenamed("term", "token")),
      preNgrams = Some(bigrams(s, dir)))
      .orderBy(col("doc_id"))
  }

  /** Per-document character-level Shannon entropy over the lowercased
    * a-z alphabet — the compression-adjacent quality signal next to
    * [[textQualityScore]]'s ratio features (very low entropy flags
    * repeated-character/boilerplate junk, very high flags
    * random-string noise; both tails are filter candidates in a
    * corpus pipeline). Computed in the algebraic one-aggregate form
    * H = ln n − (Σ k·ln k)/n — identical math to −Σ (k/n)·ln(k/n)
    * but needing NO per-class share (so no window for the doc total):
    * the class counts fold in a single per-doc aggregate.
    * Determinism: per-class logs 8-place-rounded, and the k·ln k sum
    * runs on the DECIMAL grid (integer k × DECIMAL(14,8) log — the
    * [[textSurprisal]] discipline): each term is an exact multiple of
    * 1e-8, so the sum is order-free and bit-identical on any engine
    * (a plain double sum crossed a half-ULP rounding boundary on one
    * sf0.1 doc). The final expression is one fixed double
    * computation over identical inputs.
    *
    * Scale shape: the char explode combines map-side to ≤ 26 rows per
    * (doc, partition) before the ONE doc_id-family shuffle; no
    * corpus-wide state, streaming-safe as a per-doc projection. */
  val textEntropy: GQuery = GQuery(
    "text_entropy",
    """WITH ch AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]'))
      |    AS c
      |  FROM documents),
      |cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
      |        FROM ch GROUP BY doc_id, c),
      |a AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
      |        CAST(sum(CAST(k AS DECIMAL(12,0))
      |          * CAST(round(ln(CAST(k AS DOUBLE)), 8) AS DECIMAL(14,8)))
      |          AS DOUBLE) AS s
      |      FROM cnt GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS INT) AS n_alpha,
      |  round(round(ln(CAST(n AS DOUBLE)), 8) - s / n, 6) AS entropy
      |FROM a
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]"),
          lit(0))).as("c"))
      .groupBy(col("doc_id"), col("c"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n"),
        sum(col("k").cast("decimal(12,0)")
          * round(log(col("k").cast("double")), 8)
            .cast("decimal(14,8)")).cast("double").as("s"))
      .select(col("doc_id"), col("n").cast("int").as("n_alpha"),
        round(round(log(col("n").cast("double")), 8)
          - col("s") / col("n"), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** PII detection audit over a corpus with PLANTED synthetic PII —
    * the detection/inventory counterpart of [[textNormalize]]'s scrub
    * pass (an audit reports what WOULD be redacted, per type, and
    * proves the scrub leaves nothing behind). The synthetic corpus
    * carries no real PII, so both engines plant the SAME deterministic
    * emails / phone numbers / IPv4s (keyed off doc_id — the
    * source_csv_malformed planted-fixture pattern), then count
    * matches per type, scrub, and re-scan the scrubbed text: leftover
    * MUST be 0, and that invariant rides the oracle hash-check.
    * Patterns are RE2-compatible (no \b, no \d — explicit classes),
    * replacement order is email → ip → phone so no later pattern can
    * match inside an earlier placeholder. Pure per-row projection +
    * one small per-lang rollup — streaming-safe, no corpus state. */
  val textPiiAudit: GQuery = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    // DuckDB string literals keep backslashes verbatim (no escape
    // processing), so the same pattern string embeds directly; the
    // Spark side uses the string-overload regexp functions, which
    // also take the pattern verbatim — one pattern, two engines
    val emailD = email
    GQuery(
      "text_pii_audit",
      s"""WITH planted AS (
         |  SELECT doc_id, lang, concat(text,
         |    CASE WHEN doc_id % 7 = 0 THEN concat(' contact user',
         |      CAST(doc_id AS VARCHAR), '@example.com') ELSE '' END,
         |    CASE WHEN doc_id % 11 = 0 THEN concat(' call 415-555-',
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
         |    CASE WHEN doc_id % 13 = 0 THEN concat(' host 10.0.',
         |      CAST(doc_id % 200 AS VARCHAR), '.',
         |      CAST(doc_id % 100 AS VARCHAR)) ELSE '' END) AS t
         |  FROM documents),
         |audited AS (
         |  SELECT doc_id, lang,
         |    len(regexp_extract_all(t, '$emailD')) AS n_email,
         |    len(regexp_extract_all(t, '$ip')) AS n_ip,
         |    len(regexp_extract_all(t, '$phone')) AS n_phone,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$emailD', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |      '$phone', '<PHONE>', 'g') AS scrubbed
         |  FROM planted)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1
         |           ELSE 0 END) AS BIGINT) AS docs_with_pii,
         |  CAST(sum(n_email) AS BIGINT) AS emails,
         |  CAST(sum(n_ip) AS BIGINT) AS ips,
         |  CAST(sum(n_phone) AS BIGINT) AS phones,
         |  CAST(sum(len(regexp_extract_all(scrubbed, '$emailD'))
         |    + len(regexp_extract_all(scrubbed, '$ip'))
         |    + len(regexp_extract_all(scrubbed, '$phone')))
         |    AS BIGINT) AS leftover
         |FROM audited GROUP BY lang
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      val t = concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(""),
        when(col("doc_id") % 11 === 0, concat(lit(" call 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(""),
        when(col("doc_id") % 13 === 0, concat(lit(" host 10.0."),
          (col("doc_id") % 200).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"))).otherwise(""))
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(
        col("t"), email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")
      def hits(c: org.apache.spark.sql.Column,
          pat: String): org.apache.spark.sql.Column =
        size(regexp_extract_all(c, lit(pat), lit(0)))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), t.as("t"))
        .select(col("doc_id"), col("lang"),
          hits(col("t"), email).as("n_email"),
          hits(col("t"), ip).as("n_ip"),
          hits(col("t"), phone).as("n_phone"),
          scrubbed.as("scrubbed"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1)
            .otherwise(0)).as("docs_with_pii"),
          sum(col("n_email")).cast("bigint").as("emails"),
          sum(col("n_ip")).cast("bigint").as("ips"),
          sum(col("n_phone")).cast("bigint").as("phones"),
          sum(hits(col("scrubbed"), email) + hits(col("scrubbed"), ip)
            + hits(col("scrubbed"), phone)).cast("bigint").as("leftover"))
        .orderBy(col("lang"))
    }
  }

  /** C4-style URL dedup ([[graft.api.Text.urlKeepList]]): canonicalize
    * each document's source URL (lowercase, scheme + `www.` stripped,
    * query/fragment dropped, trailing slash removed) and keep exactly
    * one doc — the smallest doc_id — per canonical form. The fixture
    * has no URL column, so a messy raw URL is DERIVED deterministically
    * from (doc_id, source, lang): scheme case, `www.` presence, host
    * case, and a query/fragment/slash tail all rotate on doc_id, so
    * the canonicalizer does real work and distinct raw strings provably
    * collide. Canonicalization is a per-row projection; the keep
    * decision is ONE hash shuffle on the canonical key (unbounded
    * window min — no ordered frame, no join-back), the exact
    * dedup_exact scale shape. */
  val textDedupUrl: GQuery = {
    // concat() rather than the SQL || operator: this fragment is
    // interpolated into a stripMargin block below, which would eat
    // the first pipe of every line-leading ||
    val rawSql =
      "concat(CASE doc_id % 3 WHEN 0 THEN 'HTTP://WWW.' " +
        "WHEN 1 THEN 'https://' ELSE 'http://www.' END, " +
        "source, '.Example.COM/', lang, '/page', " +
        "CAST(doc_id % 40 AS VARCHAR), " +
        "CASE doc_id % 4 WHEN 0 THEN '/' WHEN 1 THEN '?utm_source=feed' " +
        "WHEN 2 THEN '#ref' ELSE '' END)"
    GQuery(
      "text_dedup_url",
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    lower(raw_url),
         |    '^https?://', ''), '^www\\.', ''), '[?#].*', ''), '/$$', '')
         |    AS url,
         |  doc_id = min(doc_id) OVER (PARTITION BY
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      lower(raw_url),
         |      '^https?://', ''), '^www\\.', ''), '[?#].*', ''), '/$$', ''))
         |    AS keep
         |FROM (SELECT doc_id, $rawSql AS raw_url FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val raw = concat(
        when(col("doc_id") % 3 === 0, lit("HTTP://WWW."))
          .when(col("doc_id") % 3 === 1, lit("https://"))
          .otherwise(lit("http://www.")),
        col("source"), lit(".Example.COM/"), col("lang"), lit("/page"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/"))
          .when(col("doc_id") % 4 === 1, lit("?utm_source=feed"))
          .when(col("doc_id") % 4 === 2, lit("#ref"))
          .otherwise(lit("")))
      graft.api.Text.urlKeepList(
        Tables.documents(s, dir).select(col("doc_id"), raw.as("raw_url")),
        "doc_id", "raw_url")
        .orderBy(col("doc_id"))
    }
  }

  /** Minimum-frequency VOCABULARY PRUNING profile — the `<unk>`
    * decision of classic tokenizer/vocab builds: tokens whose GLOBAL
    * count falls below a data-driven threshold (mean count ÷ 10,
    * integer arithmetic, so the cut scales with the corpus instead of
    * hardcoding an sf-specific constant) are out-of-vocabulary;
    * report per-language token volume, seen vocabulary, OOV token and
    * type counts, and the OOV rate. The signal a corpus curator reads
    * before fixing a vocab size: how much text a frequency cut wipes
    * out, and whether it hits one language disproportionately.
    *
    * Scale shape: two map-side-combining aggregates ((lang, token)
    * then token), one vocabulary-keyed join (never a vocab
    * broadcast — AQE promotes if it fits), a 1-row threshold scalar,
    * and a |langs|-row final rollup. No per-doc state, no windows. */
  val textVocabOov: GQuery = GQuery(
    "text_vocab_oov",
    """WITH tok AS (
      |  SELECT d.lang, unnest(string_split(d.text, ' ')) AS token
      |  FROM documents d),
      |lt AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |g AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS gcnt
      |      FROM lt GROUP BY 1),
      |tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS total, count(*) AS vocab
      |        FROM g),
      |thr AS (SELECT total // (vocab * 10) AS min_cnt FROM tot)
      |SELECT lt.lang,
      |  CAST(sum(lt.cnt) AS BIGINT) AS total_tokens,
      |  CAST(count(*) AS BIGINT) AS vocab_seen,
      |  CAST(sum(CASE WHEN g.gcnt < thr.min_cnt THEN lt.cnt ELSE 0 END)
      |    AS BIGINT) AS oov_tokens,
      |  CAST(sum(CASE WHEN g.gcnt < thr.min_cnt THEN 1 ELSE 0 END)
      |    AS BIGINT) AS oov_types,
      |  CAST(round(CAST(sum(CASE WHEN g.gcnt < thr.min_cnt THEN lt.cnt
      |      ELSE 0 END) AS DOUBLE) / sum(lt.cnt), 6) AS DOUBLE) AS oov_rate
      |FROM lt JOIN g USING (token) CROSS JOIN thr
      |GROUP BY lt.lang ORDER BY lt.lang""".stripMargin) { (s, dir) =>
    val tok = Tables.documentsSpread(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    val lt = tok.groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val g = lt.groupBy(col("token")).agg(sum(col("cnt")).as("gcnt"))
    val thr = g.agg(sum(col("gcnt")).as("total"),
        count(lit(1)).as("vocab"))
      .select(expr("total div (vocab * 10)").as("min_cnt"))
    lt.join(g, Seq("token")).crossJoin(broadcast(thr))
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("tt"), count(lit(1)).as("vs"),
        sum(when(col("gcnt") < col("min_cnt"), col("cnt"))
          .otherwise(lit(0L))).as("ot"),
        sum(when(col("gcnt") < col("min_cnt"), lit(1L))
          .otherwise(lit(0L))).as("oty"))
      .select(col("lang"), col("tt").cast("bigint").as("total_tokens"),
        col("vs").cast("bigint").as("vocab_seen"),
        col("ot").cast("bigint").as("oov_tokens"),
        col("oty").cast("bigint").as("oov_types"),
        round(col("ot").cast("double") / col("tt"), 6)
          .cast("double").as("oov_rate"))
      .orderBy(col("lang"))
  }

  /** The first 3 BPE merges trained on the corpus
    * (graft.api.Text.bpeMerges): the tokenizer-vocabulary construction
    * step itself, as a contract query — (round, pair, cnt) per merge,
    * frequency-weighted over the distinct-word table, deterministic
    * (cnt desc, pair asc) tie-break, greedy left-to-right merge
    * application. The DuckDB oracle replays the full trajectory —
    * char-splitting, pair counting, argmax, and the `replace`-based
    * merge are all engine-portable relational steps. */
  val textBpeMerges: GQuery = {
    def roundCtes(i: Int): String = {
      val p = i - 1
      s"""t$i AS (SELECT word, freq,
         |  unnest(string_split(trim(seq), ' ')) AS tk,
         |  generate_subscripts(string_split(trim(seq), ' '), 1) AS ord
         |  FROM w$p),
         |p$i AS (SELECT a.tk || ' ' || b.tk AS pair,
         |    CAST(sum(a.freq) AS BIGINT) AS cnt
         |  FROM t$i a JOIN t$i b ON a.word = b.word AND b.ord = a.ord + 1
         |  GROUP BY 1),
         |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (SELECT w.word, w.freq,
         |    replace(w.seq, ' ' || b.pair || ' ',
         |      ' ' || replace(b.pair, ' ', '') || ' ') AS seq
         |  FROM w$p w CROSS JOIN b$i b)""".stripMargin
    }
    GQuery(
      "text_bpe_merges",
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
         |  FROM tok GROUP BY word),
         |${roundCtes(1)},
         |${roundCtes(2)},
         |${roundCtes(3)}
         |SELECT * FROM (
         |  SELECT 1 AS round, pair, cnt FROM b1
         |  UNION ALL SELECT 2, pair, cnt FROM b2
         |  UNION ALL SELECT 3, pair, cnt FROM b3)
         |ORDER BY round""".stripMargin) { (s, dir) =>
      graft.api.Text.bpeMerges(Tables.documentsSpread(s, dir),
        "text", rounds = 3)
        .orderBy(col("round"))
    }
  }

  /** BPE vocabulary APPLICATION (graft.api.Text.bpeSegment) — the
    * serving half of [[textBpeMerges]]: segment every token under the
    * 3 trained merges and report per-language word volume, BPE token
    * volume, and tokens-per-word (the tokenizer-fertility metric that
    * decides whether a vocabulary is adequate for a language slice —
    * the number multilingual-tokenizer papers tabulate). The DuckDB
    * oracle replays training AND application in one CTE chain.
    *
    * Scale shape: the corpus is scanned twice (word counts for
    * training, the token stream for application) — both through
    * map-side-combining aggregates; the application join is
    * vocabulary-keyed (un-hinted; AQE promotes the vocab side when
    * small) and the rollup is |langs| rows. */
  val textBpeSegment: GQuery = {
    def roundCtes(i: Int): String = {
      val p = i - 1
      s"""t$i AS (SELECT word, freq,
         |  unnest(string_split(trim(seq), ' ')) AS tk,
         |  generate_subscripts(string_split(trim(seq), ' '), 1) AS ord
         |  FROM w$p),
         |p$i AS (SELECT a.tk || ' ' || b.tk AS pair,
         |    CAST(sum(a.freq) AS BIGINT) AS cnt
         |  FROM t$i a JOIN t$i b ON a.word = b.word AND b.ord = a.ord + 1
         |  GROUP BY 1),
         |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (SELECT w.word, w.freq,
         |    replace(w.seq, ' ' || b.pair || ' ',
         |      ' ' || replace(b.pair, ' ', '') || ' ') AS seq
         |  FROM w$p w CROSS JOIN b$i b)""".stripMargin
    }
    GQuery(
      "text_bpe_segment",
      s"""WITH tokl AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
         |  FROM tokl GROUP BY word),
         |${roundCtes(1)},
         |${roundCtes(2)},
         |${roundCtes(3)},
         |syms AS (SELECT word, len(string_split(trim(seq), ' ')) AS n_syms
         |  FROM w3)
         |SELECT tokl.lang,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(s.n_syms) AS BIGINT) AS n_tokens,
         |  CAST(round(CAST(sum(s.n_syms) AS DOUBLE) / count(*), 6)
         |    AS DOUBLE) AS tokens_per_word
         |FROM tokl JOIN syms s USING (word)
         |GROUP BY tokl.lang ORDER BY tokl.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      val seg = graft.api.Text.bpeSegment(docs, "text", rounds = 3)
      docs.select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .join(seg.select(col("word"), col("n_syms")), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("nw"), sum(col("n_syms")).as("nt"))
        .select(col("lang"), col("nw").cast("bigint").as("n_words"),
          col("nt").cast("bigint").as("n_tokens"),
          round(col("nt").cast("double") / col("nw"), 6)
            .cast("double").as("tokens_per_word"))
        .orderBy(col("lang"))
    }
  }

  /** Benchmark DECONTAMINATION — the train/eval n-gram-overlap sweep
    * every serious pre-training run performs before touching an eval
    * suite (GPT-3 appendix C / PaLM style, 13-gram collisions; 4-gram
    * here so the fixture's clone pairs surface). The eval set is a
    * deterministic ~2% hash slice of the corpus standing in for the
    * benchmark suite; the report is one row per contaminated
    * (train doc, eval doc) pair with the count of DISTINCT shared
    * 4-grams — the artifact a decontamination pass hands to the
    * filtering step and the eval-integrity writeup.
    *
    * Scale shape: a gram-keyed equi-join, deliberately UN-hinted —
    * real eval suites are tiny (10⁴–10⁶ grams) and AQE promotes the
    * distinct eval-gram side to broadcast from runtime stats, turning
    * the corpus side into a streamed in-memory filter; but THIS
    * fixture's eval set is a ~2% hash slice whose gram count scales
    * with the corpus, and the fleet broadcast policy
    * (BroadcastPolicySpec) rightly forbids an unconditional hint on
    * an SF-scaling frame. Both dedup passes are min-struct-free
    * distincts that combine map-side before their shuffles. */
  /** One oracle for both decontamination rows: the in-memory form and
    * the saved-eval-gram-index serving twin compute the identical
    * (train_id, eval_id, n_shared) table, so they share this SQL. */
  private lazy val duckDecontaminateSql =
    s"""WITH g AS (
       |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                           || ' ' || t[i+3]
       |                         for i in generate_series(1, len(t) - 3)]) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |ev AS (SELECT doc_id FROM documents
       |       WHERE ${duckHash("concat('eval:', CAST(doc_id AS VARCHAR))")}
       |             % 50 = 0),
       |eg AS (SELECT DISTINCT doc_id AS eval_id, g FROM g
       |       WHERE doc_id IN (SELECT doc_id FROM ev)),
       |pairs AS (SELECT DISTINCT t.doc_id AS train_id, e.eval_id, t.g
       |          FROM g t JOIN eg e USING (g)
       |          WHERE t.doc_id NOT IN (SELECT doc_id FROM ev))
       |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM pairs GROUP BY train_id, eval_id
       |ORDER BY train_id, eval_id""".stripMargin

  /** The eval suite: the 1-in-50 portable-hash slice of documents. */
  private val isEvalDoc =
    pmod(graft.api.Sampling.portableHash(col("doc_id"), "eval:"),
      lit(50L)) === lit(0L)

  val textDecontaminate: GQuery = GQuery(
    "text_decontaminate", duckDecontaminateSql) { (s, dir) =>
    val g = graft.api.Text.ngrams(
      Tables.documentsSpread(s, dir), "doc_id", "text", n = 4)
    val evalGrams = g.filter(isEvalDoc)
      .select(col("doc_id").as("eval_id"), col("ngram")).distinct()
    g.filter(!isEvalDoc)
      .select(col("doc_id").as("train_id"), col("ngram")).distinct()
      .join(evalGrams, Seq("ngram"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** DECONTAMINATION served from the SAVED eval-gram index — the
    * amortized form of `text_decontaminate` (the
    * dedup_containment_ingest pattern): real eval suites are fixed
    * and reused across training runs, so their distinct 4-grams are
    * indexed ONCE (`Text.evalGramIndexBuild`, bucket-partitioned
    * postings + per-eval sorted gram arrays) and every corpus scan
    * probes the saved grams without re-shingling the eval side. Same
    * oracle as the in-memory row — identical (train_id, eval_id,
    * n_shared) — so the index path is hash-certified against it.
    *
    * Scale shape: the training side streams through once (grams are
    * doc-local); the posting join is gram-keyed with the probed
    * buckets pruned at planning time; n_shared attaches per surviving
    * PAIR via the codegen'd sorted-merge count — the eval suite's
    * text never rides the join. TextStreamsSpec pins the streaming
    * (stateless, Append-safe) and batch plans equal. */
  val textDecontaminateIndexed: GQuery = GQuery(
    "text_decontaminate_indexed", duckDecontaminateSql) { (s, dir) =>
    graft.streaming.TextStreams.decontaminateAgainstSavedIndex(
      Tables.documentsSpread(s, dir).filter(!isEvalDoc),
      ensureDcnEvalG4(s, dir), "doc_id", "text")
      .orderBy(col("train_id"), col("eval_id"))
  }

  /** dcn_eval_g4: the saved eval-gram index over the eval suite —
    * text_decontaminate_indexed's and StreamBench's decontamination
    * twin's one build. */
  private[graft] def ensureDcnEvalG4(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("dcn_eval_g4", dir, "documents.parquet")) {
      tmp => graft.api.Text.evalGramIndexBuild(
        Tables.documentsSpread(s, dir).filter(isEvalDoc), "doc_id", "text",
        tmp)
    }

  /** ZIPF-fit corpus QA — the rank-frequency log-log slope per
    * language over the top-100 terms: natural language sits near −1;
    * a corpus whose slope collapses toward 0 (flat — templated/
    * synthetic text, as this fixture's ≈ −0.2 shows) or dives steeply
    * (a few tokens dominating — boilerplate) fails the corpus-level
    * sanity check that per-document scores can't see. Slope computed
    * from the closed form (nΣxy−ΣxΣy)/(nΣxx−(Σx)²) with x = ln rank,
    * y = ln count each rounded to 8 places and summed on the
    * DECIMAL(14,8) grid — order-free cross-engine, no regr_slope
    * float accumulation.
    *
    * Scale shape: the vocabulary count combines map-side; the
    * top-100-per-lang rank is a window over ≤|vocab| rows per lang
    * (the one corpus-sized shuffle is the token count itself, shared
    * with the other consumers via the session memo); the fit sums
    * 100 rows per lang. */
  val textZipfFit: GQuery = GQuery(
    "text_zipf_fit",
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |c AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |r AS (SELECT lang, term, cnt,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY cnt DESC, term) AS rk
      |      FROM c),
      |t AS (SELECT lang,
      |        CAST(round(ln(CAST(rk AS DOUBLE)), 8) AS DECIMAL(14,8)) AS x,
      |        CAST(round(ln(CAST(cnt AS DOUBLE)), 8) AS DECIMAL(14,8)) AS y
      |      FROM r WHERE rk <= 100)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
      |  round((count(*) * CAST(sum(x*y) AS DOUBLE)
      |         - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
      |        / (count(*) * CAST(sum(x*x) AS DOUBLE)
      |           - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)), 6)
      |    AS zipf_slope
      |FROM t GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val c = tokens(s, dir)
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term"))
    val t = c.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 100)
      .select(col("lang"),
        round(log(col("rk").cast("double")), 8)
          .cast("decimal(14,8)").as("x"),
        round(log(col("cnt").cast("double")), 8)
          .cast("decimal(14,8)").as("y"))
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n_terms"),
        round((col("n_terms") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_terms") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"))
      .orderBy(col("lang"))
  }

  /** VOCABULARY GROWTH (Heaps' law curve) — cumulative distinct
    * vocabulary vs cumulative token count as the corpus is consumed
    * in doc_id order, in 50-doc ingestion batches: the "how fast does
    * my vocabulary grow" readout that sizes tokenizers and OOV
    * budgets (natural corpora follow V ≈ K·N^β, β ≈ 0.5; the
    * fixture's closed template vocabulary saturates almost
    * immediately — exactly what the curve exists to reveal).
    *
    * Scale shape: each term collapses to its FIRST batch (min over
    * the doc-batch key, map-side combining — never a sort of the
    * token stream); token totals are a per-batch count; both fold
    * into cumulative sums over the tiny batch grid. Consumes the
    * shared token memo. */
  val textVocabGrowth: GQuery = GQuery(
    "text_vocab_growth",
    """WITH tok AS (SELECT doc_id // 50 AS batch,
      |        unnest(string_split(text, ' ')) AS term
      |      FROM documents),
      |per_batch AS (SELECT batch, count(*) AS n_tokens
      |              FROM tok GROUP BY batch),
      |first_seen AS (SELECT term, min(batch) AS batch FROM tok
      |               GROUP BY term),
      |new_terms AS (SELECT batch, count(*) AS n_new
      |              FROM first_seen GROUP BY batch)
      |SELECT CAST(p.batch AS INT) AS batch,
      |  CAST(sum(p.n_tokens) OVER (ORDER BY p.batch) AS BIGINT)
      |    AS cum_tokens,
      |  CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY p.batch) AS BIGINT)
      |    AS cum_vocab
      |FROM per_batch p LEFT JOIN new_terms n ON p.batch = n.batch
      |ORDER BY batch""".stripMargin) { (s, dir) =>
    val tok = tokens(s, dir)
      .select((col("doc_id") / 50).cast("bigint").as("batch"), col("term"))
    val perBatch = tok.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTerms = tok.groupBy(col("term"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("batch"))
    perBatch.join(newTerms, Seq("batch"), "left_outer")
      .select(col("batch").cast("int").as("batch"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        sum(coalesce(col("n_new"), lit(0L))).over(w).as("cum_vocab"))
      .orderBy(col("batch"))
  }

  /** Per-document n-gram novelty — the memorization-risk profile of a
    * training corpus: the share of a document's word-3-grams that
    * appear in NO other document (corpus document-frequency 1). Heavy
    * boilerplate/mirror duplication shows up as novelty ≈ 0 long
    * before an exact-dup pass fires; a novelty histogram is the
    * first-look answer to "how much of this crawl is actually new
    * text". Reuses the dedup family's memoized shingle table and
    * df-stats (the corpus is shingled ONCE per session across all
    * consumers).
    *
    * Scale posture: df is a map-side-combining count on the shingle
    * key; the df attach is a keyed join on that same key (never
    * hinted — vocabulary cardinality); the per-doc share collapses
    * map-side to one row per document. No pair joins, no windows. */
  val textNgramNovelty: GQuery = GQuery(
    "text_ngram_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |          for i in generate_series(1, len(t) - 2)]) AS shingle
      |  FROM toks),
      |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
      |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
      |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS novelty
      |FROM sh JOIN df ON df.shingle = sh.shingle
      |GROUP BY sh.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = DedupQueries.shingles(s, dir)
    val novel = when(col("df") === 1, 1).otherwise(0)
    sh.join(DedupQueries.shingleDfreq(s, dir), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(novel).as("n_novel"),
        round(sum(novel).cast("double") / count(lit(1)), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** LEXICAL DIVERSITY per document — type-token ratio and hapax
    * ratio (share of a doc's vocabulary used exactly once), the two
    * standard diversity scores next to text_repetition's redundancy
    * view: low TTR = templated/boilerplate text, high hapax = fresh
    * vocabulary. Ratios are one double divide each, rounded 6.
    *
    * Scale shape: tokens → per-(doc, term) counts is the map-side-
    * combining shuffle every tf consumer pays (shared via the
    * memoized tokens frame); the diversity rollup collapses to one
    * row per doc. No vocabulary-global state at all. */
  val textTtr: GQuery = GQuery(
    "text_ttr",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
      |  round(count(*) FILTER (WHERE c = 1)
      |    / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
      |FROM tf GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    tokens(s, dir)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(count(lit(1)) / sum(col("c")).cast("double"), 6).as("ttr"),
        round(count(when(col("c") === 1, 1))
          / count(lit(1)).cast("double"), 6).as("hapax_ratio"))
      .orderBy(col("doc_id"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase pass curation stacks run where TF-IDF's single terms
    * fall short: candidate phrases are the maximal stopword-free token
    * runs (gaps-and-islands on the api.Text.defaultStopwords breaks),
    * each word scores degree/frequency (degree = Σ length of the
    * phrase instances containing it, frequency = its occurrence count
    * in phrases), and a phrase scores the sum of its member word
    * scores (with multiplicity). Top-15 phrases by score.
    *
    * Determinism: word scores land on a DECIMAL(14,8) grid (one
    * integer divide rounded 8), phrase scores are exact decimal sums
    * of those grid values, ranking is (score desc, phrase) on the
    * exact decimals; display rounds 6.
    *
    * Scale shape: run assignment is one doc-keyed window (position −
    * row_number, the gaps-and-islands id); word stats are
    * map-side-combining aggregates; the word-score attach is a
    * WORD-KEYED join (the text_vocab_oov discipline — a vocabulary is
    * never broadcast); phrase reassembly groups on (doc, run). Top-15
    * is a distributed heap merge. */
  val textRakeKeywords: GQuery = {
    val stop = graft.api.Text.defaultStopwords
    val stopList = stop.map(w => s"'$w'").mkString(", ")
    GQuery("text_rake_keywords",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |              FROM documents),
         |tw AS (
         |  SELECT doc_id, s.p AS p, s.w AS w FROM (
         |    SELECT doc_id, unnest([{'p': i, 'w': t[i]}
         |      for i in generate_series(1, len(t))]) AS s
         |    FROM toks)),
         |ns AS (
         |  SELECT doc_id, p, w,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
         |      AS grp
         |  FROM tw WHERE w NOT IN ($stopList)),
         |freq AS (SELECT w, count(*) AS freq FROM ns GROUP BY w),
         |plen AS (SELECT doc_id, grp, count(*) AS plen
         |         FROM ns GROUP BY doc_id, grp),
         |deg AS (
         |  SELECT n.w, sum(l.plen) AS deg
         |  FROM ns n JOIN plen l
         |    ON n.doc_id = l.doc_id AND n.grp = l.grp
         |  GROUP BY n.w),
         |wsc AS (
         |  SELECT w, CAST(round(CAST(deg AS DOUBLE) / freq, 8)
         |    AS DECIMAL(14,8)) AS ws
         |  FROM deg JOIN freq USING (w)),
         |pinst AS (
         |  SELECT n.doc_id, n.grp,
         |    string_agg(n.w, ' ' ORDER BY n.p) AS phrase,
         |    sum(s.ws) AS score
         |  FROM ns n JOIN wsc s ON n.w = s.w
         |  GROUP BY n.doc_id, n.grp),
         |agg AS (
         |  SELECT phrase, CAST(count(*) AS BIGINT) AS cnt,
         |    max(score) AS score
         |  FROM pinst GROUP BY phrase)
         |SELECT phrase, cnt, round(CAST(score AS DOUBLE), 6) AS score
         |FROM agg
         |ORDER BY score DESC, phrase
         |LIMIT 15""".stripMargin) { (s, dir) =>
      val tw = Tables.documentsSpread(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      // 0-based positions (vs the oracle's 1-based) shift every run id
      // by a per-doc constant — the (doc, grp) grouping is identical
      val ns = tw.filter(!col("w").isin(stop: _*))
        .withColumn("grp", col("p") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      val freq = ns.groupBy(col("w")).agg(count(lit(1)).as("freq"))
      val plen = ns.groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("plen"))
      val deg = ns.join(plen, Seq("doc_id", "grp"))
        .groupBy(col("w")).agg(sum(col("plen")).as("deg"))
      val wsc = deg.join(freq, Seq("w"))
        .select(col("w"),
          round(col("deg").cast("double") / col("freq"), 8)
            .cast("decimal(14,8)").as("ws"))
      val pinst = ns.join(wsc, Seq("w"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("phrase"),
          sum(col("ws")).as("score"))
      pinst.groupBy(col("phrase"))
        .agg(count(lit(1)).as("cnt"), max(col("score")).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(15)
        .select(col("phrase"), col("cnt"),
          round(col("score").cast("double"), 6).as("score"))
    }
  }

  /** CCNet-style QUALITY BUCKETING — the head/middle/tail split CCNet
    * applies to each language's crawl before choosing what to train
    * on: per-LANG terciles of the `text_surprisal` LM score partition
    * that language's docs into head (lowest surprisal — most fluent
    * under the corpus model), middle, and tail (rare-token-heavy /
    * noisy), reported per (lang, bucket) with doc count, token mass,
    * and mean surprisal. Thresholds are the exact interpolated
    * terciles (percentile ≡ DuckDB quantile_cont — the
    * agg_percentiles precedent) ROUNDED to the score's own 6-place
    * grid before the ≤ compares, so boundary docs bucket identically
    * on every engine; per-bucket means re-quantize the 6-place scores
    * to DECIMAL(14,6) before their exact sums.
    *
    * Scale shape: the surprisal chain is the text_surprisal plan (its
    * token explode is the session-memoized frame); thresholds are a
    * \|langs\|-row aggregate broadcast back (never a corpus shuffle
    * onto \|langs\| tasks); the rest is one map-side-combining
    * rollup. Exact per-lang percentiles accumulate value→count maps
    * over the 6-place score grid — at 100 TB swap for
    * approx_percentile exactly as agg_percentiles documents. */
  val textQualityBuckets: GQuery = GQuery(
    "text_quality_buckets",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cnt),
      |sc AS (SELECT token,
      |         CAST(round(-ln((c + 1.0) / (n + v)), 8) AS DECIMAL(14,8)) AS s
      |       FROM cnt CROSS JOIN tot),
      |sd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS sur
      |       FROM tok JOIN sc USING (token) GROUP BY doc_id),
      |wl AS (SELECT sd.doc_id, sd.n_tokens, sd.sur, d.lang
      |       FROM sd JOIN documents d USING (doc_id)),
      |th AS (SELECT lang,
      |         round(quantile_cont(sur, 0.33333333), 6) AS q33,
      |         round(quantile_cont(sur, 0.66666667), 6) AS q66
      |       FROM wl GROUP BY lang),
      |b AS (SELECT wl.lang,
      |        CASE WHEN sur <= q33 THEN 'head'
      |             WHEN sur <= q66 THEN 'middle'
      |             ELSE 'tail' END AS bucket,
      |        n_tokens, CAST(sur AS DECIMAL(14,6)) AS surd
      |      FROM wl JOIN th USING (lang))
      |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |  round(CAST(sum(surd) AS DOUBLE) / count(*), 6) AS mean_surprisal
      |FROM b GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
    val sd = graft.api.Text.surprisalFromTokens(
      tokens(s, dir).withColumnRenamed("term", "token"), "doc_id")
    val wl = sd.join(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      Seq("doc_id"))
    val th = wl.groupBy(col("lang")).agg(
      round(expr("percentile(surprisal, 0.33333333d)"), 6).as("q33"),
      round(expr("percentile(surprisal, 0.66666667d)"), 6).as("q66"))
    wl.join(broadcast(th), Seq("lang"))
      .select(col("lang"),
        when(col("surprisal") <= col("q33"), "head")
          .when(col("surprisal") <= col("q66"), "middle")
          .otherwise("tail").as("bucket"),
        col("n_tokens"),
        col("surprisal").cast("decimal(14,6)").as("surd"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        round(sum(col("surd")).cast("double") / count(lit(1)), 6)
          .as("mean_surprisal"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** FLESCH-style readability per document — the classic
    * words-per-sentence × syllables-per-word readability screen every
    * corpus-quality pipeline runs next to stopword/length filters
    * (text_quality_score covers lexical diversity; this covers
    * syntactic complexity). Counts are regex-class tallies portable
    * across engines (RE2-safe classes, same discipline as
    * text_pii_audit): words = `[A-Za-z]+` runs, sentences = `[.!?]+`
    * runs (floored at 1 — headlines without terminal punctuation are
    * one sentence), syllables ≈ vowel-group runs `[aeiouy]+` over the
    * lowercased text (the standard cheap estimator). The two ratios
    * are rounded to the 6-place grid, and the Flesch linear combo
    * `206.835 − 1.015·wps − 84.6·spw` runs on DECIMAL literals in
    * BOTH engines (a bare `1.015` parses as DECIMAL in Spark SQL and
    * DuckDB alike), so the score is exact, not
    * accumulation-order-dependent.
    *
    * Scale shape: pure per-row projection — three regexp scans per
    * doc, no shuffle, no state; streaming-safe and embarrassingly
    * parallel at any corpus size. */
  val textReadability: GQuery = GQuery(
    "text_readability",
    """WITH c AS (
      |  SELECT doc_id,
      |    greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1)
      |      AS n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS n_sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS n_syllables
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_sentences AS BIGINT) AS n_sentences,
      |  CAST(n_syllables AS BIGINT) AS n_syllables,
      |  round(CAST(n_words AS DOUBLE) / n_sentences, 6)
      |    AS words_per_sentence,
      |  round(CAST(n_syllables AS DOUBLE) / n_words, 6)
      |    AS syllables_per_word,
      |  CAST(round(206.835
      |    - 1.015 * CAST(round(CAST(n_words AS DOUBLE) / n_sentences, 6)
      |               AS DECIMAL(14,6))
      |    - 84.6 * CAST(round(CAST(n_syllables AS DOUBLE) / n_words, 6)
      |              AS DECIMAL(14,6)), 6) AS DOUBLE) AS flesch
      |FROM c
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        greatest(size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+"), lit(0))), lit(1)).as("w"),
        greatest(size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))), lit(1)).as("sen"),
        size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0))).as("syl"))
      .select(col("doc_id"),
        col("w").cast("bigint").as("n_words"),
        col("sen").cast("bigint").as("n_sentences"),
        col("syl").cast("bigint").as("n_syllables"),
        round(col("w").cast("double") / col("sen"), 6)
          .as("words_per_sentence"),
        round(col("syl").cast("double") / col("w"), 6)
          .as("syllables_per_word"),
        round(expr("206.835") -
          expr("1.015") * round(col("w").cast("double") / col("sen"), 6)
            .cast("decimal(14,6)") -
          expr("84.6") * round(col("syl").cast("double") / col("w"), 6)
            .cast("decimal(14,6)"), 6).cast("double").as("flesch"))
      .orderBy(col("doc_id"))
  }

  /** GOPHER QUALITY RULES — the named rule-based document filter
    * (Rae et al.'s Gopher / MassiveText heuristics), distinct from
    * text_quality_score's weighted composite: each document gets a
    * BOOLEAN verdict per rule plus the conjunction, which is how
    * production filters actually run (a doc fails on named rules you
    * can audit, not on an opaque score). Rules adapted to the
    * contract's deterministic grid: word-count bounds [10, 100000],
    * mean word length in [2, 10], symbol-to-word ratio ≤ 0.1
    * (# and ellipsis), ≥ 2 distinct common stopwords present, and
    * ≥ 80% of words containing an alphabetic character. All counts
    * are RE2-portable regex-class tallies; ratios round to the
    * 6-place grid before their literal-bound compares.
    *
    * Scale shape: pure per-row projection — no shuffle, no state;
    * streaming-safe, embarrassingly parallel (the text_readability
    * growth law). */
  val textGopherRules: GQuery = {
    val stops = Seq("the", "a", "of", "to", "and", "in", "is")
    val duckStopHits = stops.map(w =>
      s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString(" + ")
    GQuery("text_gopher_rules",
      s"""WITH c AS (
         |  SELECT doc_id,
         |    greatest(len(string_split(text, ' ')), 1) AS n_words,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha_chars,
         |    length(replace(text, ' ', '')) AS n_nonspace,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
         |    len([w for w in string_split(text, ' ')
         |         if regexp_matches(w, '[A-Za-z]')]) AS n_alpha_words,
         |    $duckStopHits AS stop_hits
         |  FROM documents)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  round(CAST(n_nonspace AS DOUBLE) / n_words, 6)
         |    AS mean_word_len,
         |  CAST(stop_hits AS INT) AS stop_hits,
         |  CAST(n_words BETWEEN 10 AND 100000 AS BOOLEAN)
         |    AS rule_word_count,
         |  CAST(round(CAST(n_nonspace AS DOUBLE) / n_words, 6)
         |       BETWEEN 2 AND 10 AS BOOLEAN) AS rule_word_len,
         |  CAST(round(CAST(n_symbols AS DOUBLE) / n_words, 6) <= 0.1
         |       AS BOOLEAN) AS rule_symbol_ratio,
         |  CAST(stop_hits >= 2 AS BOOLEAN) AS rule_stopwords,
         |  CAST(round(CAST(n_alpha_words AS DOUBLE) / n_words, 6) >= 0.8
         |       AS BOOLEAN) AS rule_alpha_words,
         |  CAST(n_words BETWEEN 10 AND 100000
         |    AND round(CAST(n_nonspace AS DOUBLE) / n_words, 6)
         |        BETWEEN 2 AND 10
         |    AND round(CAST(n_symbols AS DOUBLE) / n_words, 6) <= 0.1
         |    AND stop_hits >= 2
         |    AND round(CAST(n_alpha_words AS DOUBLE) / n_words, 6) >= 0.8
         |    AS BOOLEAN) AS passes_all
         |FROM c
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val stopHits = stops.map(w =>
        when(concat(lit(" "), col("text"), lit(" "))
          .like(s"% $w %"), 1).otherwise(0))
        .reduce(_ + _)
      val c = Tables.documents(s, dir)
        .select(col("doc_id"),
          greatest(size(split(col("text"), " ")), lit(1)).as("n_words"),
          length(regexp_replace(col("text"), " ", "")).as("n_nonspace"),
          size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."),
            lit(0))).as("n_symbols"),
          size(filter(split(col("text"), " "),
            w => w.rlike("[A-Za-z]"))).as("n_alpha_words"),
          stopHits.as("stop_hits"))
      val meanLen = round(col("n_nonspace").cast("double")
        / col("n_words"), 6)
      val symRatio = round(col("n_symbols").cast("double")
        / col("n_words"), 6)
      val alphaRatio = round(col("n_alpha_words").cast("double")
        / col("n_words"), 6)
      val rWc = col("n_words").between(10, 100000)
      val rWl = meanLen.between(2, 10)
      val rSym = symRatio <= 0.1
      val rStop = col("stop_hits") >= 2
      val rAlpha = alphaRatio >= 0.8
      c.select(col("doc_id"), col("n_words").cast("bigint").as("n_words"),
          meanLen.as("mean_word_len"),
          col("stop_hits").cast("int").as("stop_hits"),
          rWc.cast("boolean").as("rule_word_count"),
          rWl.cast("boolean").as("rule_word_len"),
          rSym.cast("boolean").as("rule_symbol_ratio"),
          rStop.cast("boolean").as("rule_stopwords"),
          rAlpha.cast("boolean").as("rule_alpha_words"),
          (rWc && rWl && rSym && rStop && rAlpha).cast("boolean")
            .as("passes_all"))
        .orderBy(col("doc_id"))
    }
  }

  /** WINNOWING fingerprint match report — the MOSS algorithm
    * (Schleimer, Wilkerson & Aiken, SIGMOD 2003): hash every 8-char
    * gram, slide a w=4 window over the hash sequence, and select each
    * window's minimum (rightmost on ties — encoded as
    * h·1024 + (1023−pos) so ONE integer min decides both the value
    * and the tiebreak). The guarantee: any shared substring of length
    * ≥ k+w−1 = 11 chars yields at least one shared selected
    * fingerprint, while storing only ~2/(w+1) of all gram hashes —
    * the robust containment detector `text_fingerprint`'s single
    * min-hash cannot give. Output is the pair report: documents
    * sharing ≥ 5 selected fingerprints, with each side's fingerprint
    * count and the overlap coefficient. Fingerprints appearing in
    * > 20 documents are dropped before pairing (the MOSS
    * common-code/boilerplate mask — and the bound that keeps the
    * pair join's per-key fan-out capped at scale).
    *
    * Scale shape: gram hashing and window selection are doc-local (a
    * per-doc-keyed window over positions — no cross-doc shuffle until
    * selections exist, and selections are ~len/(w·?) per doc); the
    * pair meet is a fingerprint-keyed equi-join with df ≤ 20 fan-out,
    * never all-pairs. */
  val textWinnowing: GQuery = GQuery(
    "text_winnowing",
    """WITH g AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, length(text) - 7)) AS pos
      |  FROM documents WHERE length(text) >= 8),
      |h AS (
      |  SELECT doc_id, pos,
      |    CAST(concat('0x',
      |      substr(md5(substr(text, CAST(pos AS INT), 8)), 1, 8))
      |      AS BIGINT) * 1024 + (1023 - pos) AS e,
      |    count(*) OVER (PARTITION BY doc_id) AS ng
      |  FROM g),
      |wmin AS (
      |  SELECT doc_id, pos, ng,
      |    min(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS emin
      |  FROM h),
      |sel AS (
      |  SELECT DISTINCT doc_id, emin // 1024 AS fp
      |  FROM wmin WHERE pos <= ng - 3),
      |df AS (
      |  SELECT fp FROM sel GROUP BY fp
      |  HAVING count(*) BETWEEN 2 AND 20),
      |kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN df USING (fp)),
      |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
      |        FROM kept GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM kept a JOIN kept b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 5)
      |SELECT p.doc_a, p.doc_b, p.n_shared,
      |  round(CAST(p.n_shared AS DOUBLE)
      |    / least(ca.nfp, cb.nfp), 6) AS overlap
      |FROM pairs p
      |JOIN cnt ca ON p.doc_a = ca.doc_id
      |JOIN cnt cb ON p.doc_b = cb.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    graft.functions.TextExpressions.register(s)
    // ng (grams per doc) is a ROW-LOCAL fact — char_ngrams at step 1
    // yields exactly length − 7 grams — so it rides the projection
    // instead of a count-over-partition window: one full window pass
    // (buffer every gram row per doc) removed from the hot path
    // (r17 opt; the sliding-min window below is the only one left).
    val g = Tables.documentsSpread(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), (length(col("text")) - 7).as("ng"),
        posexplode(call_function("char_ngrams", col("text"), lit(8),
          lit(1))).as(Seq("p0", "gram")))
      .select(col("doc_id"), col("ng"), (col("p0") + 1).as("pos"),
        col("gram"))
    val h = g.select(col("doc_id"), col("pos"), col("ng"),
        (expr("CAST(conv(substr(md5(gram), 1, 8), 16, 10) AS BIGINT)")
          * 1024 + (lit(1023) - col("pos"))).as("e"))
    val wmin = h.withColumn("emin",
        min(col("e")).over(Window.partitionBy(col("doc_id"))
          .orderBy(col("pos")).rowsBetween(0, 3)))
      .filter(col("pos") <= col("ng") - 3)
    val sel = wmin.select(col("doc_id"), expr("emin div 1024").as("fp"))
      .distinct()
    val df = sel.groupBy(col("fp")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs").between(2, 20)).select(col("fp"))
    val kept = sel.join(df, Seq("fp"))
    val cnt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("nfp"))
    val pairs = kept
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= 5)
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("nfp").as("na")),
        Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("nfp").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double")
          / least(col("na"), col("nb")), 6).as("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val all: Seq[GQuery] = Seq(textTokensTf, textTfidfTopterm, textNgrams,
    textLangProfile, textLangId, textLangDivergence, textQualityScore,
    textTokenCount, textFingerprint, textNormalize, textChunks,
    textRepetition, textExtractTags, textSurprisal, textPackSequences,
    textHeavyHitters, textFeatureHashing, textSurprisalBigram,
    textEntropy, textPiiAudit, textDedupUrl, textVocabOov,
    textBpeMerges, textBpeSegment, textDecontaminate,
    textDecontaminateIndexed, textZipfFit,
    textLangidConfusion, textVocabGrowth, textNgramNovelty, textTtr,
    textPmiCollocations, textRakeKeywords, textQualityBuckets,
    textReadability, textGopherRules, textWinnowing,
    textPackSweep)
}
