package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Public, fixture-independent text-analysis API (see [[Dedup]] for
  * conventions): tokenization, quality scoring, token counting,
  * fingerprinting, and naive-Bayes language ID — the text family the
  * contract queries exercise, over caller-named columns.
  */
object Text {

  /** whitespace tokens with multiplicity: (id, token). */
  def tokenize(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      explode(split(col(text), " ")).as("token"))

  /** word n-grams with multiplicity: (id, ngram) — the single-pass
    * native word_ngrams expression over the whitespace tokens. */
  def ngrams(docs: DataFrame, id: String, text: String,
      n: Int = 2): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col(id),
      explode(call_function("word_ngrams", split(col(text), " "),
        lit(n))).as("ngram"))
  }

  /** Build a saved EVAL-GRAM index for decontamination — the
    * [[Dedup.containmentIndexBuild]] discipline applied to the
    * benchmark-leakage probe: real eval suites are FIXED and reused
    * across every training run, so their distinct n-grams are
    * shingled, bucket-partitioned by a portable gram hash, and
    * written ONCE; each training corpus then probes the saved grams
    * without ever re-shingling the eval side. Layout:
    *  - `grams`: distinct (eval_id, ngram), partitioned by `bkt` (a
    *    pure function of the gram, so probe and build always agree);
    *  - `docs`: per-eval ASCENDING-sorted distinct gram arrays for
    *    the stateless per-pair overlap count
    *    (`sorted_intersect_count`, exact at minNeeded = 0);
    *  - `meta`: (n, n_buckets) pinning shingling and bucketing. */
  def evalGramIndexBuild(evalDocs: DataFrame, id: String, text: String,
      path: String, n: Int = 4, nBuckets: Int = 32): Unit = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    Seq((n, nBuckets)).toDF("n", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val g = ngrams(evalDocs, id, text, n)
      .select(col(id).as("eval_id"), col("ngram")).distinct()
    g.withColumn("bkt", evalGramBucket(nBuckets))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/grams")
    g.groupBy(col("eval_id"))
      .agg(sort_array(collect_list(col("ngram"))).as("eg_sorted"))
      .write.mode("overwrite").parquet(s"$path/docs")
  }

  /** The eval-gram index's posting bucket — a pure function of the
    * gram, so probe and build always agree. */
  private[graft] def evalGramBucket(nBuckets: Int): Column =
    pmod(Sampling.portableHash(col("ngram"), "dcn:"), lit(nBuckets))
      .cast("int")

  /** Per-document mean unigram SURPRISAL under the corpus's OWN
    * add-1-smoothed unigram model — the relational core of an
    * LM-score quality filter (the CCNet-style move: score each
    * document under a language model and inspect the tails): high
    * surprisal = rare-token-heavy text (OCR noise, gibberish,
    * boilerplate-free outliers), low = repetitive boilerplate.
    * (id, n_tokens, surprisal), surprisal = −mean ln p(token),
    * per-token logs rounded to 8 places before the sum (cross-engine
    * ulp drift cannot compound), mean rounded to 6.
    *
    * Scale shape: one vocabulary aggregate (map-side combining), a
    * 1-row (N, V) scalar broadcast, one vocab-cardinality join back
    * onto the token table (unhinted — AQE promotes when small). */
  def surprisal(docs: DataFrame, id: String, text: String): DataFrame =
    surprisalFromTokens(tokenize(docs, id, text), id)

  /** [[surprisal]] over a pre-tokenized (id, token) frame.
    *
    * The per-token surprisal is rounded to 8 places AND summed on the
    * DECIMAL(14,8) grid: an 8-place-rounded double is engine-portable,
    * but a float SUM of hundreds of them is decided by accumulation
    * order at half-ulp boundaries (observed at sf0.1) — the decimal
    * sum is exact and order-independent, and the mean derives from it
    * in one deterministic double division. */
  def surprisalFromTokens(t: DataFrame, id: String,
      token: String = "token"): DataFrame = {
    val tok = t.select(col(id), col(token).as("token"))
    tok.join(surprisalTokenScores(tok), Seq("token"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6)
          .as("surprisal"))
  }

  /** The add-1 unigram token-score dictionary alone: (token, s) on
    * the DECIMAL(14,8) grid — factored from [[surprisalFromTokens]]
    * so domain-level rollups (sample_doremi_weights) score tokens
    * with the SAME dictionary the per-doc row uses. */
  def surprisalTokenScores(t: DataFrame,
      token: String = "token"): DataFrame = {
    val tok = t.select(col(token).as("token"))
    val cnt = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    cnt.crossJoin(broadcast(tot))
      .select(col("token"),
        round(-log((col("c").cast("double") + 1) / (col("n") + col("v")),
          ), 8).cast("decimal(14,8)").as("s"))
  }

  /** Per-document mean BIGRAM surprisal under the corpus's own add-1
    * conditional model, −mean ln p(w₂|w₁) with
    * p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) — the second-order companion
    * to [[surprisal]]: a document can look normal unigram-wise while
    * its word ORDER is scrambled/templated, which only a conditional
    * score sees: (id, n_bigrams, surprisal). Documents shorter than 2
    * tokens emit no bigrams and are absent. Same portability
    * discipline: per-bigram logs rounded to 8 places and summed on
    * the DECIMAL(14,8) grid, mean rounded to 6.
    *
    * Scale shape: the bigram explode feeds the model aggregate and
    * the per-doc rollup, the token explode feeds the unigram model —
    * pass `preNgrams`/`preTokenized` (e.g. session-memoized frames)
    * so consumers sharing those explodes pay for them once; the only
    * broadcast is the 1-row vocabulary scalar. The score dictionary
    * joins back on the bigram key (unhinted — AQE promotes when
    * small). */
  def surprisalBigram(docs: DataFrame, id: String, text: String,
      preTokenized: Option[DataFrame] = None,
      preNgrams: Option[DataFrame] = None): DataFrame = {
    val bg = preNgrams.getOrElse(ngrams(docs, id, text, 2))
    val tok = preTokenized.getOrElse(tokenize(docs, id, text))
    val c2 = bg.groupBy(col("ngram")).agg(count(lit(1)).as("c2"))
    val c1 = tok.groupBy(col("token").as("w1")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val sc = c2
      .withColumn("w1", substring_index(col("ngram"), " ", 1))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("ngram"),
        round(-log((col("c2").cast("double") + 1) / (col("c1") + col("v")),
          ), 8).cast("decimal(14,8)").as("s"))
    bg.join(sc, Seq("ngram"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6)
          .as("surprisal"))
  }

  /** Per-document quality score: uniqueness ratio, mean token length,
    * stopword ratio, length saturation — combined on an exact decimal
    * grid (half-boundary-proof): (id, n_tokens, uniq_ratio,
    * avg_token_len, stop_ratio, quality). */
  def qualityScore(docs: DataFrame, id: String, text: String,
      stopwords: Seq[String] = defaultStopwords): DataFrame =
    qualityScoreFromTokens(tokenize(docs, id, text), id, "token", stopwords)

  val defaultStopwords: Seq[String] = Seq("a", "the", "and", "of", "to",
    "in", "is", "on", "for", "with")

  /** [[qualityScore]] over a pre-tokenized (id, token) frame — for
    * callers who materialize the token table once and share it. */
  def qualityScoreFromTokens(t: DataFrame, id: String,
      token: String = "token",
      stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val tok = t.select(col(id), col(token).as("token"))
    tok.groupBy(col(id))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"),
        sum(length(col("token"))).as("sum_len"),
        sum(when(col("token").isin(stopwords: _*), 1L).otherwise(0L))
          .as("n_stop"))
      .withColumn("uniq_ratio",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
      .withColumn("avg_token_len",
        round(col("sum_len").cast("double") / col("n_tokens"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("quality", expr(
        """CAST(round(0.5 * CAST(uniq_ratio AS DECIMAL(12,6))
          |  + 0.3 * (1 - CAST(stop_ratio AS DECIMAL(12,6)))
          |  + 0.002 * least(n_tokens, 100), 6) AS DOUBLE)""".stripMargin))
      .select(col(id), col("n_tokens"), col("uniq_ratio"),
        col("avg_token_len"), col("stop_ratio"), col("quality"))
  }

  /** Rolling-hash document fingerprint over character n-grams: two
    * independent 32-bit min-hashes sliced from one md5 digest per
    * gram: (id, fp1, fp2). */
  def fingerprint(docs: DataFrame, id: String, text: String,
      gram: Int = 8): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col(id),
      explode(call_function("char_ngrams", col(text), lit(gram))).as("g"))
      .withColumn("m", md5(col("g")))
      .groupBy(col(id))
      .agg(
        min(expr("CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)")).as("fp1"),
        min(expr("CAST(conv(substr(m, 9, 8), 16, 10) AS BIGINT)")).as("fp2"))
  }

  /** Token counting three ways — whitespace split, word-regex split,
    * and a BPE-ish chars/4 estimate: (id, ws_tokens, re_tokens,
    * bpe_est). */
  def tokenCounts(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      size(split(col(text), " ")).as("ws_tokens"),
      size(split(col(text), "[^a-zA-Z0-9]+")).as("re_tokens"),
      ceil(length(col(text)).cast("double") / 4).cast("int").as("bpe_est"))

  /** Highest-TF-IDF term per document: (id, top_term, score). The
    * idf is rounded to 8 places before the tf× multiply and the
    * argmax is a partial-aggregating min over (−score, term) — same
    * winner as ranking by (score DESC, term ASC) with no window
    * shuffle. */
  def tfidfTopTerm(docs: DataFrame, id: String, text: String,
      preTokenized: Option[DataFrame] = None): DataFrame = {
    val tf = preTokenized.getOrElse(tokenize(docs, id, text))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(countDistinct(col(id)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    // df is a term-level (vocabulary-cardinality) table — no broadcast
    // hint; the 1-row corpus count IS provably bounded, so its hint
    // stays. AQE broadcasts df from runtime stats when small.
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf")
        * round(log(col("n").cast("double") / col("df")), 8), 6))
      .groupBy(col(id))
      .agg(min(struct((-col("score")).as("ns"), col("token").as("term")))
        .as("m"))
      .select(col(id), col("m.term").as("top_term"),
        (-col("m.ns")).as("score"))
  }

  /** Pairwise KL divergence between the add-1-smoothed unigram
    * distributions of each label value: (lang1, lang2, kl_divergence)
    * for every ordered pair of distinct labels — the domain-shift /
    * distribution-drift metric a training-data pipeline tracks
    * between corpus slices. Same dense (token × label) dictionary
    * shape as [[langId]] (bounded label dim crossJoin + left join,
    * zero driver actions); log-ratios rounded to 8 places before the
    * Σ p·ln(p/q) aggregate so accumulation drift cannot leak into the
    * 6-place result. */
  def langDivergence(docs: DataFrame, id: String, text: String,
      lang: String, preTokenized: Option[DataFrame] = None): DataFrame = {
    val tok = preTokenized.getOrElse(docs.select(col(id), col(lang),
      explode(split(col(text), " ")).as("token")))
    val langs = docs.select(col(lang).as("cand")).distinct()
    val prof = tok.groupBy(col(lang).as("cand"), col("token"))
      .agg(count(lit(1)).as("c"))
    val tot = tok.groupBy(col(lang).as("cand")).agg(count(lit(1)).as("t"))
    val vocabDf = tok.agg(countDistinct(col("token")).as("v"))
    val dict = tok.select(col("token")).distinct()
      .crossJoin(broadcast(langs))
      .join(prof, Seq("token", "cand"), "left")
      .join(broadcast(tot), Seq("cand"))
      .crossJoin(broadcast(vocabDf))
      .select(col("token"), col("cand"),
        ((coalesce(col("c"), lit(0L)) + lit(1)).cast("double")
          / (col("t") + col("v")).cast("double")).as("p"))
    val a = dict.select(col("token"), col("cand").as("lang1"),
      col("p").as("pa"))
    val b = dict.select(col("token"), col("cand").as("lang2"),
      col("p").as("pb"))
    a.join(b, Seq("token"))
      .filter(col("lang1") =!= col("lang2"))
      .groupBy(col("lang1"), col("lang2"))
      .agg(round(sum(col("pa") * round(log(col("pa") / col("pb")), 8)), 6)
        .as("kl_divergence"))
  }

  /** Corpus-cleaning normalization: email redaction, long-digit-run
    * redaction, whitespace collapse + trim — the standard pre-dedup
    * scrub pass of a training-data pipeline: (id, clean).
    *
    * Pure per-row `regexp_replace` projection (codegen'd, no shuffle,
    * streaming-safe); patterns stay in the RE2-compatible subset so
    * the same regexes mean the same thing in Spark's Java engine and
    * the DuckDB oracle. Redaction BEFORE whitespace collapse so a
    * address split by the collapse can't half-match. */
  def normalize(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), normalizeCol(col(text)).as("clean"))

  /** The [[normalize]] transform as a composable Column (for callers
    * folding it into a wider projection or a streaming select).
    * Whitespace is an EXPLICIT class, never `\s`: Java's `\s` includes
    * U+000B (vertical tab) while RE2's does not, so the shorthand
    * silently diverges between Spark and an RE2-based oracle on
    * scraped/OCR text — the explicit class means the same bytes
    * everywhere. */
  def normalizeCol(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{3,}", "<NUM>"),
      "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** C4-style URL canonicalization as a composable Column: lowercase,
    * strip the `http(s)://` scheme and a leading `www.`, drop the
    * query string / fragment, and strip one trailing slash — so
    * `HTTP://WWW.A.com/x/?utm=1`, `https://a.com/x#f`, and
    * `http://a.com/x` all collapse to `a.com/x`. Every pattern is
    * RE2-portable (anchored literals and one leftmost `[?#].*` —
    * no `\s`, no backreferences), so an RE2-based oracle computes the
    * identical key. Pure per-row projection: rides the scan at any
    * scale. */
  def canonicalUrl(url: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(url),
      "^https?://", ""),
      "^www\\.", ""),
      "[?#].*", ""),
      "/$", "")

  /** URL-level keep-list — the C4 pre-dedup step: one keep per
    * canonical URL (the smallest id), every other row carrying the
    * same canonical form dropped. Output: (id, url, keep) with `url`
    * the canonical key.
    *
    * Scale shape: one hash shuffle on the canonical key (the window's
    * unbounded-frame min needs no ordered frame), then a per-row
    * compare — no join-back, no second exchange. Skew bound: a single
    * canonical URL with millions of crawls lands in one partition;
    * that is the same bound dedup_exact accepts on its hash groups,
    * and the state per key is one long. */
  def urlKeepList(docs: DataFrame, id: String, url: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__canon"))
    docs.select(col(id), canonicalUrl(col(url)).as("__canon"))
      .withColumn("keep", col(id) === min(col(id)).over(w))
      .select(col(id), col("__canon").as("url"), col("keep"))
  }

  /** BPE-style pair-merge training (the tokenizer-vocabulary builder):
    * the first `rounds` byte-pair merges over the corpus, computed on
    * the DISTINCT-WORD frequency table — the standard BPE formulation
    * (pair statistics are word-frequency-weighted, so corpus size
    * only touches the one word-count aggregate; every later round
    * works on a vocabulary-bounded frame). Returns one row per merge:
    * (round, pair, cnt) with `pair` = the two symbols space-joined
    * and `cnt` its frequency-weighted occurrence count at selection
    * time. Ties break (cnt desc, pair asc), so the merge trajectory
    * is deterministic cross-engine; the merge itself is plain
    * left-to-right non-overlapping `replace` on the space-separated
    * symbol string — exactly greedy BPE application, and identical
    * semantics in any engine's `replace`.
    *
    * Scale shape: one map-side-combining word-count shuffle (the only
    * stage that sees the corpus, then localCheckpointed so no round
    * rescans it); each round is a vocabulary-bounded n-gram explode +
    * pair aggregate + a 1-row argmax broadcast back onto the
    * vocabulary — per-round cost independent of corpus size, the
    * property that makes distributed BPE training feasible at all. */
  def bpeMerges(docs: DataFrame, text: String,
      rounds: Int = 3): DataFrame =
    bpeTrajectory(docs, text, rounds)._1.reduce(_ union _)

  /** BPE vocabulary APPLICATION — the serving half of [[bpeMerges]]:
    * re-derives the same merge trajectory, then returns the final
    * per-word segmentation table (word, freq, n_syms) where `n_syms`
    * is the number of BPE symbols the word segments into under the
    * trained merges — join it onto a token stream to get token counts
    * / fertility under the vocabulary. Vocabulary-bounded output; the
    * corpus is scanned once (the word-count stage). */
  def bpeSegment(docs: DataFrame, text: String,
      rounds: Int = 3): DataFrame =
    bpeTrajectory(docs, text, rounds)._2
      .select(col("word"), col("freq"),
        size(split(trim(col("seq")), " ")).as("n_syms"))

  /** The shared merge trajectory: (per-round picks, final word
    * table with merged symbol sequences). */
  private def bpeTrajectory(docs: DataFrame, text: String,
      rounds: Int): (Vector[DataFrame], DataFrame) = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    graft.functions.TextExpressions.register(docs.sparkSession)
    val words = docs
      .select(explode(split(col(text), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seq", concat(lit(" "),
        regexp_replace(col("word"), "(.)", "$1 ")))
      .ckpt()
    var w = words
    var picks = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = w.select(col("freq"),
          explode(call_function("word_ngrams",
            split(trim(col("seq")), " "), lit(2))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      // per-round checkpoint of the 1-row winner: the next round's
      // plan roots here, not in the whole prior trajectory (the MMR
      // greedy's plan-depth discipline)
      val best = pairs.orderBy(col("cnt").desc, col("pair")).limit(1)
        .ckpt()
      // fail loudly on a pairless vocabulary (every word one symbol —
      // merges exhausted): the crossJoin below would otherwise
      // silently annihilate the word table and drop this round's row
      require(best.count() == 1,
        s"bpeMerges: no symbol pairs left at round $r — " +
          "fewer merges exist than requested rounds")
      picks :+= best.select(lit(r).as("round"), col("pair"),
        col("cnt").cast("bigint").as("cnt"))
      w = w.crossJoin(broadcast(best.select(col("pair").as("bp"))))
        .withColumn("seq", expr(
          "replace(seq, ' ' || bp || ' ', ' ' || replace(bp, ' ', '') || ' ')"))
        .drop("bp")
    }
    (picks, w)
  }

  /** Fixed-size overlapping character chunks — the context-window
    * splitter feeding embedding / training jobs: (id, chunk_id,
    * chunk_start, chunk) with 1-based `chunk_start` = 1 + chunk_id ·
    * stride and chunks of `size` chars (the final chunk may be
    * shorter). Empty texts yield no chunks.
    *
    * Scale shape: a per-row `sequence` + explode projection — output
    * is ~len/stride rows per doc, no shuffle, no state; at 100 TB the
    * chunker rides the scan and parallelizes with it (root at a
    * spread scan for single-split corpora, like every explode
    * pipeline here). */
  def chunks(docs: DataFrame, id: String, text: String,
      size: Int = 200, stride: Int = 150): DataFrame = {
    require(size >= 1 && stride >= 1,
      s"chunk size ($size) and stride ($stride) must be >= 1")
    docs.filter(length(col(text)) >= 1)
      .select(col(id), col(text).as("t"),
        explode(sequence(lit(1), length(col(text)), lit(stride)))
          .as("chunk_start"))
      .select(col(id),
        ((col("chunk_start") - 1) / stride).cast("int").as("chunk_id"),
        col("chunk_start"),
        expr(s"substring(t, chunk_start, $size)").as("chunk"))
  }

  /** Gopher-style repetition signals over word n-grams: the fraction
    * of n-gram occurrences that are duplicates within their document,
    * and the share claimed by the single most frequent n-gram:
    * (id, n_ngrams, dup_frac, top_frac). Documents shorter than n
    * tokens emit no n-grams and are absent. Ratios rounded to 6.
    *
    * The filter a quality gate stacks on [[qualityScore]]: high
    * dup_frac = template/boilerplate text, high top_frac = degenerate
    * repetition loops. One narrow explode + two partial-aggregating
    * groupBys — duplicate grams collapse map-side before either
    * shuffle. */
  def repetition(docs: DataFrame, id: String, text: String,
      n: Int = 2): DataFrame =
    repetitionFromNgrams(ngrams(docs, id, text, n), id)

  /** [[repetition]] over a pre-computed (id, ngram) frame. */
  def repetitionFromNgrams(ng: DataFrame, id: String,
      ngram: String = "ngram"): DataFrame =
    ng.groupBy(col(id), col(ngram).as("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_ngrams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"),
        max(col("c")).as("top"))
      .select(col(id), col("n_ngrams"),
        round(col("dup").cast("double") / col("n_ngrams"), 6)
          .as("dup_frac"),
        round(col("top").cast("double") / col("n_ngrams"), 6)
          .as("top_frac"))

  /** Additive-smoothed naive-Bayes language ID against per-language
    * token profiles learned from a labeled corpus: (id, pred_lang).
    *
    * Fully relational — ZERO driver actions: the dense (token ×
    * candidate) log-prob dictionary is a crossJoin of the distinct
    * tokens with the bounded language dim, left-joined to the profile
    * counts so missing cells get the +1-smoothing default; scoring is
    * one fan-out join (×|langs|) plus two partial-aggregating
    * groupBys, and the argmax is a min over (−score, candidate)
    * structs — no pivot, no window, no collect. Broadcast hints only
    * on the provably bounded sides (the language dim, the per-lang
    * totals, the 1-row vocabulary count); the vocabulary-cardinality
    * dictionary itself is never hinted — AQE promotes it from runtime
    * stats when small. */
  def langId(docs: DataFrame, id: String, text: String, lang: String,
      preTokenized: Option[DataFrame] = None): DataFrame = {
    val tok = preTokenized.getOrElse(docs.select(col(id), col(lang),
      explode(split(col(text), " ")).as("token")))
    val langs = docs.select(col(lang).as("cand")).distinct()
    val prof = tok.groupBy(col(lang).as("cand"), col("token"))
      .agg(count(lit(1)).as("c"))
    val tot = tok.groupBy(col(lang).as("cand")).agg(count(lit(1)).as("t"))
    val vocabDf = tok.agg(countDistinct(col("token")).as("v"))
    val dict = tok.select(col("token")).distinct()
      .crossJoin(broadcast(langs))
      .join(prof, Seq("token", "cand"), "left")
      .join(broadcast(tot), Seq("cand"))
      .crossJoin(broadcast(vocabDf))
      .select(col("token"), col("cand"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1)).cast("double")
          / (col("t") + col("v")).cast("double")), 8).as("lp"))
    val docTok = tok.groupBy(col(id), col("token"))
      .agg(count(lit(1)).as("m"))
    docTok.join(dict, Seq("token"))
      .groupBy(col(id), col("cand"))
      .agg(round(sum(col("m") * col("lp")), 6).as("score"))
      .groupBy(col(id))
      .agg(min(struct((-col("score")).as("ns"), col("cand").as("cand")))
        .as("pick"))
      .select(col(id), col("pick.cand").as("pred_lang"))
  }

  /** Exact corpus heavy hitters — every token whose total count
    * exceeds n/k — served by a mergeable Misra–Gries sketch:
    * (token, cnt), cnt exact.
    *
    * Pass 1 is a single global typed aggregation whose partial state
    * is O(k) per task (no shuffle of the full term cardinality — the
    * thing a plain groupBy can't avoid when the vocabulary is
    * billions of keys at 100 TB); MG guarantees the ≤ k surviving
    * counters are a SUPERSET of every true heavy hitter, so pass 2 is
    * provably exact. Pass 2 re-reads the token stream (the corpus
    * scan+tokenize runs twice — that's the price of exactness), but
    * its `isin` prefilter means the count SHUFFLE carries only the
    * ≤ k candidate tokens, never the vocabulary. The result is
    * deterministic even though the intermediate candidate set can
    * vary with merge order. */
  def heavyHitters(docs: DataFrame, id: String, text: String,
      k: Int = 100): DataFrame =
    heavyHittersFromTokens(tokenize(docs, id, text), k = k)

  /** [[heavyHitters]] over a pre-tokenized frame. */
  def heavyHittersFromTokens(t: DataFrame, token: String = "token",
      k: Int = 100): DataFrame = {
    val toks = t.select(col(token).as("token"))
      .filter(col("token").isNotNull)
    val mg = new graft.functions.MisraGries(k)
    val sum = toks.as[String](org.apache.spark.sql.Encoders.STRING)
      .select(mg.toColumn).head()
    toks.filter(col("token").isin(sum.cands.keys.toSeq: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > lit(sum.n))
  }

  /** Concat-and-chunk sequence packing — the LLM pre-training layout
    * step: conceptually concatenate every document's tokens in `id`
    * order and cut the stream into fixed `seqLen` sequences; report,
    * per document, its global token offset and the first/last
    * sequence it lands in:
    * (id, tok, off, start_seq, end_seq).
    *
    * The global running total is a DISTRIBUTED prefix sum, never a
    * single-partition window:
    *   1. bucket ids into `ranges` ordered range buckets (boundaries
    *      from a quantile sketch — a sampled pass, then a pure
    *      function of the id so every job derives the same bucket);
    *   2. one `ranges`-row aggregate gives per-bucket token totals,
    *      whose driver-side prefix sum is each bucket's base offset
    *      (bounded collect, same move AQE makes for stats);
    *   3. a window PARTITIONED BY bucket (ordered by id) adds the
    *      within-bucket running total to the broadcast base.
    * Per-bucket rows ≈ n/ranges — size `ranges` so a bucket fits an
    * executor; no stage ever sees the global order.
    */
  def packSequences(docs: DataFrame, id: String, text: String,
      seqLen: Int = 2048, ranges: Int = 8): DataFrame =
    packFromCounts(
      docs.select(col(id),
        size(split(col(text), " ")).cast("long").as("tok")),
      id, "tok", seqLen, ranges)

  /** [[packSequences]] over a pre-computed (id, tok-count) frame.
    *
    * EAGER: bucket boundaries come from a driver-side quantile sketch,
    * so construction runs Spark jobs (one sketch pass; string ids add
    * a min/max pass, but over a frame materialized once — see below)
    * rather than returning a fully lazy plan. */
  def packFromCounts(t: DataFrame, id: String, tok: String,
      seqLen: Int, ranges: Int = 8): DataFrame = {
    require(seqLen >= 1, s"seqLen ($seqLen) must be >= 1")
    require(ranges >= 1, s"ranges ($ranges) must be >= 1")
    val rawBase = t.select(col(id), col(tok).cast("long").as("tok"))
    // Ordering proxy for the quantile sketch: approxQuantile accepts
    // only numeric columns, but bucketing needs just a WEAKLY
    // MONOTONE numeric image of the id's ordering — proxy ties merely
    // share a bucket (possible skew, never a wrong offset: bucket
    // boundaries respect id order and the within-bucket window orders
    // by the full id). Numerics/timestamps cast straight to double;
    // any other orderable type (string ids, dates) goes through its
    // string form's first 7 UTF-8 bytes read as an unsigned integer —
    // Spark's default string ordering IS unsigned-byte lexicographic,
    // so the mapping is monotone. NOT a hash: hashing would scatter
    // the id order across buckets and change which sequence each
    // document lands in.
    //
    // Zero-padded or shard-prefixed id spaces ("doc-000000123") share
    // a ≥7-byte common prefix, which would collapse every id to one
    // __ord value and degenerate `ranges` to a single bucket —
    // correct (ties only coarsen buckets) but losing the parallelism
    // this path exists for. So the corpus-wide longest common prefix
    // is skipped first: the lexicographic min and max bound every id,
    // so their shared prefix is shared by ALL ids, and dropping an
    // equal prefix preserves the lexicographic order of the tails.
    // DEGENERATION (documented): ids identical up to >7 bytes past
    // the common prefix still tie; ties share one bucket and the
    // within-bucket window (full id order) keeps offsets exact.
    import org.apache.spark.sql.types.{NumericType, TimestampType}
    val (base, ord) = rawBase.schema(rawBase.columns.head).dataType match {
      // one bucket => __ord is projected away unevaluated; skip the
      // prefix probe (string ids would otherwise pay it for nothing)
      case _ if ranges == 1 => (rawBase, lit(0.0))
      case _: NumericType | TimestampType =>
        (rawBase, col(id).cast("double"))
      case _ =>
        // string ids take THREE passes (min/max prefix probe, quantile
        // sketch, final consumption): materialize the narrow (id, tok)
        // frame once so the input lineage is scanned a single time and
        // the two extra passes re-read the tiny checkpointed frame
        val b = rawBase.ckpt()
        val str = col(id).cast("string")
        val mm = b.agg(min(str).as("lo"), max(str).as("hi")).first()
        val pfx =
          if (mm.isNullAt(0) || mm.isNullAt(1)) 0
          else {
            val (lo, hi) = (mm.getString(0), mm.getString(1))
            val p = lo.zip(hi).takeWhile { case (a, b) => a == b }.size
            // never cut inside a surrogate pair: the byte form of a
            // split pair would not be a prefix-drop of the original
            val q = if (p > 0 && Character.isHighSurrogate(lo.charAt(p - 1)))
              p - 1
            else p
            // q counts UTF-16 code units but substring() counts code
            // points: a non-BMP char in the shared prefix would make
            // the raw count overshoot and strip DISTINGUISHING code
            // points past the prefix (different content dropped per
            // id => __ord loses monotonicity). Convert before use.
            lo.codePointCount(0, q)
          }
        (b, coalesce(
          conv(hex(rpad(substring(str, pfx + 1, 1 << 30).cast("binary"), 7,
            Array[Byte](0))), 16, 10).cast("double"), lit(0.0)))
    }
    val withOrd = base.withColumn("__ord", ord)
    // Ordered bucket boundaries from the quantile sketch. Computed
    // once on the driver, so bucketing is a pure function of the id —
    // identical in the totals pass and the final pass by construction
    // (no reliance on two RangePartitioner runs sampling alike).
    val cuts: Array[Double] =
      if (ranges == 1) Array.empty
      else withOrd.stat.approxQuantile("__ord",
        (1 until ranges).map(_.toDouble / ranges).toArray, 0.001)
    val bucketed = withOrd.withColumn("rg",
      if (cuts.isEmpty) lit(0)
      else aggregate(array(cuts.toSeq.map(lit): _*), lit(0),
        (acc, c) => acc + when(col("__ord") > c, 1).otherwise(0)))
      .drop("__ord")
    // a bucket whose every count is null sums to null: contribute 0
    // to downstream bases (the oracle's running sum skips nulls too;
    // the rows themselves keep null offsets via the window sum)
    val bases = bucketed.groupBy(col("rg")).agg(sum(col("tok")).as("t"))
      .orderBy(col("rg")).collect()
      .scanLeft((Int.MinValue, 0L)) { case ((_, acc), r) =>
        (r.getInt(0), if (r.isNullAt(1)) acc else acc + r.getLong(1))
      }
    val offsets = bases.sliding(2).collect {
      case Array((_, acc), (rg, _)) => (rg, acc)
    }.toSeq
    val baseDf = t.sparkSession.createDataFrame(offsets)
      .toDF("rg", "base")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rg")).orderBy(col(id))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    bucketed.join(broadcast(baseDf), Seq("rg"))
      .withColumn("off",
        col("base") + coalesce(sum(col("tok")).over(w), lit(0L)))
      .select(col(id), col("tok"), col("off"),
        expr(s"off div $seqLen").as("start_seq"),
        expr(s"(off + tok - 1) div $seqLen").as("end_seq"))
  }
}
