package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.Text

/** Streaming text analysis: the ingestion-time QUALITY GATE.
  *
  * [[Text.qualityScoreFromTokens]] aggregates an exploded token
  * table — the right shape for batch corpus scoring (the token table
  * is shared with TF-IDF / language ID), but an aggregation cannot
  * run statelessly on a stream. The per-ROW scorer below computes the
  * IDENTICAL columns (same 6-place grid, same decimal-combine
  * formula, spec-pinned equal) from pure row-local expressions:
  *
  *  - n_tokens    = size(split(text))
  *  - n_distinct  = size(array_distinct(split(text)))
  *  - sum_len     = length(text with spaces removed)  — exactly
  *                  Σ len(token), since removing every separator
  *                  leaves the concatenated tokens
  *  - n_stop      = size(filter(tokens, t -> t IN stopwords))
  *
  * so a low-quality document can be dropped the moment it arrives —
  * no state store, no watermark, Append mode.
  */
object TextStreams {

  /** DECONTAMINATION served from a saved [[Text.evalGramIndexBuild]]
    * index: each training document's distinct n-grams probe the
    * eval-gram postings, and every (train, eval) pair sharing at
    * least one gram is emitted with its EXACT shared-distinct-gram
    * count — column-identical to the in-memory `text_decontaminate`
    * contract row ((train_id, eval_id, n_shared)), but the eval side
    * is never re-shingled: real eval suites are fixed across training
    * runs, so the gram index amortizes (the
    * [[DedupStreams.containmentAgainstSavedIndex]] discipline).
    *
    * On a stream the plan is STATELESS and Append-safe: candidate
    * collisions dedup to one row per pair by the first-hit rule (keep
    * the collision whose gram IS the first element of the arrival's
    * sorted gram array present in the eval doc's array), and n_shared
    * is the per-row `sorted_intersect_count` of the two carried
    * sorted arrays (exact at minNeeded = 0) — no aggregate, no
    * watermark; the stream reads grams and docs through
    * [[graft.PlanCache]] memos of `path`, so a same-session
    * `evalGramIndexBuild` at `path` reaches the running query (the
    * PlanCache rule). The batch path produces the identical result
    * from a SLIM (train_id, ngram) explode (arrays never ride the
    * posting join), uncached. */
  def decontaminateAgainstSavedIndex(train: DataFrame, path: String,
      id: String, text: String): DataFrame = {
    val spark = train.sparkSession
    graft.functions.TextExpressions.register(spark)
    graft.functions.SetExpressions.register(spark)
    val meta = spark.read.parquet(s"$path/meta").head()
    val (n, nBuckets) = (meta.getAs[Int]("n"), meta.getAs[Int]("n_buckets"))
    val postings = spark.read.parquet(s"$path/grams")
      .select(col("bkt"), col("ngram"), col("eval_id"))
    if (train.isStreaming) {
      // stateless carried-data plan: the arrival's sorted distinct
      // gram array rides every exploded row (per-ARRIVAL cost, right
      // for a stream's small micro-batches), candidate collisions
      // dedup by the first-hit rule, and n_shared is the per-row
      // sorted-merge count — no aggregate, no watermark
      val evalArr = graft.PlanCache.memo(spark, path, "stream_dcn_docs")(
        spark.read.parquet(s"$path/docs")
          .select(col("eval_id"), col("eg_sorted").as("ta")))
      val gramArr = array_sort(array_distinct(call_function(
        "word_ngrams", split(col(text), " "), lit(n))))
      train
        .select(col(id).as("train_id"), gramArr.as("ea"))
        .filter(size(col("ea")) > 0)
        .select(col("train_id"), col("ea"),
          explode(col("ea")).as("ngram"))
        .withColumn("bkt", graft.api.Text.evalGramBucket(nBuckets))
        .join(graft.PlanCache.memo(spark, path, "stream_dcn_grams")(
          postings), Seq("bkt", "ngram"))
        .join(evalArr, Seq("eval_id"))
        // first-hit dedup: the joined gram is in ta by construction,
        // so the filtered array is never empty
        .filter(col("ngram") === element_at(
          filter(col("ea"), x => array_contains(col("ta"), x)), 1))
        .select(col("train_id"), col("eval_id"),
          call_function("sorted_intersect_count",
            col("ea"), col("ta"), lit(0)).cast("bigint").as("n_shared"))
    } else {
      // batch backfill plan, same result (spec pins them equal): a
      // count AGGREGATE is legal here, so gram arrays are never
      // materialized — distinct (train_id, ngram) rows join the saved
      // postings and the shared-distinct-gram count is one
      // map-side-combining aggregate: the in-memory plan, served from
      // the saved grams instead of re-shingling the eval side. No
      // bucket key here: the bucket is a function of the gram, so the
      // ngram equi-join alone is correct, and skipping it saves an
      // md5 per corpus gram plus the probed-bucket realization scan,
      // and a backfill touches every bucket anyway
      train
        .select(col(id).as("train_id"),
          explode(call_function("word_ngrams",
            split(col(text), " "), lit(n))).as("ngram"))
        .distinct()
        .join(postings.select(col("ngram"), col("eval_id")),
          Seq("ngram"))
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
    }
  }

  /** (id, n_tokens, uniq_ratio, avg_token_len, stop_ratio, quality) —
    * column-identical to the batch [[Text.qualityScore]]. */
  def qualityScoreRow(docs: DataFrame, id: String, text: String,
      stopwords: Seq[String] = Text.defaultStopwords): DataFrame =
    withQuality(docs, id, text, stopwords)
      .select(col(id), col("n_tokens"), col("uniq_ratio"),
        col("avg_token_len"), col("stop_ratio"), col("quality"))

  /** The gate: original rows (plus the score) with quality ≥
    * `minQuality` — drop junk at the door. */
  def qualityFilter(docs: DataFrame, id: String, text: String,
      minQuality: Double,
      stopwords: Seq[String] = Text.defaultStopwords): DataFrame = {
    val scored = withQuality(docs, id, text, stopwords)
    scored.filter(col("quality") >= minQuality)
      .drop("n_tokens", "n_distinct", "sum_len", "n_stop",
        "uniq_ratio", "avg_token_len", "stop_ratio")
  }

  /** Single-pass observability on the gate: row count and mean score
    * of the PASSED documents, computed by `observe` on the same
    * micro-batch pass that filters — no second scan, batch or
    * streaming. Metrics surface in each StreamingQueryProgress
    * (`observedMetrics("quality_gate")`) or through a
    * QueryExecutionListener in batch; TextStreamsSpec sums them across
    * micro-batches and pins them to the batch truth. This is the
    * pipeline-health counter a production gate exports (drop rate
    * drift = upstream corruption alarm). */
  def qualityFilterObserved(docs: DataFrame, id: String, text: String,
      minQuality: Double,
      stopwords: Seq[String] = Text.defaultStopwords): DataFrame =
    qualityFilter(docs, id, text, minQuality, stopwords)
      .observe("quality_gate", count(lit(1)).as("rows_passed"),
        round(avg(col("quality")), 6).as("mean_quality"))

  /** Streaming twin of the batch `text_dedup_url` keep-list
    * ([[Text.urlKeepList]]): keep the FIRST-arriving document per
    * canonical URL, drop every later one. Canonicalization is the
    * identical per-row [[Text.canonicalUrl]] projection; the keep
    * decision is `dropDuplicates` on the canonical key — exactly the
    * ev_dedup_stream shape, with the canonical URL instead of a
    * given id as the dedup key. Output: the original columns plus
    * `url` (the canonical form).
    *
    * Batch/stream parity contract (TextStreamsSpec): on a feed
    * delivered in ascending-id order, first-arrival ≡ the batch
    * keep-list's min-id winner, for ANY micro-batch split — so the
    * spec replays one batch, splits, and a trickle against
    * `Text.urlKeepList`'s keep set.
    *
    * State: one state-store row per DISTINCT canonical URL, forever —
    * the same trade `dropDuplicates` makes everywhere. When arrivals
    * carry an event-time column, pass it as `watermarkCol` (with a
    * `delay`) to switch to `dropDuplicatesWithinWatermark`, bounding
    * the state to the recrawl horizon: a URL re-seen after the
    * watermark passes is kept AGAIN (a recrawl, not a dup) — the C4
    * trade for continuous ingestion. */
  def urlKeepFirst(docs: DataFrame, id: String, url: String,
      watermarkCol: Option[String] = None,
      delay: String = "1 hour"): DataFrame = {
    val canon = docs.filter(col(url).isNotNull)
      .withColumn("url_canon", Text.canonicalUrl(col(url)))
      .drop(url).withColumnRenamed("url_canon", "url")
    watermarkCol match {
      case Some(ts) => canon.withWatermark(ts, delay)
        .dropDuplicatesWithinWatermark("url")
      case None => canon.dropDuplicates("url")
    }
  }

  private def withQuality(docs: DataFrame, id: String, text: String,
      stopwords: Seq[String]): DataFrame = {
    val toks = split(col(text), " ")
    val stopArr = array(stopwords.map(lit): _*)
    // null-text rows are dropped, matching the batch scorer (whose
    // explode never emits them) — without this they would surface as
    // all-null metric rows the batch twin does not have
    docs.filter(col(text).isNotNull)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("sum_len",
        length(regexp_replace(col(text), " ", "")).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => array_contains(stopArr, t))).cast("long"))
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
  }
}
