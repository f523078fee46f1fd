package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Continuous-ingestion near-dedup (SURVEY.md §2.11 round-4 note a):
  * score a STREAM of arriving documents against a signature index of
  * the existing corpus — the shape a training-data pipeline actually
  * serves: the corpus index is built once in batch and SAVED
  * (graft.api.Dedup.signatureIndexBuild — banded signature rows,
  * parquet partitioned by band bucket), and each micro-batch is
  * signed PER ROW and stream-static joined against the saved index on
  * LSH band keys ([[nearDupsAgainstSavedIndex]]). A fresh serving
  * process reads the index as-is — the corpus is never re-signed.
  * [[nearDupsAgainstIndex]] is the in-memory variant for callers who
  * already hold the signature frame.
  *
  * Everything on the stream side is stateless (per-row expressions +
  * a projection explode), and a stream-static inner equi-join needs
  * no watermark or state store — so this runs in Append mode forever,
  * with the index as a broadcast- or shuffle-side chosen by the
  * engine from its actual size.
  *
  * Signature parity: the per-row signature below evaluates the SAME
  * portable hash family as the batch path (32-bit slices of
  * md5("0:"||shingle) / md5("1:"||shingle), minimum over the doc's
  * distinct shingles), so streaming signatures are byte-identical to
  * batch signatures of the same text, and an exact duplicate of an
  * indexed document always collides on every band with est = 1.0.
  */
object DedupStreams {

  /** Per-row MinHash signature columns (id, h0..h7) — stateless, so
    * it runs identically on batch and streaming frames. Documents
    * with no shingle (< n tokens) are dropped, matching the batch
    * groupBy which never sees them. Unlike the batch path (which
    * md5-hashes each DISTINCT shingle once corpus-wide through the
    * dictionary join), this recomputes hashes per row — the right
    * trade for a stream, where rows arrive independently. */
  /** The 8-minimum signature of a shingle-array column, as one array
    * expression — md5 is the dominant cost and higher-order lambdas
    * are evaluated interpreted (no cross-column subexpression
    * elimination), so the TWO digests per shingle are computed
    * exactly once and folded into all 8 signature minimums in a
    * single aggregate pass. Callers must explode the 1-element
    * array-wrap of this column before extracting the 8 positions:
    * the Generate barrier stops project collapsing from inlining
    * (and re-evaluating) the aggregate into each extraction. */
  private[streaming] def signatureArray(shingles: Column): Column = {
    val digs = transform(shingles, s =>
      array(md5(concat(lit("0:"), s)), md5(concat(lit("1:"), s))))
    val init = array((0 to 7).map(_ => lit(Long.MaxValue)): _*)
    aggregate(digs, init, (acc, d) =>
      array((0 to 7).map { k =>
        val m = k / 4; val j = k % 4
        least(element_at(acc, k + 1),
          conv(substring(element_at(d, m + 1), 1 + 8 * j, 8), 16, 10)
            .cast("long"))
      }: _*))
  }

  def signRows(docs: DataFrame, id: String, text: String,
      n: Int = 3): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    val shingles = array_distinct(call_function("word_ngrams",
      split(col(text), " "), lit(n)))
    docs.filter(size(shingles) > 0)
      .select(col(id), explode(array(signatureArray(shingles))).as("hs"))
      .select(col(id) +: (0 to 7).map(k =>
        col("hs").getItem(k).as(s"h$k")): _*)
  }

  private val bands = Seq((0, 1), (2, 3), (4, 5), (6, 7))

  /** Join core shared by the in-memory and saved-index probes: the
    * band equi-join of a banded arrival frame against a banded corpus
    * frame (c-prefixed signature columns), with the first-equal-band
    * filter keeping each colliding pair exactly once WITHOUT a
    * stateful distinct — the smallest agreeing band index is
    * computable from the CARRIED signatures (the same pigeonhole
    * trick the batch simhash join uses), so the whole pipeline stays
    * stateless and Append-mode-safe. */
  private def bandJoin(arrivals: DataFrame, corpus: DataFrame,
      id: String, joinKeys: Seq[String], minEst: Double): DataFrame = {
    // smallest band index whose keys agree: when(band0, 0)
    //   .otherwise(when(band1, 1).otherwise(... 3))
    val firstEq = bands.zipWithIndex.init.foldRight(lit(3): Column) {
      case (((x, y), bi), els) =>
        when(col(s"h$x") === col(s"c$x") && col(s"h$y") === col(s"c$y"),
          lit(bi)).otherwise(els)
    }
    val agree = (0 to 7).map(k =>
      when(col(s"h$k") === col(s"c$k"), 1).otherwise(0)).reduce(_ + _)
    arrivals.join(corpus, joinKeys)
      .filter(col("b") === firstEq)
      .select(col(id), col("corpus_id"),
        (agree.cast("double") / 8).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** Near-duplicate candidates of a document stream against an
    * IN-MEMORY corpus signature frame (columns id, h0..h7 — the
    * output shape of both the batch minhashSignatures and
    * [[signRows]]): (<id>, corpus_id, est_jaccard ≥ minEst). Works
    * identically when `stream` is a batch frame (spec-pinned). */
  def nearDupsAgainstIndex(stream: DataFrame, index: DataFrame,
      id: String, text: String, minEst: Double = 0.5): DataFrame = {
    val sig = signRows(stream, id, text)
    val corpus = (0 to 7).foldLeft(
      index.withColumnRenamed(id, "corpus_id")) { (d, k) =>
      d.withColumnRenamed(s"h$k", s"c$k") }
    bandJoin(graft.api.Dedup.bandedSignatures(sig, id, "h"),
      graft.api.Dedup.bandedSignatures(corpus, "corpus_id", "c"),
      id, Seq("b", "k1", "k2"), minEst)
  }

  /** Eval-CONTAMINATION probe of a stream of arriving eval documents
    * against a SAVED training-corpus containment index
    * (graft.api.Dedup.containmentIndexBuild): (eval_id, train_id,
    * containment ≥ num/den), containment = |sh(eval) ∩ sh(train)| /
    * |sh(eval)| — the asymmetric metric, computed EXACTLY.
    *
    * Stateless by construction, so it runs in Append mode forever —
    * no watermark, no state store, and identically on a batch frame
    * (spec-pinned against the oracle-verified batch
    * [[graft.api.Dedup.containmentPairs]]):
    *
    *  - '''candidates''' via a lossless PREFIX join (the PPJoin/
    *    AllPairs containment bound): containment ≥ num/den needs
    *    ⌈n·num/den⌉ of the eval doc's n shingles inside the train
    *    doc, so among the first n − ⌈n·num/den⌉ + 1 shingles (in the
    *    sorted order) at least one must match — only that prefix is
    *    exploded and equi-joined against the saved postings;
    *  - '''per-pair dedup WITHOUT state''': a (eval, train) pair
    *    colliding on several prefix shingles is kept once by the
    *    first-hit trick (keep the collision whose shingle IS the
    *    first prefix element present in the train doc's array — the
    *    same carried-data move the band join uses);
    *  - '''verify''' on the pair row itself: the train side carries
    *    its sorted shingle array, so the exact intersection is one
    *    early-exit `sorted_intersect_count` call, no aggregate.
    *
    * A BATCH arrival frame additionally prunes the postings scan to
    * its prefix shingles' buckets via a literal partition filter. A
    * stream reads postings and docs through [[graft.PlanCache]] memos
    * of `path` instead, so a same-session build or append at `path`
    * reaches the running query (the PlanCache rule). */
  def containmentAgainstSavedIndex(stream: DataFrame, path: String,
      id: String, text: String, num: Int = 1, den: Int = 2): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "threshold must be in (0, 1]")
    val spark = stream.sparkSession
    graft.functions.TextExpressions.register(spark)
    graft.functions.SetExpressions.register(spark)
    val meta = spark.read.parquet(s"$path/meta").head()
    val (n, nBuckets) = (meta.getAs[Int]("n"), meta.getAs[Int]("n_buckets"))
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("bkt"), col("shingle"), col("id").as("train_id"))
    val docsArr = spark.read.parquet(s"$path/docs")
      .select(col("id").as("train_id"), col("sh_sorted").as("ta"))
    val shArr = array_sort(array_distinct(call_function("word_ngrams",
      split(col(text), " "), lit(n))))
    val arrBase = stream
      .select(col(id).as("eval_id"), shArr.as("ea"))
      .filter(size(col("ea")) > 0)
      .withColumn("nsh", size(col("ea")))
      // matches needed = ceil(nsh·num/den); prefix = misses allowed + 1
      .withColumn("need", expr(s"CAST((nsh * $num + ${den - 1}) DIV $den AS INT)"))
      .withColumn("plen", col("nsh") - col("need") + 1)
    val verified =
      if (stream.isStreaming) {
        // STATELESS carried-data plan: the arrival's shingle array
        // rides every exploded prefix row, so dedup and verify are
        // per-row expressions — no aggregate, Append-safe. The ~plen
        // copies of the array are per-ARRIVAL cost, the right trade
        // for a stream's small micro-batches.
        val arrivals = arrBase
          .select(col("eval_id"), col("ea"), col("nsh"), col("need"),
            col("plen"), explode(expr("slice(ea, 1, plen)")).as("shingle"))
          .withColumn("bkt", graft.api.Dedup.containmentBucket(nBuckets))
        arrivals
          .join(graft.PlanCache.memo(spark, path,
            "stream_containment_postings")(postings), Seq("bkt", "shingle"))
          .join(graft.PlanCache.memo(spark, path,
            "stream_containment_docs")(docsArr), Seq("train_id"))
          // first-hit dedup: keep the collision whose shingle IS the
          // first prefix element present in the train doc's array (the
          // joined shingle is in ta by construction, so the filtered
          // prefix is never empty)
          .filter(col("shingle") === element_at(
            filter(expr("slice(ea, 1, plen)"),
              x => array_contains(col("ta"), x)), 1))
          .withColumn("i", call_function("sorted_intersect_count",
            col("ea"), col("ta"), col("need")))
      } else {
        // BATCH backfill plan, same result (the spec pins them equal):
        // candidates are generated from a SLIM (eval_id, shingle)
        // prefix explode — the shingle arrays never ride the posting
        // join — deduped with a real distinct, and each surviving PAIR
        // attaches the two arrays exactly once for the verify. The
        // arrival arrays are materialized once (three consumers:
        // bucket realization, prefix explode, verify attach).
        val arr = arrBase.ckpt()
        val pref = arr.select(col("eval_id"),
            explode(expr("slice(ea, 1, plen)")).as("shingle"))
          .withColumn("bkt", graft.api.Dedup.containmentBucket(nBuckets))
        val bkts = pref.select(col("bkt")).distinct()
          .collect().map(_.getInt(0)).toSeq
        pref.join(postings.filter(col("bkt").isin(bkts: _*)),
            Seq("bkt", "shingle"))
          .select(col("eval_id"), col("train_id")).distinct()
          .join(arr, Seq("eval_id"))
          .join(docsArr, Seq("train_id"))
          .withColumn("i", call_function("sorted_intersect_count",
            col("ea"), col("ta"), col("need")))
      }
    verified
      .filter(col("i") * den >= col("nsh") * num)
      .select(col("eval_id"), col("train_id"),
        round(col("i").cast("double") / col("nsh"), 6).as("containment"))
  }

  /** Near-duplicate candidates of a document stream against the SAVED
    * signature index at `path` (graft.api.Dedup.signatureIndexBuild):
    * (<id>, corpus_id, est_jaccard ≥ minEst).
    *
    * The index is read as-is — already banded, already bucketed — so
    * a fresh serving process never re-signs the corpus. For a BATCH
    * arrival frame, the arrivals' band-bucket set (bounded by the
    * index's nBuckets) is realized on the driver as a literal
    * `bkt IN (...)` predicate, which Catalyst turns into
    * PartitionFilters: only the touched bucket directories are ever
    * read (the same pruning move as [[graft.api.Similarity.ivfTopK]]).
    * A STREAMING frame cannot be collected, so the bucket is a join
    * key instead, and the stream-static join reads the whole index
    * from a [[graft.PlanCache]] memo of `path` (pinned once, refreshed
    * by a same-session build or append at `path` — the PlanCache
    * rule). */
  def nearDupsAgainstSavedIndex(stream: DataFrame, path: String,
      id: String, text: String, minEst: Double = 0.5): DataFrame = {
    val spark = stream.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val (n, nBuckets) = (meta.getAs[Int]("n"), meta.getAs[Int]("n_buckets"))
    val corpus = (0 to 7).foldLeft(
        spark.read.parquet(s"$path/bands")
          .withColumnRenamed("id", "corpus_id")) { (d, k) =>
      d.withColumnRenamed(s"h$k", s"c$k") }
    val arrivals = graft.api.Dedup.bandedSignatures(
        signRows(stream, id, text, n), id, "h")
      .withColumn("bkt", graft.api.Dedup.bandBucket(nBuckets))
    val prunedCorpus =
      if (stream.isStreaming)
        graft.PlanCache.memo(spark, path, "stream_signature_bands")(corpus)
      else {
        val bkts = arrivals.select(col("bkt")).distinct()
          .collect().map(_.getInt(0)).toSeq
        corpus.filter(col("bkt").isin(bkts: _*))
      }
    bandJoin(arrivals, prunedCorpus, id, Seq("bkt", "b", "k1", "k2"),
      minEst)
  }

  /** Per-row SPAN cutter shared by [[spanIndexBuild]] and
    * [[spansAgainstSavedIndex]] — the dedup_span_global chunking
    * (consecutive non-overlapping `spanLen`-token spans) computed
    * entirely from one document row's own arrays, so it is STATELESS
    * and runs identically on batch and streaming frames:
    * (id, cidx, span, ctoks, first_intra) where first_intra is true
    * iff this is the span text's first occurrence WITHIN the document
    * (array_position over the doc's own span list — O(spans²) per
    * doc, bounded by document length, never cross-row). */
  private def spanRows(docs: DataFrame, id: String, text: String,
      spanLen: Int): DataFrame =
    docs
      .select(col(id), split(col(text), " ").as("ts"))
      .withColumn("n", size(col("ts")))
      .withColumn("spans", expr(
        s"""transform(sequence(0, CAST((n + ${spanLen - 1}) DIV $spanLen
           | AS INT) - 1),
           | i -> array_join(slice(ts, i * $spanLen + 1, $spanLen), ' '))
           |""".stripMargin.replace("\n", "")))
      .select(col(id), col("n"), col("spans"),
        posexplode(col("spans")).as(Seq("cidx", "span")))
      .select(col(id), col("cidx").cast("long").as("cidx"), col("span"),
        least(lit(spanLen), col("n") - col("cidx") * spanLen)
          .cast("int").as("ctoks"),
        (array_position(col("spans"), col("span")) === col("cidx") + 1)
          .as("first_intra"))

  /** SAVED span index — the batch half of dedup_span_global's
    * streaming twin: one hash-shuffle with map-side combine collapses
    * the corpus to its DISTINCT span texts (plus the first-occurrence
    * position, same (doc_id·1e6 + cidx) encoding and range guard as
    * the batch query, for provenance). At 100 TB this is the same
    * single shuffle the batch rewrite pays; the index is linear in
    * distinct spans. */
  def spanIndexBuild(docs: DataFrame, id: String, text: String,
      path: String, spanLen: Int = 8): Unit = {
    val spark = docs.sparkSession
    val encodedPos = when(
      col("cidx") >= 1000000L || col(id) < 0L ||
        col(id) > 9000000000000L,
      raise_error(concat(
        lit("spanIndexBuild: (id, span) outside the 1e6 position " +
          "encoding: id="), col(id), lit(" cidx="), col("cidx")))
        .cast("long"))
      .otherwise(col(id) * 1000000L + col("cidx"))
    spanRows(docs, id, text, spanLen)
      .groupBy(col("span"))
      .agg(min(encodedPos).as("pos"))
      .write.mode("overwrite").parquet(s"$path/spans")
    import spark.implicits._
    Seq(spanLen).toDF("span_len")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** SPAN-level rewrite of an arrival stream against the saved span
    * index — the streaming twin of dedup_span_global (the one dedup
    * family member without one, round-12 verdict item 8). Where the
    * batch query reports a per-doc survival rollup, the stream emits
    * the REWRITING form itself — one row per arrival span with its
    * fate: `seen_in_base` (span text exists anywhere in the indexed
    * corpus), `intra_doc` (repeated within the arrival itself), or
    * NULL (kept — these rows ARE the cleaned span stream). Everything
    * stream-side is per-row expressions plus ONE stream-static left
    * join on the span text — no aggregate, no watermark, Append-safe
    * forever; batch callers run the identical plan (the spec pins
    * stream ≡ batch ≡ the dedup_span_global first-occurrence
    * semantics). Cross-ARRIVAL dedup is deliberately not claimed:
    * like nearDupsAgainstSavedIndex, arrivals probe the pre-built
    * index (bulk semantics) — fold a batch into the index with
    * [[spanIndexBuild]] over the grown corpus when it lands; a stream
    * reads the spans through a [[graft.PlanCache]] memo of `path`, so
    * that rebuild reaches the running query (the PlanCache rule). */
  def spansAgainstSavedIndex(stream: DataFrame, path: String,
      id: String, text: String): DataFrame = {
    val spark = stream.sparkSession
    val spanLen = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("span_len")
    val idxRaw = spark.read.parquet(s"$path/spans")
      .select(col("span"), lit(true).as("in_base"))
    val idx =
      if (stream.isStreaming)
        graft.PlanCache.memo(spark, path, "stream_span_spans")(idxRaw)
      else idxRaw
    spanRows(stream, id, text, spanLen)
      .join(idx, Seq("span"), "left")
      .select(col(id), col("cidx"), col("span"), col("ctoks"),
        when(col("in_base"), lit("seen_in_base"))
          .when(!col("first_intra"), lit("intra_doc"))
          .otherwise(lit(null).cast("string")).as("drop_reason"))
  }
}
