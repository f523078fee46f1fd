package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The per-row quality scorer must equal the batch aggregate scorer
  * exactly, run on a stream statelessly, and compose with the
  * ingestion dedup into one streaming pipeline. */
class TextStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
    .select($"doc_id", $"text")

  test("per-row quality score equals the batch aggregate scorer exactly") {
    val rowScore = TextStreams.qualityScoreRow(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.api.Text.qualityScore(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(rowScore == batch)
  }

  test("quality gate runs on a stream and equals the batch filter") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = TextStreams.qualityFilter(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        minQuality = 0.8)
      .writeStream.format("memory").queryName("quality_gate")
      .outputMode("append").start()
    fixture.grouped(200).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("quality_gate").select($"doc_id")
      .as[Long].collect().sorted.toSeq
    val want = TextStreams.qualityFilter(docs, "doc_id", "text", 0.8)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty && got.size < fixture.size,
      s"gate should pass a strict subset: ${got.size} of ${fixture.size}")
  }

  test("streaming decontamination probe of the SAVED eval-gram index " +
      "equals the batch probe and the in-memory contract row") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_dcnidx_stream").toString
    val isEval = pmod(graft.api.Sampling.portableHash($"doc_id", "eval:"),
      lit(50L)) === lit(0L)
    graft.api.Text.evalGramIndexBuild(docs.filter(isEval),
      "doc_id", "text", path)
    // training docs stream in; plant a verbatim eval quote so at least
    // one pair has n_shared = the eval doc's full gram count
    val evalRow = docs.filter(isEval).as[(Long, String)].head()
    val train = docs.filter(!isEval).as[(Long, String)].collect().toSeq :+
      ((999999L, evalRow._2))
    val mem = MemoryStream[(Long, String)]
    val q = TextStreams.decontaminateAgainstSavedIndex(
        mem.toDF().toDF("doc_id", "text"), path, "doc_id", "text")
      .writeStream.format("memory").queryName("dcn_stream")
      .outputMode("append").start()
    train.grouped(100).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("dcn_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin: the SAME function over a batch frame (this path
    // additionally prunes the postings scan to the probed buckets)
    val want = TextStreams.decontaminateAgainstSavedIndex(
        train.toDF("doc_id", "text"), path, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    // the planted quote shares the eval doc's ENTIRE distinct gram set
    val evalGrams = graft.api.Text.ngrams(
        docs.filter($"doc_id" === evalRow._1), "doc_id", "text", n = 4)
      .select($"ngram").distinct().count()
    assert(got.contains((999999L, evalRow._1, evalGrams)))
    // and equals the in-memory contract row over the same universe
    // (restricted to the real training docs — the planted id aside)
    val viaQuery = graft.operators.TextQueries.textDecontaminate
      .fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.filter(_._1 != 999999L) == viaQuery)
  }

  test("urlKeepFirst: ascending-id delivery equals the batch keep-list " +
      "at every micro-batch split") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the text_dedup_url fixture derivation: messy raw URLs whose
    // canonical forms genuinely collide across doc_ids
    val rawUrls = Tables.documents(spark, sfDir)
      .select($"doc_id",
        concat(
          when($"doc_id" % 3 === 0, lit("HTTP://WWW."))
            .when($"doc_id" % 3 === 1, lit("https://"))
            .otherwise(lit("http://www.")),
          $"source", lit(".Example.COM/"), $"lang", lit("/page"),
          ($"doc_id" % 40).cast("string"),
          when($"doc_id" % 4 === 0, lit("/"))
            .when($"doc_id" % 4 === 1, lit("?utm_source=feed"))
            .when($"doc_id" % 4 === 2, lit("#ref"))
            .otherwise(lit(""))).as("raw_url"))
    val want = graft.api.Text.urlKeepList(rawUrls, "doc_id", "raw_url")
      .filter($"keep").select($"doc_id").as[Long].collect().sorted.toSeq
    val feed = rawUrls.orderBy($"doc_id").as[(Long, String)].collect().toSeq
    def run(batches: Seq[Seq[(Long, String)]]): Seq[Long] = {
      val mem = MemoryStream[(Long, String)]
      val name = s"url_keep_${batches.size}"
      val q = TextStreams.urlKeepFirst(
          mem.toDF().toDF("doc_id", "raw_url"), "doc_id", "raw_url")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).select($"doc_id").as[Long].collect().sorted.toSeq
    }
    // ascending-id delivery: first arrival IS the min id, so the
    // streaming keep set must equal the batch keep-list — one batch,
    // split batches, and a fine trickle all converge
    assert(run(Seq(feed)) == want, "single-batch keep set diverged")
    assert(run(feed.grouped(97).toSeq) == want, "split keep set diverged")
    assert(run(feed.grouped(13).toSeq) == want, "trickle keep set diverged")
    assert(want.size < feed.size,
      "fixture must produce real canonical collisions")
  }

  test("observe() gate metrics sum across micro-batches to the batch truth") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = TextStreams.qualityFilterObserved(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        minQuality = 0.8)
      .writeStream.format("memory").queryName("observed_gate")
      .outputMode("append").start()
    fixture.grouped(200).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // each micro-batch publishes its own observed row; the lifetime
    // counter is their sum — no second scan ever ran
    val passedPerBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("quality_gate")))
      .map(_.getLong(0))
    val want = TextStreams.qualityFilter(docs, "doc_id", "text", 0.8).count()
    assert(passedPerBatch.sum == want,
      s"observed ${passedPerBatch.sum} rows passed, batch truth $want")
    assert(passedPerBatch.sum > 0)
  }

  test("normalize + chunking run statelessly on a stream and equal batch") {
    // both ops are pure per-row projections (chunking is a row-local
    // explode), so they must run in Append mode with NO state store —
    // the arrival-time scrub-and-split stage of a streaming corpus
    // pipeline
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def scrubAndChunk(in: org.apache.spark.sql.DataFrame) =
      graft.api.Text.chunks(
        graft.api.Text.normalize(in, "doc_id", "text")
          .withColumnRenamed("clean", "text"),
        "doc_id", "text", size = 200, stride = 150)
    val fixture = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = scrubAndChunk(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    fixture.grouped(200).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("chunk_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val want = scrubAndChunk(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(got == want && got.nonEmpty)
  }

  test("composed ingestion pipeline: quality gate then near-dup vs index, one streaming query") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = docs.filter($"doc_id" < 400)
    val index = graft.api.Dedup.minhashSignatures(
      graft.api.Dedup.wordShingles(corpus, "doc_id", "text"), "doc_id")
      .cache()
    val arrivals = docs.filter($"doc_id" >= 400)
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val gated = TextStreams.qualityFilter(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minQuality = 0.0) // pass-all gate: the COMPOSITION is the test
    val q = DedupStreams.nearDupsAgainstIndex(gated, index,
        "doc_id", "text")
      .writeStream.format("memory").queryName("ingest_pipeline")
      .outputMode("append").start()
    arrivals.grouped(50).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ingest_pipeline").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = DedupStreams.nearDupsAgainstIndex(
        docs.filter($"doc_id" >= 400), index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty)
    index.unpersist()
  }
}
