package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

case class Doc(doc_id: Long, text: String)

/** Continuous-ingestion near-dedup: per-row streaming signatures must
  * equal the batch dictionary-join signatures, and the stream-static
  * band join must flag arriving near-duplicates of the indexed corpus
  * exactly as a batch run would. */
class DedupStreamsSpec extends SparkTestBase {
  import spark.implicits._

  // corpus = docs 0..399 (indexed in batch); arrivals = docs 400+
  private lazy val all = Tables.documents(spark, sfDir)
    .select($"doc_id", $"text").as[Doc].collect().toSeq
  private lazy val corpusDocs = all.filter(_.doc_id < 400)
  private lazy val arrivals = all.filter(_.doc_id >= 400)

  private lazy val index = {
    val c = corpusDocs.toDF()
    graft.api.Dedup.minhashSignatures(
      graft.api.Dedup.wordShingles(c, "doc_id", "text"), "doc_id")
      .cache()
  }

  test("per-row streaming signatures equal the batch dictionary-join signatures") {
    val perRow = DedupStreams.signRows(corpusDocs.toDF(), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = index.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(perRow == batch)
  }

  test("streaming near-dups against the index equal the batch run, incl. a planted dup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // plant an exact duplicate of an indexed doc among the arrivals
    val planted = Doc(999999L, corpusDocs.head.text)
    val feed = arrivals :+ planted
    val mem = MemoryStream[Doc]
    val q = DedupStreams.nearDupsAgainstIndex(mem.toDF(), index,
        "doc_id", "text")
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    feed.grouped(40).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ingest_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin: the SAME function over a batch frame
    val want = DedupStreams.nearDupsAgainstIndex(feed.toDF(), index,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty)
    // the exact duplicate must collide with its source at est 1.0
    assert(got.contains((999999L, corpusDocs.head.doc_id, 1.0)))
    // and agree with the oracle-verified batch pair list: every
    // cross-set (arrival, corpus) pair the batch LSH finds must be
    // found here too (same bands, same hashes)
    val batchPairs = graft.api.Dedup.minhashBandPairs(
      graft.api.Dedup.minhashSignatures(
        graft.api.Dedup.wordShingles(all.toDF(), "doc_id", "text"),
        "doc_id"), "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 400 && b >= 400 }
      .map { case (a, b, e) => (b, a, e) }.toSet
    assert(batchPairs.subsetOf(got))
    index.unpersist()
  }

  test("streaming containment probe of the SAVED index equals batch probe and batch API") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_ctnidx_stream").toString
    // train corpus = non-eval docs, indexed once; eval prompts stream in
    val train = all.filter(_.doc_id % 10 != 7)
    val evals = all.filter(_.doc_id % 10 == 7)
    graft.api.Dedup.containmentIndexBuild(train.toDF(), "doc_id", "text",
      path)
    // plant a full quote (id ends in 7, so the batch API's eval
    // predicate covers it): containment must be exactly 1.0
    val planted = Doc(999997L, train.head.text)
    val feed = evals :+ planted
    val mem = MemoryStream[Doc]
    val q = DedupStreams.containmentAgainstSavedIndex(mem.toDF(), path,
        "doc_id", "text")
      .writeStream.format("memory").queryName("ctn_stream")
      .outputMode("append").start()
    feed.grouped(20).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ctn_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin: the SAME function over a batch frame (this path
    // additionally prunes the postings scan to the probed buckets)
    val want = DedupStreams.containmentAgainstSavedIndex(feed.toDF(),
        path, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want && got.nonEmpty)
    assert(got.contains((999997L, train.head.doc_id, 1.0)))
    // and equals the oracle-verified in-memory batch API over the
    // same document universe
    val viaApi = graft.api.Dedup.containmentPairs(
        graft.api.Dedup.wordShingles((all :+ planted).toDF(),
          "doc_id", "text"), "doc_id", col("doc_id") % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == viaApi)
  }

  test("streaming probe of the SAVED index equals the batch probe and the in-memory one") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_sigidx_stream").toString
    graft.api.Dedup.signatureIndexBuild(corpusDocs.toDF(), "doc_id",
      "text", path)
    val planted = Doc(999998L, corpusDocs.head.text)
    val feed = arrivals :+ planted
    val mem = MemoryStream[Doc]
    val q = DedupStreams.nearDupsAgainstSavedIndex(mem.toDF(), path,
        "doc_id", "text")
      .writeStream.format("memory").queryName("ingest_dedup_saved")
      .outputMode("append").start()
    feed.grouped(40).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ingest_dedup_saved").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin over the SAME saved index
    val want = DedupStreams.nearDupsAgainstSavedIndex(feed.toDF(), path,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty)
    assert(got.contains((999998L, corpusDocs.head.doc_id, 1.0)))
    // and equals the in-memory signature-frame probe
    val viaMem = DedupStreams.nearDupsAgainstIndex(feed.toDF(),
        graft.api.Dedup.minhashSignatures(
          graft.api.Dedup.wordShingles(corpusDocs.toDF(), "doc_id", "text"),
          "doc_id"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == viaMem)
  }

  test("streaming span rewrite against the saved span index equals batch and first-occurrence semantics") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_spanidx_stream").toString
    DedupStreams.spanIndexBuild(corpusDocs.toDF(), "doc_id", "text", path)
    // plant an arrival that is an exact copy of an indexed doc (every
    // span must drop as seen_in_base) and one with an internal repeat
    val copied = Doc(999997L, corpusDocs.head.text)
    val w8 = (1 to 8).map(i => s"zq$i").mkString(" ")
    val selfRep = Doc(999996L, s"$w8 $w8")
    val feed = arrivals ++ Seq(copied, selfRep)
    val mem = MemoryStream[Doc]
    val q = DedupStreams.spansAgainstSavedIndex(mem.toDF(), path,
        "doc_id", "text")
      .writeStream.format("memory").queryName("span_rewrite")
      .outputMode("append").start()
    feed.grouped(40).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3), Option(r.getString(4)))).toSet
    val got = rowSet(spark.table("span_rewrite"))
    // batch twin: the SAME function over a batch frame
    val want = rowSet(DedupStreams.spansAgainstSavedIndex(feed.toDF(),
      path, "doc_id", "text"))
    assert(got == want && got.nonEmpty)
    // the copied doc drops entirely as seen_in_base
    val copiedRows = got.filter(_._1 == 999997L)
    assert(copiedRows.nonEmpty &&
      copiedRows.forall(_._5.contains("seen_in_base")))
    // the self-repeat keeps span 0 and drops span 1 as intra_doc
    assert(got.contains((999996L, 0L, w8, 8, None)))
    assert(got.contains((999996L, 1L, w8, 8, Some("intra_doc"))))
    // first-occurrence semantics vs a driver-side recompute of the
    // dedup_span_global rule (base spans drop; else first intra wins)
    val baseSpans = corpusDocs.flatMap(d =>
      d.text.split(" ").grouped(8).map(_.mkString(" "))).toSet
    val expect = feed.flatMap { d =>
      val spans = d.text.split(" ").grouped(8).map(_.mkString(" ")).toSeq
      val toks = d.text.split(" ").length
      spans.zipWithIndex.map { case (sp, i) =>
        val reason =
          if (baseSpans(sp)) Some("seen_in_base")
          else if (spans.indexOf(sp) != i) Some("intra_doc")
          else None
        (d.doc_id, i.toLong, sp, math.min(8, toks - i * 8), reason)
      }
    }.toSet
    assert(got == expect)
  }
}
