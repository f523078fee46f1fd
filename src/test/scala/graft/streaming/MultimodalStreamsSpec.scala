package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The binary-tier ingest twin: the per-row perceptual hash must
  * equal the aggregate signature exactly, and the streaming probe of
  * the saved banded index must equal the batch probe and the direct
  * pair computation. */
class MultimodalStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val media = Tables.documents(spark, sfDir)
    .select($"doc_id", $"text".cast("binary").as("payload"))

  test("per-row phash equals the aggregate SimHash signature exactly " +
      "at both widths") {
    // the aggregate form: features string -> tokenize -> grouped ±1
    // bit balances (the multimodal_phash_neardup/_wide signature path)
    graft.functions.TextExpressions.register(spark)
    val feats = media.withColumn("features", array_join(
      call_function("char_ngrams", hex($"payload"), lit(8), lit(2)), " "))
    for ((bits, aggSig) <- Seq(
        16 -> graft.api.Dedup.simhashSignatures(feats, "doc_id",
          "features"),
        32 -> graft.api.Dedup.simhashSignatures32(feats, "doc_id",
          "features"))) {
      val perRow = graft.api.Multimodal
        .phashRows(media, "doc_id", "payload", bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val agg = aggSig
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(perRow == agg, s"$bits-bit per-row signature diverged")
      assert(perRow.nonEmpty)
    }
  }

  test("streaming phash probe of the SAVED index equals batch probe " +
      "and the direct pair computation; planted copy found at Hamming 0") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_phashidx_stream").toString
    val corpus = media.filter($"doc_id" % 10 =!= 3)
    graft.api.Multimodal.phashIndexBuild(corpus, "doc_id", "payload", path)
    // arrivals: the held-out slice plus a byte-identical copy of a
    // corpus payload under a fresh id
    val copyOf = corpus.orderBy($"doc_id").first()
    val arrivals = media.filter($"doc_id" % 10 === 3)
      .as[(Long, Array[Byte])].collect().toSeq :+
      ((999999L, copyOf.getAs[Array[Byte]](1)))
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = MultimodalStreams.phashAgainstSavedIndex(
        mem.toDF().toDF("doc_id", "payload"), path, "doc_id", "payload")
      .writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").start()
    arrivals.grouped(100).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2))
    val got = spark.table("phash_stream").collect().map(key).toSet
    // batch twin: the SAME function over a batch frame (this path
    // additionally prunes the probed band buckets)
    val want = MultimodalStreams.phashAgainstSavedIndex(
        arrivals.toDF("doc_id", "payload"), path, "doc_id", "payload")
      .collect().map(key).toSet
    assert(got == want && got.nonEmpty)
    // the planted byte-identical payload collides at Hamming 0
    assert(got.contains((999999L, copyOf.getLong(0), 0)))
    // and equals the direct (no-index) pair computation over the two
    // slices: every arrival-corpus signature pair within Hamming 3
    val sigs = graft.api.Multimodal.phashRows(
        media.unionByName(arrivals.toDF("doc_id", "payload")
          .filter($"doc_id" === 999999L)), "doc_id", "payload",
        bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val corpusSigs = sigs.filter(t => t._1 % 10 != 3 && t._1 != 999999L)
    val direct = sigs.filter(t => t._1 % 10 == 3 || t._1 == 999999L)
      .flatMap { case (a, s1) =>
        corpusSigs.collect { case (c, s2)
          if java.lang.Long.bitCount(s1 ^ s2) <= 3 =>
          (a, c, java.lang.Long.bitCount(s1 ^ s2))
        }
      }.toSet
    assert(got == direct)
  }
}
