package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

case class Vec(vec_id: Long, embedding: Seq[Float])
case class LVec(vec_id: Long, label: Int, embedding: Seq[Float])

/** Streaming range retrieval against the saved IVF index must equal
  * the batch serving path (graft.api.Similarity.ivfRangeSearch) on
  * the same arrivals — the continuous-RAG serving twin. */
class SimStreamsSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming IVF range probe == batch ivfRangeSearch, incl. a planted self-neighbor") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[Vec].collect().toSeq
    val corpus = all.filter(_.vec_id % 5 < 4)
    val arrivals = all.filter(_.vec_id % 5 == 4)
    // plant an arrival that is an exact copy of a corpus vector — it
    // must retrieve its source at cosine 1.0
    val planted = Vec(999995L, corpus.head.embedding)
    val feed = arrivals :+ planted
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream").toString
    val cdf = corpus.toDF()
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.api.Similarity.ivfBuild(cdf, "vec_id", "v", path,
      k = 8, rounds = 2)

    val mem = MemoryStream[Vec]
    val q = SimStreams.rangeAgainstSavedIvfIndex(mem.toDF(), "vec_id",
        "embedding", path, tau = 0.4)
      .writeStream.format("memory").queryName("ivf_range_stream")
      .outputMode("append").start()
    feed.grouped(40).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ivf_range_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // batch twin over the SAME saved index and arrivals
    val adf = feed.toDF()
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val want = graft.api.Similarity.ivfRangeSearch(adf, "vec_id", "v",
        path, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == want && got.nonEmpty)
    assert(got.contains((999995L, corpus.head.vec_id, 1.0)),
      "planted exact copy must retrieve its source at cosine 1.0")
    // and the same function over a batch frame gives the same pairs
    val viaBatchFn = SimStreams.rangeAgainstSavedIvfIndex(feed.toDF(),
        "vec_id", "embedding", path, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(viaBatchFn == want)
  }
  test("streaming matched-range probe == plain range restricted to same-label pairs") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding").as[LVec].collect().toSeq
    val corpus = all.filter(_.vec_id % 5 < 4)
    val arrivals = all.filter(_.vec_id % 5 == 4)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfl_stream").toString
    val cdf = corpus.toDF()
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    graft.api.Similarity.ivfBuild(cdf, "vec_id", "v", path,
      k = 8, rounds = 2, attrs = Seq("label"))

    val mem = MemoryStream[LVec]
    val q = SimStreams.rangeMatchingAgainstSavedIvfIndex(mem.toDF(),
        "vec_id", "embedding", path, tau = 0.4, nProbe = 3,
        matchCols = Seq("label"))
      .writeStream.format("memory").queryName("ivfl_range_stream")
      .outputMode("append").start()
    arrivals.grouped(40).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("ivfl_range_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    // semantics: the matched probe IS the plain range probe
    // restricted to same-label pairs (same cells, same cosine; the
    // label key only filters candidates)
    val plain = SimStreams.rangeAgainstSavedIvfIndex(
        arrivals.toDF().select($"vec_id", $"embedding"),
        "vec_id", "embedding", path, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val labOf = all.map(v => v.vec_id -> v.label).toMap
    val want = plain
      .filter { case (p0, n0, _) => labOf(p0) == labOf(n0) }
      .map { case (p0, n0, c0) => (p0, n0, c0, labOf(p0)) }.toSet
    assert(got == want && got.nonEmpty)
    // and the same function over a batch frame gives the same pairs
    val viaBatchFn = SimStreams.rangeMatchingAgainstSavedIvfIndex(
        arrivals.toDF(), "vec_id", "embedding", path, tau = 0.4,
        nProbe = 3, matchCols = Seq("label"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(viaBatchFn == got)
  }
}
