package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

case class PDoc(doc_id: Long, text: String, source: String)

/** The streaming corpus-prep ingestion pipeline: quality gate →
  * saved-index near-dup drop → bounded-benchmark decontamination →
  * mixture replication, one stateless Append-mode query — pinned
  * equal to the same function on a batch frame, with planted
  * drop/keep cases for every stage. */
class PipelineStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val all = Tables.documents(spark, sfDir)
    .select($"doc_id", $"text", $"source").as[PDoc].collect().toSeq
  // corpus index = already-ingested docs; evals = the benchmark;
  // feed = the rest, arriving continuously
  private lazy val corpusDocs =
    all.filter(d => d.doc_id < 300 && d.doc_id % 10 != 7)
  private lazy val evalDocs = all.filter(_.doc_id % 10 == 7)
  private lazy val feed0 =
    all.filter(d => d.doc_id >= 300 && d.doc_id % 10 != 7)

  private val rates = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0)

  test("streaming corpus prep ≡ batch corpus prep, with every stage's planted case") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = java.nio.file.Files
      .createTempDirectory("graft_pipe_stream").toString
    graft.api.Dedup.signatureIndexBuild(corpusDocs.toDF(), "doc_id",
      "text", path)
    // planted arrivals, ids chosen to survive the mixture filter is
    // not guaranteed — so plants target the DROP stages, and the
    // keep case is asserted on the pre-mixture survivors of the
    // batch twin instead
    // plant texts that PASS the quality gate, so each plant is
    // dropped by the stage it targets, not upstream
    val passing = graft.api.Text.qualityScore(all.toDF(), "doc_id", "text")
      .filter($"quality" >= 0.61).select($"doc_id").as[Long].collect().toSet
    val dup = PDoc(900001L,
      corpusDocs.find(d => passing(d.doc_id)).get.text, "src5")
    val contaminated = PDoc(900002L,
      evalDocs.find(d => passing(d.doc_id)).get.text, "src5")
    val junk = PDoc(900003L, Seq.fill(60)("the").mkString(" "), "src5")
    val feed = feed0 ++ Seq(dup, contaminated, junk)

    def run(df: org.apache.spark.sql.DataFrame) =
      PipelineStreams.corpusPrepStream(df, "doc_id", "text", "source",
        path, evalDocs.toDF(), "text", minQuality = 0.61, rates = rates)

    val mem = MemoryStream[PDoc]
    val q = run(mem.toDF())
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    feed.grouped(50).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("pipe_stream")
      .select($"doc_id", $"copy").as[(Long, Long)].collect().toSet
    val want = run(feed.toDF())
      .select($"doc_id", $"copy").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // each planted arrival was dropped by its stage (mixture could
    // never emit them even at rate 2.5, because they never reach it)
    assert(!got.exists(_._1 >= 900001L))
    // upsampling replicates: some survivor carries copy > 0
    assert(got.exists(_._2 > 0))

    // stage-level assertions on the batch twin WITHOUT the mixture
    // (rates all 1.0 → every pre-mixture survivor appears once):
    val survivors = PipelineStreams.corpusPrepStream(feed.toDF(),
        "doc_id", "text", "source", path, evalDocs.toDF(), "text",
        minQuality = 0.61, rates = Map.empty, defaultRate = 1.0)
      .select($"doc_id").as[Long].collect().toSet
    assert(!survivors.contains(900001L), "near-dup of the corpus must drop")
    assert(!survivors.contains(900002L), "eval-quoting arrival must drop")
    assert(!survivors.contains(900003L), "low-quality arrival must drop")
    assert(survivors.nonEmpty, "ordinary arrivals survive")
    // and the near-dup drop agrees with the pair-reporting probe:
    // every feed doc the probe flags (est ≥ 0.5) is absent, every
    // unflagged, clean, quality-passing doc is present
    val flagged = DedupStreams.nearDupsAgainstSavedIndex(feed.toDF(),
        path, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(flagged.forall(!survivors.contains(_)))
  }
}
