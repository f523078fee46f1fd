package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The saved lexical-posting-index serving path: probes prune to
  * their term buckets at planning time, and an index grown with
  * [[Similarity.lexIndexAppend]] is indistinguishable from an
  * all-at-once [[Similarity.lexIndexBuild]] (the contract
  * sim_lex_ingest's oracle relies on).
  */
class LexIndexSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private lazy val corpus = docs.filter(col("doc_id") % 10 =!= 7)
  private lazy val probes = docs.filter(col("doc_id") % 10 === 7)

  private def scores(path: String): Set[(Long, Long, Long)] =
    Similarity.lexSharedTerms(probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("lexIndexAppend: incrementally-grown index equals the all-at-once build") {
    val pInc = Files.createTempDirectory("graft_lex_inc").toString
    Similarity.lexIndexBuild(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", pInc)
    Similarity.lexIndexAppend(
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", pInc)
    val pFull = Files.createTempDirectory("graft_lex_full").toString
    Similarity.lexIndexBuild(corpus, "doc_id", "text", pFull)
    val inc = scores(pInc)
    assert(inc == scores(pFull),
      "append-grown posting index diverges from the all-at-once build")
    assert(inc.nonEmpty, "fixture probes should share terms with corpus")
  }

  test("appended postings land in the meta-pinned term-hash buckets") {
    val p = Files.createTempDirectory("graft_lex_bkt").toString
    Similarity.lexIndexBuild(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
    Similarity.lexIndexAppend(
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", p)
    val nBuckets = spark.read.parquet(s"$p/meta")
      .head().getAs[Int]("n_buckets")
    val postings = spark.read.parquet(s"$p/postings")
    // every posting row sits in the bucket its term hashes to — the
    // invariant that makes probe-side pruning correct after appends
    val misplaced = postings
      .withColumn("expect", Similarity.lexBucket(nBuckets))
      .filter(col("bkt") =!= col("expect")).count()
    assert(misplaced == 0, s"$misplaced postings in the wrong bucket")
    // appended rows really are there: postings cover the whole corpus
    val ids = postings.select(col("id")).distinct().count()
    assert(ids == corpus.count(),
      "grown index must hold postings for every corpus doc")
  }

  test("probe scan prunes to the probe terms' buckets via PartitionFilters") {
    val p = Files.createTempDirectory("graft_lex_prune").toString
    Similarity.lexIndexBuild(corpus, "doc_id", "text", p)
    val one = probes.orderBy(col("doc_id")).limit(1)
    val plan = Similarity.lexSharedTerms(one, "doc_id", "text", p)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bkt"),
      s"no partition pruning on the postings scan:\n$plan")
  }
}
