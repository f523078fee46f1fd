package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The saved-MinHash-signature-index serving path (round-3 VERDICT
  * item 1): the banded signature table lives as band-bucket-
  * partitioned parquet, a fresh process probes it without re-signing
  * the corpus, batch probes prune to the arrivals' band buckets at
  * PLANNING time, and appended documents are findable immediately.
  */
class DedupIndexSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private lazy val corpus = docs.filter(col("doc_id") < 400)
  private lazy val arrivals = docs.filter(col("doc_id") >= 400)

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft_sigidx_spec").toString
    Dedup.signatureIndexBuild(corpus, "doc_id", "text", p)
    p
  }

  test("index layout: bucket-partitioned band rows, 4 per signed doc, meta pinned") {
    val bands = spark.read.parquet(s"$indexPath/bands")
    // every signed doc contributes exactly its 4 band rows
    val signed = Dedup.minhashSignatures(
      Dedup.wordShingles(corpus, "doc_id", "text"), "doc_id").count()
    assert(bands.count() == 4 * signed)
    assert(bands.select("id").distinct().count() == signed)
    val dirs = new java.io.File(s"$indexPath/bands").listFiles()
      .filter(_.getName.startsWith("bkt="))
    assert(dirs.nonEmpty, "bands parquet must be partitioned by bkt")
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    assert(meta.getAs[Int]("n") == 3 && meta.getAs[Int]("n_buckets") == 32)
  }

  test("saved-index probe equals the in-memory signature-frame probe") {
    val mem = graft.streaming.DedupStreams.nearDupsAgainstIndex(
        arrivals,
        Dedup.minhashSignatures(
          Dedup.wordShingles(corpus, "doc_id", "text"), "doc_id"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val saved = graft.streaming.DedupStreams.nearDupsAgainstSavedIndex(
        arrivals, indexPath, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(saved == mem && saved.nonEmpty)
  }

  test("batch probe scan prunes to the arrivals' band buckets via PartitionFilters") {
    val one = arrivals.orderBy(col("doc_id")).limit(1)
    val probe = graft.streaming.DedupStreams.nearDupsAgainstSavedIndex(
      one, indexPath, "doc_id", "text")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bkt"),
      s"no partition pruning on the bands scan:\n$plan")
    // one arrival has 4 band rows → at most 4 of the 32 buckets probed
    val bkts = Dedup.bandedSignatures(
        graft.streaming.DedupStreams.signRows(one, "doc_id", "text"),
        "doc_id", "h")
      .withColumn("bkt", Dedup.bandBucket(32))
      .select("bkt").distinct().count()
    assert(bkts <= 4)
  }

  test("signatureIndexAppend folds arrivals in; an exact dup of an appended doc is found at est 1.0") {
    val p = Files.createTempDirectory("graft_sigidx_append").toString
    Dedup.signatureIndexBuild(corpus, "doc_id", "text", p)
    Dedup.signatureIndexAppend(arrivals, "doc_id", "text", p)
    val bands = spark.read.parquet(s"$p/bands")
    val signedAll = Dedup.minhashSignatures(
      Dedup.wordShingles(docs, "doc_id", "text"), "doc_id").count()
    assert(bands.count() == 4 * signedAll,
      "appended index must hold the full corpus's band rows")
    // plant a fresh doc byte-identical to an APPENDED one: it must
    // collide with it on every band at est 1.0
    val src = arrivals.orderBy(col("doc_id")).limit(1)
    val srcId = src.select("doc_id").head().getLong(0)
    val dup = src.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val got = graft.streaming.DedupStreams.nearDupsAgainstSavedIndex(
        dup, p, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.contains((srcId + 1000000L, srcId, 1.0)),
      s"planted duplicate of $srcId not found at est 1.0: ${got.toSeq}")
  }

  test("containmentIndexAppend: incremental index equals the all-at-once build") {
    // build on 60% of the training docs, append the other 40%; probing
    // the incrementally-grown index must equal probing an index built
    // on the full set in one shot (same meta, same buckets — appends
    // only add posting/doc rows)
    val train1 = docs.filter(col("doc_id") % 10 < 6 && col("doc_id") % 10 =!= 7)
    val train2 = docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 =!= 7)
    val evalDocs = docs.filter(col("doc_id") % 10 === 7)
    val pInc = Files.createTempDirectory("graft_ctn_inc").toString
    Dedup.containmentIndexBuild(train1, "doc_id", "text", pInc)
    Dedup.containmentIndexAppend(train2, "doc_id", "text", pInc)
    val pFull = Files.createTempDirectory("graft_ctn_full").toString
    Dedup.containmentIndexBuild(train1.union(train2), "doc_id", "text",
      pFull)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val inc = graft.streaming.DedupStreams.containmentAgainstSavedIndex(
      evalDocs, pInc, "doc_id", "text").collect().map(key).toSet
    val full = graft.streaming.DedupStreams.containmentAgainstSavedIndex(
      evalDocs, pFull, "doc_id", "text").collect().map(key).toSet
    assert(inc == full,
      s"incremental index diverges: inc ${inc.size} vs full ${full.size}")
    assert(inc.nonEmpty, "fixture should contain contaminated pairs")
  }
}
