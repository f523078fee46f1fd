package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

case class SEv(event_id: Long, event_type: String)

/** Streaming twins of the deterministic samplers: streaming ≡ batch
  * on the same finite input, across multiple batches. */
class SampleStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixture: Seq[SEv] = Tables.events(spark, sfDir)
    .select($"event_id", $"event_type").as[SEv].collect().toSeq

  test("hash-Bernoulli sampler: streaming ≡ batch (stateless filter)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[SEv]
    val q = SampleStreams.hashBernoulli(mem.toDF(), "event_id", 7)
      .writeStream.format("memory").queryName("bern_sink")
      .outputMode("append").start()
    fixture.grouped(500).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("bern_sink").select($"event_id")
      .as[Long].collect().sorted.toSeq
    val want = graft.api.Sampling
      .hashBernoulli(fixture.toDF(), "event_id", 7)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("k-center assignment against the SAVED center set: " +
      "streaming ≡ batch; every center covers itself at cosine 1") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_kcenter_stream").toString
    graft.api.Similarity.kcenterIndexBuild(ev, "vec_id", "v", path, 4)
    val fixture = ev.as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = SampleStreams.assignAgainstSavedCenters(
        mem.toDF().toDF("vec_id", "v"), path, "vec_id", "v")
      .writeStream.format("memory").queryName("kc_assign")
      .outputMode("append").start()
    fixture.grouped(150).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))
    val got = spark.table("kc_assign").collect().map(key).toSet
    // batch twin: the SAME function over a batch frame (window argmax
    // instead of the carried-array fold — spec pins them equal)
    val want = SampleStreams.assignAgainstSavedCenters(
        fixture.toDF("vec_id", "v"), path, "vec_id", "v")
      .collect().map(key).toSet
    assert(got == want && got.size == fixture.size)
    // each saved center is its own nearest exemplar at cosine 1
    val cids = spark.read.parquet(s"$path/centers")
      .select($"cid").as[Long].collect().toSet
    assert(cids.size == 4)
    cids.foreach { c =>
      assert(got.exists(r => r._1 == c && r._3 == c && r._4 == 1.0),
        s"center $c not self-assigned at cosine 1")
    }
  }

  test("split assignment: streaming ≡ batch (stateless projection)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[SEv]
    val q = SampleStreams.splitAssign(mem.toDF(), "event_id")
      .writeStream.format("memory").queryName("split_sink")
      .outputMode("append").start()
    fixture.grouped(500).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("split_sink").select($"event_id", $"split")
      .as[(Long, String)].collect().sorted.toSeq
    val want = graft.api.Sampling.splitAssign(fixture.toDF(), "event_id")
      .select($"event_id", $"split").as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == want && got.map(_._2).toSet.size == 3)
  }

  test("mixture replication: streaming ≡ batch (stateless explode)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rates = Map("click" -> 2.5, "view" -> 0.5, "purchase" -> 0.0)
    val mem = MemoryStream[SEv]
    val q = SampleStreams.mixtureReplicated(mem.toDF(), "event_id",
        "event_type", rates, defaultRate = 1.0)
      .writeStream.format("memory").queryName("repl_sink")
      .outputMode("append").start()
    fixture.grouped(500).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("repl_sink")
      .select($"event_id", $"copy").as[(Long, Long)]
      .collect().sorted.toSeq
    val want = graft.api.Sampling
      .mixtureReplicated(fixture.toDF(), "event_id", "event_type",
        rates, defaultRate = 1.0)
      .select($"event_id", $"copy").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
    // upsampled rows genuinely replicate: some event carries copy > 0
    assert(got.exists(_._2 > 0))
  }

  test("stratified reservoir: final streaming state ≡ batch top-k per stratum") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[SEv]
    val q = SampleStreams.stratifiedTopK(mem.toDF(), "event_type",
        "event_id", k = 5)
      .writeStream.format("memory").queryName("strat_sink")
      .outputMode("update").start()
    // three batches so the state genuinely merges across batches
    fixture.grouped(fixture.size / 3 + 1).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    // update mode emits one row per touched stratum per batch; the
    // LAST row per stratum is the final sample
    val lastPerStratum = spark.table("strat_sink")
      .withColumn("seq", monotonically_increasing_id())
      .collect()
      .groupBy(_.getString(0))
      .map { case (s, rows) =>
        s -> rows.maxBy(_.getLong(2)).getSeq[Long](1).toSet }
    val want = graft.api.Sampling
      .stratifiedTopK(fixture.toDF(), "event_type", "event_id", k = 5)
      .collect()
      .groupBy(_.getString(1))
      .map { case (s, rows) => s -> rows.map(_.getLong(0)).toSet }
    assert(lastPerStratum == want)
    assert(want.values.forall(_.size == 5))
  }
}
