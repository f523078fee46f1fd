package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The streaming freshness monitor must equal the batch aggregate on
  * a drained feed, its report must equal the dq_freshness contract
  * query, and per-type state must be monotone across micro-batches. */
class AuditStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixture = Tables.events(spark, sfDir)
    .select($"event_type", unix_micros($"ts").as("us"))
    .as[(String, Long)].collect().toSeq

  test("streaming state equals the batch aggregate on a drained feed") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = AuditStreams.freshnessState(
        mem.toDF().toDF("event_type", "us")
          .select($"event_type", timestamp_micros($"us").as("ts")))
      .writeStream.format("memory").queryName("fresh_state")
      .outputMode("complete").start()
    // mid-stream monotonicity probe: capture state after each batch
    var lastSeen = Map.empty[String, Long]
    fixture.grouped(300).foreach { b =>
      mem.addData(b); q.processAllAvailable()
      val snap = spark.table("fresh_state")
        .select($"event_type", $"last_us").as[(String, Long)]
        .collect().toMap
      snap.foreach { case (t, us) =>
        assert(us >= lastSeen.getOrElse(t, Long.MinValue),
          s"$t: last_us went backwards")
      }
      lastSeen = snap
    }
    q.stop()
    val got = spark.table("fresh_state")
      .select($"event_type", $"n_events", $"last_us")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val want = AuditStreams.freshnessState(Tables.events(spark, sfDir))
      .select($"event_type", $"n_events", $"last_us")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("report over streamed state equals the dq_freshness contract query") {
    // fresh_state still materialized from the previous test's drain
    val report = AuditStreams
      .freshnessReport(spark.table("fresh_state")
        .select($"event_type", $"n_events", $"last_us"))
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.AuditQueries.dqFreshness
      .fn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(report == batch)
  }
}
