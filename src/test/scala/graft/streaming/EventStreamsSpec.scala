package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming twins (SURVEY.md §2.9): each batch event-time query must
  * produce the same result when run as a Structured Streaming query
  * over the same finite input, and watermarks must drop late data. */
class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def t(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  /** Fixture events as a typed in-memory collection. */
  private lazy val fixture: Seq[Ev] = Tables.events(spark, sfDir)
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    .as[Ev].collect().toSeq

  /** Far-future sentinel that pushes the watermark past every real
    * window so Append mode flushes them all. */
  private def sentinel: Ev = {
    val maxTs = fixture.map(_.ts.getTime).max
    Ev(-1L, new Timestamp(maxTs + 10L * 86400 * 1000), -1L, "sentinel", 0.0)
  }

  /** Run a streaming transform over the rows (fixture + sentinel) and
    * return the sink contents. */
  private def runStream(name: String, rows: Seq[Seq[Ev]],
      transform: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = transform(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    rows.foreach { batch => mem.addData(batch); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  private def asMap(df: DataFrame): Map[Seq[Any], Long] =
    df.collect().map(r => r.toSeq).groupBy(identity).map {
      case (k, v) => (k, v.size.toLong) }

  test("tumbling: streaming ≡ batch on the same finite input") {
    val got = runStream("tumbling_sink",
      Seq(fixture, Seq(sentinel)), EventStreams.tumbling)
      .filter($"event_type" =!= "sentinel")
    val want = EventStreams.tumbling(fixture.toDF())
    assert(asMap(got) == asMap(want))
  }

  test("sliding: streaming ≡ batch on the same finite input") {
    val got = runStream("sliding_sink",
      Seq(fixture, Seq(sentinel)), EventStreams.sliding)
      .filter($"event_type" =!= "sentinel")
    val want = EventStreams.sliding(fixture.toDF())
    assert(asMap(got) == asMap(want))
  }

  test("sessions: streaming ≡ batch gaps-and-islands session count") {
    val got = runStream("session_sink",
      Seq(fixture, Seq(sentinel)), EventStreams.sessions)
      .filter($"user_id" =!= -1L)
    // session_window semantics = gaps-and-islands with the same gap:
    // compare per-user session counts and total events.
    val gotAgg = got.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
    val want = graft.operators.EventQueries.evSession.fn(spark, sfDir)
      .select($"user_id", $"n_sessions", $"n_events")
    assert(asMap(gotAgg.select($"user_id", $"n_sessions", $"n_events"))
      == asMap(want))
  }

  test("sessions stitch across batches: extension + bridge-merge ≡ batch gaps-and-islands") {
    // The one streaming shape with real merge-on-late-arrival
    // semantics: session state must EXTEND across micro-batches and
    // MERGE when a late middle event bridges two previously-open
    // sessions. Crafted feed (gap = 30 min = 1800 s, watermark 1 h):
    //   user 1: 1000,1600 | 2800 | 6000  -> extend across b1/b2,
    //           then a fresh session in b3 (gap 3200 >= 1800)
    //   user 2: 1000,4000 | 2500         -> b1 leaves TWO open
    //           sessions; b2's late 2500 bridges both (gaps 1500)
    //           into ONE merged session
    //   user 3: 1000 | 9000              -> control, no stitching
    def ev(id: Long, uid: Long, sec: Long) =
      Ev(id, t(sec), uid, "click", 1.0)
    val b1 = Seq(ev(1, 1, 1000), ev(2, 1, 1600),
      ev(10, 2, 1000), ev(11, 2, 4000), ev(20, 3, 1000))
    val b2 = Seq(ev(3, 1, 2800), ev(12, 2, 2500), ev(21, 3, 9000))
    val b3 = Seq(ev(4, 1, 6000))
    val got = runStream("stitch_sink", Seq(b1, b2, b3, Seq(sentinel)),
        EventStreams.sessions)
      .filter($"user_id" =!= -1L)
      .select($"user_id", unix_micros($"session_start").as("start_us"),
        unix_micros($"session_end").as("end_us"), $"n_events")
    // the merge observable directly: ONE session row for user 2,
    // spanning [1000 s, 4000 s + gap), carrying all 3 events
    val u2 = got.filter($"user_id" === 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(u2 == Seq((2L, 1000000000L, 5800000000L, 3L)),
      s"late bridge event did not merge the open sessions: $u2")
    // and the full emitted set equals the batch GAPS-AND-ISLANDS form
    // (the contract query's lag -> flag -> running-sum derivation,
    // session end = last event + gap to match session_window)
    val W = org.apache.spark.sql.expressions.Window
    val byUser = W.partitionBy($"user_id").orderBy($"us")
    val want = (b1 ++ b2 ++ b3).toDF()
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("new_s",
        when(lag($"us", 1).over(byUser).isNull, 1)
          .when($"us" - lag($"us", 1).over(byUser) >= 1800000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum($"new_s")
        .over(byUser.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("start_us"),
        (max($"us") + 1800000000L).as("end_us"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"start_us", $"end_us", $"n_events")
    assert(asMap(got) == asMap(want))
  }

  test("dedup: duplicate event ids within the watermark are dropped") {
    val rows = Seq(
      Ev(1, t(1000), 1, "click", 1.0),
      Ev(1, t(1010), 1, "click", 1.0), // dup id, within watermark
      Ev(2, t(1020), 1, "view", 2.0))
    val got = runStream("dedup_sink", Seq(rows, Seq(sentinel)),
      EventStreams.dedup).filter($"event_id" =!= -1L)
    assert(got.count() == 2)
    assert(got.select($"event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("stream-stream interval join: streaming ≡ batch click attribution") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val views = fixture.filter(_.event_type == "view")
    val clicks = fixture.filter(_.event_type == "click")
    val memV = MemoryStream[Ev]
    val memC = MemoryStream[Ev]
    val q = EventStreams.clickAttribution(memV.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode("append").start()
    // interleave arrivals across batches (joins must not depend on
    // same-batch co-arrival), then push the watermark with sentinels
    val (v1, v2) = views.splitAt(views.size / 2)
    val (c1, c2) = clicks.splitAt(clicks.size / 2)
    memV.addData(v1); memC.addData(c1); q.processAllAvailable()
    memV.addData(v2); memC.addData(c2); q.processAllAvailable()
    memV.addData(Seq(sentinel)); memC.addData(Seq(sentinel))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_sink").filter($"user_id" =!= -1L)
    val want = EventStreams.clickAttribution(
      views.toDF(), clicks.toDF())
    assert(got.count() > 0, "attribution joined nothing — fixture gap")
    assert(asMap(got) == asMap(want))
  }

  test("left-outer interval join: unmatched views emit with nulls at watermark passage") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val views = fixture.filter(_.event_type == "view")
    val clicks = fixture.filter(_.event_type == "click")
    val memV = MemoryStream[Ev]
    val memC = MemoryStream[Ev]
    val q = EventStreams.clickAttributionWithUnmatched(
        memV.toDF(), memC.toDF())
      .writeStream.format("memory").queryName("attr_outer_sink")
      .outputMode("append").start()
    val (v1, v2) = views.splitAt(views.size / 2)
    val (c1, c2) = clicks.splitAt(clicks.size / 2)
    memV.addData(v1); memC.addData(c1); q.processAllAvailable()
    memV.addData(v2); memC.addData(c2); q.processAllAvailable()
    // sentinel pushes BOTH watermarks 10 days past every real event —
    // all "no click will ever come" verdicts become decidable
    memV.addData(Seq(sentinel)); memC.addData(Seq(sentinel))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_outer_sink").filter($"user_id" =!= -1L)
    val want = EventStreams.clickAttributionWithUnmatched(
      views.toDF(), clicks.toDF())
    assert(asMap(got) == asMap(want))
    // the outer rows are the point: views with no attributable click
    // must be PRESENT with null click columns, and matched pairs must
    // equal the inner join exactly
    val unmatched = got.filter($"click_id".isNull).count()
    val matched = got.filter($"click_id".isNotNull).count()
    val inner = EventStreams.clickAttribution(views.toDF(), clicks.toDF())
      .count()
    assert(unmatched > 0, "fixture should contain never-clicked views")
    assert(matched == inner, s"outer join's matched rows ($matched) must equal the inner join ($inner)")
  }

  test("transitions: streaming keyed-state pairs ≡ batch lead() window on ordered feeds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // arrivals respect event order (the kafka-partition-per-user
    // deployment the twin models): feed ts-sorted batches
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Ev]
    val q = EventStreams.transitions[Ev](mem.toDS(),
        _.user_id, e => (e.ts.getTime, e.event_id), _.event_type)
      .writeStream.format("memory").queryName("trans_sink")
      .outputMode("append").start()
    ordered.grouped(1000).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val got = spark.table("trans_sink")
      .groupBy($"from_type", $"to_type").count()
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => ((f, t), n) }.toMap
    val want = graft.operators.EventQueries.evTransitions
      .fn(spark, sfDir)
      .select($"from_type", $"to_type", $"n")
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => ((f, t), n) }.toMap
    assert(got == want && got.nonEmpty)
  }

  test("funnelStage: streaming greedy walk ≡ batch funnel, unbounded and windowed") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    def tsUs(e: Ev): (Long, Long) =
      (e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000, e.event_id)
    def run(name: String, delay: Option[Long]): Map[Long, Int] = {
      val mem = MemoryStream[Ev]
      val q = EventStreams.funnelStage[Ev](mem.toDS(), _.user_id, tsUs,
          _.event_type, steps, delay)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      ordered.grouped(300).foreach { b =>
        mem.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).groupBy($"user_id")
        .agg(max($"stage").as("stage"))
        .as[(Long, Int)].collect().toMap
    }
    // streaming final stages roll up to the batch funnel counts:
    // n_users(step k) = |{users with stage >= k}| — both the
    // unbounded funnel and the 2-hour conversion-window variant
    Seq((None, None),
        (Some(2L * 3600 * 1000000L), Some("2 hours"))).foreach {
      case (delayUs: Option[Long], delayStr: Option[String]) =>
        val got = run(s"funnel_sink_${delayUs.isDefined}", delayUs)
        val want = graft.api.Events.funnel(Tables.events(spark, sfDir),
            "user_id", "event_type", "ts", steps, delayStr)
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        (1 to steps.size).foreach { k =>
          assert(got.values.count(_ >= k).toLong == want(k),
            s"step $k (window=$delayStr): streaming ${got.values.count(_ >= k)} vs batch ${want(k)}")
        }
        assert(got.nonEmpty)
    }
  }

  test("abMarks: drained marks reproduce ev_ab_ztest's counts; split/order-independent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the Scala hash must BE the batch Column hash
    val ids = fixture.map(_.user_id).distinct
    val colHash = spark.createDataset(ids).toDF("id")
      .select($"id", graft.api.Sampling.portableHash($"id", "ab:").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(EventStreams.portableHash(id, "ab:") == colHash(id),
        s"hash mismatch for user $id")
    }
    def qualifies(e: Ev): Boolean =
      e.event_type == "purchase" && e.value > 100
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    def run(name: String, rows: Seq[Ev], batchSize: Int): Set[(Long, Int, String)] = {
      val mem = MemoryStream[Ev]
      val q = EventStreams.abMarks[Ev](mem.toDS(), _.user_id, qualifies)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rows.grouped(batchSize).foreach { b =>
        mem.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[(Long, Int, String)].collect().toSet
    }
    val one = run("ab_one", ordered, ordered.size)
    val split = run("ab_split", ordered, 250)
    val reversed = run("ab_rev", ordered.reverse, 250)
    assert(one == split && one == reversed && one.nonEmpty,
      "drained mark set must not depend on batching or delivery order")
    // roll up to the batch z-test counts
    val b = graft.operators.EventQueries.evAbZtest.fn(spark, sfDir)
      .collect().head
    def cnt(v: Int, kind: String): Long =
      one.count(m => m._2 == v && m._3 == kind).toLong
    assert(cnt(0, "exposure") == b.getLong(0)
      && cnt(0, "conversion") == b.getLong(1)
      && cnt(1, "exposure") == b.getLong(3)
      && cnt(1, "conversion") == b.getLong(4),
      "streaming marks disagree with the batch arms")
  }

  test("growthAccounting: drained marks roll up to the batch matrix; split-independent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    def epochDay(e: Ev): Long = e.ts.getTime / 86400000L
    def run(name: String, batchSize: Int): Map[(Long, Long), String] = {
      val mem = MemoryStream[Ev]
      val q = EventStreams.growthAccounting[Ev](mem.toDS(), _.user_id,
          epochDay)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      ordered.grouped(batchSize).foreach { b =>
        mem.addData(b); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[(Long, Long, String)].collect()
        .map { case (u, d, c) => (u, d) -> c }.toMap
    }
    val oneBatch = run("growth_one", ordered.size)
    val split = run("growth_split", 250)
    assert(oneBatch == split && oneBatch.nonEmpty,
      "micro-batch splitting changed the classification")
    // roll up to the batch contract query's per-day matrix
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val byDay = oneBatch.toSeq
      .groupBy { case ((_, d), _) =>
        java.time.LocalDate.ofEpochDay(d).format(fmt) }
      .view.mapValues { xs =>
        (xs.count(_._2 == "new").toLong,
          xs.count(_._2 == "retained").toLong,
          xs.count(_._2 == "resurrected").toLong)
      }.toMap
    val batch = graft.operators.EventQueries.evGrowthAccounting.fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byDay == batch,
      "drained marks disagree with the batch growth matrix")
  }

  test("event-time TTL evicts idle keyed state; a returning user restarts from zero") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.runningCountsWithTtl(mem.toDF(), ttlMs = 3600 * 1000L)
      .toDF("user_id", "n")
      .writeStream.format("memory").queryName("ttl_sink")
      .outputMode("append").start()
    // +1000 s base: a row AT the initial watermark (epoch 0) would be
    // dropped as late before reaching the state function
    def ev(id: Long, uid: Long, sec: Long) =
      Ev(id, t(sec + 1000), uid, "click", 1.0)
    // batch 1: user 1 active twice -> n = 2 (one group call per batch)
    mem.addData(Seq(ev(1, 1L, 0), ev(2, 1L, 600))); q.processAllAvailable()
    // batch 2: user 2 far later -> advances the watermark past
    // user 1's timeout (00:10 + 1 h)
    mem.addData(Seq(ev(3, 2L, 3 * 3600))); q.processAllAvailable()
    // batch 3: user 2 again -> this batch's timeout pass evicts user 1
    mem.addData(Seq(ev(4, 2L, 5 * 3600))); q.processAllAvailable()
    // batch 4: user 1 returns (beyond the new watermark) -> fresh state
    mem.addData(Seq(ev(5, 1L, 6 * 3600))); q.processAllAvailable()
    q.stop()
    // compare as a multiset (memory-sink row order is not contractual):
    // eviction yields {2, 1}; surviving state would yield {2, 3}
    val u1 = spark.table("ttl_sink").filter($"user_id" === 1L)
      .select($"n").as[Long].collect().sorted.toSeq
    assert(u1 == Seq(1L, 2L),
      s"expected eviction between visits, got n-multiset $u1")
    val u2 = spark.table("ttl_sink").filter($"user_id" === 2L)
      .select($"n").as[Long].collect().sorted.toSeq
    assert(u2 == Seq(1L, 2L), "continuously-active user kept its state")
  }

  test("runningCountsWithTtl: lateness is tunable and column names are parameters") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    // renamed schema + a 10-minute watermark: an event 5 min behind
    // the max seen event time must now SURVIVE (the default 1 s
    // watermark would drop it before the state function)
    val renamed = mem.toDF()
      .withColumnRenamed("user_id", "uid")
      .withColumnRenamed("ts", "etime")
    val q = EventStreams.runningCountsWithTtl(renamed,
        ttlMs = 3600 * 1000L, lateness = "10 minutes",
        userCol = "uid", tsCol = "etime")
      .toDF("user_id", "n")
      .writeStream.format("memory").queryName("ttl_late_sink")
      .outputMode("append").start()
    def ev(id: Long, uid: Long, sec: Long) =
      Ev(id, t(sec + 1000), uid, "click", 1.0)
    mem.addData(Seq(ev(1, 1L, 600))); q.processAllAvailable()
    // 5 min behind the watermark base — late but inside 10 min
    mem.addData(Seq(ev(2, 1L, 300))); q.processAllAvailable()
    q.stop()
    val u1 = spark.table("ttl_late_sink").filter($"user_id" === 1L)
      .select($"n").as[Long].collect().sorted.toSeq
    assert(u1 == Seq(1L, 2L),
      s"late-but-inside-watermark event was dropped: n-multiset $u1")
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.runningUserStats[Ev](mem.toDS(), _.user_id, _.value)
      .writeStream.format("memory").queryName("state_sink")
      .outputMode("update").start()
    mem.addData(Ev(1, t(100), 7, "click", 2.0), Ev(2, t(200), 7, "view", 3.0))
    q.processAllAvailable()
    mem.addData(Ev(3, t(300), 7, "click", 5.0))
    q.processAllAvailable()
    q.stop()
    // update mode: one row per batch per touched key; the LAST row for
    // user 7 must carry the accumulated (3 events, 10.0 total)
    val rows = spark.table("state_sink")
      .filter($"user_id" === 7L).collect()
    assert(rows.map(_.getLong(1)).max == 3L)
    assert(math.abs(rows.map(_.getDouble(2)).max - 10.0) < 1e-9)
  }

  test("session windows run on the RocksDB state store and equal the default provider") {
    // the 100 TB state backend: HDFSBackedStateStore keeps every key
    // in executor heap (state size caps at memory), RocksDB spills to
    // local disk with incremental checkpointing — the provider a real
    // deployment runs stateful queries on. Same query, same results,
    // different state engine; only the conf changes.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Ev]
      val q = EventStreams.sessions(mem.toDF()).writeStream
        .format("memory").queryName("rocksdb_sessions")
        .outputMode("append").start()
      mem.addData(fixture); q.processAllAvailable()
      mem.addData(Seq(sentinel)); q.processAllAvailable()
      q.stop()
      val got = spark.table("rocksdb_sessions").filter($"user_id" =!= -1L)
      val want = EventStreams.sessions(fixture.toDF())
      assert(asMap(got) == asMap(want))
      assert(got.count() > 0)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("checkpointed query restarts without reprocessing (exactly-once sink)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString
    val mem = MemoryStream[Ev]
    def start() = EventStreams.dedup(mem.toDF()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    mem.addData(Ev(1, t(100), 1, "click", 1.0), Ev(2, t(200), 1, "view", 2.0))
    q1.processAllAvailable(); q1.stop()
    // restart from the checkpoint: only NEW data may land in the sink
    val q2 = start()
    mem.addData(Ev(3, t(300), 1, "click", 3.0))
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.parquet(out).select($"event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"expected exactly-once ids, got $ids")
  }

  test("botSignals: drained CV equals ev_bot_score's; split-independent exact state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // µs with full sub-ms precision, matching the batch unix_micros
    def tsUs(e: Ev): Long =
      (e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000
    val ordered = fixture.sortBy(e => (tsUs(e), e.event_id))
    def run(name: String, batchSize: Int): Map[Long, (Long, Option[Double])] = {
      val mem = MemoryStream[Ev]
      val q = EventStreams.botSignals[Ev](mem.toDS(), _.user_id,
          tsUs, _.event_id)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      ordered.grouped(batchSize).foreach { b =>
        mem.addData(b); q.processAllAvailable() }
      q.stop()
      // n_gaps is monotone per user: the max-n row is the final state
      spark.table(name).as[(Long, Long, Option[Double])].collect()
        .groupBy(_._1).map { case (u, xs) =>
          val last = xs.maxBy(_._2)
          u -> (last._2, last._3)
        }
    }
    val one = run("bot_one", ordered.size)
    val many = run("bot_many", 997)
    assert(one == many,
      "drained bot state must not depend on micro-batch splitting")
    val batch = graft.operators.EventQueries.evBotScore.fn(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(5), if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .toMap
    assert(one == batch,
      "streaming gap moments disagree with the batch CV")
  }

  test("late data beyond the watermark is excluded from its window") {
    val base = 86400L // day 2 boundary, seconds
    val batch1 = Seq(
      Ev(1, t(base + 100), 1, "click", 1.0),   // day 2 early
      Ev(2, t(base + 100000), 1, "click", 1.0)) // day 3 — watermark
    val lateAndMore = Seq(
      Ev(3, t(base + 200), 1, "click", 1.0))   // day 2 again, but now
                                               // > 1h behind watermark
    val got = runStream("late_sink",
      Seq(batch1, lateAndMore, Seq(sentinel)), EventStreams.tumbling)
      .filter($"event_type" =!= "sentinel")
    val day2 = got.filter($"win_start" === t(base)).select($"n")
      .as[Long].collect()
    assert(day2.toSeq == Seq(1L),
      s"late event must be dropped, got counts ${day2.toSeq}")
  }

  test("ev_late_data's drop rule ≡ streaming row-level watermark (one row per batch)") {
    // The contract query ev_late_data counts, per window, the rows a
    // 30-min watermark WOULD drop under the per-row idealization:
    // late iff us <= (max us of all PRIOR arrivals) − delay (the
    // engine keeps a row only when strictly newer than the
    // watermark — boundary rows are dropped, pinned below).
    // One-row-per-batch feeding makes micro-batch streaming converge
    // to exactly that rule (each row is processed under the watermark
    // from all previously completed batches), so the rule is pinned
    // here against the real engine, boundary rows included.
    def ev(id: Long, sec: Long) = Ev(id, t(sec), 1L, "click", 1.0)
    val arrivals = Seq(
      ev(1, 10000), // first row: no watermark yet
      ev(2, 14000), // advances max to 14000 -> wm 12200
      ev(3, 11000), // 11000 < 12200: dropped (still feeds max stats)
      ev(4, 12200), // EXACTLY wm: dropped (engine rule is ts > wm)
      ev(5, 12199), // 1 s behind wm: dropped
      ev(6, 20000), // advances max to 20000 -> wm 18200
      ev(7, 17000), // dropped
      ev(8, 18200)) // boundary again: dropped
    val got = runStream("late_rule_sink", arrivals.map(Seq(_)),
        EventStreams.lateSurvivors(_))
      .select($"event_id").as[Long].collect().toSeq.sorted
    // the batch rule, replicated row-for-row on the same arrivals
    var maxUs = Long.MinValue
    val want = arrivals.flatMap { e =>
      val us = e.ts.getTime * 1000L
      val late = maxUs != Long.MinValue && us <= maxUs - 1800000000L
      maxUs = math.max(maxUs, us)
      if (late) None else Some(e.event_id)
    }.sorted
    assert(want == Seq(1L, 2L, 6L))
    assert(got == want,
      s"streaming watermark survivors $got != batch-rule survivors $want")
  }
}
