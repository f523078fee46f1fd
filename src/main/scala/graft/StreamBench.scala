package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** MICRO-BATCH LATENCY benchmark for the streaming twins (SURVEY
  * round-15 candidate (e)): every twin is spec-pinned result-equal to
  * its batch form, but equality says nothing about per-arrival COST —
  * this main drives the six representative serving shapes through
  * MemoryStream at a fixed micro-batch cadence and clocks each
  * `processAllAvailable`, reporting median and max per-batch
  * milliseconds. The saved indexes build once through IndexStore
  * (offline cost, excluded — the same posture as Bench's prebuilt
  * list); the numbers are pure serving latency of the STATELESS
  * plans: per-row signature/score expressions + stream-static joins,
  * no state store, no watermark.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.StreamBench"
  *
  * Prints one JSON line
  * {"metric":"stream_p50_ms", "twins":{name:{p50_ms,max_ms,...}}}. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    // SPARK_GRAFT_STREAM_STATE=rocksdb swaps the state-store provider
    // for the STATEFUL tier (dedup / session windows) — the measured
    // 1.4 s p50 floor of the default HDFS-backed store is the
    // per-batch snapshot across 32 store instances; RocksDB commits
    // changelogs instead, so this toggle prices the provider choice
    // the way the tier table priced stateless-vs-stateful. Stateless
    // twins are unaffected (no state store in their plans).
    val stateProvider =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE", "hdfs")
    val rocksdb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val spark = Bench.session(cpus, Seq("spark.sql.session.timeZone" -> "UTC") ++
      Option.when(stateProvider == "rocksdb")(rocksdb): _*)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val docRows = docs.as[(Long, String)].collect().toSeq
    val vecRows = sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .as[(Long, Seq[Double])].collect().toSeq

    /** run `mk(stream frame)` over `feed` in nBatches equal slices;
      * (p50_ms, max_ms, total_rows_out) over the per-batch clocks.
      *
      * `flushFeed` (stateful append-mode twins only): a sentinel
      * far-future batch fed AFTER the timed loop, untimed — append
      * mode only emits a windowed/session aggregate once the
      * watermark passes it, so without a final watermark push the
      * sessions still open when the feed ends are never emitted and
      * rows_out systematically undercounts (round-14 ADVICE). The
      * sentinel's own session is never emitted (nothing advances the
      * watermark past IT), so rows_out counts exactly the fed data's
      * output; its flush cost is deliberately outside the per-batch
      * clocks (it prices shutdown, not serving). */
    def drive[T: org.apache.spark.sql.Encoder](name: String,
        feed: Seq[T], cols: Seq[String],
        mk: DataFrame => DataFrame,
        flushFeed: Seq[T] = Nil): (Long, Long, Long) = {
      val mem = MemoryStream[T]
      val q = mk(mem.toDF().toDF(cols: _*))
        .writeStream.format("memory").queryName(s"sb_$name")
        .outputMode("append").start()
      val size = math.max(1, feed.size / nBatches)
      val times = feed.grouped(size).map { b =>
        val t0 = System.nanoTime()
        mem.addData(b)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1000000L
      }.toSeq
      if (flushFeed.nonEmpty) {
        mem.addData(flushFeed)
        q.processAllAvailable()
      }
      q.stop()
      val rows = spark.table(s"sb_$name").count()
      val sorted = times.sorted
      (sorted(sorted.size / 2), sorted.last, rows)
    }

    // saved indexes: offline builds through IndexStore (stamped, so
    // re-runs are pure reads); the families the operators also serve
    // come from the operators' own builds, so both serve one layout
    val sigPath = IndexStore.ensure(IndexStore.stampedPath(
        "sig_bands", sfDir, "documents.parquet")) { tmp =>
      api.Dedup.signatureIndexBuild(docs.filter($"doc_id" % 10 =!= 3),
        "doc_id", "text", tmp)
    }
    val dcnPath = operators.TextQueries.ensureDcnEvalG4(spark, sfDir)
    val phashPath = operators.MultimodalQueries.ensurePhashB32(spark, sfDir)
    val ivfPath = operators.SimQueries.ensureIvfC8(spark, sfDir)
    val ivflPath = operators.SimQueries.ensureIvflC8(spark, sfDir)
    val kcPath = operators.SimQueries.ensureKcenterC4(spark, sfDir)
    val lvecRows = sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .as[(Long, Int, Seq[Double])].collect().toSeq

    val arrivalsDocs = docRows.filter(_._1 % 10 == 3)
    // stateful tier feed: time-ordered events (the watermark advances
    // monotonically across micro-batches, the deployment shape)
    val evRows = sources.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"ts")
      .orderBy($"ts", $"event_id")
      .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
    val results = Seq(
      ("quality_filter", drive("qf", docRows, Seq("doc_id", "text"),
        df => streaming.TextStreams.qualityFilter(df, "doc_id", "text",
          minQuality = 0.8))),
      ("neardup_sig_index", drive("nd", arrivalsDocs,
        Seq("doc_id", "text"),
        df => streaming.DedupStreams.nearDupsAgainstSavedIndex(
          df, sigPath, "doc_id", "text"))),
      ("decontaminate_index", drive("dc", arrivalsDocs,
        Seq("doc_id", "text"),
        df => streaming.TextStreams.decontaminateAgainstSavedIndex(
          df, dcnPath, "doc_id", "text"))),
      ("phash_ingest_index", drive("ph",
        arrivalsDocs.map { case (i, t) => (i, t.getBytes("UTF-8")) },
        Seq("doc_id", "payload"),
        df => streaming.MultimodalStreams.phashAgainstSavedIndex(
          df, phashPath, "doc_id", "payload"))),
      ("ivf_range_index", drive("ir", vecRows, Seq("vec_id", "v"),
        df => streaming.SimStreams.rangeAgainstSavedIvfIndex(
          df, "vec_id", "v", ivfPath, tau = 0.4))),
      ("ivf_range_matched_index", drive("irm", lvecRows,
        Seq("vec_id", "label", "v"),
        df => streaming.SimStreams.rangeMatchingAgainstSavedIvfIndex(
          df, "vec_id", "v", ivflPath, tau = 0.4, nProbe = 3,
          matchCols = Seq("label")))),
      ("kcenter_assign_index", drive("kc", vecRows, Seq("vec_id", "v"),
        df => streaming.SampleStreams.assignAgainstSavedCenters(
          df, kcPath, "vec_id", "v"))),
      // STATEFUL tier — the two canonical state shapes next to the
      // six stateless serving twins: watermark-bounded dedup state
      // and session-window aggregation state
      ("dedup_state", drive("dd", evRows,
        Seq("event_id", "user_id", "ts"),
        df => streaming.EventStreams.dedup(df))),
      ("session_window_state", drive("sw", evRows,
        Seq("event_id", "user_id", "ts"),
        df => streaming.EventStreams.sessions(df),
        // sentinel watermark push: one far-future event closes every
        // real session so append mode emits them (see drive's doc)
        flushFeed = Seq((-1L, -1L, new java.sql.Timestamp(
          evRows.last._3.getTime + 366L * 24 * 3600 * 1000))))))

    val twins = results.map { case (n, (p50, mx, rows)) =>
      s""""$n": {"p50_ms": $p50, "max_ms": $mx, "rows_out": $rows}"""
    }.mkString(", ")
    println(s"""{"metric": "stream_micro_batch_latency", """ +
      s""""sf": "$sfDir", "cpus": $cpus, "n_batches": $nBatches, """ +
      s""""state_provider": "$stateProvider", """ +
      s""""loadavg_start": ${Bench.loadavg1m()}, "twins": {$twins}}""")
    spark.stop()
  }
}
