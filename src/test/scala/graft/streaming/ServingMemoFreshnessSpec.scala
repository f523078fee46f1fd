package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{PlanCache, SparkTestBase}
import graft.api.Similarity
import graft.sources.Tables

/** Freshness of the path-keyed serving memos: after a same-session
  * writer grows or rebuilds a served artifact, the next probe must
  * serve the new bytes — the IVF cells a RUNNING stream query caches
  * (`stream_ivf_cells_*` / `stream_ivf_centers`, which no writer drops
  * — the write's path recache refreshes them) and the NSW walk's
  * `nng_adj` / `nng_nodes`. Each case serves, mutates the artifact at
  * the served path, serves again, and checks the second answer against
  * an uncached read of the mutated artifact and against the slices the
  * artifact now holds. */
class ServingMemoFreshnessSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val all = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding").as[Vec].collect().toSeq
  /** The first build's slice and the mutation's (disjoint). */
  private lazy val (sliceA, sliceB) =
    (all.filter(_.vec_id % 2 == 0), all.filter(_.vec_id % 2 == 1))
  private def inA(id: Long) = id % 2 == 0

  private def asV(vs: Seq[Vec]): DataFrame = vs.toDF()
    .select($"vec_id",
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** Byte-identical copies of the first 5 vectors of each slice under
    * fresh ids from `base` (copy id − base − 1 indexes `srcs`). */
  private def copies(base: Long): (Seq[Vec], Seq[Long]) = {
    val srcs = sliceA.take(5) ++ sliceB.take(5)
    (srcs.zipWithIndex.map { case (v, i) => Vec(base + 1 + i, v.embedding) },
      srcs.map(_.vec_id))
  }

  for (mutation <- Seq("ivfAppend", "ivfBuild")) {
    test(s"running IVF range stream serves the cells of a same-session " +
        s"$mutation at its path") {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_fresh").toString
      Similarity.ivfBuild(asV(sliceA), "vec_id", "v", path, k = 8, rounds = 2)
      val mem = MemoryStream[Vec]
      val table = s"ivf_fresh_$mutation"
      val q = SimStreams.rangeAgainstSavedIvfIndex(mem.toDF(), "vec_id",
          "embedding", path, tau = 1.0)
        .writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      def serve(feed: Seq[Vec]): Set[(Long, Long)] = {
        mem.addData(feed)
        q.processAllAvailable()
        val ids = feed.map(_.vec_id).toSet
        spark.table(table).collect()
          .map(r => (r.getLong(0), r.getLong(1))).filter(p => ids(p._1)).toSet
      }
      try {
        val (before, srcs) = copies(900000L)
        val first = serve(before)
        // the A copies find their sources; nothing of B is indexed yet
        (0 until 5).foreach(i => assert(first((900001L + i, srcs(i)))))
        assert(first.forall(p => inA(p._2)))

        if (mutation == "ivfAppend")
          Similarity.ivfAppend(asV(sliceB), "vec_id", "v", path)
        else
          Similarity.ivfBuild(asV(sliceB), "vec_id", "v", path,
            k = 8, rounds = 2)
        val (after, _) = copies(910000L)
        val second = serve(after)
        val uncached = SimStreams.rangeAgainstSavedIvfIndex(after.toDF(),
            "vec_id", "embedding", path, tau = 1.0, cacheStatic = false)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(second == uncached,
          s"the stream served stale cells after $mutation")
        (5 until 10).foreach { i =>
          assert(second((910001L + i, srcs(i))),
            s"B copy ${910001L + i} missed its source after $mutation")
        }
        if (mutation == "ivfBuild")
          assert(second.forall(p => !inA(p._2)),
            "cells of the replaced build were served")
      } finally {
        q.stop()
        PlanCache.drop(spark, path, "stream_ivf_cells_")
        PlanCache.drop(spark, path, "stream_ivf_centers")
      }
    }
  }

  for (mutation <- Seq("nngInsert", "nngBuild")) {
    test(s"NSW walk serves the graph of a same-session $mutation at its " +
        "path, never the previous adj/nodes memos") {
      val path = java.nio.file.Files
        .createTempDirectory("graft_nng_fresh").toString
      Similarity.nngBuild(asV(sliceA), "vec_id", "v", path, k = 10,
        nEntries = 8)
      val (probes, _) = copies(920000L)
      def serve(): Set[(Long, Long)] =
        Similarity.nngTopK(asV(probes), "vec_id", "v", path, k = 3)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      def dropMemos(): Unit =
        Seq("nng_adj", "nng_nodes").foreach(PlanCache.drop(spark, path, _))
      val first = serve()
      assert(first.nonEmpty && first.forall(p => inA(p._2)))

      if (mutation == "nngInsert")
        Similarity.nngInsert(asV(sliceB), "vec_id", "v", path).count()
      else
        Similarity.nngBuild(asV(sliceB), "vec_id", "v", path, k = 10,
          nEntries = 8)
      val second = serve()
      dropMemos()
      assert(second == serve(),
        s"the walk served stale adj/nodes memos after $mutation")
      assert(second.exists(p => !inA(p._2)),
        s"no node added by $mutation was served")
      if (mutation == "nngBuild")
        assert(second.forall(p => !inA(p._2)),
          "nodes of the replaced build were served")
      dropMemos()
    }
  }
}
