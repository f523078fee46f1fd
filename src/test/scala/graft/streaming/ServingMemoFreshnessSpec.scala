package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{PlanCache, SparkTestBase}
import graft.api.{Dedup, Multimodal, Similarity, Text}
import graft.sources.Tables

/** Freshness of every served saved artifact, one case per reader and
  * writer: after a same-session writer rebuilds or grows the artifact
  * at a served path, the next answer must come from the new bytes.
  * The readers are the running stream twins (IVF, phash, k-center,
  * containment, near-dup, span, eval-gram), whose static sides ride
  * path-keyed PlanCache memos, and the batch readers whose memos
  * outlive a call (the NSW walk's adj/nodes, phash's bands). No writer
  * drops a memo: the write's path recache is the one rule.
  *
  * Each case runs in its own session (released with
  * `PlanCache.evict`). It builds the artifact from slice A, serves
  * planted copies of A's and B's sources, mutates the artifact in
  * place with slice B, serves fresh copies, and checks the second
  * answer against the slices the artifact now holds: every planted
  * copy of an indexed source finds it, a rebuild serves nothing of A,
  * and a stream's answer equals its batch arm over the same feed. */
class ServingMemoFreshnessSpec extends SparkTestBase {
  import spark.implicits._

  /** An in-place mutation of the artifact at `path` from slice B. */
  private case class Writer[T](name: String, rebuild: Boolean,
      write: (SparkSession, Seq[T], String) => Unit)

  /** One served family. `build` writes the artifact of a slice, `serve`
    * is the reader over a frame of `T` rows, `hits` reads the
    * (arrival, corpus) pairs of an answer given each copy's source, and
    * `title` names the case of a writer. */
  private case class Family[T](slices: () => (Seq[T], Seq[T]), id: T => Long,
      recopy: (T, Long) => T, build: (SparkSession, Seq[T], String) => Unit,
      writers: Seq[Writer[T]], stream: Boolean,
      serve: (DataFrame, String) => DataFrame,
      hits: (Set[Row], Map[Long, Long]) => Set[(Long, Long)],
      title: String => String)(implicit val enc: Encoder[T])

  private lazy val vecs = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding").as[Vec].collect().toSeq
  private lazy val vecSlices =
    (vecs.filter(_.vec_id % 2 == 0), vecs.filter(_.vec_id % 2 == 1))
  private lazy val docs = Tables.documents(spark, sfDir)
    .select($"doc_id", $"text").as[Doc].collect().toSeq
  private lazy val docSlices =
    (docs.filter(_.doc_id % 10 == 1), docs.filter(_.doc_id % 10 == 2))

  private def dbl(vs: DataFrame): DataFrame = vs.select(col("vec_id"),
    expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  private def asV(s: SparkSession, vs: Seq[Vec]): DataFrame =
    dbl(s.createDataset(vs).toDF())
  private def asD(s: SparkSession, ds: Seq[Doc]): DataFrame =
    s.createDataset(ds).toDF()
  private def media(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text").cast("binary").as("payload"))
  private def pairs(a: Int, c: Int)(rows: Set[Row], src: Map[Long, Long]) =
    rows.map(r => (r.getLong(a), r.getLong(c)))

  private def vecFamily(build: (SparkSession, Seq[Vec], String) => Unit,
      writers: Seq[Writer[Vec]], stream: Boolean,
      serve: (DataFrame, String) => DataFrame, neighbor: Int,
      title: String => String) =
    Family[Vec](() => vecSlices, _.vec_id, (v, i) => v.copy(vec_id = i), build,
      writers, stream, serve, pairs(0, neighbor), title)

  private def docFamily(reader: String, build: (SparkSession, Seq[Doc], String) => Unit,
      writers: Seq[Writer[Doc]], stream: Boolean,
      serve: (DataFrame, String) => DataFrame,
      hits: (Set[Row], Map[Long, Long]) => Set[(Long, Long)] = pairs(0, 1)) =
    Family[Doc](() => docSlices, _.doc_id, (d, i) => d.copy(doc_id = i), build,
      writers, stream, serve, hits,
      w => s"running $reader serves the artifact of a same-session $w " +
        "at its path")

  private def phashBuild(s: SparkSession, d: Seq[Doc], p: String) =
    Multimodal.phashIndexBuild(media(asD(s, d)), "doc_id", "payload", p)
  private val phashWriters = Seq(Writer[Doc]("phashIndexBuild", true,
      phashBuild),
    Writer[Doc]("phashIndexAppend", false, (s, d, p) =>
      Multimodal.phashIndexAppend(media(asD(s, d)), "doc_id", "payload", p)))
  private def phashServe(d: DataFrame, p: String) =
    MultimodalStreams.phashAgainstSavedIndex(media(d), p, "doc_id",
      "payload")

  private def families: Seq[Family[_]] = Seq(
    vecFamily((s, v, p) => Similarity.ivfBuild(asV(s, v), "vec_id", "v", p,
        k = 8, rounds = 2),
      Seq(Writer("ivfAppend", false, (s, v, p) =>
          Similarity.ivfAppend(asV(s, v), "vec_id", "v", p)),
        Writer("ivfBuild", true, (s, v, p) =>
          Similarity.ivfBuild(asV(s, v), "vec_id", "v", p, k = 8,
            rounds = 2))),
      stream = true,
      (d, p) => SimStreams.rangeAgainstSavedIvfIndex(d, "vec_id",
        "embedding", p, tau = 1.0), neighbor = 1,
      w => s"running IVF range stream serves the cells of a same-session " +
        s"$w at its path"),
    vecFamily((s, v, p) => Similarity.nngBuild(asV(s, v), "vec_id", "v", p,
        k = 10, nEntries = 8),
      Seq(Writer("nngInsert", false, (s, v, p) =>
          Similarity.nngInsert(asV(s, v), "vec_id", "v", p).count()),
        Writer("nngBuild", true, (s, v, p) =>
          Similarity.nngBuild(asV(s, v), "vec_id", "v", p, k = 10,
            nEntries = 8))),
      stream = false,
      (d, p) => Similarity.nngTopK(dbl(d), "vec_id", "v", p, k = 3),
      neighbor = 2,
      w => s"NSW walk serves the graph of a same-session $w at its " +
        "path, never the previous adj/nodes memos"),
    // the center set IS the copied sources (k = 5 of 5), so a copy
    // finds its source as its own nearest center
    vecFamily((s, v, p) =>
        Similarity.kcenterIndexBuild(asV(s, v.take(5)), "vec_id", "v", p, 5),
      Seq(Writer("kcenterIndexBuild", true, (s, v, p) =>
        Similarity.kcenterIndexBuild(asV(s, v.take(5)), "vec_id", "v", p,
          5))),
      stream = true,
      (d, p) => SampleStreams.assignAgainstSavedCenters(dbl(d), p,
        "vec_id", "v"), neighbor = 2,
      w => s"running k-center assignment serves the centers of a " +
        s"same-session $w at its path"),
    Family[Doc](() => docSlices, _.doc_id, (d, i) => d.copy(doc_id = i),
      phashBuild, phashWriters, stream = false, phashServe, pairs(0, 1),
      w => s"batch phash probe serves the bands of a same-session $w at " +
        "its path"),
    docFamily("phash ingest", phashBuild, phashWriters, stream = true,
      phashServe),
    docFamily("containment probe",
      (s, d, p) => Dedup.containmentIndexBuild(asD(s, d), "doc_id", "text", p),
      Seq(Writer("containmentIndexBuild", true, (s, d, p) =>
          Dedup.containmentIndexBuild(asD(s, d), "doc_id", "text", p)),
        Writer("containmentIndexAppend", false, (s, d, p) =>
          Dedup.containmentIndexAppend(asD(s, d), "doc_id", "text", p))),
      stream = true,
      (d, p) => DedupStreams.containmentAgainstSavedIndex(d, p, "doc_id",
        "text")),
    docFamily("near-dup probe",
      (s, d, p) => Dedup.signatureIndexBuild(asD(s, d), "doc_id", "text", p),
      Seq(Writer("signatureIndexBuild", true, (s, d, p) =>
          Dedup.signatureIndexBuild(asD(s, d), "doc_id", "text", p)),
        Writer("signatureIndexAppend", false, (s, d, p) =>
          Dedup.signatureIndexAppend(asD(s, d), "doc_id", "text", p))),
      stream = true,
      (d, p) => DedupStreams.nearDupsAgainstSavedIndex(d, p, "doc_id",
        "text")),
    // a span answer names no corpus doc: an arrival whose every span is
    // seen_in_base is a hit on its source
    docFamily("span rewrite",
      (s, d, p) => DedupStreams.spanIndexBuild(asD(s, d), "doc_id", "text", p),
      Seq(Writer("spanIndexBuild", true, (s, d, p) =>
        DedupStreams.spanIndexBuild(asD(s, d), "doc_id", "text", p))),
      stream = true,
      (d, p) => DedupStreams.spansAgainstSavedIndex(d, p, "doc_id", "text"),
      (rows, src) => rows.groupBy(_.getLong(0)).collect {
        case (a, rs) if rs.forall(_.getString(4) == "seen_in_base") =>
          (a, src(a))
      }.toSet),
    docFamily("decontamination probe",
      (s, d, p) => Text.evalGramIndexBuild(asD(s, d), "doc_id", "text", p),
      Seq(Writer("evalGramIndexBuild", true, (s, d, p) =>
        Text.evalGramIndexBuild(asD(s, d), "doc_id", "text", p))),
      stream = true,
      (d, p) => TextStreams.decontaminateAgainstSavedIndex(d, p, "doc_id",
        "text")))

  families.foreach(register(_))

  private def register[T](f: Family[T]): Unit =
    f.writers.foreach(w => test(f.title(w.name))(freshCase(f, w)))

  private def freshCase[T](f: Family[T], w: Writer[T]): Unit = {
    implicit val enc: Encoder[T] = f.enc
    val s = spark.newSession()
    val path = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    val (sliceA, sliceB) = f.slices()
    val (idsA, idsB) = (sliceA.map(f.id).toSet, sliceB.map(f.id).toSet)
    val srcs = sliceA.take(5) ++ sliceB.take(5)
    /** Copies of the 10 sources under ids base+1.. and each copy's
      * source; `want(src, ids)` are the hits on the sources in `ids`. */
    def copies(base: Long) = {
      val feed = srcs.zipWithIndex.map { case (t, i) => f.recopy(t, base + 1 + i) }
      (feed, feed.map(f.id).zip(srcs.map(f.id)).toMap)
    }
    def want(src: Map[Long, Long], ids: Set[Long]) =
      src.toSet.filter(p => ids(p._2))
    val table = s"fresh_${w.name}_${if (f.stream) "stream" else "batch"}"
    var seen = Set.empty[Row]
    var stop = () => ()
    try {
      f.build(s, sliceA, path)
      val serve: Seq[T] => Set[Row] =
        if (f.stream) {
          val mem = MemoryStream[T](enc, s.sqlContext)
          val q = f.serve(mem.toDF(), path)
            .writeStream.format("memory").queryName(table)
            .outputMode("append").start()
          stop = () => q.stop()
          feed => {
            mem.addData(feed)
            q.processAllAvailable()
            val now = s.table(table).collect().toSet
            val fresh = now -- seen
            seen = now
            fresh
          }
        } else feed => f.serve(s.createDataset(feed).toDF(), path).collect().toSet

      val (before, srcBefore) = copies(900000L)
      val first = f.hits(serve(before), srcBefore)
      assert(want(srcBefore, idsA).subsetOf(first),
        "a copy missed its source in the first build")
      assert(first.forall(p => idsA(p._2)), "served a source not yet indexed")

      w.write(s, sliceB, path)
      val (after, srcAfter) = copies(910000L)
      val rows = serve(after)
      if (f.stream)
        assert(rows == f.serve(s.createDataset(after).toDF(), path)
          .collect().toSet, s"the stream served stale bytes after ${w.name}")
      val second = f.hits(rows, srcAfter)
      val indexed = if (w.rebuild) idsB else idsA ++ idsB
      assert(want(srcAfter, indexed).subsetOf(second),
        s"a copy missed its source after ${w.name}")
      assert(second.forall(p => indexed(p._2)),
        s"served a source the artifact no longer holds after ${w.name}")
    } finally {
      stop()
      PlanCache.evict(s)
    }
  }
}
