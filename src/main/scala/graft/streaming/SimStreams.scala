package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous RETRIEVAL against the saved vector index — the serving
  * shape of a streaming RAG / embedding-ingestion pipeline: arriving
  * query vectors probe the batch-built IVF index
  * (graft.api.Similarity.ivfBuild) and every corpus neighbor above
  * the cosine threshold is emitted as it is found.
  *
  * RANGE search is the retrieval mode that streams Append-safely:
  * top-k needs a per-probe rank (stateful on a stream), while a
  * threshold test is a pure per-row filter — the same reason the
  * dedup twins emit pair rows, not rollups. Everything stream-side is
  * per-row expressions (double-cast, norm, the codegen'd
  * vec_argmin_topn cell assignment against a BROADCAST 1-row
  * codebook) plus ONE stream-static equi-join on `cid` against the
  * saved cells — no state store, no watermark, runs in Append mode
  * forever. The batch path (graft.api.Similarity.ivfRangeSearch)
  * additionally prunes cell partitions through a bounded collect of
  * the probes' cell ids — a planning-time move a stream cannot make,
  * so here the cid keys prune at the JOIN instead of the scan; the
  * spec pins stream ≡ batch pair-for-pair.
  */
object SimStreams {

  def rangeAgainstSavedIvfIndex(stream: DataFrame, id: String,
      vec: String, path: String, tau: Double,
      nProbe: Int = 3): DataFrame =
    rangeMatchingAgainstSavedIvfIndex(stream, id, vec, path, tau,
      nProbe, Nil)

  /** [[rangeAgainstSavedIvfIndex]] with a METADATA MATCH against an
    * ATTRIBUTED index (graft.api.Similarity.ivfBuild with `attrs`):
    * emitted neighbors share the arrival's value on every `matchCols`
    * column — the continuous filtered-RAG shape (sim_topk_ivf_filtered
    * is the batch top-k form). The match columns travel THROUGH the
    * cell-assignment projection (VecKMeans.assignTopN `carry` — a
    * stream cannot join its own derivation back), and on the static
    * side they are read from the index bytes, so the candidate join
    * keys on (cid, matchCols*) and the filter shrinks fan-out before
    * the cosine is ever computed.
    *
    * On a stream the saved cells and centers are served from
    * [[graft.PlanCache]] memos of `path`, persisted MEMORY_AND_DISK: a
    * stream cannot prune partitions with a planning-time collect, so
    * without the cache every micro-batch re-scans the whole cells
    * parquet (the measured phash-twin lesson, BASELINE.md round-15).
    * A session that starts/stops many streams over one index pins ONE
    * cached copy per matchCols, released by `PlanCache.evict(session)`
    * / `clear()` (round-14 ADVICE). The memos also keep a running
    * stream fresh: an [[graft.api.Similarity.ivfBuild]] or `ivfAppend`
    * at `path` refreshes them (the PlanCache rule), where an uncached
    * read would keep its first file listing. Batch frames read the
    * index uncached. */
  def rangeMatchingAgainstSavedIvfIndex(stream: DataFrame, id: String,
      vec: String, path: String, tau: Double, nProbe: Int,
      matchCols: Seq[String]): DataFrame = {
    val spark = stream.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val centersRaw = spark.read.parquet(s"$path/centers")
    val centers =
      if (stream.isStreaming)
        graft.PlanCache.memo(spark, path, "stream_ivf_centers")(centersRaw)
      else centersRaw
    // per-row prep: double vector + norm (the Similarity.prep
    // projection, inlined because prep is batch-private)
    val p = stream.select(col(id).as("vec_id") +:
        expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v") +:
        matchCols.map(col): _*)
      .filter(size(col("v")) > 0)
    // nProbe nearest cells per arrival: cross join with the 1-row
    // broadcast codebook + the codegen'd vec_argmin_topn — per-row,
    // stream-safe. nrm recomputed from v AFTER the assignment
    // (joining two derivations of one stream would be a
    // stream-stream join).
    val probeCells = graft.api.VecKMeans
      .assignTopN(p, centers, nProbe, carry = matchCols)
      .select(Seq(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), expr("vec_norm(v)").as("na")) ++
        matchCols.map(col): _*)
    val cellsRaw = spark.read.parquet(s"$path/cells")
      .select(Seq(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb")) ++
        matchCols.map(col): _*)
    val cells =
      if (stream.isStreaming)
        graft.PlanCache.memo(spark, path,
          "stream_ivf_cells_" + matchCols.mkString(","))(cellsRaw)
      else cellsRaw
    probeCells.join(cells, "cid" +: matchCols)
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(Seq(col("probe_id"), col("neighbor_id"),
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 6)
          .as("cosine")) ++ matchCols.map(col): _*)
      .filter(col("cosine") >= tau)
  }
}
