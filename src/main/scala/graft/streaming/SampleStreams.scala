package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured Streaming twins of the deterministic samplers in
  * graft.api.Sampling (SURVEY.md §2.11 round-3 note c).
  *
  * Hash-Bernoulli is a pure per-row predicate — STATELESS, so the
  * batch implementation runs unchanged on a streaming frame (the
  * delegate below exists to document that fact and pin it in
  * SampleStreamsSpec). The stratified reservoir is NOT stateless (the
  * batch form is a window top-k); its streaming form keeps the k
  * smallest (hash, id) pairs per stratum in keyed state and emits the
  * stratum's current sample each batch — at end-of-input the state
  * holds exactly the batch sample, because "k smallest by (hash, id)"
  * is an online-computable order statistic: merging per-batch
  * candidates can never evict a true member.
  */
object SampleStreams {

  /** stateless — identical code path for batch and streaming. */
  def hashBernoulli(df: DataFrame, id: String, modulus: Int,
      salt: String = "smp:"): DataFrame =
    graft.api.Sampling.hashBernoulli(df, id, modulus, salt)

  /** Arrival ASSIGNMENT against a SAVED k-center coreset
    * ([[graft.api.Similarity.kcenterIndexBuild]]): each arriving
    * vector joins the ≤k-row broadcast center frame and keeps its
    * nearest center (max rounded-6 cosine, smallest center id
    * tiebreak) — (id, rank, cid, cosine, dist). A pure per-row argmax
    * over a bounded static side: STATELESS, Append-safe, identical
    * code path for batch and streaming (the coverage readout a
    * coreset consumer needs — which exemplar represents each new
    * arrival, and how far the coreset's radius has drifted). A
    * stream reads the centers through a [[graft.PlanCache]] memo of
    * `path`, so a same-session `kcenterIndexBuild` at `path` reaches
    * the running query (the PlanCache rule). */
  def assignAgainstSavedCenters(stream: DataFrame, path: String,
      id: String, vec: String): DataFrame = {
    val spark = stream.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val centers = spark.read.parquet(s"$path/centers")
      .select(col("rank"), col("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("cosine").desc, col("cid"))
    // zero-norm vectors have no defined nearest center (every cosine
    // is NaN) and the batch window vs streaming fold would order NaN
    // differently — drop them on BOTH arms, identically
    val scored = stream
      .select(col(id), col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
      .filter(col("nrm") > 0)
      .crossJoin(broadcast(centers))
      .select(col(id), col("rank"), col("cid"),
        round(expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")), 6)
          .as("cosine"))
    val best =
      if (stream.isStreaming) {
        // a window is an aggregate on a stream — the stateless twin:
        // the ≤k centers ride ONE carried array column and the argmax
        // folds over it per row (bounded, so the struct-min is a pure
        // expression — no state, Append-safe)
        val centerList = graft.PlanCache.memo(spark, path,
            "stream_kcenter_centers")(centers)
          .groupBy().agg(collect_list(struct(col("rank"), col("cid"),
            col("cv"), col("cnrm"))).as("cs"))
        stream.select(col(id), col(vec).as("v"))
          .withColumn("nrm", expr("vec_norm(v)"))
          .filter(col("nrm") > 0)
          .crossJoin(broadcast(centerList))
          .select(col(id), aggregate(
            transform(col("cs"), c => struct(
              round(call_function("vec_dot", col("v"), c.getField("cv"))
                / (col("nrm") * c.getField("cnrm")), 6).as("cosine"),
              c.getField("cid").as("cid"),
              c.getField("rank").as("rank"))),
            lit(null).cast("struct<cosine:double,cid:bigint,rank:int>"),
            (acc, x) => when(acc.isNull
                || x.getField("cosine") > acc.getField("cosine")
                || (x.getField("cosine") === acc.getField("cosine")
                    && x.getField("cid") < acc.getField("cid")), x)
              .otherwise(acc)).as("b"))
          .select(col(id), col("b.rank").as("rank"),
            col("b.cid").as("cid"), col("b.cosine").as("cosine"))
      } else {
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col(id), col("rank"), col("cid"), col("cosine"))
      }
    best.withColumn("dist", round(lit(1.0) - col("cosine"), 6))
  }

  /** stateless (per-row projection + explode) — identical code path
    * for batch and streaming: up-/down-sampling a live feed into the
    * training mixture needs no state either. */
  def mixtureReplicated(df: DataFrame, id: String, group: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame =
    graft.api.Sampling.mixtureReplicated(df, id, group, rates,
      defaultRate)

  /** stateless (per-row projection) — identical code path for batch
    * and streaming: split membership is a pure hash function of the
    * id, so a live feed labels arrivals train/val/test exactly as a
    * later batch re-read would. */
  def splitAssign(df: DataFrame, id: String,
      splits: Seq[(String, Int)] = Seq("train" -> 8, "val" -> 1,
        "test" -> 1)): DataFrame =
    graft.api.Sampling.splitAssign(df, id, splits)

  /** one output row per stratum per batch: the current sample ids,
    * ordered by the same (salted hash, id) key the batch sampler
    * sorts on. */
  case class StratumSample(stratum: String, sample_ids: Seq[Long])

  /** streaming per-stratum deterministic reservoir (Update mode). */
  def stratifiedTopK(events: DataFrame, stratum: String, id: String,
      k: Int, salt: String = "str:"): Dataset[StratumSample] = {
    import events.sparkSession.implicits._
    val keyed = events.select(
      col(stratum).cast("string").as("s"),
      col(id).cast("long").as("i"),
      graft.api.Sampling.portableHash(col(id), salt).as("h"))
      .as[(String, Long, Long)]
    keyed.groupByKey(_._1)
      .mapGroupsWithState[Seq[(Long, Long)], StratumSample](
        GroupStateTimeout.NoTimeout) {
        (s: String, rows: Iterator[(String, Long, Long)],
            state: org.apache.spark.sql.streaming.GroupState[Seq[(Long, Long)]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => (r._3, r._2))).distinct.sorted.take(k)
          state.update(merged)
          StratumSample(s, merged.map(_._2))
      }
  }
}
