package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public coarse k-means over vector frames — the quantizer behind
  * `mining_kmeans` and the IVF index ([[Similarity.ivfBuild]]).
  *
  * Column contract (fixed, unlike the caller-named id/text modules:
  * these frames are engine-internal intermediates): input is
  * `(vec_id, v: array<double>)`; centers are `(cid: int,
  * c: array<double>)`; assignments add `cid` (and `d2`).
  *
  * Scale shape: the ≤ k centers live on the driver (plan literals in
  * [[train]] and [[assign]], one k-row broadcast in [[assignTopN]]),
  * plus map-side-combining aggregates — nothing quadratic, nothing
  * corpus-cardinality on a build side.
  */
object VecKMeans {

  /** squared euclidean distance via the codegen'd dot products. */
  private[graft] val d2 = "vec_dot(v, v) - 2 * vec_dot(v, c) + vec_dot(c, c)"

  /** nearest-center assignment: min over (distance², center id),
    * evaluated as ONE per-row codegen'd argmin over the cid-sorted
    * center array (vec_argmin_code — bit-identical d2 arithmetic and
    * tie-break to the former k-way candidate join + min(struct)
    * aggregate, see the expression's scaladoc). The ≤ k center rows
    * are collected to the driver once and enter the plan as literals:
    * the codebook array feeds the argmin, and a cid → c map supplies
    * the winner's vector, whose d2 is recomputed with the exact same
    * `d2` expression — identical doubles to the former broadcast
    * rejoin, so inertia sums (mining_kmeans) are unchanged. The whole
    * assignment is a pure projection of `e`: no join, no exchange.
    *
    * Contract notes: exactly one output row per INPUT row — duplicate
    * vec_ids pass through undeduped (callers own id uniqueness; the
    * pre-r11 join form's groupBy collapsed them as a side effect, not
    * as a promise). Empty `centers` is an error, raised on the driver
    * with a clear message rather than surfacing as an executor-side
    * empty-codebook throw. */
  def assign(e: DataFrame, centers: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(e.sparkSession)
    val cs = centerRows(centers)
    e.withColumn("cid", argmin(cs))
      .withColumn("c", element_at(typedLit(cs.toMap), col("cid")))
      .withColumn("d2", expr(d2))
      .select(col("vec_id"), col("v"), col("cid"), col("d2"))
  }

  /** per-(cid, pos) means of the assigned vectors, each dimension
    * rounded to 8 places (the [[Graph.pageRank]] per-iteration
    * discipline): double summation is order-dependent, so without
    * the round an engine replaying the same Lloyd rounds sequentially
    * (the DuckDB oracle behind `mining_kmeans` / `dedup_semantic`)
    * drifts a few ULPs per round; rounding resets the drift each
    * round so assignments — and therefore the trained quantizer — are
    * reproducible cross-engine. At 8 places the perturbation
    * (≤ 5e-9 per dimension) is far below any cluster geometry the
    * quantizer can resolve. One map-side-combining aggregate; its
    * k×dims rows are the next round's centers. */
  private def means(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos")).agg(round(avg(col("x")), 8).as("m"))

  /** top-n nearest centers per vector (IVF multi-cell probing): one
    * per-row codegen'd `vec_argmin_topn` projection over the
    * cid-sorted center array — same (d2, cid) order the former k-way
    * candidate join + row_number window produced (the expression's
    * scaladoc carries the bit-parity argument), but the probe frame
    * never explodes k× and the per-vec_id window exchange is gone:
    * the same plan-shape win [[assign]] got from vec_argmin_code. */
  def assignTopN(e: DataFrame, centers: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    graft.functions.VectorExpressions.register(e.sparkSession)
    // `carry`: extra columns of `e` preserved through the assignment
    // projection — a STREAM caller cannot join them back afterwards
    // (two derivations of one stream = a stream-stream join), so the
    // attributed serving twins thread them through here.
    e.crossJoin(broadcast(codebook(centers)))
      .select(Seq(col("vec_id"), col("v")) ++ carry.map(col) :+
        explode(expr(s"vec_argmin_topn(v, cbs, $n)")).as("cid"): _*)
  }

  /** the k-row center set as ONE cid-sorted codebook array row (the
    * broadcast side of the top-n assignment), with the eager
    * empty-centers guard. */
  private def codebook(centers: DataFrame): DataFrame = {
    require(centers.limit(1).count() == 1, emptyCenters)
    centers.agg(sort_array(collect_list(struct(col("cid"), col("c"))))
      .as("cbs"))
  }

  private val emptyCenters =
    "VecKMeans: empty centers frame — train/seed produced no centers"

  /** a center frame's rows on the driver, cid-sorted (≤ k rows). */
  private def centerRows(centers: DataFrame): Seq[(Int, Seq[Double])] = {
    val cs = centers.select(col("cid"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    require(cs.nonEmpty, emptyCenters)
    cs
  }

  /** `vec_argmin_code` of `v` against a driver-side cid-sorted
    * codebook, inlined into the plan as an array literal. */
  private def argmin(cs: Seq[(Int, Seq[Double])]): Column =
    call_function("vec_argmin_code", col("v"), typedLit(cs))

  /** fixed-round Lloyd training, deterministic smallest-id seeds:
    * (cid: int, c: array<double>), returned as a local frame.
    * Center ids are the DENSE RANK of the seed (0..k−1), never a cast
    * of the caller's id value — string ids would cast to null (one
    * degenerate all-null cluster) and >2³¹ longs would wrap and
    * collide, both silently.
    *
    * The Lloyd state stays on the driver: each round is ONE query
    * over `e` — argmin against the codebook literal, then the rounded
    * [[means]] — whose k×dims rows (bounded by construction) are
    * collected into the next cid-sorted codebook; a cluster that wins
    * no vector drops out. Nothing is checkpointed or broadcast, every
    * round's plan is as shallow as the first, and training runs
    * 1 + 2·rounds jobs (the seed collect, then a shuffle map stage and
    * a result stage per round). */
  def train(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = e.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val seed = e.orderBy(col("vec_id")).limit(k).select(col("v")).collect()
      .toSeq.zipWithIndex.map { case (r, cid) => (cid, r.getSeq[Double](0)) }
    val fin = (1 to rounds).foldLeft(seed) { (cs, _) =>
      means(e.select(argmin(cs).as("cid"), col("v"))).collect().toSeq
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (cid, rs) => (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2))) }
    }
    spark.createDataFrame(
      fin.map { case (cid, c) => Row(cid, c) }.asJava, centersSchema)
  }

  /** (cid, c) with nullable elements in `c`, as the rounded means
    * are typed — one layout for every saved `centers/` artifact. */
  private val centersSchema = StructType(Seq(
    StructField("cid", IntegerType),
    StructField("c", ArrayType(DoubleType), nullable = false)))
}
