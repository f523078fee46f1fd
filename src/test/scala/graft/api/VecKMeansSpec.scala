package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps
import graft.SparkTestBase
import graft.sources.Tables

/** Driver-resident Lloyd training and literal-codebook assignment
  * against the distributed form they replace: per-round checkpointed
  * center frames, a broadcast codebook row and a broadcast d2 rejoin.
  * Centers and distances must be bit-identical (the DuckDB replays of
  * mining_kmeans, dedup_semantic and the IVF builds depend on it), and
  * training must stay at 1 + rounds Spark jobs.
  */
class VecKMeansSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val embeddings = {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  /** ids 1 and 2 are the same vector, so with k = 3 seed cid 1 never
    * wins (the smaller cid takes the tie) and its cluster empties;
    * (1, 0), (1, 1) and (1, -1) sit at equal distance from the two
    * distinct seeds, and ids 6/7 and 8/9 repeat vectors. */
  private lazy val ties = Seq(
      1L -> Seq(0.0, 0.0), 2L -> Seq(0.0, 0.0), 3L -> Seq(2.0, 0.0),
      4L -> Seq(1.0, 0.0), 5L -> Seq(1.0, 1.0), 6L -> Seq(1.0, -1.0),
      7L -> Seq(1.0, -1.0), 8L -> Seq(3.0, 0.5), 9L -> Seq(3.0, 0.5),
      10L -> Seq(-1.0, 0.25), 11L -> Seq(0.5, 0.5))
    .toDF("vec_id", "v")

  /** `ties` with a null element in id 5 and id 11 shortened to one
    * element: the means skip the null and average each position over
    * the vectors that reach it. */
  private lazy val raggedTies = ties.withColumn("v",
    when(col("vec_id") === 5, array(lit(1.0), lit(null).cast("double")))
      .when(col("vec_id") === 11, array(lit(0.5)))
      .otherwise(col("v")))

  // the distributed form: smallest-id seeds ranked by a window, the
  // codebook row and the centers frame broadcast into each assignment,
  // the per-(cid, pos) rounded means regrouped into arrays, and an
  // eager checkpoint of the center frame every round
  private def refSeed(e: DataFrame, k: Int): DataFrame =
    e.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(Window.orderBy(col("vec_id"))) - 1)
        .cast("int").as("cid"), col("v").as("c"))

  private def refAssign(e: DataFrame, centers: DataFrame): DataFrame = {
    val cbs = centers.agg(
      sort_array(collect_list(struct(col("cid"), col("c")))).as("cbs"))
    e.crossJoin(broadcast(cbs))
      .withColumn("cid", expr("vec_argmin_code(v, cbs)"))
      .drop("cbs")
      .join(broadcast(centers), Seq("cid"))
      .withColumn("d2", expr(VecKMeans.d2))
      .select(col("vec_id"), col("v"), col("cid"), col("d2"))
  }

  private def refTrain(e: DataFrame, k: Int, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(refSeed(e, k)) { (cs, _) =>
      refAssign(e, cs)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(round(avg(col("x")), 8).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("c"))
        .ckpt()
    }

  /** (cid, raw bits of c), cid-sorted: equality is bit equality. */
  private def bits(centers: DataFrame): Seq[(Int, Seq[Long])] =
    centers.as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
      .map { case (cid, c) => (cid, c.map(java.lang.Double.doubleToRawLongBits)) }

  private def assigned(a: DataFrame): Map[Long, (Int, Long)] =
    a.select(col("vec_id"), col("cid"), col("d2")).as[(Long, Int, Double)]
      .collect().map { case (id, cid, d2) =>
        id -> (cid, java.lang.Double.doubleToRawLongBits(d2))
      }.toMap

  test("train returns the checkpointed-frame form's centers bit for bit") {
    for ((name, e, k, rounds) <- Seq(("embeddings", embeddings, 8, 3),
        ("duplicates and ties", ties, 3, 3),
        ("a null element and a shorter vector", raggedTies, 3, 3))) {
      val got = VecKMeans.train(e, k, rounds)
      val want = refTrain(e, k, rounds)
      assert(bits(got) == bits(want), s"$name: centers diverged")
      assert(got.schema == want.schema, s"$name: center schema changed")
    }
    // the emptied seed cluster drops out, as it did
    assert(bits(VecKMeans.train(ties, 3, 1)).map(_._1) == Seq(0, 2))
    // zero rounds returns the seeds
    assert(bits(VecKMeans.train(ties, 3, 0)) == bits(refSeed(ties, 3)))
  }

  test("assign matches the broadcast-rejoin cid and d2 exactly") {
    for ((e, k) <- Seq((embeddings, 8), (ties, 3))) {
      val centers = VecKMeans.train(e, k, 2)
      val got = assigned(VecKMeans.assign(e, centers))
      assert(got == assigned(refAssign(e, centers)))
      assert(got.size == e.count())
    }
  }

  test("train runs at most 1 + rounds Spark jobs") {
    val rounds = 3
    val jobs = jobsOf(VecKMeans.train(embeddings, 8, rounds))
    assert(jobs >= 1 && jobs <= 1 + rounds,
      s"train(rounds = $rounds) ran $jobs jobs")
  }

  test("mining_kmeans runs at most 6 jobs and equals the relational form") {
    val q = graft.operators.MiningQueries.miningKmeans
    q.fn(spark, sfDir).count() // builds the kmeans_vecs memo
    val jobs = jobsOf(q.fn(spark, sfDir).count())
    assert(jobs >= 1 && jobs <= 6, s"mining_kmeans ran $jobs jobs")
    // the relational per-cell summary over the same memoized corpus
    // and the query's own k = 4, rounds = 3
    val e = graft.PlanCache.memo(spark, sfDir, "kmeans_vecs")(
      fail("mining_kmeans did not memoize its corpus"))
    val want = VecKMeans.assign(e, VecKMeans.train(e, 4, 3))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        (round(sum(round(col("d2"), 6)) * 1e6) / 1e6).as("inertia"))
      .orderBy(col("cid"))
    val got = q.fn(spark, sfDir)
    def rows(df: DataFrame): Seq[(Int, Long, Long)] =
      df.as[(Int, Long, Double)].collect().toSeq.map { case (cid, n, in) =>
        (cid, n, java.lang.Double.doubleToRawLongBits(in))
      }
    assert(rows(got) == rows(want))
    // names, types and nullability
    assert(got.schema == want.schema)
  }
}
