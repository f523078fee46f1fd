package graft.api

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.Ckpt.CkptOps
import graft.SparkTestBase
import graft.sources.Tables

/** Driver-resident Lloyd training and literal-codebook assignment
  * against the distributed form they replace: per-round checkpointed
  * center frames, a broadcast codebook row and a broadcast d2 rejoin.
  * Centers and distances must be bit-identical (the DuckDB replays of
  * mining_kmeans, dedup_semantic and the IVF builds depend on it), and
  * training must stay at 1 + 2·rounds Spark jobs.
  */
class VecKMeansSpec extends SparkTestBase with Eventually {
  initQuiet()
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
        ("duplicates and ties", ties, 3, 3))) {
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

  test("train runs at most 1 + 2·rounds Spark jobs") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val rounds = 3
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("veckmeans-train", "train")
      VecKMeans.train(embeddings, 8, rounds)
      // the listener bus delivers in order: once the sentinel job is
      // seen, every training job has been counted
      sc.setJobGroup("veckmeans-sentinel", "sentinel")
      spark.range(4).count()
      sc.clearJobGroup()
      eventually(timeout(30.seconds)) {
        assert(groups.contains("veckmeans-sentinel"))
      }
    } finally sc.removeSparkListener(listener)
    val jobs = groups.asScala.count(_ == "veckmeans-train")
    assert(jobs >= 1 && jobs <= 1 + 2 * rounds,
      s"train(rounds = $rounds) ran $jobs jobs")
  }
}
