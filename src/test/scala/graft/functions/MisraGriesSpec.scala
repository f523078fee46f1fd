package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The Misra–Gries summary's two load-bearing properties, unit-level
  * (pure fold/merge, no Spark) and end-to-end (the two-pass exact
  * heavy-hitters kernel vs the full groupBy on a skewed corpus).
  */
class MisraGriesSpec extends SparkTestBase {
  import spark.implicits._

  private val k = 10

  /** hot item 300×, warm 120×, 1000 singleton fillers — the stream
    * shape that forces constant counter eviction. */
  private def stream: Seq[String] = {
    val r = new scala.util.Random(7)
    r.shuffle(
      Seq.fill(300)("hot") ++ Seq.fill(120)("warm") ++
        (0 until 1000).map(i => s"filler_$i"))
  }

  private def exact(s: Seq[String]): Map[String, Long] =
    s.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }

  private def assertSummary(sum: MisraGries.Summary,
      s: Seq[String]): Unit = {
    val truth = exact(s)
    val n = s.size.toLong
    assert(sum.n == n)
    // superset of everything above n/k (hot: 300 > 142)
    truth.filter { case (_, c) => c * k > n }.keys.foreach { t =>
      assert(sum.cands.contains(t), s"true heavy hitter $t dropped")
    }
    // estimates: true − n/(k+1) ≤ est ≤ true
    sum.cands.foreach { case (t, est) =>
      val c = truth(t)
      assert(est <= c, s"$t overestimated: $est > $c")
      assert(est >= c - n / (k + 1), s"$t below the MG bound")
    }
    assert(sum.cands.size <= k)
  }

  test("MG fold: superset guarantee + estimate bounds on an eviction-heavy stream") {
    val mg = new MisraGries(k)
    val s = stream
    assertSummary(mg.finish(s.foldLeft(mg.zero)(mg.reduce)), s)
  }

  test("MG merge: tree-merged partial summaries keep the guarantee") {
    val mg = new MisraGries(k)
    val s = stream
    val parts = s.grouped(97)
      .map(chunk => chunk.foldLeft(mg.zero)(mg.reduce)).toSeq
    // unbalanced tree: fold pairs of partials in arbitrary order
    val merged = parts.reduce(mg.merge)
    assertSummary(mg.finish(merged), s)
  }

  test("heavyHittersFromTokens == exact full-vocabulary groupBy (Spark, skewed corpus)") {
    val toks = spark.sparkContext.parallelize(stream, 8).toDF("token")
    val got = graft.api.Text.heavyHittersFromTokens(toks, k = k)
      .as[(String, Long)].collect().toMap
    val n = stream.size.toLong
    val want = exact(stream).filter { case (_, c) => c * k > n }
    assert(got == want)
  }

  test("heavyHitters: empty input and k = 1 degenerate cases") {
    val mg = new MisraGries(1)
    val sum = mg.finish(mg.zero)
    assert(sum.cands.isEmpty && sum.n == 0)
    val empty = Seq.empty[String].toDF("token")
    assert(graft.api.Text.heavyHittersFromTokens(empty, k = 3).count() == 0)
    // majority element survives k = 1
    val s = Seq("a", "b", "a", "c", "a", "a", "d", "a")
    val one = mg.finish(s.foldLeft(mg.zero)(mg.reduce))
    assert(one.cands.keySet == Set("a"))
  }
}
