package graft.api

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Properties of the two round-7 retrieval/layout kernels:
  * packSequences' distributed prefix sum (vs the naive global cumsum,
  * and the no-single-partition-window plan shape) and mmrTopK's
  * greedy trajectory (vs a driver-side reference implementation).
  */
class PackMmrSpec extends SparkTestBase {
  import spark.implicits._

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---- packSequences -------------------------------------------------

  /** strided, shuffled ids — the id space where a naive modulo bucket
    * would collapse; values seeded so runs are reproducible. */
  private val packFixture: Seq[(Long, Long)] = {
    val r = new scala.util.Random(11)
    r.shuffle((0 until 500).map(i =>
      (i.toLong * 17 + 3, (r.nextInt(100) + 1).toLong)))
  }

  test("packFromCounts == naive global cumsum, at every ranges setting") {
    val df = spark.sparkContext.parallelize(packFixture, 8)
      .toDF("id", "tok")
    val naive = packFixture.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, tok)) =>
        (id, tok, acc + tok)
      }.drop(1)
      .map { case (id, tok, cum) =>
        val off = cum - tok
        (id, tok, off, off / 2048, (off + tok - 1) / 2048)
      }
    for (ranges <- Seq(1, 4, 8)) {
      val got = Text.packFromCounts(df, "id", "tok", seqLen = 2048,
        ranges = ranges)
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == naive, s"ranges=$ranges diverges from the cumsum")
    }
  }

  test("packFromCounts on STRING ids == naive cumsum in string order (binary-prefix proxy)") {
    // ids whose lexicographic order differs from numeric order
    // ("doc-10" < "doc-2") and share long prefixes — exercises the
    // string→binary-prefix ordering proxy behind the quantile cuts
    val strFixture = packFixture.map { case (id, tok) =>
      (s"doc-$id", tok)
    }
    val df = spark.sparkContext.parallelize(strFixture, 8)
      .toDF("id", "tok")
    val naive = strFixture.sortBy(_._1)
      .scanLeft(("", 0L, 0L)) { case ((_, _, acc), (id, tok)) =>
        (id, tok, acc + tok)
      }.drop(1)
      .map { case (id, tok, cum) =>
        val off = cum - tok
        (id, tok, off, off / 2048, (off + tok - 1) / 2048)
      }
    for (ranges <- Seq(1, 4, 8)) {
      val got = Text.packFromCounts(df, "id", "tok", seqLen = 2048,
        ranges = ranges)
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == naive, s"ranges=$ranges diverges from the cumsum")
    }
  }

  test("pack plan: every window is partitioned — no single-partition global order") {
    val df = spark.sparkContext.parallelize(packFixture, 8)
      .toDF("id", "tok")
    val plan = Text.packFromCounts(df, "id", "tok", seqLen = 2048,
      ranges = 8).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LogicalWindow => w }
    assert(windows.nonEmpty, "expected the within-bucket window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "global-order window: the prefix sum degenerated to one partition")
    }
  }

  // ---- mmrTopK -------------------------------------------------------

  test("mmrTopK matches a driver-side greedy MMR reference (and rank 1 = cosine argmax)") {
    val ev = graft.sources.Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 60)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val got = Similarity.mmrTopK(ev, ev.filter($"vec_id" < 4),
      "vec_id", "v", shortlist = 8, k = 3, lambda = 0.7)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4))
        .toSeq).toMap

    val vecs = ev.as[(Long, Seq[Double])].collect().toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      round6(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
    }
    val want = (0L until 4L).map { p =>
      val shortlist = vecs.keys.filter(_ != p).toSeq
        .map(c => (c, cos(p, c)))
        .sortBy { case (c, rel) => (-rel, c) }.take(8)
      var sel = List(shortlist.head)
      for (_ <- 2 to 3) {
        val rem = shortlist.filterNot(c => sel.exists(_._1 == c._1))
        val next = rem.map { case (c, rel) =>
          val msim = sel.map(s => cos(c, s._1)).max
          (c, round6(0.7 * rel - (1.0 - 0.7) * msim))
        }.minBy { case (c, sc) => (-sc, c) }
        sel = sel :+ next
      }
      p -> sel
    }.toMap
    assert(got == want)
  }

  test("mmrTopK diversifies: its picks differ from plain top-k on the fixture") {
    val ev = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val probes = ev.filter($"vec_id" < 5)
    val mmr = Similarity.mmrTopK(ev, probes, "vec_id", "v",
      shortlist = 8, k = 3, lambda = 0.7)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val plain = Similarity.cosineTopK(ev, probes, "vec_id", "v", k = 3)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(mmr != plain,
      "MMR degenerated to plain top-k on a fixture where it should diverge")
    // but rank-1 picks (pure relevance) agree
    val mmr1 = Similarity.mmrTopK(ev, probes, "vec_id", "v",
      shortlist = 8, k = 1, lambda = 0.7)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val plain1 = Similarity.cosineTopK(ev, probes, "vec_id", "v", k = 1)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(mmr1 == plain1)
  }
}
