package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Unit coverage for the custom expressions and the UDAF demo. */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("vec_dot / vec_norm match hand-computed values") {
    VectorExpressions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val r = df.select(expr("vec_dot(a, b)"), expr("vec_norm(a)"))
      .as[(Double, Double)].head()
    assert(r._1 == 32.0)
    assert(math.abs(r._2 - math.sqrt(14.0)) < 1e-12)
  }

  test("vec_dot matches the interpreted zip_with/aggregate fold bit-for-bit") {
    VectorExpressions.register(spark)
    val vs = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .as("v"))
      .limit(50)
    val both = vs.select(
      expr("vec_dot(v, v)").as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)")
        .as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
  }

  test("vec_argmin_code / vec_argmin_topn: order, ties, and NaN ranking") {
    VectorExpressions.register(spark)
    // codebook: code 0 at (0,0), 1 at (1,0), 2 at (1,0) dup, 3 at (5,5)
    val cbs = "array(named_struct('code', 0, 'c', array(0D, 0D)), " +
      "named_struct('code', 1, 'c', array(1D, 0D)), " +
      "named_struct('code', 2, 'c', array(1D, 0D)), " +
      "named_struct('code', 3, 'c', array(5D, 5D)))"
    def top(v: String, n: Int): Seq[Int] =
      spark.range(1).selectExpr(s"vec_argmin_topn($v, $cbs, $n)")
        .as[Seq[Int]].head()
    def arg(v: String): Int =
      spark.range(1).selectExpr(s"vec_argmin_code($v, $cbs)").as[Int].head()
    // nearest order from (0.9, 0): codes 1/2 tie at d2=0.01 (smaller
    // code first), then 0 at 0.81, then 3
    assert(top("array(0.9D, 0D)", 3) == Seq(1, 2, 0))
    assert(arg("array(0.9D, 0D)") == 1)
    // n = 1 agrees with vec_argmin_code; n > k truncates to k
    assert(top("array(4D, 4D)", 1) == Seq(arg("array(4D, 4D)")))
    assert(top("array(0D, 0D)", 9).length == 4)
    // NaN vector: every d2 is NaN -> argmin keeps the first (smallest)
    // code, top-n preserves code order — never a NaN-poisoned winner
    assert(arg("array(CAST('NaN' AS DOUBLE), 0D)") == 0)
    assert(top("array(CAST('NaN' AS DOUBLE), 0D)", 2) == Seq(0, 1))
    // one NaN CENTROID must lose to every finite candidate
    val nanCbs = "array(named_struct('code', 0, 'c', " +
      "array(CAST('NaN' AS DOUBLE), 0D)), " +
      "named_struct('code', 1, 'c', array(9D, 9D)))"
    assert(spark.range(1).selectExpr(s"vec_argmin_code(array(0D, 0D), $nanCbs)")
      .as[Int].head() == 1)
    assert(spark.range(1)
      .selectExpr(s"vec_argmin_topn(array(0D, 0D), $nanCbs, 2)")
      .as[Seq[Int]].head() == Seq(1, 0))
  }

  test("vec_argmin_topn matches the candidate-join/window form on fixtures") {
    VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val vs = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .as("v"))
      .limit(40)
    val centers = graft.api.VecKMeans.train(vs, k = 5, rounds = 2)
      .localCheckpoint(true)
    val viaExpr = graft.api.VecKMeans.assignTopN(vs, centers, 3)
      .groupBy($"vec_id").agg(sort_array(collect_list($"cid")).as("cids"))
    // the pre-r12 form: k-way candidate join + (d2, cid) row_number
    val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
    val viaJoin = vs.crossJoin(broadcast(centers))
      .withColumn("d2", expr(graft.api.VecKMeans.d2))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .groupBy($"vec_id").agg(sort_array(collect_list($"cid")).as("cids"))
    assert(viaExpr.join(viaJoin, Seq("vec_id"))
      .filter(viaExpr("cids") =!= viaJoin("cids")).count() == 0,
      "vec_argmin_topn diverged from the window form")
    assert(viaExpr.count() == 40)
  }

  test("VecKMeans.assign rejects an empty centers frame eagerly") {
    val vs = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "v")
    val none = vs.filter($"vec_id" < 0)
      .select($"vec_id".cast("int").as("cid"), $"v".as("c"))
    val e = intercept[IllegalArgumentException] {
      graft.api.VecKMeans.assign(vs, none)
    }
    assert(e.getMessage.contains("empty centers"))
    intercept[IllegalArgumentException] {
      graft.api.VecKMeans.assignTopN(vs, none, 2)
    }
  }

  test("word_ngrams / char_ngrams produce expected sequences") {
    TextExpressions.register(spark)
    val df = Seq("a b c d").toDF("t")
    val grams = df.select(expr("word_ngrams(split(t, ' '), 3)"))
      .as[Seq[String]].head()
    assert(grams == Seq("a b c", "b c d"))
    val chars = df.select(expr("char_ngrams(t, 3)")).as[Seq[String]].head()
    assert(chars == Seq("a b", " b ", "b c", " c ", "c d"))
    // step > 1: strided windows (the byte-aligned hex-window recipe)
    val strided = df.select(expr("char_ngrams(t, 3, 2)"))
      .as[Seq[String]].head()
    assert(strided == Seq("a b", "b c", "c d"))
    val short = df.select(expr("char_ngrams('ab', 3, 2)"))
      .as[Seq[String]].head()
    assert(short.isEmpty)
    // degenerate: fewer tokens than n -> empty array, not an error
    val empty = Seq("a b").toDF("t")
      .select(expr("word_ngrams(split(t, ' '), 3)")).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("sorted_intersect_count: exact when reachable, < min when bailing") {
    SetExpressions.register(spark)
    def cnt(a: Seq[String], b: Seq[String], m: Int): Int =
      Seq((a, b)).toDF("a", "b")
        .selectExpr(s"sorted_intersect_count(a, b, $m)").as[Int].head()
    // minNeeded reachable -> exact merge count
    assert(cnt(Seq("a", "b", "c", "d"), Seq("b", "c", "e"), 1) == 2)
    assert(cnt(Seq("a", "b"), Seq("a", "b"), 2) == 2)
    assert(cnt(Seq(), Seq("a"), 0) == 0)
    assert(cnt(Seq("a", "c"), Seq("b", "d"), 1) == 0)
    // unreachable minNeeded -> early exit; result must stay < minNeeded
    assert(cnt(Seq("a", "b", "c", "d"), Seq("b", "c", "e"), 3) < 3)
    assert(cnt(Seq("x"), Seq("y", "z"), 2) < 2)
    // agreement with size(array_intersect) whenever the threshold
    // passes, on random sorted distinct arrays
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toString)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toString)
        .distinct.sorted
      val exact = a.toSet.intersect(b.toSet).size
      assert(cnt(a, b, exact) == exact, s"exact count wrong for $a vs $b")
      assert(cnt(a, b, exact + 1) <= exact)
    }
  }

  test("gini aggregator: pure and uniform label distributions") {
    spark.udf.register("gini", udaf(GiniAggregator))
    val pure = Seq(1, 1, 1, 1).toDF("label")
    assert(pure.selectExpr("gini(label)").as[Double].head() == 0.0)
    val uniform = Seq(0, 1, 2, 3).toDF("label")
    assert(math.abs(
      uniform.selectExpr("gini(label)").as[Double].head() - 0.75) < 1e-12)
    // on the fixture: 10 roughly balanced labels -> gini near 0.9
    val g = graft.sources.Tables.embeddings(spark, sfDir)
      .selectExpr("gini(label)").as[Double].head()
    assert(g > 0.85 && g < 0.91)
  }
}
