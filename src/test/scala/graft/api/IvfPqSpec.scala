package graft.api

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ckpt.CkptOps
import graft.SparkTestBase
import graft.sources.Tables

/** IVF-PQ index: layout, ADC-shortlist + exact-re-rank recall vs
  * brute force, and the compression accounting that makes PQ the
  * 100 TB in-memory search structure. Build and append must write the
  * relational form's codebooks and cells bit for bit (the DuckDB
  * replay behind sim_topk_ivfpq, and indexes saved by that form,
  * depend on it), in a bounded number of Spark jobs. */
class IvfPqSpec extends SparkTestBase {
  import spark.implicits._

  private val M = 8
  private val KSUB = 64

  private lazy val ev = {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  private lazy val path = {
    val p = Files.createTempDirectory("graft_ivfpq").toString
    IvfPq.build(ev, "vec_id", "v", p, k = 8, rounds = 2, m = M, ksub = KSUB)
    p
  }

  /** ids 1 and 2 are the same vector, so with ksub = 3 seed code 1
    * never wins in either subspace (the smaller code takes the tie)
    * and drops out of both codebooks after the first round; ids 7 and
    * 10 repeat a vector too. */
  private lazy val ties = Seq(
      1L -> Seq(0.0, 0.0, 0.0, 0.0), 2L -> Seq(0.0, 0.0, 0.0, 0.0),
      3L -> Seq(2.0, 0.0, 1.0, 1.0), 4L -> Seq(1.0, 0.0, 0.0, 1.0),
      5L -> Seq(1.0, 1.0, 2.0, 0.0), 6L -> Seq(1.0, -1.0, 0.0, 0.0),
      7L -> Seq(3.0, 0.5, 2.0, 2.0), 8L -> Seq(-1.0, 0.25, 1.0, -1.0),
      9L -> Seq(0.5, 0.5, 3.0, 1.0), 10L -> Seq(3.0, 0.5, 2.0, 2.0))
    .toDF("vec_id", "v")

  // the relational form build and append replaced: smallest-id seeds
  // ranked by a window, each Lloyd round a broadcast join of the
  // per-subspace codebook rows, a (s, code, pos) rounded-mean
  // aggregate regrouped into arrays and an eager checkpoint; the
  // encode is collected back per vec_id and joined to the coarse
  // assignment and the norms
  private def refSubVectors(ev: DataFrame, m: Int, subDim: Int): DataFrame = {
    val subs = (0 until m).map(s =>
      struct(lit(s).as("s"), slice(col("v"), s * subDim + 1, subDim).as("sub")))
    ev.select(col("vec_id"), explode(array(subs: _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sub").as("sub"))
  }

  private def refAssignSubs(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs.join(broadcast(codebook.groupBy(col("s"))
        .agg(sort_array(collect_list(struct(col("code"), col("c"))))
          .as("cbs"))), Seq("s"))
      .select(col("vec_id"), col("s"),
        expr("vec_argmin_code(sub, cbs)").as("code"), col("sub"))

  private def refCells(e: DataFrame, centers: DataFrame,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val ev = e.select(col("vec_id"), col("v"))
    val encoded = refAssignSubs(refSubVectors(ev, m, subDim), codebook)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), " +
        "p -> CAST(p.code AS INT))").as("codes"))
    VecKMeans.assign(ev, centers)
      .join(e.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .join(encoded, Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"), col("codes"))
  }

  private def refBuild(ev: DataFrame, path: String, k: Int, rounds: Int,
      m: Int, ksub: Int): Unit = {
    val e = ev.withColumn("nrm", expr("vec_norm(v)")).ckpt()
    val subDim = e.select(size(col("v"))).first().getInt(0) / m
    val centers = VecKMeans.train(ev, k, rounds)
    centers.write.mode("overwrite").parquet(s"$path/centers")
    val subs = refSubVectors(ev, m, subDim).ckpt()
    val seedIds = ev.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("int").as("code"))
    val cb = (1 to rounds).foldLeft(
        subs.join(broadcast(seedIds), Seq("vec_id"))
          .select(col("s"), col("code"), col("sub").as("c")).ckpt()) {
      (cb, _) => refAssignSubs(subs, cb)
        .select(col("s"), col("code"),
          posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(round(avg(col("x")), 8).as("mv"))
        .groupBy(col("s"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), " +
          "q -> q.mv)").as("c"))
        .ckpt()
    }
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    refCells(e, centers, cb, m, subDim)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/cells")
  }

  /** (s, code, raw bits of c), sorted: equality is bit equality. */
  private def codebookBits(cb: DataFrame): Seq[(Int, Int, Seq[Long])] =
    cb.select(col("s"), col("code"), col("c")).as[(Int, Int, Seq[Double])]
      .collect().toSeq.map { case (s, code, c) =>
        (s, code, c.map(java.lang.Double.doubleToRawLongBits))
      }.sortBy(r => (r._1, r._2))

  /** (vec_id, cid, raw bits of v and nrm, codes), sorted. */
  private def cellBits(cells: DataFrame)
      : Seq[(Long, Int, Seq[Long], Long, Seq[Int])] =
    cells.select(col("vec_id"), col("cid"), col("v"), col("nrm"),
        col("codes"))
      .as[(Long, Int, Seq[Double], Double, Seq[Int])].collect().toSeq
      .map { case (id, cid, v, nrm, codes) =>
        (id, cid, v.map(java.lang.Double.doubleToRawLongBits),
          java.lang.Double.doubleToRawLongBits(nrm), codes)
      }.sortBy(_._1)

  test("build writes the relational form's codebooks and cells bit for bit") {
    for ((name, e, k, m, ksub) <- Seq(("embeddings", ev, 8, M, KSUB),
        ("duplicates and ties", ties, 2, 2, 3))) {
      val got = Files.createTempDirectory("graft_ivfpq_got").toString
      val want = Files.createTempDirectory("graft_ivfpq_want").toString
      IvfPq.build(e, "vec_id", "v", got, k = k, rounds = 2, m = m,
        ksub = ksub)
      refBuild(e, want, k, rounds = 2, m, ksub)
      for (part <- Seq("codebooks", "cells")) {
        val (g, w) = (spark.read.parquet(s"$got/$part"),
          spark.read.parquet(s"$want/$part"))
        assert(g.schema == w.schema, s"$name: $part schema changed")
      }
      val cb = spark.read.parquet(s"$got/codebooks")
      assert(codebookBits(cb) ==
        codebookBits(spark.read.parquet(s"$want/codebooks")),
        s"$name: codebooks diverged")
      val cells = spark.read.parquet(s"$got/cells")
      assert(cellBits(cells) == cellBits(spark.read.parquet(s"$want/cells")),
        s"$name: cells diverged")
      assert(cells.count() == e.count())
      if (name == "duplicates and ties") {
        // the emptied seed code is gone from both codebooks, and no
        // vector is encoded with it
        assert(codebookBits(cb).map(r => (r._1, r._2)) ==
          Seq((0, 0), (0, 2), (1, 0), (1, 2)))
        assert(cellBits(cells).forall(!_._5.contains(1)))
      }
    }
  }

  test("append encodes like the relational encoder against the saved codebooks") {
    val p = Files.createTempDirectory("graft_ivfpq_append_ref").toString
    IvfPq.build(ev.filter(col("vec_id") < 400), "vec_id", "v", p,
      k = 8, rounds = 2, m = M, ksub = KSUB)
    val arrivals = ev.filter(col("vec_id") >= 400)
    IvfPq.append(arrivals, "vec_id", "v", p)
    val cb = spark.read.parquet(s"$p/codebooks")
    val subDim = cb.select(max(size(col("c")))).first().getInt(0)
    val want = refCells(arrivals.withColumn("nrm", expr("vec_norm(v)")),
      spark.read.parquet(s"$p/centers"), cb, M, subDim)
    val got = spark.read.parquet(s"$p/cells").filter(col("vec_id") >= 400)
    assert(cellBits(got) == cellBits(want))
    assert(got.count() == arrivals.count())
  }

  test("build runs at most 6 + 2·(1 + rounds) Spark jobs") {
    // the corpus cut, its dimension probe, the centers and codebooks
    // writes and the two jobs of the rebalanced cells write, plus the
    // seed collect and one job per round for each quantizer (27 jobs
    // for the relational sub-codebook rounds and encode at rounds = 2)
    val p = Files.createTempDirectory("graft_ivfpq_jobs").toString
    val rounds = 2
    ev.count()
    val jobs = jobsOf(IvfPq.build(ev, "vec_id", "v", p, k = 8,
      rounds = rounds, m = M, ksub = KSUB))
    assert(jobs >= 1 && jobs <= 6 + 2 * (1 + rounds),
      s"IvfPq.build(rounds = $rounds) ran $jobs jobs")
  }

  test("index layout: m-subspace codebooks, m codes per vector, partitioned cells") {
    val cb = spark.read.parquet(s"$path/codebooks")
    assert(cb.select("s").distinct().count() == M)
    assert(cb.count() <= M * KSUB)
    val cells = spark.read.parquet(s"$path/cells")
    assert(cells.count() == ev.count())
    assert(cells.filter(size(col("codes")) =!= M).count() == 0,
      "every vector must carry exactly m codes")
    // every code must reference an existing centroid of its subspace
    val orphan = cells.select(posexplode(col("codes")).as(Seq("s", "code")))
      .join(cb.select(col("s"), col("code")), Seq("s", "code"), "left_anti")
    assert(orphan.count() == 0)
  }

  test("ADC shortlist + exact re-rank reaches near-IVF recall vs brute force") {
    val probes = ev.filter(col("vec_id") < 20)
    val got = IvfPq.topK(probes, "vec_id", "v", path, k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(ev, probes, "vec_id", "v", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    info(f"IVF-PQ top-3 recall vs brute force: $recall%.2f")
    // measured ceiling = this probe set's CELL recall at nProbe=3 is
    // 0.817 (shortlist = all candidates); ksub=64 + shortlist 16k
    // reaches 0.80 — PQ resolution costs ~2 points, not 40
    assert(recall >= 0.7, s"IVF-PQ recall $recall too low")
  }

  test("re-ranked cosines are exact (match the full-vector computation)") {
    val probes = ev.filter(col("vec_id") < 5)
    val got = IvfPq.topK(probes, "vec_id", "v", path, k = 3, nProbe = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
      .toMap
    val exact = Similarity.cosineTopK(ev, probes, "vec_id", "v", k = 2000)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
      .toMap
    got.foreach { case (pair, cos) =>
      assert(exact(pair) == cos, s"re-ranked cosine for $pair not exact")
    }
  }

  test("append encodes arrivals against the saved codebooks; probes find them") {
    val p = Files.createTempDirectory("graft_ivfpq_append").toString
    val corpus = ev.filter(col("vec_id") < 400)
    val arrivals = ev.filter(col("vec_id") >= 400)
    IvfPq.build(corpus, "vec_id", "v", p, k = 8, rounds = 2,
      m = M, ksub = KSUB)
    IvfPq.append(arrivals, "vec_id", "v", p)
    val cells = spark.read.parquet(s"$p/cells")
    assert(cells.count() == ev.count(),
      "appended index must hold the full corpus")
    assert(cells.filter(size(col("codes")) =!= M).count() == 0)
    // appended codes reference existing centroids only
    val cb = spark.read.parquet(s"$p/codebooks")
    val orphan = cells.select(posexplode(col("codes")).as(Seq("s", "code")))
      .join(cb.select(col("s"), col("code")), Seq("s", "code"), "left_anti")
    assert(orphan.count() == 0)
    // a planted duplicate of an APPENDED vector is found at exact
    // cosine 1.0 (the re-rank is on stored full vectors)
    val src = arrivals.orderBy(col("vec_id")).limit(1)
    val srcId = src.select("vec_id").first().getLong(0)
    val dup = src.select((col("vec_id") + 100000).as("vec_id"), col("v"))
    val found = IvfPq.topK(dup, "vec_id", "v", p, k = 1, nProbe = 1)
      .select(col("neighbor_id"), col("cosine")).first()
    assert(found.getLong(0) == srcId && found.getDouble(1) == 1.0,
      s"planted duplicate of $srcId not found at cosine 1.0: $found")
  }

  test("wrong-dimension append is rejected WHOLE; the index stays probe-clean") {
    val p = Files.createTempDirectory("graft_ivfpq_guard").toString
    val corpus = ev.filter(col("vec_id") < 200)
    IvfPq.build(corpus, "vec_id", "v", p, k = 4, rounds = 1, m = M,
      ksub = KSUB)
    val before = spark.read.parquet(s"$p/cells").count()
    // truncated arrivals: without the guard these are silently
    // slice-truncated by subVectors, encoded against mismatched
    // codebooks, and appended — poisoning every later probe
    val wrongDim = ev.filter(col("vec_id") >= 200 && col("vec_id") < 230)
      .select(col("vec_id"), expr("slice(v, 1, 8)").as("v"))
    val err = intercept[IllegalArgumentException] {
      IvfPq.append(wrongDim, "vec_id", "v", p)
    }
    assert(err.getMessage.contains("dimension"))
    // a MIXED batch (one bad row hiding among good ones) fails whole
    // too — per-row silence is exactly the bug the guard closes
    val mixed = ev.filter(col("vec_id") >= 200 && col("vec_id") < 230)
      .select(col("vec_id"),
        when(col("vec_id") === 200, expr("slice(v, 1, 8)"))
          .otherwise(col("v")).as("v"))
    intercept[IllegalArgumentException] {
      IvfPq.append(mixed, "vec_id", "v", p)
    }
    // nothing was written: same cell count, correct-dim appends still
    // land, and probes stay exact
    assert(spark.read.parquet(s"$p/cells").count() == before)
    IvfPq.append(
      ev.filter(col("vec_id") >= 200 && col("vec_id") < 230),
      "vec_id", "v", p)
    assert(spark.read.parquet(s"$p/cells").count() == before + 30)
    assert(spark.read.parquet(s"$p/cells")
      .filter(size(col("codes")) =!= M).count() == 0)
  }

  test("codes compress the search structure ~m bytes vs 4d bytes per vector") {
    // accounting check, not a storage benchmark: 8 int codes stand in
    // for 8 bytes (they fit a byte each: code < 256) vs 64 floats
    val cb = spark.read.parquet(s"$path/codebooks")
    assert(cb.agg(max(col("code"))).first().getInt(0) < 256)
    val dim = ev.select(size(col("v"))).first().getInt(0)
    assert(M.toDouble / (4 * dim) < 0.05,
      "PQ codes must be <5% of the float vector size")
  }
}
