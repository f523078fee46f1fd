package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** IVF-PQ index: layout, ADC-shortlist + exact-re-rank recall vs
  * brute force, and the compression accounting that makes PQ the
  * 100 TB in-memory search structure. */
class IvfPqSpec extends SparkTestBase {

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
