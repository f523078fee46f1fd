package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The saved-IVF-index serving path (round-2 VERDICT item 2): cell
  * assignments live as cid-partitioned parquet, and a probe must scan
  * ONLY its nProbe cells' partition directories — partition pruning
  * at planning time, not a post-scan row filter.
  */
class IvfIndexSpec extends SparkTestBase {

  private lazy val ev = {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.ivfBuild(ev, "vec_id", "v", p, k = 8, rounds = 2)
    p
  }

  test("index layout: one partition directory per cell, k centers saved") {
    val cells = spark.read.parquet(s"$indexPath/cells")
    assert(cells.select("cid").distinct().count() <= 8)
    assert(cells.count() == ev.count(),
      "every corpus vector must be assigned to exactly one cell")
    assert(spark.read.parquet(s"$indexPath/centers").count() == 8)
    val dirs = new java.io.File(s"$indexPath/cells").listFiles()
      .filter(_.getName.startsWith("cid="))
    assert(dirs.nonEmpty, "cells parquet must be partitioned by cid")
  }

  test("probe scan prunes to the probed cells via PartitionFilters") {
    val probes = ev.filter(col("vec_id") < 3)
    val topk = Similarity.ivfTopK(probes, "vec_id", "v", indexPath,
      k = 3, nProbe = 2)
    val plan = topk.queryExecution.executedPlan.toString
    // the cells scan must carry a literal cid partition predicate
    // applied at PLANNING time (pruned directories)
    assert(plan.contains("PartitionFilters: [cid"),
      s"no partition pruning on the cells scan:\n$plan")
    // and the probed-cell set is genuinely smaller than the index:
    // 3 probes × nProbe=2 can touch at most 6 of the 8 cells
    val centers = spark.read.parquet(s"$indexPath/centers")
    val probed = VecKMeans.assignTopN(
        probes.select(col("vec_id"), col("v")), centers, 2)
      .select("cid").distinct().count()
    assert(probed <= 6)
  }

  test("range search prunes partitions like top-k and matches an in-plan threshold scan") {
    val probes = ev.filter(col("vec_id") < 3)
    val rng = Similarity.ivfRangeSearch(probes, "vec_id", "v", indexPath,
      tau = 0.3, nProbe = 2)
    val plan = rng.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"no partition pruning on the range-search cells scan:\n$plan")
    // every hit clears the threshold, and the hit set equals the
    // top-k serving path's candidates filtered by the threshold
    // (same cells, same cosine kernel — the rank is the only delta)
    val hits = rng.collect()
    assert(hits.nonEmpty)
    hits.foreach(r => assert(r.getDouble(2) >= 0.3))
    val viaTopk = Similarity.ivfTopK(probes, "vec_id", "v", indexPath,
        k = Int.MaxValue - 1, nProbe = 2)
      .filter(col("cosine") >= 0.3)
      .select("probe_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hits.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet == viaTopk)
  }

  test("ivfAppend adds arrivals to the saved cells; probes find them immediately") {
    val p = Files.createTempDirectory("graft_ivf_append").toString
    val corpus = ev.filter(col("vec_id") < 400)
    val arrivals = ev.filter(col("vec_id") >= 400)
    Similarity.ivfBuild(corpus, "vec_id", "v", p, k = 8, rounds = 2)
    assert(spark.read.parquet(s"$p/cells").count() == corpus.count())
    Similarity.ivfAppend(arrivals, "vec_id", "v", p)
    val cells = spark.read.parquet(s"$p/cells")
    assert(cells.count() == ev.count(),
      "appended index must hold the full corpus")
    // every appended vector sits in its nearest SAVED cell
    val centers = spark.read.parquet(s"$p/centers")
    val expected = VecKMeans.assign(
        arrivals.select(col("vec_id"), col("v")), centers)
      .select(col("vec_id"), col("cid"))
    val got = cells.select(col("vec_id"), col("cid"))
      .join(arrivals.select(col("vec_id")), Seq("vec_id"))
    assert(got.except(expected).count() == 0
      && expected.except(got).count() == 0)
    // a probe identical to an appended vector finds it at cosine 1.0:
    // probe with a corpus vector from the same cell... simplest exact
    // check: probe WITH an appended id — its own row is excluded, so
    // plant a duplicate under a fresh id instead
    val dup = arrivals.limit(1)
      .select((col("vec_id") + 100000).as("vec_id"), col("v"))
    val dupOf = arrivals.limit(1).select(col("vec_id"))
      .first().getLong(0)
    val found = Similarity.ivfTopK(dup, "vec_id", "v", p, k = 1,
        nProbe = 1)
      .select(col("neighbor_id"), col("cosine")).first()
    assert(found.getLong(0) == dupOf && found.getDouble(1) == 1.0,
      s"planted duplicate of $dupOf not found at cosine 1.0: $found")
  }

  test("wrong-dimension ivfAppend is rejected whole; cells unchanged") {
    // vec_dot truncates to the shorter operand, so without the guard
    // a wrong-dim arrival lands in SOME cell and later probes score
    // it on a truncated dot — silently wrong cosines
    val before = spark.read.parquet(s"$indexPath/cells").count()
    val wrongDim = ev.filter(col("vec_id") < 30)
      .select((col("vec_id") + 200000).as("vec_id"),
        expr("slice(v, 1, 8)").as("v"))
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfAppend(wrongDim, "vec_id", "v", indexPath)
    }
    assert(err.getMessage.contains("dimension"))
    assert(spark.read.parquet(s"$indexPath/cells").count() == before,
      "a rejected append must write nothing")
  }

  test("saved-index probe equals the same search run in memory") {
    val probes = ev.filter(col("vec_id") < 10)
    val saved = Similarity.ivfTopK(probes, "vec_id", "v", indexPath,
        k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // in-memory twin: same quantizer (deterministic training), same
    // probe assignment, exact cosine on probed cells — no index read
    val centers = spark.read.parquet(s"$indexPath/centers")
    val withNorm = ev.withColumn("nrm", expr("vec_norm(v)"))
    val cellsMem = VecKMeans.assign(ev, centers)
      .join(withNorm.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
    val probeCells = VecKMeans.assignTopN(
        probes.select(col("vec_id"), col("v")), centers, 3)
      .join(withNorm.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), col("nrm").as("na"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val mem = cellsMem.join(probeCells, Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 6)
          .as("cosine"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).map(t => (t._1, t._4, t._2, t._3)).toSet
    assert(saved == mem)
  }

  // ---- ivfRebuild: the maintenance step sim_ivf_cell_stats schedules
  // (round-13 VERDICT item 3). Drift fixture mirrors sim_ivf_rebuild:
  // every 4th vector re-arrives shifted into one tight far cluster,
  // appended to a base build — the canonical shift ivfAppend cannot
  // adapt to because appends never retrain the quantizer.
  private lazy val idOff = 10000000L
  private lazy val arrivalsDrift = ev.filter(col("vec_id") % 4 === 0)
    .select((col("vec_id") + lit(idOff)).as("vec_id"),
      transform(col("v"), x => x * lit(0.05) + lit(2.0)).as("v"))
  private lazy val unionCorpus =
    ev.select(col("vec_id"), col("v")).unionAll(arrivalsDrift)
  private lazy val driftedPath = {
    val p = Files.createTempDirectory("graft_ivf_drift").toString
    Similarity.ivfBuild(ev, "vec_id", "v", p, k = 8, rounds = 2)
    Similarity.ivfAppend(arrivalsDrift, "vec_id", "v", p)
    p
  }
  private lazy val rebuiltPath = {
    val p = Files.createTempDirectory("graft_ivf_rebuilt").toString
    Similarity.ivfRebuild(spark, driftedPath, p, k = 8, rounds = 2)
    p
  }

  test("ivfRebuild == ivfBuild from scratch on the same vectors") {
    // the rebuild reads only the index's OWN stored cells, so it must
    // reproduce exactly what a fresh build over the union corpus
    // produces — every serving guarantee (pruning, recall, append)
    // transfers to rebuilt indexes by this equality
    val p = Files.createTempDirectory("graft_ivf_fresh").toString
    Similarity.ivfBuild(unionCorpus, "vec_id", "v", p, k = 8, rounds = 2)
    def assignments(path: String) =
      spark.read.parquet(s"$path/cells")
        .select(col("vec_id"), col("cid").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(assignments(rebuiltPath) == assignments(p))
    def centers(path: String) =
      spark.read.parquet(s"$path/centers")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
    assert(centers(rebuiltPath) == centers(p),
      "retrained quantizer must match a from-scratch training " +
        "(deterministic seeds + per-round 8-place rounding)")
  }

  test("rebuild restores cell balance after append drift") {
    def profile(path: String): (Long, Long, Int) = {
      val counts = spark.read.parquet(s"$path/cells")
        .groupBy(col("cid")).count()
        .collect().map(_.getLong(1))
      val total = counts.sum
      val hot = counts.count(c => c * counts.length >= total * 2)
      (counts.max, total, hot)
    }
    val (preMax, preTotal, preHot) = profile(driftedPath)
    val (postMax, postTotal, postHot) = profile(rebuiltPath)
    assert(preTotal == postTotal, "rebuild must preserve every vector")
    // pre: the arrival cluster piles onto a base cell and trips the
    // integer hot flag (>= 2x the mean) — the sim_ivf_cell_stats
    // signal that schedules this rebuild
    assert(preHot >= 1, s"drift fixture must create a hot cell " +
      s"(max $preMax of $preTotal)")
    // post: the retrained quantizer gives the cluster its own cell;
    // no cell holds 2x the mean, and the worst-case probe cost (the
    // largest cell a probe can be routed to) strictly shrinks
    assert(postHot == 0, s"rebuilt index still has $postHot hot cells")
    assert(postMax < preMax,
      s"worst-case cell must shrink: pre $preMax -> post $postMax")
  }

  test("rebuilt index never regresses recall at the serving tier nProbe") {
    // ground truth: exact top-3 cosine over the drifted corpus for
    // base-distribution probes (driver-side — the fixture is small).
    // Arrival probes are excluded: the drift cluster is near-identical
    // vectors whose top-3 is a rounding-level tie among ~125
    // neighbors, meaningless as a recall target.
    val rows = unionCorpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val probeIds = rows.keys.filter(id => id < 500 && id % 25 == 1).toSeq
    val truth = probeIds.flatMap { p =>
      rows.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, cos(rows(p), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3)
        .map { case (id, _) => (p, id) }
    }.toSet
    val probes = unionCorpus.filter(
      col("vec_id") < 500 && col("vec_id") % 25 === 1)
    def recall(path: String): Double = {
      val got = Similarity.ivfTopK(probes, "vec_id", "v", path,
          k = 3, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val pre = recall(driftedPath)
    val post = recall(rebuiltPath)
    info(f"recall@3 nProbe=3: pre-rebuild $pre%.3f, post-rebuild $post%.3f")
    assert(post >= pre,
      f"rebuild regressed recall: pre $pre%.3f -> post $post%.3f")
    assert(post >= 0.5, f"rebuilt recall $post%.3f below the IVF floor")
  }

  test("the rebuilt index accepts appends and serves them — the full lifecycle cycles") {
    // build -> append -> rebuild -> append -> probe: the rebuild
    // writes the standard layout, so the NEXT generation's arrivals
    // ingest into it unchanged (ivfAppend reads the retrained
    // centers) and a probe finds them immediately
    val nextGen = ev.filter(col("vec_id") % 7 === 1).limit(5)
      .select((col("vec_id") + lit(20000000L)).as("vec_id"),
        transform(col("v"), x => x * lit(0.9) + lit(0.1)).as("v"))
    val before = spark.read.parquet(s"$rebuiltPath/cells").count()
    Similarity.ivfAppend(nextGen, "vec_id", "v", rebuiltPath)
    val cells = spark.read.parquet(s"$rebuiltPath/cells")
    assert(cells.count() == before + nextGen.count())
    // a probe identical to an appended vector finds it at cosine 1.0
    val planted = nextGen.limit(1)
    val plantedId = planted.select(col("vec_id")).first().getLong(0)
    val dup = planted.select((col("vec_id") + 1000L).as("vec_id"),
      col("v"))
    val hit = Similarity.ivfTopK(dup, "vec_id", "v", rebuiltPath,
        k = 1, nProbe = 1)
      .select(col("neighbor_id"), col("cosine")).first()
    assert(hit.getLong(0) == plantedId && hit.getDouble(1) == 1.0,
      s"appended-to-rebuilt vector $plantedId not served: $hit")
  }

  test("attributed index: matching probe prunes partitions; label-less append is rejected whole") {
    // the filtered-ANN serving tier (sim_topk_ivf_filtered): labels
    // stored INSIDE the cells, candidates joined on (cid, label)
    val p = Files.createTempDirectory("graft_ivfl_spec").toString
    val labeled = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    Similarity.ivfBuild(labeled, "vec_id", "v", p, k = 8, rounds = 2,
      attrs = Seq("label"))
    assert(spark.read.parquet(s"$p/cells").columns.contains("label"),
      "attrs must be stored in the cells layout")
    val probes = labeled.filter(col("vec_id") < 3)
    val topk = Similarity.ivfTopKMatching(probes, "vec_id", "v", p,
      k = 3, nProbe = 2, matchCols = Seq("label"))
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"no partition pruning on the filtered cells scan:\n$plan")
    // every served neighbor carries the probe's own label
    val probeLabels = probes.select(col("vec_id").as("probe_id"),
      col("label").as("want"))
    assert(topk.join(probeLabels, Seq("probe_id"))
      .filter(col("label") =!= col("want")).count() == 0,
      "a filtered probe must only see same-label candidates")
    // an append batch without the stored attribute is rejected whole
    val before = spark.read.parquet(s"$p/cells").count()
    val noLabel = labeled.limit(2)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("v"))
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(noLabel, "vec_id", "v", p)
    }
    assert(spark.read.parquet(s"$p/cells").count() == before,
      "a rejected attributed append must write nothing")
    // a labeled append lands and is served through the filter
    val withLabel = labeled.limit(2)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("label"),
        col("v"))
    Similarity.ivfAppend(withLabel, "vec_id", "v", p)
    assert(spark.read.parquet(s"$p/cells").count() == before + 2)
  }

  test("ivfRebuild preserves stored attributes; matching probe serves the rebuilt index") {
    // round-14 ADVICE (medium): a rebuild that selects only
    // (vec_id, v) from the cells strips the attrs an attributed build
    // stored, violating the invariant ivfAppend enforces — then every
    // ivfTopKMatching probe against the rebuilt index dies on an
    // unresolved `label` column at serving time. The rebuild must
    // derive the attrs from the cells schema and carry them through.
    val p = Files.createTempDirectory("graft_ivfl_rb_src").toString
    val labeled = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    Similarity.ivfBuild(labeled, "vec_id", "v", p, k = 8, rounds = 2,
      attrs = Seq("label"))
    val rb = Files.createTempDirectory("graft_ivfl_rb_dst").toString
    Similarity.ivfRebuild(spark, p, rb, k = 8, rounds = 2)
    val rbCells = spark.read.parquet(s"$rb/cells")
    assert(rbCells.columns.contains("label"),
      "rebuild must keep the stored attribute columns")
    // every (vec_id, label) pair survives the retrain unchanged
    val origPairs = spark.read.parquet(s"$p/cells")
      .select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val rbPairs = rbCells.select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    assert(rbPairs == origPairs,
      "rebuild must carry each vector's attribute value unchanged")
    // and the filtered serving path works against the rebuilt index
    val probes = labeled.filter(col("vec_id") < 3)
    val topk = Similarity.ivfTopKMatching(probes, "vec_id", "v", rb,
      k = 3, nProbe = 2, matchCols = Seq("label"))
    val probeLabels = probes.select(col("vec_id").as("probe_id"),
      col("label").as("want"))
    assert(topk.count() > 0 &&
      topk.join(probeLabels, Seq("probe_id"))
        .filter(col("label") =!= col("want")).count() == 0,
      "rebuilt attributed index must serve filtered probes")
  }

  test("semanticPathProbe: integer decision replays the cell profile; auto route is result-identical on both paths") {
    // the dedup_semantic_stats contract (round-14 VERDICT item 3):
    // the probe's statistic is exactly Σc(c−1) over the cell counts,
    // the decision is the integer compare Σc(c−1) ≥ 128·n, and the
    // routed pair sweep is identical whichever path is chosen
    val (n, k, mx, p2, chosen) =
      Similarity.semanticPathProbe(spark, indexPath)
    val counts = spark.read.parquet(s"$indexPath/cells")
      .groupBy(col("cid")).count()
      .collect().map(_.getLong(1))
    assert(n == counts.sum && k == counts.length && mx == counts.max)
    assert(p2 == counts.map(c => c * (c - 1)).sum)
    assert(chosen == (if (p2 >= 128 * n) "indexed" else "inmemory"))
    // a tighter degree bound must flip the same profile to indexed
    // (p2 > 0 on any non-singleton cell profile)
    assert(Similarity.semanticPathProbe(spark, indexPath,
      avgCandidateDegree = 0)._5 == "indexed")
    val viaAuto = Similarity.semanticPairsAuto(ev, "vec_id", "v",
      indexPath, tau = 0.4)
    val inMem = Similarity.semanticPairs(ev, "vec_id", "v", tau = 0.4)
      .collect().map(_.toSeq).toSet
    val fromIdx = Similarity.semanticPairsFromIndex(spark, indexPath,
      tau = 0.4).collect().map(_.toSeq).toSet
    assert(inMem == fromIdx,
      "both semantic-pair paths must agree (deterministic quantizer)")
    assert(viaAuto._1.collect().map(_.toSeq).toSet == inMem)
    assert(viaAuto._2 == chosen)
  }

  test("fixture regeneration restamps, republishes, and GCs the superseded REAL index generation") {
    // The GC half of the index lifecycle (round-15 candidate (d)):
    // IndexStoreSpec pins pruneSuperseded on synthetic marker dirs;
    // this drives it through a REAL cid-partitioned IVF build — a
    // regenerated source parquet mints a new stamp, ensure publishes
    // generation 2, and generation 1's full parquet tree (cells +
    // centers) is collected while serving continues from gen 2.
    val srcDir = Files.createTempDirectory("graft_ivf_gen").toString
    def regen(n: Int): Unit =
      ev.limit(n).coalesce(1).write.mode("overwrite")
        .parquet(s"$srcDir/emb.parquet")
    def src = spark.read.parquet(s"$srcDir/emb.parquet")
    regen(40)
    val gen1 = graft.IndexStore.stampedPath("ivfgc_spec", srcDir,
      "emb.parquet")
    graft.IndexStore.ensure(gen1) { tmp =>
      Similarity.ivfBuild(src, "vec_id", "v", tmp, k = 4, rounds = 2)
    }
    assert(graft.IndexStore.isComplete(gen1))
    assert(spark.read.parquet(s"$gen1/cells").count() == 40)

    // regenerate the fixture (different row count → different summed
    // child length, so the stamp changes even within mtime resolution)
    regen(60)
    val gen2 = graft.IndexStore.stampedPath("ivfgc_spec", srcDir,
      "emb.parquet")
    assert(gen2 != gen1,
      "a regenerated source must mint a different stamp")
    graft.IndexStore.ensure(gen2) { tmp =>
      Similarity.ivfBuild(src, "vec_id", "v", tmp, k = 4, rounds = 2)
    }
    assert(graft.IndexStore.isComplete(gen2))
    assert(!new java.io.File(gen1).exists(),
      "the superseded generation's real index tree must be collected")
    // serving continues against generation 2: a probe equal to a
    // corpus vector still finds itself at cosine 1.0
    val probe = src.limit(1)
    val pid = probe.select(col("vec_id")).first().getLong(0)
    val dup2 = probe.select((col("vec_id") + 5000000L).as("vec_id"),
      col("v"))
    val h2 = Similarity.ivfTopK(dup2, "vec_id", "v", gen2,
        k = 1, nProbe = 1)
      .select(col("neighbor_id"), col("cosine")).first()
    assert(h2.getLong(0) == pid && h2.getDouble(1) == 1.0,
      s"generation-2 serving broken after GC: $h2")
  }
}
