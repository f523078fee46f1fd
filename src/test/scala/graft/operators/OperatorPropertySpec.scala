package graft.operators

import org.apache.spark.sql.functions._

import graft.{PlanCache, SparkTestBase}
import graft.sources.Tables

/** Property checks for the operators whose contract entry is
  * no-oracle (sketches / approximate indexes), plus algebraic
  * invariants of the dedup family (SURVEY.md §5.2). */
class OperatorPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("approx_count_distinct is within 10% of exact per event type") {
    val approx = AggQueries.aggApproxDistinct.fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy($"event_type").agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.10,
        s"$k: approx $ap vs exact $ex out of bounds")
    }
  }

  test("percentile_approx tracks the exact interpolated percentile") {
    // the 100 TB path for percentiles is the mergeable sketch
    // (percentile_approx); pin its error against the exact
    // interpolated percentile the contract query (agg_stats) uses
    val rows = Tables.events(spark, sfDir).groupBy($"event_type")
      .agg(expr("percentile(value, array(0.5, 0.9))").as("exact"),
        expr("percentile_approx(value, array(0.5, 0.9), 1000)").as("approx"),
        (max($"value") - min($"value")).as("range"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getSeq[Double](1)
      val approx = r.getSeq[Double](2)
      val range = r.getDouble(3)
      exact.zip(approx).foreach { case (e, a) =>
        assert(math.abs(e - a) <= 0.05 * range,
          s"${r.getString(0)}: approx $a vs exact $e (range $range)")
      }
    }
  }

  test("minhash estimated jaccard tracks exact ngram jaccard on high-sim pairs") {
    val est = DedupQueries.dedupNearMinhash.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = DedupQueries.dedupNgramJaccard.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every truly near-duplicate pair (exact j >= 0.8) must be caught
    // by the LSH candidate generation with a high estimate
    val hot = exact.filter(_._2 >= 0.8)
    assert(hot.nonEmpty, "fixture should contain near-duplicate pairs")
    hot.foreach { case (pair, j) =>
      assert(est.contains(pair), s"LSH missed near-dup pair $pair (j=$j)")
      assert(est(pair) >= 0.5, s"estimate too low for $pair")
    }
  }

  test("ngram jaccard: PPJoin prefix path equals inverted-index path") {
    // the contract query picks a strategy from df stats; this pins the
    // two plans to the same answer so the unpicked path stays correct
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val inv = DedupQueries.ngramJaccardInverted(spark, sfDir)
      .collect().map(key).toSet
    val pp = DedupQueries.ngramJaccardPPJoin(spark, sfDir)
      .collect().map(key).toSet
    assert(inv == pp)
    assert(inv.nonEmpty, "fixture should contain qualifying pairs")
  }

  test("plan cache stays bounded under repeated invocations") {
    PlanCache.clear()
    // non-PlanCache persists from other suites sharing the session
    val base = spark.sparkContext.getPersistentRDDs.keySet
    DedupQueries.dedupNearMinhash.fn(spark, sfDir).count()
    val after1 = PlanCache.size
    DedupQueries.dedupNearMinhash.fn(spark, sfDir).count()
    DedupQueries.dedupNgramJaccard.fn(spark, sfDir).count()
    DedupQueries.dedupNgramJaccard.fn(spark, sfDir).count()
    assert(PlanCache.size <= after1 + 2,
      "repeat invocations must reuse memoized frames, not stack copies")
    PlanCache.clear()
    assert(PlanCache.size == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == base,
      "clear() must unpersist every memoized frame")
  }

  test("dedup clusters partition the paired docs, reps are members, sizes >= 2... or singleton-free") {
    val pairs = DedupQueries.dedupNearMinhash.fn(spark, sfDir)
      .select($"doc1", $"doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = DedupQueries.dedupClusters.fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    // every paired doc lands in exactly one cluster
    assert(clusters.map(_._2).sum == members.size)
    // each rep is a member and is minimal in its own pair set
    val reps = clusters.map(_._1).toSet
    assert(reps.subsetOf(members))
    // both endpoints of every pair share a cluster (rep reachable):
    // verified transitively by the oracle; here check no cluster of
    // size < 2 exists (every node has at least one neighbor)
    assert(clusters.forall(_._2 >= 2))
  }

  test("hash samplers are deterministic across invocations") {
    val a1 = SampleQueries.sampleStratified.fn(spark, sfDir).collect().toSeq
    val a2 = SampleQueries.sampleStratified.fn(spark, sfDir).collect().toSeq
    assert(a1 == a2)
    val b1 = SampleQueries.sampleHashMod.fn(spark, sfDir).collect().toSeq
    val b2 = SampleQueries.sampleHashMod.fn(spark, sfDir).collect().toSeq
    assert(b1 == b2)
    // stratified sampler returns at most k = 20 per stratum
    val perLang = a1.groupBy(_.getString(0)).map(_._2.size)
    assert(perLang.forall(_ <= 20))
  }

  test("HLL sketch columns: per-slice estimates within 5% of exact, union ≡ sketch-of-union") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val got = AggQueries.aggHllPartitioned.fn(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, d) =>
      assert(math.abs(got(t) - d) <= math.max(1L, (d * 0.05).toLong),
        s"$t: est ${got(t)} vs exact $d")
    }
    val exactAll = ev.agg(countDistinct($"user_id")).head().getLong(0)
    assert(math.abs(got("__all__") - exactAll)
      <= math.max(1L, (exactAll * 0.05).toLong))
    // merging per-slice sketches equals sketching the unsliced stream
    val direct = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))"))
      .head().getLong(0)
    assert(got("__all__") == direct,
      "union-of-sketches diverged from sketch-of-union")
  }

  test("splitAssign partitions the corpus: one label per row, all rows covered, deterministic") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val n = docs.count()
    val s1 = graft.api.Sampling.splitAssign(docs, "doc_id")
      .select($"doc_id", $"split").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // every row labeled, labels from the declared set, total preserved
    assert(s1.size == n)
    assert(s1.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    assert(s1.map(_._1).distinct.size == n)
    // deterministic across invocations
    val s2 = graft.api.Sampling.splitAssign(docs, "doc_id")
      .select($"doc_id", $"split").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(s1 == s2)
    // 8/1/1 weights roughly respected (binomial slack on 500 rows)
    val byLabel = s1.groupBy(_._2).view.mapValues(_.size.toDouble / n)
    assert(byLabel("train") > 0.7 && byLabel("train") < 0.9)
  }

  test("splitAssign refuses to overwrite an existing split column; outCol renames") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val once = graft.api.Sampling.splitAssign(docs, "doc_id")
    val e = intercept[IllegalArgumentException] {
      graft.api.Sampling.splitAssign(once, "doc_id")
    }
    assert(e.getMessage.contains("already exists"))
    // a caller that wants a second assignment names it explicitly
    val renamed = graft.api.Sampling.splitAssign(once, "doc_id",
      outCol = "split2")
    assert(renamed.columns.count(_.startsWith("split")) == 2)
    // and the relabel is consistent with the default (same salt)
    assert(renamed.filter($"split" =!= $"split2").count() == 0)
  }

  test("exact dedup is idempotent") {
    val once = DedupQueries.dedupExact.fn(spark, sfDir).collect()
    val again = DedupQueries.dedupExact.fn(spark, sfDir).collect()
    assert(once.toSeq == again.toSeq)
    // survivors never exceed input docs and cover all langs
    val total = once.map(_.getLong(1)).sum
    val docs = Tables.documents(spark, sfDir).count()
    assert(total <= docs && total > 0)
  }

  test("LSH top-k recall >= 0.5 vs brute force (bucketed search is approximate)") {
    val lsh = SimQueries.simTopkLsh.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = {
      val e = Tables.embeddings(spark, sfDir).select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val rows = e.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      rows.keys.filter(_ < 50).flatMap { p =>
        rows.toSeq.filter(_._1 != p)
          .map { case (id, v) => (id, cos(rows(p), v)) }
          .sortBy { case (id, c) => (-c, id) }.take(3)
          .map { case (id, _) => (p, id) }
      }.toSet
    }
    val recall = (lsh & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
    info(f"LSH top-3 recall vs brute force: $recall%.2f")
  }

  test("IVF top-k recall >= 0.5 vs brute force (cell-probed search is approximate)") {
    val ivf = SimQueries.simTopkIvf.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = SimQueries.simCosineTopk.fn(spark, sfDir)
      .filter(col("rk") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // brute query uses probes vec_id < 5; restrict ivf to the same
    val ivf5 = ivf.filter(_._1 < 5)
    val brute5 = brute.filter(_._1 < 5)
    val recall = (ivf5 & brute5).size.toDouble / brute5.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
    info(f"IVF top-3 recall vs brute force: $recall%.2f")
  }

  test("kmeans clusters partition the embeddings and are deterministic") {
    val r1 = MiningQueries.miningKmeans.fn(spark, sfDir).collect()
    val r2 = MiningQueries.miningKmeans.fn(spark, sfDir).collect()
    assert(r1.toSeq == r2.toSeq, "fixed-seed unrolled kmeans must be deterministic")
    val total = r1.map(_.getLong(1)).sum
    assert(total == Tables.embeddings(spark, sfDir).count())
    assert(r1.length <= 4 && r1.nonEmpty)
    // inertia is non-negative and finite
    assert(r1.forall(r => r.getDouble(2) >= 0.0 && !r.getDouble(2).isNaN))
  }

  test("union/except algebra: (A union B) except B subset-of A") {
    val a = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1995).select($"o_custkey")
    val b = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1998).select($"o_custkey")
    val lhs = a.union(b).except(b)
    assert(lhs.except(a).count() == 0)
  }

  test("sq8 top-k: high recall vs brute force and EXACT re-ranked cosines") {
    val sq8 = SimQueries.simTopkSq8.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val brute = SimQueries.simCosineTopk.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // recall: the int8 shortlist may only miss a true neighbor whose
    // quantized rank fell outside the 40-row shortlist — rare at 8×
    // overfetch
    val recall = (sq8.keySet & brute.keySet).size.toDouble / brute.size
    assert(recall >= 0.9, s"SQ8 recall $recall too low")
    // exactness: every returned cosine is the float cosine, not the
    // quantized approximation — the re-rank stage fetched the floats
    (sq8.keySet & brute.keySet).foreach { pair =>
      assert(sq8(pair) == brute(pair),
        s"sq8 cosine for $pair is ${sq8(pair)}, exact is ${brute(pair)}")
    }
    info(f"SQ8 top-5 recall vs brute force: $recall%.2f")
  }

  test("sq8 quantization error is bounded by the rounding grid") {
    // |cos_q - cos| for unit-ish vectors quantized to 127 levels stays
    // within a few grid steps (~2/127); assert a conservative 0.05
    graft.functions.VectorExpressions.register(spark)
    val ev = SimQueries.vecs(spark, sfDir).select(col("vec_id"), col("v"))
    val q = graft.api.Similarity.sq8Quantize(ev, "vec_id", "v")
      .withColumn("qn", sqrt(expr("CAST(vec_dot_i8(q, q) AS DOUBLE)")))
    val pairs = ev.limit(30)
      .select(col("vec_id").as("id1"), col("v").as("va"))
      .withColumn("nrma", expr("vec_norm(va)"))
      .crossJoin(ev.limit(30).select(col("vec_id").as("id2"),
        col("v").as("vb")).withColumn("nrmb", expr("vec_norm(vb)")))
      .filter($"id1" < $"id2")
      .join(q.select(col("vid").as("id1"), col("q").as("qa"),
        col("qn").as("qna")), Seq("id1"))
      .join(q.select(col("vid").as("id2"), col("q").as("qb"),
        col("qn").as("qnb")), Seq("id2"))
      .select(
        (expr("vec_dot(va, vb)") / ($"nrma" * $"nrmb")).as("cos"),
        (expr("CAST(vec_dot_i8(qa, qb) AS DOUBLE)")
          / ($"qna" * $"qnb")).as("qcos"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.05,
        s"quantized cosine ${r.getDouble(1)} vs exact ${r.getDouble(0)}")
    }
  }

  test("semantic dedup: subset of exact pairs, exact cosines, useful recall, deterministic") {
    val sem = SimQueries.dedupSemantic.fn(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val sem2 = SimQueries.dedupSemantic.fn(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(sem == sem2, "quantizer is deterministic, so pairs must be")
    val exact = DedupQueries.dedupEmbedCosine.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision 1.0: every within-cell pair is a true tau-pair with
    // the exact cosine (the cell blocking can only LOSE pairs)
    sem.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"semantic pair $pair not in exact set")
      assert(exact(pair) == c, s"cosine drift on $pair: $c vs ${exact(pair)}")
    }
    // recall: cells must keep a useful share of true pairs (SemDeDup's
    // trade — near-dups usually co-locate in embedding space)
    val recall = sem.size.toDouble / exact.size
    assert(exact.nonEmpty && recall >= 0.3,
      s"semantic recall $recall too low (${sem.size}/${exact.size})")
    info(f"semantic dedup recall vs exact all-pairs: $recall%.2f")
  }

  test("semantic dedup from the saved IVF index equals the in-memory form") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val mem = SimQueries.dedupSemantic.fn(spark, sfDir).collect()
      .map(key).toSet
    val idx = SimQueries.dedupSemanticIndexed.fn(spark, sfDir).collect()
      .map(key).toSet
    assert(mem == idx,
      s"saved-index semantic pairs diverge: mem ${mem.size}, idx ${idx.size}")
    assert(mem.nonEmpty)
  }

  test("agg_approx_percentile brackets the exact grouped percentiles") {
    val approx = AggQueries.aggApproxPercentile.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val exact = AnalyticsQueries.aggPercentiles.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(approx.keySet == exact.keySet)
    // accuracy 10000 on ≤60k rows/group → rank error of a handful of
    // rows; on the integer 1..50 quantity grid that is ≤ ~1 value step
    exact.foreach { case (k, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(k)
      Seq((a25, e25), (a50, e50), (a75, e75)).foreach { case (a, e) =>
        assert(math.abs(a - e) <= 1.0,
          s"$k: approx percentile $a vs exact $e drifted > 1 quantity step")
      }
    }
  }

  test("dedup_span_global: conservation, exact-dup annihilation, first-doc survival") {
    val rows = DedupQueries.dedupSpanGlobal.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // per-doc conservation: kept never exceeds owned, token counts
    // bound span counts (1..8 tokens per span)
    rows.values.foreach { case (nSpans, nToks, nKept, toksKept) =>
      assert(nKept <= nSpans && toksKept <= nToks)
      assert(nKept <= toksKept && toksKept <= 8 * nKept)
    }
    // global conservation: exactly one survivor per distinct span text
    val distinctSpans = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("ts"))
      .selectExpr("explode(sequence(0, (size(ts)+7) div 8 - 1)) as c",
        "ts")
      .selectExpr("array_join(slice(ts, cast(c*8+1 as int), 8), ' ') as s")
      .distinct().count()
    assert(rows.values.map(_._3).sum == distinctSpans,
      "kept spans across the corpus must equal distinct span texts")
    // planted corpus: an exact copy must lose ALL spans; a doc whose
    // first chunk-aligned half copies an earlier doc keeps only the
    // novel half (the rewrite semantics, pinned deterministically)
    val a = (1 to 16).map(i => s"w$i").mkString(" ")   // 2 full chunks
    val b = (17 to 32).map(i => s"w$i").mkString(" ")
    val dir = s"/tmp/graft_span_spec_${System.nanoTime()}"
    Seq((1L, a), (2L, a), (3L, s"$a $b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = DedupQueries.dedupSpanGlobal.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(planted(1L) == ((2L, 16L)), "original keeps both spans")
    assert(planted(2L) == ((0L, 0L)), "exact copy must be annihilated")
    assert(planted(3L) == ((2L, 16L)),
      "half-copy keeps exactly its novel chunks")
    // the lowest doc_id's FIRST span sits at the globally smallest
    // encoded position, so it is unconditionally a survivor (a doc
    // may still lose later spans to its own earlier ones)
    val first = rows.keys.min
    assert(rows(first)._3 >= 1,
      "the first document's first span must survive")
  }

  test("text_entropy: bounded by ln(26), 0 for single-class, maximal for uniform") {
    val rows = TextQueries.textEntropy.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getDouble(2)
      assert(e >= 0 && e <= math.log(26) + 1e-9,
        s"entropy $e out of [0, ln 26] for doc ${r.getLong(0)}")
    }
    // planted fixtures: single-letter text → 0; 26-letter pangram-ish
    // uniform text → exactly ln(26) (up to the 8-place log rounding)
    val dir = s"/tmp/graft_entropy_spec_${System.nanoTime()}"
    Seq((1L, "aaaa aaa aa"), (2L, ('a' to 'z').mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = TextQueries.textEntropy.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(planted(1L) == 0.0, "single-class entropy must be exactly 0")
    assert(math.abs(planted(2L) - math.log(26)) < 1e-5,
      s"uniform 26-class entropy ${planted(2L)} must be ~ln(26)")
  }

  test("text_pii_audit: planted counts reconcile, scrub leaves nothing") {
    val rows = TextQueries.textPiiAudit.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val (emails, ips, phones, leftover) = rows.foldLeft((0L, 0L, 0L, 0L)) {
      case ((e, i, p, l), r) => (e + r.getLong(3), i + r.getLong(4),
        p + r.getLong(5), l + r.getLong(6))
    }
    val ids = Tables.documents(spark, sfDir).select($"doc_id")
      .as[Long].collect()
    assert(emails == ids.count(_ % 7 == 0),
      "every planted email (and nothing else) must be detected")
    assert(ips == ids.count(_ % 13 == 0))
    assert(phones == ids.count(_ % 11 == 0))
    assert(leftover == 0, "the scrub pass must redact every match")
  }

  test("sample_temperature: rare sources keep proportionally more, budget honored") {
    val rows = SampleQueries.sampleTemperature.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // thresholds (keep rates) must be non-increasing in source size
    rows.sortBy(_._2).sliding(2).foreach {
      case Array((_, n1, t1, _), (_, n2, t2, _)) =>
        if (n1 < n2) assert(t1 >= t2,
          s"smaller source (n=$n1, thr=$t1) must keep at least the " +
            s"rate of a larger one (n=$n2, thr=$t2)")
      case _ =>
    }
    // kept counts track their expected rate loosely (hash variance);
    // the total lands near the half-corpus budget
    val total = rows.map(_._2).sum
    val kept = rows.map(_._4).sum
    assert(kept > 0 && kept < total)
    assert(math.abs(kept - 0.5 * total) < 0.15 * total,
      s"kept $kept vs budget ${0.5 * total} drifted > 15%")
    // determinism across invocations
    val again = SampleQueries.sampleTemperature.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("merge_cdc_apply: latest wins, deletes drop, resurrect and late-delete both honored") {
    val dim = Tables.customer(spark, sfDir)
      .select($"c_custkey".as[Long]).collect().toSet
    val maxK = dim.max
    // recompute the feed semantics independently in plain Scala
    val v1 = dim.filter(k => k % 10 == 0 || k % 17 == 3)
      .map(k => k -> (if (k % 17 == 3) "D" else "U", 1))
    val v2 = dim.filter(k => k % 20 == 0 || k % 23 == 5)
      .map(k => k -> (if (k % 23 == 5) "D" else "U", 2))
    val ins = dim.filter(_ % 25 == 3).map(k => (k + maxK) -> ("I", 2))
    val latest = (v1 ++ v2 ++ ins).groupBy(_._1)
      .map { case (k, ops) => k -> ops.maxBy(_._2._2)._2._1 }
    val expectedRows = dim.count(k => !latest.contains(k)) +
      latest.count(_._2 != "D")
    val expectedChanged = latest.count(_._2 != "D")
    val got = LayoutQueries.mergeCdcApply.fn(spark, sfDir).collect()
    assert(got.map(_.getLong(1)).sum == expectedRows,
      "final row count must match the latest-wins apply")
    assert(got.map(_.getLong(3)).sum == expectedChanged)
    // the planted interaction cases must exist and behave: k=20 gets
    // v1 D + v2 U (resurrected), k=120 gets v1 U + v2 D (dropped)
    assert(latest.get(20L).contains("U") && latest.get(120L).contains("D"),
      "fixture must exercise both version-interaction cases")
    val cdcSeg = got.find(_.getString(0) == "SEG_CDC")
    assert(cdcSeg.exists(_.getLong(1) == dim.count(_ % 25 == 3)),
      "every insert (and only inserts) lands in SEG_CDC")
  }

  test("ev_gap_fill: dense spine, zeros exactly on missing cells, counts conserved") {
    val rows = EventQueries.evGapFill.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3)))
    val types = rows.map(_._1).distinct
    val days = rows.map(_._2).distinct.sorted
    assert(rows.length == types.length * days.length,
      "every (type, day) cell must be present")
    assert(days.zip(days.tail).forall { case (a, b) =>
      java.time.LocalDate.parse(b).minusDays(1) ==
        java.time.LocalDate.parse(a)
    }, "the day spine must be gap-free")
    rows.foreach { case (t, d, cnt, filled) =>
      assert(filled == (cnt == 0L),
        s"is_filled must mark exactly the zero cells ($t $d)")
    }
    val raw = Tables.events(spark, sfDir).count()
    assert(rows.map(_._3).sum == raw,
      "gap filling must conserve the raw event count")
  }

  test("join_point_in_time: every fact row matches exactly one dim version") {
    val got = JoinQueries.joinPointInTime.fn(spark, sfDir).collect()
    val nOrders = Tables.orders(spark, sfDir).count()
    assert(got.map(_.getLong(1)).sum == nOrders,
      "validity ranges must partition time: one version per order")
    // SEG_MOVED rows are exactly the k%4==0 customers' orders on or
    // after the version's effective date
    val moved = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        $"o_custkey" === $"c_custkey")
      .filter($"c_custkey" % 4 === 0 &&
        $"o_orderdate" >= lit("1995-06-01").cast(
          Tables.orders(spark, sfDir).schema("o_orderdate").dataType))
      .count()
    assert(got.find(_.getString(0) == "SEG_MOVED")
      .map(_.getLong(1)).getOrElse(0L) == moved)
  }

  test("agg_weighted_percentile matches an independent in-memory computation") {
    val rows = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_extendedprice",
        $"l_quantity".cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    def wquant(xs: Seq[(Double, Long)], num: Long, den: Long): Double = {
      val sorted = xs.sortBy(_._1)
      val tot = sorted.map(_._2).sum
      var cum = 0L
      sorted.find { case (_, w) => cum += w; den * cum >= num * tot }
        .get._1
    }
    val expect = rows.groupBy(_._1).map { case (f, xs) =>
      f -> (wquant(xs.toIndexedSeq.map(x => (x._2, x._3)), 1, 2),
        wquant(xs.toIndexedSeq.map(x => (x._2, x._3)), 9, 10))
    }
    val got = AggQueries.aggWeightedPercentile.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got == expect, s"weighted percentiles diverged: $got vs $expect")
  }

  test("ev_funnel_steps: monotone stage counts, strict ordering enforced") {
    val rows = EventQueries.evFunnelSteps.fn(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rows.keySet == Set(1, 2, 3))
    // a funnel can only narrow
    assert(rows(1) >= rows(2) && rows(2) >= rows(3),
      s"funnel widened: $rows")
    // stage 1 = users with any view (independent count)
    val viewers = Tables.events(spark, sfDir)
      .filter($"event_type" === "view").select($"user_id").distinct().count()
    assert(rows(1) == viewers)
    // strictness: stage 2 is a SUBSET of users with click-after-view,
    // computed independently via a pairwise join
    val ev = Tables.events(spark, sfDir)
    val oracle2 = ev.filter($"event_type" === "view").as("v")
      .join(ev.filter($"event_type" === "click").as("c"), Seq("user_id"))
      .filter(col("c.ts") > col("v.ts"))
      .select($"user_id").distinct().count()
    assert(rows(2) == oracle2,
      s"stage-2 strict-after count diverged: ${rows(2)} vs $oracle2")
  }

  test("Events.funnel generalizes: 4-step funnel matches a driver-side replay") {
    val ev = Tables.events(spark, sfDir)
    val steps = Seq("view", "click", "purchase", "error")
    val got = graft.api.Events.funnel(ev, "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got.keySet == Set(1, 2, 3, 4))
    assert(got(4)._1 == "view>click>purchase>error")
    assert((1 to 3).forall(k => got(k)._2 >= got(k + 1)._2),
      s"funnel widened: $got")
    // independent replay: per-user sorted event list walked in memory
    val byUser = ev.select($"user_id", $"event_type", unix_micros($"ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val reached = Array.fill(steps.size)(0L)
    byUser.values.foreach { rows =>
      val evs = rows.map(r => (r._3, r._2)).sortBy(_._1)
      var prev = Long.MinValue
      var k = 0
      var done = false
      while (k < steps.size && !done) {
        evs.filter(e => e._2 == steps(k) && e._1 > prev)
          .map(_._1).minOption match {
          case Some(t) => reached(k) += 1; prev = t; k += 1
          case None => done = true
        }
      }
    }
    steps.indices.foreach { i =>
      assert(got(i + 1)._2 == reached(i),
        s"step ${i + 1}: ${got(i + 1)._2} vs replay ${reached(i)}")
    }

    // conversion window: a 2-hour max delay can only narrow each
    // stage, and must match the same replay with the bound applied
    val windowed = graft.api.Events.funnel(ev, "user_id", "event_type",
        "ts", steps, maxDelay = Some("2 hours"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    (1 to 4).foreach { k =>
      assert(windowed(k) <= got(k)._2, s"window widened step $k") }
    assert(windowed(1) == got(1)._2, "step 1 has no preceding bound")
    val boundUs = 2L * 3600 * 1000000
    val reachedW = Array.fill(steps.size)(0L)
    byUser.values.foreach { rows =>
      val evs = rows.map(r => (r._3, r._2)).sortBy(_._1)
      var prev = Long.MinValue
      var k = 0
      var done = false
      while (k < steps.size && !done) {
        evs.filter(e => e._2 == steps(k) && e._1 > prev &&
            (k == 0 || e._1 <= prev + boundUs))
          .map(_._1).minOption match {
          case Some(t) => reachedW(k) += 1; prev = t; k += 1
          case None => done = true
        }
      }
    }
    steps.indices.foreach { i =>
      assert(windowed(i + 1) == reachedW(i),
        s"windowed step ${i + 1}: ${windowed(i + 1)} vs ${reachedW(i)}")
    }
  }

  test("text_dedup_url: canonical collisions are real, one keep per url") {
    val got = TextQueries.textDedupUrl.fn(spark, sfDir)
    // exactly one keep per canonical url, and it is the min doc_id
    val perUrl = got.groupBy($"url")
      .agg(count(lit(1)).as("n"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_keep"),
        min($"doc_id").as("min_id"),
        min(when($"keep", $"doc_id")).as("keep_id"))
    assert(perUrl.filter($"n_keep" =!= 1L).count() == 0,
      "every canonical url must keep exactly one doc")
    assert(perUrl.filter($"keep_id" =!= $"min_id").count() == 0,
      "the keep must be the smallest doc_id")
    // the derived raw urls genuinely collide (scheme/www/query/slash
    // variants of the same host+path) — some group has >1 member
    assert(perUrl.filter($"n" > 1).count() > 0,
      "fixture must produce real canonical collisions")
    // canonicalizer unit cases
    import graft.api.Text
    val cases = Seq(
      "HTTP://WWW.A.com/x/" -> "a.com/x",
      "https://a.com/x#frag" -> "a.com/x",
      "http://a.com/x?q=1" -> "a.com/x",
      "https://www.a.com/x" -> "a.com/x",
      "https://a.com/" -> "a.com").toDF("raw", "want")
    assert(cases.filter(Text.canonicalUrl($"raw") =!= $"want").count() == 0,
      "canonicalUrl unit cases diverged")
  }

  test("sim_range_ivf: precision 1.0 vs brute force, exact cosines, recall bounded") {
    val got = SimQueries.simRangeIvf.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .as("v"))
    val exact = graft.api.Similarity.cosineTopK(
        ev, ev.filter($"vec_id" < 20), "vec_id", "v",
        k = Int.MaxValue - 1)
      .filter($"cosine" >= 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    got.foreach { case (pair, cos) =>
      assert(exact.contains(pair),
        s"range hit $pair not in the exact threshold set (precision < 1)")
      assert(exact(pair) == cos, s"cosine mismatch for $pair")
    }
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.5,
      s"cell recall $recall collapsed (${got.size}/${exact.size})")
  }

  test("embed_dim_stats: 64 dims, exact n, mean/variance track a replay") {
    val rows = SimQueries.embedDimStats.fn(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 64))
    val nvec = Tables.embeddings(spark, sfDir).count()
    val byDim = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .flatMap(r => r.getSeq[Float](1).zipWithIndex
        .map { case (x, i) => i -> x.toDouble })
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    rows.foreach { r =>
      val (dim, n, mean, variance, mn, mx) = (r.getInt(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(n == nvec)
      val xs = byDim(dim)
      assert(mn == xs.min && mx == xs.max)
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      assert(math.abs(mean - m) < 1e-5, s"dim $dim mean $mean vs $m")
      assert(math.abs(variance - v) < 1e-5, s"dim $dim var $variance vs $v")
      assert(mn <= mean && mean <= mx)
    }
  }

  test("ev_user_paths: top-10 matches an in-memory path replay") {
    val got = EventQueries.evUserPaths.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val events = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = events.groupBy(_._1).values.flatMap { rows =>
      val seq = rows.sortBy(r => (r._2, r._3)).map(_._4)
      seq.sliding(3).filter(_.size == 3).map(_.mkString(">"))
    }
    val expect = paths.toSeq.groupBy(identity)
      .map { case (p, xs) => (p, xs.size.toLong) }.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(10)
    assert(got == expect, s"paths diverged:\n$got\nvs\n$expect")
  }

  test("text_vocab_oov: per-lang totals and OOV decisions replay exactly") {
    val got = TextQueries.textVocabOov.fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val toks = Tables.documents(spark, sfDir)
      .select($"lang", $"text").collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (r.getString(0), t)))
    val global = toks.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val total = global.values.sum
    val minCnt = total / (global.size * 10)
    val byLang = toks.groupBy(_._1)
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, xs) =>
      val cnts = xs.groupBy(_._2).map { case (t, ys) => t -> ys.size.toLong }
      val oovToks = cnts.filter { case (t, _) => global(t) < minCnt }
      val expect = (xs.size.toLong, cnts.size.toLong,
        oovToks.values.sum, oovToks.size.toLong)
      assert(got(lang) == expect, s"$lang: ${got(lang)} vs $expect")
    }
  }

  test("text_bpe_merges: the 3-round trajectory matches an in-memory BPE") {
    val got = TextQueries.textBpeMerges.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    // classic dictionary BPE: freq-weighted pair counts over distinct
    // words, (cnt desc, pair asc) argmax, greedy left-to-right merge
    var words: Map[List[String], Long] = Tables.documents(spark, sfDir)
      .select($"text").collect()
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity)
      .map { case (w, xs) => w.toList.map(_.toString) -> xs.size.toLong }
    (1 to 3).foreach { r =>
      val pairCnt = words.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2)
          .map(p => (p.mkString(" "), f))
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val (bestPair, bestCnt) = pairCnt.toSeq
        .sortBy { case (p, c) => (-c, p) }.head
      assert(got(r - 1) == ((r, bestPair, bestCnt)),
        s"round $r: ${got(r - 1)} vs ($r, $bestPair, $bestCnt)")
      val Array(a, b) = bestPair.split(" ")
      words = words.map { case (syms, f) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toList -> f
      }
    }
  }

  test("dq_audit: violations bounded by checked; the real temporal violation fires") {
    val rows = AuditQueries.dqAudit.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 7)
    rows.foreach { case (rule, (v, c)) =>
      assert(v >= 0 && v <= c, s"$rule: $v of $c") }
    // the synthetic fixture's ship dates are independent of order
    // dates, so the temporal-sanity rule must genuinely fire...
    assert(rows("lineitem_ship_before_order")._1 > 0)
    // ...while the key-generated referential rules must not
    assert(rows("lineitem_orphan_orderkey")._1 == 0)
    assert(rows("orders_dup_orderkey")._1 == 0)
  }

  test("bpeMerges fails loudly when merges are exhausted") {
    // single-character words have no symbol pairs: requesting a merge
    // round anyway must throw, not silently annihilate the word table
    val docs = Seq("a b c", "b c a").toDF("text")
    val ex = intercept[IllegalArgumentException] {
      graft.api.Text.bpeMerges(docs, "text", rounds = 1)
    }
    assert(ex.getMessage.contains("no symbol pairs"))
  }

  test("join_interval_overlap: banded pairs equal the brute-force overlap set") {
    val got = JoinQueries.joinIntervalOverlap.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", unix_micros($"ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val errs = ev.filter(_._2 == "error")
      .map(e => (e._1, e._3, e._3 + 180000000L))
    val purch = ev.filter(_._2 == "purchase")
      .map(p => (p._1, p._3 - 120000000L, p._3))
    val expect = (for {
      (i, s1, e1) <- errs
      (t, s2, e2) <- purch
      if s1 <= e2 && s2 <= e1
    } yield (i, t) -> (math.min(e1, e2) - math.max(s1, s2))).toMap
    assert(got == expect && got.nonEmpty,
      s"banded (${got.size}) vs brute-force (${expect.size}) diverged")
  }

  test("text_bpe_segment: conservation, fertility bounds, merge consistency") {
    val got = TextQueries.textBpeSegment.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wordsByLang = docs.groupBy(_._1)
      .map { case (l, xs) => l -> xs.flatMap(_._2.split(" ")) }
    assert(got.keySet == wordsByLang.keySet)
    // 3 merge rounds: each round at most halves a word's symbol
    // count (a merge consumes two symbols per application), so
    // chars >= syms >= chars/8, summed per lang
    wordsByLang.foreach { case (lang, words) =>
      val (nw, nt, tpw) = got(lang)
      assert(nw == words.size.toLong)
      val chars = words.map(_.length.toLong).sum
      assert(nt <= chars && nt * 8 >= chars,
        s"$lang: token total $nt outside [$chars/8, $chars]")
      assert(math.abs(tpw - nt.toDouble / nw) < 1e-5)
    }
    // consistency with the trained merges: applying the bpeMerges
    // pairs greedily to a word gives bpeSegment's n_syms
    val merges = TextQueries.textBpeMerges.fn(spark, sfDir).collect()
      .map(_.getString(1)).toSeq
    val seg = graft.api.Text.bpeSegment(
        Tables.documents(spark, sfDir), "text").collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    seg.keys.take(50).foreach { w =>
      var syms = w.toList.map(_.toString)
      merges.foreach { m =>
        val Array(a, b) = m.split(" ")
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      assert(seg(w) == syms.size, s"'$w': ${seg(w)} vs ${syms.size}")
    }
  }

  test("embed_standardize: norms concentrate near sqrt(d), all labels covered") {
    val got = SimQueries.embedStandardize.fn(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val labels = Tables.embeddings(spark, sfDir)
      .groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.map(_._1).toSet == labels.keySet)
    val sqrtD = math.sqrt(64)
    got.foreach { case (label, (n, avg, mn, mx)) =>
      assert(n == labels(label))
      assert(mn <= avg && avg <= mx)
      // standardized d-dim vectors have E||z|| ~ sqrt(d); a 20% band
      // catches a wrong mean/sd join or a missed dimension
      assert(math.abs(avg - sqrtD) / sqrtD < 0.2,
        s"label $label: avg norm $avg far from sqrt(64)=$sqrtD")
    }
  }

  test("sim_knn_classify: predictions replay from the exact top-5 votes") {
    val got = SimQueries.simKnnClassify.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4))).toMap
    assert(got.nonEmpty)
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val labels = ev.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val topk = graft.api.Similarity.cosineTopK(
        ev.filter($"vec_id" % 50 =!= 0).select($"vec_id", $"v"),
        ev.filter($"vec_id" % 50 === 0).select($"vec_id", $"v"),
        "vec_id", "v", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.keySet == topk.map(_._1).toSet)
    topk.groupBy(_._1).foreach { case (probe, xs) =>
      val votes = xs.map(x => labels(x._2).toLong)
        .groupBy(identity).map { case (l, ys) => l -> ys.size.toLong }
      val (predLabel, n) = votes.toSeq
        .sortBy { case (l, c) => (-c, l) }.head
      val (tl, pl, vn, correct) = got(probe)
      assert(pl.toLong == predLabel && vn == n,
        s"probe $probe: ($pl, $vn) vs ($predLabel, $n)")
      assert(tl == labels(probe) && correct == (tl == pl))
    }
  }

  /** JVM twin of graft.api.Sampling.portableHash (md5 hex first 12). */
  private def portableHashJvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(6).map(b => f"$b%02x").mkString, 16)
  }

  test("text_decontaminate: pair report replays from in-memory 4-gram sets") {
    val got = TextQueries.textDecontaminate.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Set[String] =
      t.split(" ").sliding(4).filter(_.length == 4)
        .map(_.mkString(" ")).toSet
    val isEval = (id: Long) => portableHashJvm(s"eval:$id") % 50 == 0
    val evalGrams = docs.filter(d => isEval(d._1))
      .map { case (id, t) => id -> grams(t) }
    assert(evalGrams.nonEmpty, "fixture should have eval docs")
    val expected = (for {
      (tid, t) <- docs if !isEval(tid)
      tg = grams(t)
      (eid, eg) <- evalGrams
      shared = (tg & eg).size if shared > 0
    } yield (tid, eid) -> shared.toLong).toMap
    assert(got == expected)
    assert(got.keys.forall { case (tid, _) => !isEval(tid) })
  }

  test("sample_token_budget: kept set is the exact greedy quality prefix") {
    val got = SampleQueries.sampleTokenBudget.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val scored = TextQueries.textQualityScore.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    val budget = scored.map(_._2).sum / 4
    var cum = 0L
    val expected = scored.sortBy { case (id, _, q) => (-q, id) }
      .flatMap { case (id, tok, q) =>
        cum += tok
        if (cum <= budget) Some((id, tok, q, cum)) else None
      }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    assert(got.map(_._4).max <= budget)
  }

  test("ev_rolling_active_users: dau/wau replay exactly; wau dominates dau") {
    val got = EventQueries.evRollingActiveUsers.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val du = Tables.events(spark, sfDir)
      .select(to_date($"ts").cast("string"), $"user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val days = du.map(_._1).distinct.sorted
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val expected = days.map { d =>
      val dd = java.time.LocalDate.parse(d, fmt)
      val dau = du.count(_._1 == d).toLong
      val wau = du.filter { case (x, _) =>
        val xd = java.time.LocalDate.parse(x, fmt)
        !xd.isAfter(dd) && !xd.isBefore(dd.minusDays(6))
      }.map(_._2).distinct.size.toLong
      d -> (dau, wau)
    }.toMap
    assert(got == expected)
    got.foreach { case (d, (dau, wau)) =>
      assert(wau >= dau, s"$d: wau $wau < dau $dau")
    }
  }

  test("join_skew_salted: equals the unsalted join; plan is a salted shuffle-hash join") {
    val salted = JoinQueries.joinSkewSalted.fn(spark, sfDir)
    val rates = Map("click" -> BigDecimal("0.01"),
      "view" -> BigDecimal("0.005"), "purchase" -> BigDecimal("1.00"),
      "signup" -> BigDecimal("0.50"), "error" -> BigDecimal("0.00"))
    val plain = Tables.events(spark, sfDir)
      .select($"event_type", round($"value", 2).cast("decimal(12,2)").as("v"))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(1)))
    val expected = plain.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.size.toLong,
        (xs.map(_._2).sum * rates(t)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val gotRows = salted.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(gotRows == expected)
    val physical = salted.queryExecution.executedPlan.toString
    assert(physical.contains("ShuffledHashJoin"),
      "salted join should take the shuffle-hash path")
    assert(physical.contains("salt"),
      "join keys should include the salt column")
  }

  test("merge_delete_apply: purge count reconciles; no deleted key survives in the files") {
    val got = LayoutQueries.mergeDeleteApply.fn(spark, sfDir).collect()
    val orders = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val isDel = (ck: Long) => portableHashJvm(s"gdpr:$ck") % 20 == 0
    val nPurged = orders.count(o => isDel(o._1)).toLong
    assert(nPurged > 0, "fixture should purge some orders")
    assert(got.map(_.getLong(3)).distinct.toSeq == Seq(nPurged))
    assert(got.map(_.getLong(1)).sum == orders.length - nPurged)
    // the published snapshot itself must not contain any deleted key
    val snap = spark.read.parquet(
      "/tmp/graft_layout/gdpr_snapshot__root_testdata_sf0_001")
    val surviving = snap.select($"o_custkey").distinct().collect()
      .map(_.getLong(0))
    assert(surviving.forall(ck => !isDel(ck)))
  }

  test("dq_freshness: lags replay from per-type max ts; newest feed has lag 0") {
    val got = AuditQueries.dqFreshness.fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getBoolean(4))).toMap
    val per = Tables.events(spark, sfDir).groupBy($"event_type")
      .agg(count(lit(1)).as("n"), max(unix_micros($"ts")).as("us"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    val gUs = per.map(_._2._2).max
    assert(got.keySet == per.map(_._1).toSet)
    per.foreach { case (t, (n, us)) =>
      val (gn, _, lag, stale) = got(t)
      assert(gn == n)
      assert(lag == (gUs - us) / 60000000L)
      assert(stale == (lag > 60))
    }
    assert(got.values.exists(_._3 == 0L), "newest feed must show lag 0")
  }

  test("sim_recall_eval: per-probe recall replays from the two tiers' own outputs") {
    val got = SimQueries.simRecallEval.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val probes = ev.filter($"vec_id" < 50)
    val exact = graft.api.Similarity
      .cosineTopK(ev, probes, "vec_id", "v", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val ann = graft.api.Similarity
      .signLshTopK(ev, probes, "vec_id", "v", k = 3, tables = 8, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val byProbe = exact.groupBy(_._1)
    assert(got.keySet == byProbe.keySet)
    byProbe.foreach { case (p, xs) =>
      val hits = xs.count(ann.contains).toLong
      val (nExact, nHits, recall) = got(p)
      assert(nExact == xs.size && nHits == hits,
        s"probe $p: ($nExact, $nHits) vs (${xs.size}, $hits)")
      // query emits recall rounded to 6 places
      assert(math.abs(recall - hits.toDouble / xs.size) < 5e-7)
      assert(nHits <= nExact && recall >= 0.0 && recall <= 1.0)
    }
    // the harness must agree with the standing LSH recall floor
    val mean = got.values.map(_._3).sum / got.size
    assert(mean >= 0.5, s"mean recall $mean below the LSH floor")
  }

  test("multimodal_dedup: top-20 block groups replay from in-memory chunking") {
    val rows = MultimodalQueries.multimodalDedup.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, sfDir)
      .select($"text").collect().map(_.getString(0))
    val blocks = docs.flatMap(_.getBytes("UTF-8").grouped(100))
    val groups = blocks.map { b =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(b).map(x => f"$x%02x").mkString, b.length.toLong)
    }.groupBy(_._1).map { case (h, xs) => (h, xs.size.toLong, xs.head._2) }
    val expected = groups.filter(_._2 >= 2).toSeq
      .sortBy { case (h, n, _) => (-n, h) }.take(20)
      .map { case (h, n, b) => (h, n, b, (n - 1) * b) }
    assert(rows.toSeq == expected)
    rows.foreach { case (_, n, b, saved) =>
      assert(saved == (n - 1) * b && n >= 2)
    }
  }

  test("tpch_q14_promo: shares bounded, promo <= total, months replay") {
    val got = AnalyticsQueries.tpchQ14Promo.fn(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (m, (promo, total, share)) =>
      assert(promo >= 0 && promo <= total, s"$m: promo $promo > total $total")
      assert(share >= 0.0 && share <= 1.0)
      assert(math.abs(share - promo / total) < 5e-7)
    }
    // month spine replays from the raw join
    val months = Tables.lineitem(spark, sfDir)
      .select(date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(got.keySet == months)
  }

  test("tpch_q18_large_orders: top-20 replays from an in-memory aggregation") {
    val got = AnalyticsQueries.tpchQ18LargeOrders.fn(spark, sfDir).collect()
      .map(r => (r.getLong(2), r.getDouble(5)))
    val qty = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
    val expected = qty.toSeq.sortBy { case (k, q) => (-q, k) }.take(20)
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((_, gq), (_, eq)) =>
      assert(math.abs(gq - eq) < 1e-6)
    }
  }

  test("sim_centroid_drift: non-negative, cohorts partition each label, replay") {
    val got = SimQueries.simCentroidDrift.fn(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val perLabel = Tables.embeddings(spark, sfDir)
      .select($"label", $"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val byLabel = perLabel.groupBy(_._1)
    assert(got.keySet == byLabel.keySet)
    byLabel.foreach { case (label, xs) =>
      val (nEven, nOdd, drift) = got(label)
      val (evens, odds) = xs.partition(_._2 % 2 == 0)
      assert(nEven == evens.size && nOdd == odds.size)
      assert(drift >= 0.0)
      // in-memory replay on the same 6-place rounding grid
      def mu(ys: Array[(Int, Long, Seq[Double])], d: Int): BigDecimal =
        (ys.map(_._3(d)).map(BigDecimal(_)).sum / ys.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val dims = xs.head._3.size
      val sq = (0 until dims).map { d =>
        val diff = mu(evens, d) - mu(odds, d); diff * diff
      }.sum
      val expected = BigDecimal(math.sqrt(sq.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(drift - expected) <= 1e-5,
        s"label $label: drift $drift vs replay $expected")
    }
  }

  test("tpch_q6_forecast: matches an unfiltered in-memory replay; filters pushed") {
    // default maxMetadataStringLength=100 truncates PushedFilters in
    // the rendered plan — widen it so the assertions see every filter
    val mk = "spark.sql.maxMetadataStringLength"
    val savedLen = spark.conf.get(mk)
    spark.conf.set(mk, "10000")
    val df = AnalyticsQueries.tpchQ6Forecast.fn(spark, sfDir)
    val Array(row) = df.collect()
    val lines = Tables.lineitem(spark, sfDir)
      .select($"l_shipdate".cast("string"), $"l_discount", $"l_quantity",
        $"l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    val hit = lines.filter { case (d, disc, qty, _) =>
      d >= "1998-01-01" && d < "1999-01-01" &&
        disc >= 0.05 && disc <= 0.07 && qty < 24
    }
    assert(row.getLong(0) == hit.length)
    val expected = hit.map { case (_, disc, _, price) =>
      (BigDecimal(price).setScale(2) * BigDecimal(disc).setScale(2))
    }.sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(1) - expected) < 1e-6)
    // the whole point of Q6: every predicate reaches the scan
    val scan = try df.queryExecution.executedPlan.toString
      finally spark.conf.set(mk, savedLen)
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(l_discount") &&
      scan.contains("LessThan(l_quantity"),
      s"Q6 predicates not pushed:\n$scan")
  }

  test("ev_conversion_lag: lags replay from per-user first view/purchase") {
    val got = EventQueries.evConversionLag.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", unix_micros($"ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val lags = firstView.flatMap { case (u, v) =>
      val ps = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 > v)
      if (ps.isEmpty) None else Some((u, v, ps.map(_._3).min - v))
    }
    def pct(xs: Seq[Long], f: Double): Double = {
      val s = xs.sorted.map(_.toDouble)
      val pos = (s.size - 1) * f
      val lo = s(pos.toInt)
      val hi = s(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val expected = lags.groupBy { case (_, v, _) =>
      fmt.format(new java.util.Date(v / 1000))
    }.map { case (d, xs) =>
      val ls = xs.map(_._3).toSeq
      d -> (ls.size.toLong, pct(ls, 0.5), pct(ls, 0.75))
    }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (d, (n, p50, p75)) =>
      val (gn, g50, g75) = got(d)
      assert(gn == n, s"$d: $gn vs $n")
      assert(math.abs(g50 - p50) < 1.0 && math.abs(g75 - p75) < 1.0,
        s"$d: ($g50, $g75) vs ($p50, $p75)")
    }
  }

  test("text_zipf_fit: slope is negative and replays from token counts") {
    val got = TextQueries.textZipfFit.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val toks = Tables.documents(spark, sfDir)
      .select($"lang", explode(split($"text", " ")).as("t")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = toks.groupBy(_._1)
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, xs) =>
      val counts = xs.groupBy(_._2).map { case (t, ys) => (t, ys.size) }
      val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(100).zipWithIndex
        .map { case ((_, c), i) => (i + 1, c) }
      def r8(v: Double) = BigDecimal(v)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      val n = ranked.size
      val x = ranked.map(p => r8(math.log(p._1.toDouble)))
      val y = ranked.map(p => r8(math.log(p._2.toDouble)))
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      val slope = (n * sxy.toDouble - x.sum.toDouble * y.sum.toDouble) /
        (n * x.map(a => a * a).sum.toDouble
          - x.sum.toDouble * x.sum.toDouble)
      val (gn, gs) = got(lang)
      assert(gn == n)
      assert(gs < 0.0, s"$lang: slope $gs should be negative")
      assert(math.abs(gs - slope) < 1e-5, s"$lang: $gs vs $slope")
    }
  }

  test("text_langid_confusion: matrix aggregates text_lang_id's per-doc rows") {
    val matrix = TextQueries.textLangidConfusion.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val perDoc = TextQueries.textLangId.fn(spark, sfDir).collect()
      .map(r => (r.getString(2), r.getString(1)))
    val expected = perDoc.groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    assert(matrix == expected)
    // the diagonal must beat chance (1/|langs|) — the fixture's langs
    // share a templated vocabulary, so accuracy is far from 1.0; that
    // weakness is exactly what this matrix exists to expose
    val correct = matrix.collect { case ((a, p), n) if a == p => n }.sum
    val nLangs = matrix.keys.map(_._1).toSet.size
    assert(correct * nLangs > matrix.values.sum,
      s"diagonal $correct of ${matrix.values.sum} under chance (1/$nLangs)")
  }

  test("dedup_split_leakage: pairs are the straddling subset of the candidate graph") {
    val leaks = DedupQueries.dedupSplitLeakage.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSeq
    val allPairs = DedupQueries.dedupNearMinhash.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(leaks.nonEmpty,
      "dup-dense fixture should leak across a hash split")
    def split(id: Long): String = {
      val b = portableHashJvm(s"spl:$id") % 10
      if (b < 8) "train" else if (b < 9) "val" else "test"
    }
    leaks.foreach { case (d1, d2, s1, s2) =>
      assert(allPairs.contains((d1, d2)), s"($d1,$d2) not a candidate pair")
      assert(s1 == split(d1) && s2 == split(d2) && s1 != s2)
    }
    // completeness: every straddling candidate pair is reported
    val expected = allPairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaks.map(p => (p._1, p._2)).toSet == expected)
  }

  test("ev_velocity_burst: top-20 replays; burst hour is the earliest argmax") {
    val got = EventQueries.evVelocityBurst.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val ev = Tables.events(spark, sfDir)
      .select($"user_id",
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      val hours = xs.groupBy(_._2).map { case (h, ys) => (h, ys.size) }
      val mx = hours.values.max
      val earliest = hours.filter(_._2 == mx).keys.min
      (u, mx.toLong, earliest, hours.size.toLong)
    }
    val expected = perUser.toSeq
      .sortBy { case (u, mx, _, _) => (-mx, u) }.take(20)
    assert(got.toSeq == expected)
  }

  test("pipeline_filter_funnel: counts chain, rates consistent, stages monotone") {
    val rows = PipelineQueries.pipelineFilterFunnel.fn(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (0 to 4))
    // sequential chaining: each stage's n_in is the previous n_kept
    rows.sliding(2).foreach { case Array((_, _, _, kept, _),
        (_, st, in, _, _)) =>
      assert(in == kept, s"$st: n_in $in != previous n_kept $kept")
    }
    rows.foreach { case (_, st, in, kept, rate) =>
      assert(kept <= in, s"$st grew the corpus")
      assert(math.abs(rate - kept.toDouble / in) < 5e-7)
    }
    // every gate must do SOMETHING on the fixture (else the
    // thresholds are dead weight)
    val dropping = rows.drop(1).count { case (_, _, in, kept, _) =>
      kept < in }
    assert(dropping >= 2, s"only $dropping gates dropped anything")
  }

  test("ev_attribution_linear: credit conserves the purchase value exactly") {
    val rows = EventQueries.evAttributionLinear.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val total = rows.map(_._3).sum
    val purchases = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .agg(sum(round($"value", 2).cast("decimal(12,2)"))).collect()(0)
      .getDecimal(0).doubleValue()
    // linear attribution splits each purchase across its touches —
    // the credited total must reconcile with the purchase total up to
    // the per-touch 6-place rounding (bounded by credits * 5e-7)
    val nCredits = rows.map(_._2).sum
    assert(math.abs(total - purchases) <= nCredits * 5e-7 + 0.01,
      s"credited $total vs purchases $purchases")
    assert(rows.map(_._1).toSet.subsetOf(Set("view", "click", "(none)")))
  }

  test("sim_hybrid_search: fusion replays from the two tiers' own rankings") {
    val got = SimQueries.simHybridSearch.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.groupBy(_._1).forall(_._2.length <= 5))
    // replay: lexical shared-term top-10 + exact cosine top-10 → RRF
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet)
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probes = docs.map(_._1).filter(_ < 5)
    val expected = probes.flatMap { p =>
      val pt = docs.toMap.apply(p)
      val lex = docs.filter(_._1 != p)
        .map { case (d, ts) => (d, (ts & pt).size) }
        .filter(_._2 > 0)
        .sortBy { case (d, sh) => (-sh, d) }.take(10).zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      val pv = ev.toMap.apply(p)
      val vr = ev.filter(_._1 != p)
        .map { case (d, v) => (d, cos(pv, v)) }
        .sortBy { case (d, c) => (-c, d) }.take(10).zipWithIndex
        .map { case ((d, _), i) => d -> (i + 1) }.toMap
      (lex.keySet ++ vr.keySet).toSeq.map { d =>
        val rrf = BigDecimal(
          lex.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
            + vr.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, d, rrf)
      }.sortBy { case (_, d, s) => (-s, d) }.take(5).zipWithIndex
        .map { case ((pp, d, s), i) => (pp, i + 1, d, s) }
    }
    assert(got.toSeq.sortBy(r => (r._1, r._2)) ==
      expected.toSeq.sortBy(r => (r._1, r._2)))
  }

  test("ev_cohort_ltv: cumulative values are monotone and reconcile with the purchase total") {
    val rows = EventQueries.evCohortLtv.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, xs) =>
      val sorted = xs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, _, a), (_, _, _, b)) =>
          assert(b >= a, s"$cohort: cum_value not monotone")
        case _ =>
      }
    }
    // the final cumulative value per cohort sums to the purchase total
    val perCohortFinal = rows.groupBy(_._1)
      .map { case (_, xs) => xs.maxBy(_._2)._4 }.sum
    val total = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .agg(sum(round($"value", 2).cast("decimal(12,2)"))).collect()(0)
      .getDecimal(0).doubleValue()
    assert(math.abs(perCohortFinal - total) < 0.05,
      s"LTV tails $perCohortFinal vs purchases $total")
  }

  test("dq_drift_psi: shares sum to ~1 per cohort; terms replay; sign logic holds") {
    val rows = AuditQueries.dqDriftPsi.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    rows.foreach { case (k, pa, pb, term) =>
      // PSI terms are non-negative by construction: (pa-pb) and
      // ln(pa/pb) always share a sign
      assert(term >= 0.0, s"$k: negative PSI term $term")
      val replay = BigDecimal((pa - pb) *
        BigDecimal(math.log(pa / pb))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(term - replay) < 1e-9, s"$k: $term vs $replay")
    }
  }

  test("tpch_q13_custdist: histogram covers every customer; outer join keeps the 0 bucket") {
    val rows = AnalyticsQueries.tpchQ13Custdist.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nCust = Tables.customer(spark, sfDir).count()
    assert(rows.map(_._2).sum == nCust,
      "histogram must partition the customer set")
    // replay from the raw tables
    val orderCounts = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val custKeys = Tables.customer(spark, sfDir)
      .select($"c_custkey").collect().map(_.getLong(0))
    val expected = custKeys.map(k => orderCounts.getOrElse(k, 0L))
      .groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }
    assert(rows.toMap == expected)
    // the LEFT JOIN point: if any customer has no orders, bucket 0 exists
    val zeroCust = custKeys.count(k => !orderCounts.contains(k))
    if (zeroCust > 0)
      assert(rows.toMap.get(0L).contains(zeroCust.toLong))
  }

  test("sim_hybrid_indexed: equals the in-memory spelling; postings scan is bucket-pruned") {
    val mk = "spark.sql.maxMetadataStringLength"
    val savedLen = spark.conf.get(mk)
    spark.conf.set(mk, "10000")
    val indexed = SimQueries.simHybridIndexed.fn(spark, sfDir)
    val plan = try indexed.queryExecution.executedPlan.toString
      finally spark.conf.set(mk, savedLen)
    val got = indexed.collect().map(_.toSeq).toSeq
    val inMem = SimQueries.simHybridSearch.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == inMem, "saved-index spelling diverged from in-memory")
    // the point of the index: the postings read must prune on bkt
    val pruneRe = """PartitionFilters: \[[^\]]*bkt[^\]]*\]""".r
    assert(pruneRe.findFirstIn(plan).isDefined,
      s"no bkt PartitionFilters on the postings scan:\n$plan")
  }

  test("sim_bm25_indexed: equals the from-scratch spelling; scans are bucket-pruned") {
    val mk = "spark.sql.maxMetadataStringLength"
    val savedLen = spark.conf.get(mk)
    spark.conf.set(mk, "10000")
    val indexed = SimQueries.simBm25Indexed.fn(spark, sfDir)
    val plan = try indexed.queryExecution.executedPlan.toString
      finally spark.conf.set(mk, savedLen)
    val got = indexed.collect().map(_.toSeq).toSeq
    val inMem = SimQueries.simBm25Topk.fn(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == inMem, "saved-index spelling diverged from in-memory")
    // the point of the index: postings + termstats reads prune on bkt
    val pruneRe = """PartitionFilters: \[[^\]]*bkt[^\]]*\]""".r
    assert(pruneRe.findAllIn(plan).size >= 2,
      s"bkt PartitionFilters missing on postings/termstats scans:\n$plan")
  }

  test("ev_attribution_position: credit conserves touched purchases; models agree on totals") {
    val pos = EventQueries.evAttributionPosition.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val lin = EventQueries.evAttributionLinear.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // position model has no '(none)' row; its credited total must equal
    // the linear model's TOUCHED total (same purchases, weights both
    // sum to 1 per purchase) up to per-touch rounding
    val posTotal = pos.map(_._3).sum
    val linTouched = lin.filter(_._1 != "(none)").map(_._3).sum
    val nCredits = pos.map(_._2).sum
    assert(math.abs(posTotal - linTouched) <= nCredits * 5e-7 + 0.02,
      s"position $posTotal vs linear touched $linTouched")
    // position credits per TOUCH EVENT, linear per (purchase, type)
    // group — events can only be at least as many as type groups
    val linByTouch = lin.filter(_._1 != "(none)")
      .map(p => p._1 -> p._2).toMap
    pos.foreach { case (touch, n, _) =>
      assert(n >= linByTouch(touch),
        s"$touch: $n events < ${linByTouch(touch)} type groups")
    }
  }

  test("dq_drift_psi_numeric: bins partition both cohorts; terms non-negative") {
    val rows = AuditQueries.dqDriftPsiNumeric.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).forall(b => b >= 0 && b <= 9))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    rows.foreach { case (b, _, _, term) =>
      assert(term >= 0.0, s"bin $b: negative PSI term")
    }
  }

  test("multimodal_shard_manifest: shards partition the corpus; checksums replay") {
    val rows = MultimodalQueries.multimodalShardManifest.fn(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val docs = Tables.documents(spark, sfDir)
      .select($"text").collect().map(_.getString(0))
    assert(rows.map(_._2).sum == docs.length,
      "shards must partition the corpus")
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(b).map(x => f"$x%02x").mkString
    val byShard = docs.map { t =>
      val bytes = t.getBytes("UTF-8")
      (md5hex(bytes), bytes.length.toLong)
    }.groupBy(_._1.take(2))
    assert(rows.map(_._1).toSet == byShard.keySet)
    rows.foreach { case (shard, n, bytes, manifest) =>
      val members = byShard(shard)
      assert(n == members.length && bytes == members.map(_._2).sum)
      val expected = md5hex(members.map(_._1).sorted
        .mkString(",").getBytes("UTF-8"))
      assert(manifest == expected, s"shard $shard checksum mismatch")
    }
  }

  test("source_csv_gzip: the roundtrip really reads gzip files") {
    val df = SourceQueries.sourceCsvGzip.fn(spark, sfDir)
    assert(df.count() > 0)
    val dir = new java.io.File(
      "/tmp/graft_src/csv_gz_customer__root_testdata_sf0_001")
    val files = dir.listFiles().map(_.getName).filter(_.endsWith(".gz"))
    assert(files.nonEmpty, "no .csv.gz files written")
  }

  test("ev_activity_streaks: gaps-and-islands replay") {
    val got = EventQueries.evActivityStreaks.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val days = Tables.events(spark, sfDir)
      .select($"user_id", date_format(to_date($"ts"), "yyyy-MM-dd"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val perUser = days.groupBy(_._1).map { case (u, xs) =>
      val ds = xs.map(x => java.time.LocalDate.parse(x._2, fmt)).sorted
      // islands: split the sorted day list wherever the gap is > 1 day
      val streaks = ds.foldLeft(List.empty[List[java.time.LocalDate]]) {
        case (acc, d) => acc match {
          case (h :: t) :: rest if h.plusDays(1) == d =>
            (d :: h :: t) :: rest
          case _ => List(d) :: acc
        }
      }.map(s => (s.length.toLong, s.min))
      val (len, start) = streaks.minBy { case (l, st) =>
        (-l, st.toEpochDay) }
      (u, ds.length.toLong, streaks.length.toLong, len, start.toString)
    }
    val expected = perUser.toSeq
      .sortBy { case (u, _, _, l, _) => (-l, u) }.take(20)
    assert(got.toSeq == expected)
  }

  test("ev_interarrival: gap stats replay (exact dyadic percentiles)") {
    val got = EventQueries.evInterarrival.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", unix_micros($"ts"), $"event_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def pct(sorted: Array[Long], f: Double): Double = {
      val pos = f * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (frac == 0) sorted(lo).toDouble
      else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
    }
    val expected = ev.groupBy(_._1).map { case (t, xs) =>
      val gaps = xs.map(x => (x._2, x._3)).sorted.sliding(2)
        .collect { case Array((a, _), (b, _)) => b - a }.toArray.sorted
      (t, gaps.length.toLong,
        BigDecimal(gaps.sum.toDouble / gaps.length / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        pct(gaps, 0.50), pct(gaps, 0.75), gaps.max)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
  }

  test("agg_gini_concentration: rank-formula replay, bounds hold") {
    val got = AggQueries.aggGiniConcentration.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val rev = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_custkey")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2)))
    val expected = rev.groupBy(_._1).map { case (seg, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2)).map(_._3)
      val n = sorted.length
      val srev = sorted.map(BigDecimal(_)).sum
      val swrev = sorted.zipWithIndex
        .map { case (x, i) => BigDecimal(x) * (i + 1) }.sum
      val g = (2.0 * swrev.toDouble - (n + 1) * srev.toDouble) /
        (n * srev.toDouble)
      (seg, n.toLong,
        BigDecimal(srev.toDouble).setScale(2,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(g).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    got.foreach { case (seg, _, _, g) =>
      assert(g >= 0.0 && g < 1.0, s"$seg: gini $g out of [0, 1)")
    }
  }

  test("graph_clustering_coeff: consistent with triangles + degrees") {
    val coeff = GraphQueries.graphClusteringCoeff.fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val tri = GraphQueries.graphTriangles.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // every triangle-carrying node appears, with the same count
    assert(tri.keySet.subsetOf(coeff.map(_._1).toSet))
    coeff.foreach { case (b, deg, t, c) =>
      assert(t == tri.getOrElse(b, 0L), s"$b: triangle count mismatch")
      val expect =
        if (deg < 2) 0.0
        else BigDecimal(2.0 * t / (deg * (deg - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == expect, s"$b: coeff $c != $expect")
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("merge_incremental_agg: merged rollup == full recompute") {
    val got = LayoutQueries.mergeIncrementalAgg.fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    val full = Tables.orders(spark, sfDir)
      .groupBy(date_format(date_trunc("month", $"o_orderdate"),
        "yyyy-MM").as("mon"))
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice".cast("decimal(18,2)")), 2)
          .cast("double").as("tot"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == full.toSeq,
      "incremental merge diverges from the full recompute")
    // the updated flag marks exactly the months at/after the cutoff
    val cut = Tables.orders(spark, sfDir)
      .agg((max($"o_orderdate") - expr("INTERVAL 90 DAY")).as("c"))
    val touched = got.filter(_._4).map(_._1).toSet
    val expectTouched = Tables.orders(spark, sfDir)
      .crossJoin(cut).filter($"o_orderdate" >= $"c")
      .select(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(touched == expectTouched)
  }

  test("embed_sq8_error: per-label distortion replay; step bound holds") {
    val got = SimQueries.embedSq8Error.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"label", $"embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val mx = vecs.flatMap(_._2).map(math.abs).max
    def rnd(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // round half AWAY FROM ZERO (Spark/DuckDB round()), not
    // Math.round's half-towards-positive-infinity
    def rhafz(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perVec = vecs.map { case (l, v) =>
      val errs = v.map { x =>
        x - rhafz(x * 127.0 / math.max(mx, 1e-30)) * mx / 127.0 }
      (l, rnd(errs.foldLeft(0.0)((a, e) => a + e * e), 8),
        rnd(errs.map(math.abs).max, 8))
    }
    val expected = perVec.groupBy(_._1).map { case (l, xs) =>
      val sses = xs.map(x => BigDecimal(x._2))
      (l, xs.length.toLong,
        rnd((sses.sum / xs.length).toDouble, 6),
        rnd(sses.max.toDouble, 6),
        rnd(xs.map(_._3).max, 6))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    // quantization-step bound: per-dim error can never exceed half a
    // step (mx/127/2), up to the 6-place output rounding grid
    got.foreach { case (l, _, _, _, maxErr) =>
      assert(maxErr <= mx / 127.0 / 2.0 + 1e-6, s"label $l step bound")
    }
  }

  test("text_pmi_collocations: PMI replay on the rounded-log grid") {
    val got = TextQueries.textPmiCollocations.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val texts = Tables.documents(spark, sfDir)
      .select($"text").collect().map(_.getString(0))
    val uni = texts.flatMap(_.split(" ", -1))
    val ucnt = uni.groupBy(identity).map { case (k, v) => (k, v.length) }
    val bi = texts.flatMap(t => t.split(" ", -1).sliding(2)
      .collect { case Array(a, b) => s"$a $b" })
    val bcnt = bi.groupBy(identity).map { case (k, v) => (k, v.length) }
      .filter(_._2 >= 3)
    def rnd(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP)
    def l8(c: Long) = rnd(math.log(c.toDouble), 8)
    val nu = uni.length.toLong
    val nb = bi.length.toLong
    val expected = bcnt.map { case (bg, c) =>
      val Array(a, b) = bg.split(" ", -1)
      val p = l8(c) - l8(nb) - l8(ucnt(a)) - l8(ucnt(b)) + l8(nu) + l8(nu)
      (bg, c.toLong, rnd(p.toDouble, 6).toDouble)
    }.toSeq.sortBy { case (bg, _, p) => (-p, bg) }.take(20)
    assert(got.toSeq == expected)
  }

  test("win_bollinger: bands replay from exact decimal window sums") {
    val got = WindowQueries.winBollinger.fn(spark, sfDir).collect()
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_format(to_date($"o_orderdate"), "yyyy-MM-dd").as("d"))
      .agg(sum(round($"o_totalprice", 2).cast("decimal(18,2)")).as("rev"))
      .collect().map(r => (r.getString(0), r.getDecimal(1)))
      .sortBy(_._1)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val revs = daily.map(_._2)
    val expected = daily.indices.map { i =>
      val frame = revs.slice(math.max(0, i - 6), i + 1)
      val n = frame.length
      val s = frame.map(BigDecimal(_)).sum
      val s2 = frame.map(v => (BigDecimal(v) * BigDecimal(v))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      val ma = r6(s.toDouble / n)
      // replay the query's exact-integer-numerator spelling: n4 =
      // 7·(s2·10⁴) − (s·100)² is an exact integer BigDecimal, then one
      // fixed float expression (the r17 half-ULP fix)
      val sd = if (n == 7) {
        val n4 = BigDecimal(7) * (s2 * 10000) - (s * 100) * (s * 100)
        Some(math.floor(
          math.sqrt(n4.toDouble / 420000.0) * 1e6 + 0.5) / 1e6)
      } else None
      val up = sd.map(v => r6(ma + 2 * v))
      val lo = sd.map(v => r6(ma - 2 * v))
      val rev = revs(i).doubleValue
      val brk = sd.map { _ =>
        if (rev > up.get) "above" else if (rev < lo.get) "below" else "in"
      }
      (daily(i)._1, rev, n.toLong, ma, sd, up, lo, brk)
    }
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g.getString(0) == e._1 && g.getDouble(1) == e._2
        && g.getLong(2) == e._3 && g.getDouble(3) == e._4)
      def optD(i: Int): Option[Double] =
        if (g.isNullAt(i)) None else Some(g.getDouble(i))
      assert(optD(4) == e._5 && optD(5) == e._6 && optD(6) == e._7,
        s"bands mismatch on ${e._1}")
      val gb = if (g.isNullAt(7)) None else Some(g.getString(7))
      assert(gb == e._8, s"breakout mismatch on ${e._1}")
    }
    // the first 6 days can't fill the frame; every later day does
    assert(got.take(6).forall(_.isNullAt(4)))
    assert(got.drop(6).forall(r => !r.isNullAt(4)))
  }

  test("ev_growth_accounting: matrix replays from per-day active sets") {
    val got = EventQueries.evGrowthAccounting.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val ud = Tables.events(spark, sfDir)
      .select($"user_id", date_format(to_date($"ts"), "yyyy-MM-dd").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val byDay = ud.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val firstDay = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    def prev(d: String): String =
      java.time.LocalDate.parse(d, fmt).minusDays(1).format(fmt)
    val expected = byDay.keys.toSeq.sorted.map { d =>
      val act = byDay(d)
      val pAct = byDay.getOrElse(prev(d), Set.empty[Long])
      val nu = act.count(u => firstDay(u) == d)
      val ret = act.count(pAct)
      val res = act.size - nu - ret
      val churn = pAct.count(u => !act(u))
      (d, act.size.toLong, nu.toLong, ret.toLong, res.toLong, churn.toLong)
    }
    assert(got.toSeq == expected)
    // identity the query relies on: churned(d) = dau(d-1) - retained(d)
    got.foreach { case (d, dau, nu, ret, res, _) =>
      assert(dau == nu + ret + res, s"$d: dau must decompose exactly")
    }
  }

  test("sim_bm25_topk: scores replay from an in-memory BM25") {
    val got = SimQueries.simBm25Topk.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    def r(x: Double, p: Int): BigDecimal =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP)
    val n = docs.size
    val t = docs.valuesIterator.map(_.length.toLong).sum
    val tf = docs.view.mapValues(_.groupBy(identity).view
      .mapValues(_.length).toMap).toMap
    val df = tf.valuesIterator.flatMap(_.keys).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val idf = df.view.mapValues(d =>
      r(math.log((n - d + 0.5) / (d + 0.5) + 1), 8)).toMap
    val lnorm = docs.view.mapValues(ts =>
      r(0.3 + 0.9 * (ts.length.toDouble * n / t), 8)).toMap
    val probes = docs.keys.filter(_ < 5)
    val expected = probes.flatMap { p =>
      val qterms = docs(p).toSet
      val scores = docs.keys.filter(_ != p).flatMap { d =>
        val terms = qterms.intersect(tf(d).keySet)
        if (terms.isEmpty) None
        else Some(d -> terms.toSeq.map { term =>
          val f = tf(d)(term)
          r(idf(term).toDouble * (f * 2.2)
            / (f + lnorm(d).toDouble), 8)
        }.sum)
      }.toSeq
      scores.sortBy { case (d, s) => (-s, d) }.take(5).zipWithIndex
        .map { case ((d, s), i) =>
          (p, i + 1, d, r(s.toDouble, 6).toDouble) }
    }.toSeq.sortBy(x => (x._1, x._2))
    assert(got.toSeq == expected)
  }

  test("graph_hits: top-10 replays from an in-memory 2-round HITS") {
    val got = GraphQueries.graphHits.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val e = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def r8(x: Double): BigDecimal =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def half(scores: Map[Long, BigDecimal],
        edgesByTo: Map[Long, Seq[Long]]): Map[Long, BigDecimal] = {
      val raw = edgesByTo.view.mapValues(_.map(scores).sum).toMap
      val m = raw.values.max
      raw.view.mapValues(v => r8(v.toDouble / m.toDouble)).toMap
    }
    val byDst = e.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val bySrc = e.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val h0 = bySrc.keys.map(_ -> BigDecimal(1)).toMap
    val a1 = half(h0, byDst)
    val h1 = half(a1, bySrc)
    val a2 = half(h1, byDst)
    val h2 = half(a2, bySrc)
    def top(role: String, m: Map[Long, BigDecimal]) =
      m.toSeq.sortBy { case (n, s) => (-s, n) }.take(10).zipWithIndex
        .map { case ((n, s), i) => (role, i + 1, n,
          s.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val expected = top("authority", a2) ++ top("hub", h2)
    assert(got.toSeq == expected)
  }

  test("dq_fd_violations: rates replay; the multi-sourced-part FD is violated") {
    val got = AuditQueries.dqFdViolations.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    def replay(fd: String, pairs: Seq[(Any, Any)]) = {
      val nd = pairs.distinct.groupBy(_._1).view.mapValues(_.size).toMap
      val viol = nd.values.count(_ > 1)
      (fd, nd.size.toLong, viol.toLong,
        BigDecimal(viol.toDouble / nd.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        nd.values.max.toLong)
    }
    val cust = Tables.customer(spark, sfDir)
      .select($"c_nationkey", $"c_mktsegment").collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_partkey", $"l_suppkey").collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    val ord = Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderpriority").collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    val expected = Seq(
      replay("customer: c_nationkey -> c_mktsegment", cust),
      replay("lineitem: l_partkey -> l_suppkey", li),
      replay("orders: o_custkey -> o_orderpriority", ord))
    assert(got == expected)
    // the report must show a genuinely violated FD, not all-zeros
    assert(got.exists(_._3 > 0), "fixture should violate at least one FD")
  }

  test("agg_mad: median/MAD replay; the MAD fence is mean-free") {
    val got = AggQueries.aggMad.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    val bal = Tables.customer(spark, sfDir)
      .select($"c_mktsegment", $"c_acctbal").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def interp(xs: Array[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (frac == 0) s(lo) else s(lo) + frac * (s(lo + 1) - s(lo))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = bal.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (seg, xs) =>
        val vs = xs.map(_._2)
        val med = interp(vs)
        val adev = vs.map(v => math.abs(v - med))
        val mad = interp(adev)
        val out = adev.count(_ > 3 * 1.4826 * mad)
        (seg, vs.length.toLong, r6(med), r6(mad), out.toLong)
    }
    assert(got.toSeq == expected)
    // outliers exist but are rare (the fence is a tail rule)
    got.foreach { case (seg, n, _, mad, out) =>
      assert(mad > 0, s"$seg: degenerate MAD")
      assert(out < n / 10, s"$seg: MAD fence flagged >10% as outliers")
    }
  }

  test("dedup_threshold_sweep: S-curve replays; precision monotone in tau") {
    val got = DedupQueries.dedupThresholdSweep.fn(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val cand = DedupQueries.dedupNearMinhash.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shingleSets = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet)
      .toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val js = cand.map { case (a, b) =>
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val i = sa.intersect(sb).size
      r6(i.toDouble / (sa.size + sb.size - i))
    }
    val expected = Seq(0.5, 0.6, 0.7, 0.8, 0.9).map { tau =>
      val conf = js.count(_ >= tau)
      (tau, js.length.toLong, conf.toLong, r6(conf.toDouble / js.length))
    }
    assert(got.toSeq == expected)
    // S-curve shape: candidates constant, confirmed non-increasing
    assert(got.map(_._2).distinct.length == 1)
    assert(got.map(_._3).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("text_rake_keywords: top-15 replays from an in-memory RAKE") {
    val got = TextQueries.textRakeKeywords.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val stop = graft.api.Text.defaultStopwords.toSet
    val texts = Tables.documents(spark, sfDir)
      .select($"text").collect().map(_.getString(0))
    def r(x: Double, p: Int): BigDecimal =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP)
    // phrase instances: maximal stopword-free runs per doc
    val instances = texts.flatMap { t =>
      val runs = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]
      t.split(" ", -1).foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs
    }
    val freq = instances.flatten.groupBy(identity).view
      .mapValues(_.length).toMap
    val deg = instances.flatMap(ph => ph.map(_ -> ph.length))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ws = freq.keys.map(w =>
      w -> r(deg(w).toDouble / freq(w), 8)).toMap
    val expected = instances.groupBy(_.mkString(" ")).toSeq
      .map { case (ph, insts) =>
        (ph, insts.length.toLong, insts.head.map(ws).sum) }
      .sortBy { case (ph, _, sc) => (-sc, ph) }.take(15)
      .map { case (ph, c, sc) =>
        (ph, c, r(sc.toDouble, 6).toDouble) }
    assert(got.toSeq == expected)
  }

  test("sim_recall_ivf: recall replays from the two tiers' own answers") {
    val got = SimQueries.simRecallIvf.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // exact ground truth replayed in memory from the raw vectors
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val norms = vecs.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exact = vecs.filter(_._1 < 50).map { case (p, pv) =>
      p -> vecs.filter(_._1 != p).map { case (c, cv) =>
        val dot = pv.zip(cv).map { case (a, b) => a * b }.sum
        (c, r6(dot / (norms(p) * norms(c))))
      }.sortBy { case (c, cos) => (-cos, c) }.take(3).map(_._1).toSet
    }.toMap
    // the ANN answer is the sim_topk_ivf contract query's own output
    val ann = SimQueries.simTopkIvf.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = exact.toSeq.sortBy(_._1).map { case (p, ex) =>
      val hits = ex.intersect(ann.getOrElse(p, Set.empty)).size
      (p, ex.size.toLong, hits.toLong, r6(hits.toDouble / ex.size))
    }
    assert(got.toSeq == expected)
    val mean = got.map(_._4).sum / got.length
    assert(mean >= 0.5, s"IVF nProbe=3/8 mean recall@3 $mean below floor")
  }

  test("multimodal_phash_neardup: pairs replay from in-memory byte simhash") {
    val got = MultimodalQueries.multimodalPhashNeardup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => "%02x".format(b & 0xff)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16)
    }
    def sig(text: String): Long = {
      val hx = text.getBytes("UTF-8").map("%02X".format(_)).mkString
      val nb = text.getBytes("UTF-8").length
      val feats = (0 to math.max(nb - 4, 0))
        .map(i => hx.slice(2 * i, 2 * i + 8)).distinct
      val bal = Array.fill(16)(0)
      feats.foreach { f =>
        val h = h48(f)
        (0 to 15).foreach(j =>
          bal(j) += (if (((h >> j) & 1) == 1) 1 else -1))
      }
      (0 to 15).map(j => if (bal(j) > 0) 1L << j else 0L).sum
    }
    val sigs = docs.map { case (id, t) => (id, sig(t)) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      ham = java.lang.Long.bitCount(sa ^ sb) if ham <= 3
    } yield (a, b, ham)).sortBy(p => (p._1, p._2))
    assert(got.toSeq == expected.toSeq)
    // signature-identical payloads exist (the near-dup template
    // groups) and every reported pair is within the banding bound
    assert(got.exists(_._3 == 0), "no Hamming-0 collisions found")
    assert(got.forall(_._3 <= 3))
    // any byte-identical payloads MUST collide at Hamming 0
    docs.groupBy(_._2).values.filter(_.length > 1).foreach { grp =>
      val ids = grp.map(_._1).sorted.take(2)
      assert(got.contains((ids(0), ids(1), 0)))
    }
  }

  test("ev_hourly_heatmap: cells replay; day shares sum to 1") {
    val got = EventQueries.evHourlyHeatmap.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val ev = Tables.events(spark, sfDir)
      .select(unix_micros($"ts"), $"user_id")
      .collect().map { r =>
        val dt = java.time.Instant.ofEpochSecond(r.getLong(0) / 1000000)
          .atZone(java.time.ZoneOffset.UTC)
        (dt.getDayOfWeek.getValue - 1, dt.getHour, r.getLong(1))
      }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byDay = ev.groupBy(_._1).view.mapValues(_.length).toMap
    val expected = ev.groupBy(e => (e._1, e._2)).toSeq
      .sortBy(_._1)
      .map { case ((dw, hr), xs) =>
        (dw, hr, xs.length.toLong, xs.map(_._3).distinct.length.toLong,
          r6(xs.length.toDouble / byDay(dw)))
      }
    assert(got.toSeq == expected)
    got.groupBy(_._1).foreach { case (dw, cells) =>
      val s = cells.map(_._5).sum
      assert(math.abs(s - 1.0) < 1e-4, s"dow $dw shares sum to $s")
    }
  }

  test("embed_pq_error: distortion replays from the saved index bytes") {
    val got = SimQueries.embedPqError.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val pqPath = graft.IndexStore.stampedPath("ivfpq_c8r8", sfDir,
      "embeddings.parquet")
    val cells = spark.read.parquet(s"$pqPath/cells")
      .select($"vec_id", $"v", $"codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Int](2).toArray))
    val cb = spark.read.parquet(s"$pqPath/codebooks")
      .select($"s", $"code", $"c").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    val labels = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def r(x: Double, p: Int): BigDecimal =
      BigDecimal(x).setScale(p, BigDecimal.RoundingMode.HALF_UP)
    val sse = cells.map { case (id, v, codes) =>
      id -> codes.zipWithIndex.map { case (code, s) =>
        val sub = v.slice(8 * s, 8 * s + 8)
        val c = cb((s, code))
        r(dot(sub, sub) - 2 * dot(sub, c) + dot(c, c), 8)
      }.sum
    }
    val expected = sse.groupBy(x => labels(x._1)).toSeq.sortBy(_._1)
      .map { case (lab, xs) =>
        (lab, xs.length.toLong,
          r(xs.map(_._2).sum.toDouble / xs.length, 6).toDouble,
          r(xs.map(_._2).max.toDouble, 6).toDouble)
      }
    assert(got.toSeq == expected)
    // codes must quantize: every label carries positive distortion
    assert(got.forall(_._3 > 0))
  }

  test("multimodal_cluster_profile: shares partition each cell; cells partition the corpus") {
    val got = MultimodalQueries.multimodalClusterProfile.fn(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // cells partition the joined corpus exactly once
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(got.map(_._3).sum == nDocs)
    // shares sum to 1 within each cell and respect the counts
    got.groupBy(_._1).foreach { case (cid, rows) =>
      val tot = rows.map(_._3).sum
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4,
        s"cell $cid shares do not sum to 1")
      rows.foreach { case (_, lang, n, share) =>
        val exp = BigDecimal(n.toDouble / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(share == exp, s"cell $cid/$lang share mismatch")
      }
    }
    // the per-cell totals must MATCH the saved index's cells exactly
    val ivfPath = graft.IndexStore.stampedPath("ivf_c8", sfDir,
      "embeddings.parquet")
    val idx = spark.read.parquet(s"$ivfPath/cells")
      .groupBy($"cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (cid, rows) =>
      assert(idx.get(cid).contains(rows.map(_._3).sum),
        s"cell $cid size disagrees with the saved index")
    }
    assert(got.map(_._1).toSet == idx.keySet,
      "every saved cell must appear in the profile")
  }

  test("sample_kfold_assign: folds replay from the portable hash and partition the corpus") {
    val got = SampleQueries.sampleKfoldAssign.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def fold(id: Long): Int = {
      val hex = md.digest(s"kf:$id".getBytes("UTF-8"))
        .map(b => "%02x".format(b & 0xff)).mkString.take(12)
      (java.lang.Long.parseLong(hex, 16) % 5).toInt
    }
    val total = docs.length
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.groupBy(d => (fold(d._1), d._2)).toSeq
      .sortBy(_._1)
      .map { case ((f, lang), xs) =>
        (f, lang, xs.length.toLong, xs.map(_._3).sum,
          r6(xs.length.toDouble / total)) }
    assert(got.toSeq == expected)
    // folds partition the corpus; every fold is populated and roughly
    // balanced (hashed assignment: no fold may hold half the corpus)
    assert(got.map(_._3).sum == total)
    val perFold = got.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    assert(perFold.keySet == Set(0, 1, 2, 3, 4))
    perFold.foreach { case (f, n) =>
      assert(n < total / 2, s"fold $f holds $n of $total docs") }
  }

  test("ev_stickiness: ratio replays from (user, day) pairs; bounds hold") {
    val got = EventQueries.evStickiness.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val ud = Tables.events(spark, sfDir)
      .select(date_format(to_date($"ts"), "yyyy-MM-dd").as("d"),
        $"user_id")
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = ud.groupBy(_._1.substring(0, 7)).toSeq.sortBy(_._1)
      .map { case (m, xs) =>
        val days = xs.groupBy(_._1).view.mapValues(_.size).toMap
        val sumDau = days.values.sum.toLong
        val mau = xs.map(_._2).distinct.size.toLong
        val avg = sumDau.toDouble / days.size
        (m, days.size.toLong, sumDau, mau, r6(avg), r6(avg / mau))
      }
    assert(got.toSeq == expected)
    got.foreach { case (m, _, _, mau, avgDau, st) =>
      assert(st > 0 && st <= 1.0, s"$m: stickiness out of range")
      assert(avgDau <= mau, s"$m: avg dau cannot exceed mau")
    }
  }

  test("ev_holt_forecast: fold replays the sequential Holt recursion") {
    val got = EventQueries.evHoltForecast.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (et, xs) =>
        val ys = xs.sortBy(_._2).map(_._3)
        // the textbook sequential recursion, NOT the fold under test
        var l = ys(1); var b = ys(1) - ys(0); var esum = 0.0
        ys.drop(2).foreach { y =>
          val f = l + b
          val l2 = 0.5 * y + 0.5 * (l + b)
          b = 0.25 * (l2 - l) + 0.75 * b
          l = l2
          esum += math.abs(y - f)
        }
        (et, ys.size.toLong, r6(l), r6(b), r6(l + b),
          r6(esum / (ys.size - 2)))
    }
    assert(got.toSeq == expected)
  }

  test("ev_survival_km: curve replays from per-user durations; S is a step-down") {
    val got = EventQueries.evSurvivalKm.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000))
    val firstClick = ev.filter(_._2 == "click").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    // per-user duration under the 48 h administrative horizon
    val durs = firstClick.toSeq.map { case (u, c) =>
      val p = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 > c)
        .map(_._3)
      val lag = if (p.isEmpty) None else Some((p.min - c) / 3600)
      lag match {
        case Some(h) if h < 48 => (h.toInt, 1)
        case _                 => (48, 0)
      }
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var s = 1.0
    val expected = durs.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (t, xs) =>
        val d = xs.count(_._2 == 1).toLong
        val nr = durs.count(_._1 >= t).toLong
        s = s * (1 - d.toDouble / nr)
        if (d > 0)
          Some((t, nr, d, xs.count(_._2 == 0).toLong, r6(s)))
        else None
    }
    assert(got.toSeq == expected)
    // S must be strictly decreasing across emitted rows and in (0, 1]
    got.map(_._5).sliding(2).foreach {
      case Array(a, b) => assert(b < a, "survival must step down")
      case _           =>
    }
    assert(got.forall(r => r._5 > 0 && r._5 <= 1.0))
  }

  test("sample_dedup_weights: each prefix group contributes one effective doc") {
    val got = SampleQueries.sampleDedupWeights.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val docs = Tables.documents(spark, sfDir)
      .select($"lang", $"n_chars", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ", -1).take(8).mkString(" ")))
    val sz = docs.groupBy(_._3).view.mapValues(_.size).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Σ over all langs of eff_docs == number of distinct prefix groups
    // (each group contributes exactly weight 1 in total)
    val totalEff = got.map(_._3).sum
    assert(math.abs(totalEff - sz.size) < 1e-4,
      s"effective docs $totalEff != distinct groups ${sz.size}")
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lang, xs) =>
        val ws = xs.map(x => BigDecimal(1.0 / sz(x._3))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP))
        val eff = ws.sum
        val effChars = xs.zip(ws)
          .map { case (x, w) => w * x._2 }.sum
        (lang, xs.size.toLong, r6(eff.toDouble),
          r6(eff.toDouble / xs.size),
          BigDecimal(effChars.toDouble)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got.toSeq == expected)
  }

  test("text_quality_buckets: buckets partition each lang; means are ordered") {
    val got = TextQueries.textQualityBuckets.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // per-doc scores from the contract query the buckets derive from
    val sur = TextQueries.textSurprisal.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val langOf = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = (s.size - 1) * p
      val lo = pos.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    val expected = sur.groupBy(x => langOf(x._1)).toSeq.sortBy(_._1)
      .flatMap { case (lang, xs) =>
        val q33 = r6(pct(xs.toIndexedSeq.map(_._3), 0.33333333))
        val q66 = r6(pct(xs.toIndexedSeq.map(_._3), 0.66666667))
        xs.map { case (_, nt, s) =>
          val b = if (s <= q33) "head"
                  else if (s <= q66) "middle" else "tail"
          (lang, b, nt, s)
        }.groupBy(_._2).toSeq.sortBy(_._1).map { case (b, ys) =>
          val mean = ys.map(y => BigDecimal(y._4)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum /
            ys.size
          (lang, b, ys.size.toLong, ys.map(_._3).sum,
            r6(mean.toDouble))
        }
      }
    assert(got.toSeq == expected)
    // buckets partition each lang, and head is the most fluent tier
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val m = rows.map(r => r._2 -> r._5).toMap
      assert(m("head") <= m("middle") && m("middle") <= m("tail"),
        s"$lang: bucket means out of order")
    }
  }

  test("graph_assortativity: r replays from the thresholded collocation graph") {
    val r = GraphQueries.graphAssortativity.fn(spark, sfDir)
      .collect().head
    val docs = Tables.documents(spark, sfDir).select($"text").collect()
      .map(_.getString(0).split(" ", -1))
    val pairs = docs.flatMap(t => t.dropRight(1).zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = (s.size - 1) * p
      val lo = pos.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    val t = pct(pairs.values.map(_.toDouble).toSeq, 0.75)
    val e = pairs.toSeq.collect {
      case ((a, b), c) if c > t && a != b => Seq((a, b), (b, a))
    }.flatten.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val m = e.size.toLong
    val (xs, ys) = e.map { case (a, b) => (deg(a), deg(b)) }.unzip
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
    val num = m.toDouble * sxy - sx.toDouble * sy
    val den = math.sqrt(m.toDouble * sxx - sx.toDouble * sx) *
      math.sqrt(m.toDouble * syy - sy.toDouble * sy)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == m && r.getLong(1) == deg.size.toLong)
    assert(r.getDouble(3) == r6(num / den))
    assert(math.abs(r.getDouble(3)) <= 1.0)
    // undirected contract: the degree-decorated edge list is symmetric
    assert(e.toSet == e.map(p => (p._2, p._1)).toSet)
  }

  test("ev_ab_welch: t replays from per-user revenue moments") {
    val r = EventQueries.evAbWelch.fn(spark, sfDir).collect().head
    val rev = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
          round($"value", 2).cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)"))).as("r"))
      .collect()
      .map(x => (x.getLong(0), x.getDecimal(1)))
    def arm(u: Long): Int =
      (graft.streaming.EventStreams.portableHash(u, "ab:") % 2).toInt
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def moments(v: Int): (Long, Double, Double) = {
      val xs = rev.filter(x => arm(x._1) == v).map(_._2)
      val n = xs.length.toLong
      val s = xs.map(BigDecimal(_)).sum
      val q = xs.map(x => BigDecimal(x) * BigDecimal(x)).sum
      val mean = s.toDouble / n
      val varr = (q.toDouble - s.toDouble * s.toDouble / n) / (n - 1)
      (n, mean, varr)
    }
    val (nc, mc, vc) = moments(0)
    val (nt, mt, vt) = moments(1)
    val t = (mt - mc) / math.sqrt(vc / nc + vt / nt)
    assert(r.getLong(0) == nc && r.getLong(3) == nt)
    assert(r.getDouble(1) == r4(mc) && r.getDouble(4) == r4(mt))
    assert(r.getDouble(2) == r4(vc) && r.getDouble(5) == r4(vt))
    assert(r.getDouble(6) == r6(t))
  }

  test("graph_reachability_cte: native UnionLoop executes; BFS replays in memory") {
    val df = GraphQueries.graphReachabilityCte.fn(spark, sfDir)
    // the recursion must be the NATIVE recursive-CTE operator, not a
    // rewritten union — pin the Spark 4.1 UnionLoop in the plan
    assert(df.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      "recursive CTE was not planned as UnionLoop")
    val got = df.collect().map(r => (r.getString(0), r.getInt(1)))
    // replay: classic BFS over the same thresholded collocation edges
    val docs = Tables.documents(spark, sfDir).select($"text").collect()
      .map(_.getString(0).split(" ", -1))
    val pairs = docs.flatMap(t => t.dropRight(1).zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = (s.size - 1) * p
      val lo = pos.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    val t = pct(pairs.values.map(_.toDouble).toSeq, 0.75)
    val adj = pairs.toSeq.collect {
      case ((a, b), c) if c > t && a != b => Seq((a, b), (b, a))
    }.flatten.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = adj.keys.min
    var frontier = Set(seed)
    var dist = Map(seed -> 0)
    (1 to 3).foreach { lvl =>
      frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> lvl)
    }
    val expected = dist.toSeq.map { case (n, d) => (n, d) }
      .sortBy(x => (x._2, x._1))
    assert(got.toSeq == expected)
  }

  test("ev_uplift_cuped: theta and adjusted moments replay; means are theta-invariant") {
    val got = EventQueries.evUpliftCuped.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))
    assert(got.map(_._1).toSeq == Seq(0, 1))
    // theta identical in both rows (pooled)
    assert(got(0)._3 == got(1)._3)
    // CUPED preserves each arm's mean up to theta * (arm mean_x - pooled
    // xbar): with theta near 0 on this fixture, mean_adj ≈ mean_raw,
    // but the exact invariant is pooled: Σ over arms n·(mean_adj -
    // mean_raw) = -theta · Σ n·(mean_x - xbar) = 0 pooled
    val pooledShift = got.map(r => r._2 * (r._5 - r._4)).sum
    assert(math.abs(pooledShift) < 1.0,
      s"pooled adjusted mean drifted: $pooledShift")
    // variance reduction consistent with the reported variances
    got.foreach { r =>
      val vrExpected = 1 - r._7 / r._6
      assert(math.abs(r._8 - vrExpected) < 1e-4,
        s"variant ${r._1}: var_reduction inconsistent")
    }
    // theta = cov/var minimizes POOLED var(Y − θX), so the pooled
    // variance must not increase (per-arm CAN, on small arms — the
    // guarantee is population-level); recombine pooled SS from the
    // per-arm moments
    def pooledVar(sel: ((Int, Long, Double, Double, Double, Double,
        Double, Double)) => (Double, Double)): Double = {
      val n = got.map(_._2).sum
      val mbar = got.map(r => r._2 * sel(r)._1).sum / n
      val ss = got.map { r =>
        val (mean, varr) = sel(r)
        (r._2 - 1) * varr + r._2 * mean * mean
      }.sum
      (ss - n * mbar * mbar) / (n - 1)
    }
    val rawP = pooledVar(r => (r._4, r._6))
    val adjP = pooledVar(r => (r._5, r._7))
    assert(adjP <= rawP * 1.0001,
      s"pooled CUPED variance increased: $adjP vs $rawP")
  }

  test("win_cusum_changepoint: peak replays from the exact decimal cusum walk") {
    val got = WindowQueries.winCusumChangepoint.fn(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (et, xs) =>
        val ys = xs.sortBy(_._2)
        val mu = BigDecimal(ys.map(_._3).sum.toDouble / ys.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        var c = BigDecimal(0)
        val walk = ys.map { case (_, d, n) =>
          c += BigDecimal(n) - mu; (d, c)
        }
        // earliest day with the maximal |cusum|
        val mx = walk.map(_._2.abs).max
        val (cpDay, cpC) = walk.filter(_._2.abs == mx).minBy(_._1)
        (et, ys.size.toLong, r6(mu.toDouble), cpDay, r6(cpC.abs.toDouble),
          if (cpC > 0) "above" else "below")
    }
    assert(got.toSeq == expected)
  }

  test("agg_winsorized_mean: clamp/trim replay; robust means are tail-bounded") {
    val got = AggQueries.aggWinsorizedMean.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
    val rows = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag",
        $"l_extendedprice".cast("decimal(18,2)")).collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1))))
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = (s.size - 1) * p
      val lo = pos.toInt
      if (lo == s.size - 1) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (f, xs) =>
        val vs = xs.map(_._2)
        val lo = BigDecimal(pct(vs.toIndexedSeq.map(_.toDouble), 0.05))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        val hi = BigDecimal(pct(vs.toIndexedSeq.map(_.toDouble), 0.95))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        val wins = vs.map(v => v.max(lo).min(hi))
        val inb = vs.filter(v => v >= lo && v <= hi)
        (f, vs.size.toLong, r4(vs.sum.toDouble / vs.size),
          r4(wins.sum.toDouble / wins.size),
          r4(inb.sum.toDouble / inb.size),
          vs.count(_ < lo).toLong, vs.count(_ > hi).toLong)
    }
    assert(got.toSeq == expected)
    got.foreach { r =>
      assert(r._4 >= math.min(r._3, r._4) && r._6 + r._7 > 0,
        s"${r._1}: tails must actually clip on this fixture")
    }
  }

  test("multimodal_frame_sample: manifest replays from byte windows; stride holds") {
    val got = MultimodalQueries.multimodalFrameSample.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getInt(4)))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val expected = docs.sortBy(_._1).flatMap { case (id, text) =>
      val n = text.getBytes("UTF-8").length
      val offs = 1 to math.max(n - 31, 1) by 128
      offs.zipWithIndex.map { case (o, i) =>
        (id, i, o, md5hex(text.substring(o - 1,
          math.min(o - 1 + 32, text.length))), (n + 31) / 32)
      }
    }
    assert(got.toSeq == expected.toSeq)
    // sampling contract: offsets stride exactly 128 bytes (1 of 4
    // 32-byte frames), indices dense from 0
    got.groupBy(_._1).values.foreach { fs =>
      val s = fs.sortBy(_._2)
      assert(s.map(_._2).toSeq == s.indices.toSeq)
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._3 - a._3 == 128)
        case _           =>
      }
    }
  }

  test("typed_map_groups: the imperative walk equals ev_session's island count") {
    val typed = TypedQueries.typedMapGroups.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay from raw events
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", unix_timestamp($"ts").as("tsec"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (u, xs) =>
        val ts = xs.map(x => (x._2, x._3)).sorted.map(_._1)
        val sessions = ts.tail.foldLeft(List(List(ts.head))) {
          (acc, t) =>
            if (t - acc.head.head > 1800) List(t) :: acc
            else (t :: acc.head) :: acc.tail
        }
        (u, sessions.size.toLong,
          sessions.map(_.size).max.toLong, ts.size.toLong)
    }
    assert(typed.toSeq == expected)
    typed.foreach { r =>
      assert(r._2 >= 1 && r._3 <= r._4, s"user ${r._1}: bounds")
    }
  }

  test("ev_power_analysis: n and MDE replay from the Welch moments") {
    val r = EventQueries.evPowerAnalysis.fn(spark, sfDir).collect().head
    val rev = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
          round($"value", 2).cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)"))).as("r"))
      .collect().map(x => (x.getLong(0), BigDecimal(x.getDecimal(1))))
    def arm(u: Long): Int =
      (graft.streaming.EventStreams.portableHash(u, "ab:") % 2).toInt
    def moments(v: Int): (Long, Double, Double) = {
      val xs = rev.filter(x => arm(x._1) == v).map(_._2)
      val n = xs.length.toLong
      val s = xs.sum.toDouble
      val q = xs.map(x => x * x).sum.toDouble
      (n, s / n, (q - s * s / n) / (n - 1))
    }
    val (nc, mc, vc) = moments(0)
    val (nt, mt, vt) = moments(1)
    val z = 1.96 + 0.8416
    val delta = mt - mc
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == nc && r.getLong(1) == nt)
    assert(r.getDouble(2) == r4(delta))
    assert(r.getLong(5) ==
      math.ceil(z * z * (vc + vt) / (delta * delta)).toLong)
    assert(r.getDouble(6) == r4(z * math.sqrt(vc / nc + vt / nt)))
  }

  test("win_rolling_corr: correlation replays from exact integer frame sums") {
    val got = WindowQueries.winRollingCorr.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(when($"event_type" === "click", 1).otherwise(0)).as("x"),
        sum(when($"event_type" === "purchase", 1).otherwise(0)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = daily.indices.map { i =>
      val (day, x, y) = daily(i)
      val fr = daily.slice(math.max(0, i - 6), i + 1)
      val corr = if (fr.size < 7) None else {
        val n = fr.size.toLong
        val sx = fr.map(_._2).sum; val sy = fr.map(_._3).sum
        val sxy = fr.map(f => f._2 * f._3).sum
        val sxx = fr.map(f => f._2 * f._2).sum
        val syy = fr.map(f => f._3 * f._3).sum
        if (n * sxx - sx * sx <= 0 || n * syy - sy * sy <= 0) None
        else Some(r6((n.toDouble * sxy - sx.toDouble * sy)
          / (math.sqrt(n.toDouble * sxx - sx.toDouble * sx)
            * math.sqrt(n.toDouble * syy - sy.toDouble * sy))))
      }
      (day, x, y, corr)
    }
    assert(got.toSeq == expected)
    // first 6 days must be null; correlations bounded
    assert(got.take(6).forall(_._4.isEmpty))
    assert(got.flatMap(_._4).forall(c => c >= -1.0 && c <= 1.0))
  }

  test("embed_quantile_clip: thresholds ordered; clip mass ~2%; mse nonneg") {
    val got = SimQueries.embedQuantileClip.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.map(_._1).toSeq == (0 until 64))
    val n = Tables.embeddings(spark, sfDir).count()
    got.foreach { d =>
      assert(d._2 <= d._3, s"dim ${d._1}: lo > hi")
      assert(d._7 >= 0, s"dim ${d._1}: negative mse")
      // p01/p99 clipping leaves at most ~2% + interpolation slack out
      assert(d._6 <= 0.03, s"dim ${d._1}: clip rate ${d._6} too high")
      assert(d._4 + d._5 == math.round(d._6 * n),
        s"dim ${d._1}: clip counts inconsistent with rate")
      // positive clip error implies something was clipped (the
      // converse can round to zero on the 9-place grid)
      assert(d._7 == 0.0 || d._4 + d._5 > 0,
        s"dim ${d._1}: mse without clipping")
    }
  }

  test("ev_user_entropy: H replays on the decimal grid; bounded by ln(types)") {
    val got = EventQueries.evUserEntropy.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
    val counts = Tables.events(spark, sfDir)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def r(x: Double, s: Int): BigDecimal =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val expected = counts.groupBy(_._1).toSeq.map { case (u, xs) =>
      val n = xs.map(_._3).sum
      val ent = xs.map { x =>
        val p = r(x._3.toDouble / n, 6)
        if (p > 0) -p * r(math.log(p.toDouble), 8) else BigDecimal(0)
      }.sum
      (u, n, xs.size, r(ent.toDouble, 6).toDouble)
    }.sortBy(x => (-x._4, x._1)).take(20)
    assert(got.toSeq == expected)
    got.foreach { g =>
      assert(g._4 >= 0 && g._4 <= math.log(g._3.toDouble) + 1e-6,
        s"user ${g._1}: entropy out of [0, ln n_types]")
    }
  }

  test("ev_ab_ztest: z replays from per-user conversions; arms partition users") {
    val r = EventQueries.evAbZtest.fn(spark, sfDir).collect().head
    val (nc, cc, nt, ct) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    val conv = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" > 100, 1)
        .otherwise(0)).as("c"))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    assert(nc + nt == conv.length.toLong,
      "arms must partition the user base")
    assert(cc + ct == conv.map(_._2).sum.toLong,
      "conversions must partition too")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (pc, pt) = (cc.toDouble / nc, ct.toDouble / nt)
    val pooled = (cc + ct).toDouble / (nc + nt)
    val z = (pt - pc) /
      math.sqrt(pooled * (1 - pooled) * (1.0 / nc + 1.0 / nt))
    assert(r.getDouble(2) == r6(pc) && r.getDouble(5) == r6(pt))
    assert(r.getDouble(6) == r6(pt - pc) && r.getDouble(7) == r6(z))
  }

  test("ev_ab_srm_check: chi2 replays from ztest's arm counts; decorrelated from assignment") {
    val srm = EventQueries.evAbSrmCheck.fn(spark, sfDir).collect().head
    val (nc, nt) = (srm.getLong(0), srm.getLong(1))
    // same assignment hash as ev_ab_ztest → identical arm counts
    val z = EventQueries.evAbZtest.fn(spark, sfDir).collect().head
    assert(nc == z.getLong(0) && nt == z.getLong(3),
      "SRM must audit the same arms the readout uses")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = (nc + nt).toDouble / 2
    val chi = (nc - e) * (nc - e) / e + (nt - e) * (nt - e) / e
    assert(srm.getDouble(3) == r6(chi))
    assert(srm.getBoolean(4) == (chi > 10.828))
    // the fixture's hash split is designed-healthy: no SRM expected
    assert(!srm.getBoolean(4),
      s"portable-hash 50/50 split flagged SRM (chi2=$chi) — " +
        "assignment hash is broken")
  }

  test("graph_modularity: identities hold (partition sums, degree total = 2m, Q in range)") {
    val rows = GraphQueries.graphModularity.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // degrees sum over communities = directed edge count (2m)
    val edges = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { grp =>
        val ps = grp.map(_._2).toSeq
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }.toSet
    val m2 = edges.size.toLong
    assert(rows.map(_.getLong(3)).sum == m2,
      "community degree sums must total the directed edge count")
    // intra edges never exceed the community's degree sum
    val m = rows.head.getLong(5)
    assert(m == m2, "emitted 2m scalar must equal the edge count")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3))
      // exact-integer numerator matches its definition and is bounded:
      // q_num = e_in*m - d_sum², so q_num/m² = e/2m - (D/2m)² ∈ [-1,1]
      assert(r.getLong(4) == r.getLong(2) * m - r.getLong(3) * r.getLong(3))
      assert(math.abs(r.getLong(4)) <= m * m)
    }
    // total modularity Q = Σ q_num / m² is a proper number in [-0.5, 1]
    val q = rows.map(_.getLong(4)).sum.toDouble / (m.toDouble * m)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of range")
    // nodes partition: community sizes sum to |V|
    val nNodes = edges.map(_._1).size
    assert(rows.map(_.getLong(1)).sum == nNodes.toLong)
  }

  test("ev_attribution_markov: chain replays driver-side; shares normalize") {
    val rows = EventQueries.evAttributionMarkov.fn(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rebuild journeys driver-side
    val evs = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("day"),
        unix_micros($"ts").as("us"), $"event_id", $"event_type")
      .collect()
      .map(x => ((x.getLong(0), x.getDate(1).toString),
        (x.getLong(2), x.getLong(3), x.getString(4))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(e => (e._1, e._2)) }
    val transitions = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    evs.values.foreach { es =>
      val firstP = es.indexWhere(_._3 == "purchase")
      val touches =
        (if (firstP >= 0) es.take(firstP) else es).map(_._3)
      if (touches.isEmpty) {
        if (firstP >= 0) transitions(("start", "conv")) += 1
      } else {
        transitions(("start", touches.head)) += 1
        touches.toSeq.sliding(2).foreach { pair =>
          if (pair.length == 2) transitions((pair(0), pair(1))) += 1
        }
        transitions((touches.last,
          if (firstP >= 0) "conv" else "null")) += 1
      }
    }
    val tot = transitions.groupBy(_._1._1).map { case (f, xs) =>
      f -> xs.values.sum }
    val chans = transitions.keys.map(_._2)
      .filter(c => c != "conv" && c != "null").toSeq.distinct.sorted
    def solve(removed: Option[String]): Double = {
      val mat = transitions.toSeq.flatMap { case ((f, t0), n) =>
        if (removed.contains(f)) None
        else Some(((f, if (removed.contains(t0)) "null" else t0), n))
      }.groupBy(_._1).map { case ((f, t), xs) =>
        (f, t, r(xs.map(_._2).sum.toDouble / tot(f), 8)) }.toSeq
      var p = Map("conv" -> 1.0, "null" -> 0.0).withDefaultValue(0.0)
      for (_ <- 1 to 12) {
        val nxt = mat.groupBy(_._1).map { case (f, xs) =>
          f -> r(xs.map(x => BigDecimal(r(x._3 * p(x._2), 12))).sum
            .toDouble, 12)
        }
        p = (nxt ++ Map("conv" -> 1.0, "null" -> 0.0))
          .withDefaultValue(0.0)
      }
      p("start")
    }
    val pb = solve(None)
    val want = chans.map { c =>
      c -> r(1 - solve(Some(c)) / pb, 6) }.toMap
    val tots = want.values.map(v => BigDecimal(v)).sum.toDouble
    rows.foreach { row =>
      val ch = row.getString(0)
      assert(row.getDouble(1) == want(ch), s"$ch removal effect")
      assert(row.getDouble(2) == r(want(ch) / tots, 6), s"$ch share")
      assert(row.getDouble(3) == r(pb, 6))
    }
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4,
      "shares must normalize")
  }

  test("sample_neyman_alloc: allocation sums exactly to budget and tracks N*sigma") {
    val rows = SampleQueries.sampleNeymanAlloc.fn(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(4)).sum == 200L,
      "largest-remainder allocation must sum exactly to the budget")
    // alloc within 1 seat of the raw real-valued allocation
    rows.foreach { r =>
      assert(math.abs(r.getLong(4) - r.getDouble(3)) < 1.0 + 1e-9,
        s"${r.getString(0)}: alloc ${r.getLong(4)} vs raw ${r.getDouble(3)}")
    }
    // monotone in N*sigma: a stratum with strictly larger n*sigma
    // never gets a smaller raw allocation
    val ns = rows.toSeq.map(r =>
      r.getLong(1) * r.getDouble(2) -> r.getDouble(3))
    for ((a1, r1) <- ns; (a2, r2) <- ns if a1 > a2)
      assert(r1 >= r2 - 1e-9)
  }

  test("agg_wilson_ci: interval brackets p_hat, inside [0,1], narrower at larger n") {
    val rows = AggQueries.aggWilsonCi.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val (n, k) = (r.getLong(1), r.getLong(2))
      val (p, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo >= 0 && hi <= 1 && lo < hi)
      assert(lo <= p && p <= hi)
      // replay
      val ph = k.toDouble / n
      val z = 1.96; val z2 = z * z
      val den = 1 + z2 / n
      val center = ph + z2 / (2 * n)
      val half = z * math.sqrt(ph * (1 - ph) / n + z2 / (4.0 * n * n))
      assert(math.abs(lo - r6((center - half) / den)) <= 1e-9)
      assert(math.abs(hi - r6((center + half) / den)) <= 1e-9)
    }
  }

  test("dq_distribution_ks: D replays from the bucketed EDFs; critical value correct") {
    val r = AuditQueries.dqDistributionKs.fn(spark, sfDir).collect().head
    val (n1, n2) = (r.getLong(0), r.getLong(1))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dates = Tables.orders(spark, sfDir)
      .select(to_date($"o_orderdate").as("d"), $"o_totalprice")
      .collect().map(x => (x.getDate(0).toLocalDate, x.getDouble(1)))
    val (dMin, dMax) = (dates.map(_._1).min, dates.map(_._1).max)
    val mid = dMin.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(dMin, dMax) / 2)
    val g1 = dates.filter(_._1.isBefore(mid)).map(x =>
      math.floor(x._2 / 500).toLong)
    val g2 = dates.filterNot(_._1.isBefore(mid)).map(x =>
      math.floor(x._2 / 500).toLong)
    assert(n1 == g1.length.toLong && n2 == g2.length.toLong)
    val bks = (g1 ++ g2).distinct.sorted
    val d = bks.map { b =>
      math.abs(g1.count(_ <= b).toDouble / n1
        - g2.count(_ <= b).toDouble / n2)
    }.max
    assert(r.getDouble(2) == r6(d), "KS statistic mismatch")
    val crit = 1.358 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2))
    assert(r.getDouble(3) == r6(crit))
    assert(r.getBoolean(4) == (d > crit))
  }

  test("win_spc_rules: each rule replays from the z-series; windows honor warmup") {
    val rows = WindowQueries.winSpcRules.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val zs = rows.map(_.getDouble(2))
    rows.zipWithIndex.foreach { case (r, i) =>
      val z = zs(i)
      assert(r.getBoolean(3) == (math.abs(z) > 3), s"day $i rule1")
      val w3 = zs.slice(math.max(0, i - 2), i + 1)
      assert(r.getBoolean(4) ==
        (w3.count(_ > 2) >= 2 || w3.count(_ < -2) >= 2), s"day $i rule2")
      val w8 = zs.slice(math.max(0, i - 7), i + 1)
      val r3 = w8.length == 8 &&
        (w8.forall(_ > 0) || w8.forall(_ < 0))
      assert(r.getBoolean(5) == r3, s"day $i rule3")
      assert(r.getBoolean(6) ==
        (r.getBoolean(3) || r.getBoolean(4) || r.getBoolean(5)))
    }
    assert(rows.exists(_.getBoolean(6)),
      "fixture should trip at least one SPC rule")
  }

  test("graph_random_walk: each hop follows a real edge and the min-hash pick; reproducible") {
    val rows = GraphQueries.graphRandomWalk.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val walks = rows.groupBy(_._1).map { case (s, xs) =>
      s -> xs.sortBy(_._2).map(_._3).toSeq }
    assert(walks.size == 8 && walks.values.forall(_.length == 4))
    walks.foreach { case (seed, path) => assert(path.head == seed) }
    // every hop is an actual edge, and exactly the min-hash neighbor
    val edges = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { grp =>
        val ps = grp.map(_._2).toSeq
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }.toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def h(t: Int, u: Long, v: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rw:$t:$u:$v".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(6).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    walks.foreach { case (seed, path) =>
      for (t <- 1 to 3) {
        val u = path(t - 1); val v = path(t)
        assert(edges.contains((u, v)), s"walk $seed hop $t not an edge")
        val want = adj(u).map(n => (h(t, u, n), n)).min
        assert(v == want._2, s"walk $seed hop $t: picked $v, want ${want._2}")
      }
    }
    // determinism: a second run is identical
    val again = GraphQueries.graphRandomWalk.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
  }

  test("text_gopher_rules: rule verdicts replay per-row; conjunction holds") {
    val rows = TextQueries.textGopherRules.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val stops = Seq("the", "a", "of", "to", "and", "in", "is")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var failedSome = false
    rows.take(200).foreach { r =>
      val t = texts(r.getLong(0))
      val words = t.split(" ", -1)
      val nWords = math.max(words.length, 1)
      assert(r.getLong(1) == nWords)
      val meanLen = r6(t.replace(" ", "").length.toDouble / nWords)
      assert(r.getDouble(2) == meanLen)
      val hits = stops.count(w => s" $t ".contains(s" $w "))
      assert(r.getInt(3) == hits)
      val alphaW = words.count(_.exists(_.isLetter))
      assert(r.getBoolean(4) == (nWords >= 10 && nWords <= 100000))
      assert(r.getBoolean(5) == (meanLen >= 2 && meanLen <= 10))
      assert(r.getBoolean(7) == (hits >= 2))
      assert(r.getBoolean(8) ==
        (r6(alphaW.toDouble / nWords) >= 0.8))
      val all = r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6) &&
        r.getBoolean(7) && r.getBoolean(8)
      assert(r.getBoolean(9) == all, s"doc ${r.getLong(0)} conjunction")
      if (!all) failedSome = true
    }
    assert(rows.exists(_.getBoolean(9)), "some doc should pass")
  }

  test("join_asof_nearest: picks the true closer click; agrees with backward/forward rows") {
    val nearest = JoinQueries.joinAsofNearest.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val back = JoinQueries.joinAsof.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val fwd = JoinQueries.joinAsofForward.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(nearest.keySet == back.keySet && nearest.keySet == fwd.keySet)
    var sawBack = 0; var sawFwd = 0
    nearest.foreach { case (id, r) =>
      val p = r.getLong(2)
      (back(id), fwd(id)) match {
        case (None, None) =>
          assert(r.isNullAt(3) && r.isNullAt(4))
        case (Some(b), None) =>
          assert(r.getLong(3) == b && r.getString(4) == "backward")
        case (None, Some(f)) =>
          assert(r.getLong(3) == f && r.getString(4) == "forward")
        case (Some(b), Some(f)) =>
          val pick = if (p - b <= f - p) ("backward", b) else ("forward", f)
          assert(r.getString(4) == pick._1 && r.getLong(3) == pick._2,
            s"purchase $id picked wrong direction")
          if (pick._1 == "backward") sawBack += 1 else sawFwd += 1
      }
    }
    assert(sawBack > 0 && sawFwd > 0,
      "fixture should exercise both directions")
  }

  test("ev_retention_halflife: fit replays from the pooled retention curve") {
    val r = EventQueries.evRetentionHalflife.fn(spark, sfDir)
      .collect().head
    def rd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val days = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
      .collect().map(x => (x.getLong(0), x.getDate(1).toLocalDate))
    val first = days.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).min }
    val nUsers = first.size.toLong
    assert(r.getLong(0) == nUsers)
    val rate = (1 to 7).map { o =>
      val active = days.count { case (u, d) =>
        java.time.temporal.ChronoUnit.DAYS.between(first(u), d) == o }
      o -> active.toDouble / nUsers
    }.filter(_._2 > 0)
    assert(r.getLong(1) == rate.length.toLong)
    val pts = rate.map { case (o, rt) =>
      (o.toDouble, rd(math.log(rt), 8)) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getDouble(2) - rd(slope, 6)) <= 1e-6)
    assert(math.abs(r.getDouble(3)
      - rd(-0.6931471805599453 / slope, 6)) <= 1e-5)
    // sign consistency (the synthetic fixture's pooled activity is
    // near-flat and may tilt either way): half-life and slope are
    // opposite-signed by construction, r2 lives in [0, 1]
    assert(r.getDouble(2) * r.getDouble(3) < 0)
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
  }

  test("ev_did_analysis: DiD = cell-mean contrast; SE is the paired Welch form") {
    val r = EventQueries.evDidAnalysis.fn(spark, sfDir).collect().head
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the 2x2 identity: did == (post_t - pre_t) - (post_c - pre_c)
    // on the unrounded means — check against the rounded cells with
    // a grid-width tolerance
    val cellDid = (r.getDouble(5) - r.getDouble(4)) -
      (r.getDouble(3) - r.getDouble(2))
    assert(math.abs(r.getDouble(6) - cellDid) <= 4e-4,
      s"did ${r.getDouble(6)} vs cell contrast $cellDid")
    assert(r.getDouble(7) > 0, "SE must be positive")
    assert(r6(r.getDouble(6) / r.getDouble(7)) == r.getDouble(8)
      || math.abs(r.getDouble(6) / r.getDouble(7) - r.getDouble(8)) <= 1e-5,
      "t_stat must be did/se")
    // arms agree with the family's shared assignment
    val z = EventQueries.evAbZtest.fn(spark, sfDir).collect().head
    assert(r.getLong(0) == z.getLong(0) && r.getLong(1) == z.getLong(3))
  }

  test("ev_holt_winters: triple recursion replays; beats/matches Holt on seasonal series") {
    val rows = EventQueries.evHoltWinters.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1)
      .map { case (et, xs) => et -> xs.sortBy(_._2).map(_._3).toIndexedSeq }
    rows.foreach { r =>
      val ys = daily(r.getString(0))
      assert(r.getLong(1) == ys.length.toLong)
      val m1 = ys.take(7).sum / 7
      val m2 = ys.slice(7, 14).sum / 7
      var l = m1; var b = (m2 - m1) / 7
      val sv = ys.take(7).map(_ - m1).toArray
      var esum = 0.0
      for (t <- 14 until ys.length) {
        val idx = t % 7 // 0-based ring slot for day t+1
        val sOld = sv(idx)
        val yv = ys(t)
        esum += math.abs(yv - (l + b + sOld))
        val lNew = 0.5 * (yv - sOld) + 0.5 * (l + b)
        val bNew = 0.25 * (lNew - l) + 0.75 * b
        sv(idx) = 0.5 * (yv - lNew) + 0.5 * sOld
        l = lNew; b = bNew
      }
      val t = ys.length
      assert(r.getDouble(2) == r6(l), s"${r.getString(0)} level")
      assert(r.getDouble(3) == r6(b), s"${r.getString(0)} trend")
      assert(r.getDouble(4) == r6(sv(t % 7)), s"${r.getString(0)} season")
      assert(r.getDouble(6) == r6(esum / (t - 14)), s"${r.getString(0)} mae")
    }
    // on this fixture's weekly-patterned series, the seasonal model's
    // backtest MAE should not be wildly worse than plain Holt's
    val holt = EventQueries.evHoltForecast.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    rows.foreach { r =>
      assert(r.getDouble(6) < 3 * holt(r.getString(0)),
        s"${r.getString(0)}: HW mae ${r.getDouble(6)} vs Holt ${holt(r.getString(0))}")
    }
  }

  test("win_stl_anomaly: flagged days are exactly the >3-sigma residuals of the decomposition") {
    val decomp = WindowQueries.winSeasonalDecompose.fn(spark, sfDir)
      .collect().filter(r => !r.isNullAt(4))
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(4)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = decomp.length.toDouble
    val s = decomp.map(d => BigDecimal(d._3)).sum.toDouble
    val q = decomp.map(d => BigDecimal(d._3) * BigDecimal(d._3)).sum
      .toDouble
    val sd = math.sqrt((q - s * s / n) / (n - 1))
    val want = decomp
      .map(d => (d._1, d._2, d._3, (d._3 - s / n) / sd))
      .filter(d => math.abs(d._4) > 3)
      .map(d => (d._1, d._2, d._3, r6(d._4)))
      .sortBy(_._1)
    val got = WindowQueries.winStlAnomaly.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == want.toSeq,
      s"anomaly set mismatch: got ${got.length}, want ${want.length}")
    assert(got.nonEmpty, "fixture should contain at least one anomaly")
  }

  test("embed_outlier_knn: scores replay from the exact knn lists; descending top-20") {
    val rows = SimQueries.embedOutlierKnn.fn(spark, sfDir).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted.reverse),
      "scores must be descending")
    // replay: mean (1 - cosine) over the exact top-5 neighbor list
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.take(5).foreach { r =>
      val id = r.getLong(0)
      val v = vs.find(_._1 == id).get._2
      val top5 = vs.filter(_._1 != id)
        .map { case (oid, ov) => (r6(cos(v, ov)), oid) }
        .sortBy { case (c, oid) => (-c, oid) }.take(5)
      val want = r6(top5.map { case (c, _) =>
        BigDecimal(r6(1 - c)) }.sum.toDouble / 5)
      assert(r.getDouble(2) == want, s"vec $id knn_dist")
    }
  }

  test("dq_reconciliation: buckets partition orders; diffs replay on the decimal grid") {
    val r = AuditQueries.dqReconciliation.fn(spark, sfDir).collect().head
    val (n, noLines, matched, over, under) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
    assert(n == Tables.orders(spark, sfDir).count())
    assert(noLines + matched + over + under == n,
      "recon buckets must partition the order set")
    // replay a sample of per-order diffs exactly
    val lines = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", round($"l_extendedprice", 2),
        round($"l_discount", 2), round($"l_tax", 2))
      .collect()
      .map(x => (x.getLong(0), BigDecimal(x.getDouble(1))
        * (1 - BigDecimal(x.getDouble(2)))
        * (1 + BigDecimal(x.getDouble(3)))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val heads = Tables.orders(spark, sfDir)
      .select($"o_orderkey", round($"o_totalprice", 2)).collect()
      .map(x => x.getLong(0) -> BigDecimal(x.getDouble(1))).toMap
    val diffs = heads.flatMap { case (k, exp) =>
      lines.get(k).map(_ - exp) }
    assert(diffs.count(d => d.abs <= BigDecimal("0.01")).toLong == matched)
    assert(diffs.count(_ > BigDecimal("0.01")).toLong == over)
    assert(r.getDouble(5) == diffs.map(_.abs).max.toDouble)
  }

  test("mining_seq_patterns: support replays from first-occurrence order; ratios consistent") {
    val rows = MiningQueries.miningSeqPatterns.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val firsts: Map[(Long, String), Array[(String, Long)]] =
      Tables.events(spark, sfDir)
        .groupBy($"user_id", to_date($"ts").as("day"), $"event_type")
        .agg(min(unix_micros($"ts")).as("t"))
        .collect()
        .map(r => ((r.getLong(0), r.getDate(1).toString),
          (r.getString(2), r.getLong(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nSessions = firsts.size.toLong
    val want: Map[(String, String), Long] = firsts.values.toSeq
      .flatMap { xs =>
        for (a <- xs.toSeq; b <- xs.toSeq if a._1 != b._1 && a._2 < b._2)
          yield (a._1, b._1)
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows.map(r => (r.getString(0), r.getString(1))
      -> r.getLong(2)).toMap
    assert(got == want, "support counts disagree with the replay")
    rows.foreach { r =>
      val fwd = r.getLong(2)
      val rev = want.getOrElse((r.getString(1), r.getString(0)), 0L)
      assert(r.getDouble(3) == r6(fwd.toDouble / nSessions))
      assert(r.getDouble(4) == r6(fwd.toDouble / (fwd + rev)))
    }
  }

  test("agg_regression: OLS replays from exact moments; r2 in [0,1]") {
    val rows = AggQueries.aggRegression.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val data = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", round($"l_quantity", 2),
        round($"l_extendedprice", 2))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val xs = data(r.getString(0))
      val n = xs.size.toDouble
      assert(r.getLong(1) == xs.size.toLong)
      val sx = xs.map(t => BigDecimal(t._2)).sum.toDouble
      val sy = xs.map(t => BigDecimal(t._3)).sum.toDouble
      val sxx = xs.map(t => BigDecimal(t._2) * BigDecimal(t._2)).sum
        .toDouble
      val sxy = xs.map(t => BigDecimal(t._2) * BigDecimal(t._3)).sum
        .toDouble
      val syy = xs.map(t => BigDecimal(t._3) * BigDecimal(t._3)).sum
        .toDouble
      val num = n * sxy - sx * sy
      val slope = num / (n * sxx - sx * sx)
      def close(a: Double, b: Double) =
        math.abs(a - b) <= 1e-6 * math.max(1, math.abs(b))
      assert(close(r.getDouble(2), r6(slope)))
      assert(close(r.getDouble(3), r6((sy - slope * sx) / n)))
      val r2 = num * num / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(close(r.getDouble(4), r6(r2)))
      assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
    }
  }

  test("agg_bootstrap_ci: band brackets the point estimate; width shrinks as sqrt(n) grows") {
    val r = AggQueries.aggBootstrapCi.fn(spark, sfDir).collect().head
    assert(r.getLong(0) == 32L)
    val (pm, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(lo < hi, "CI must have positive width")
    assert(lo <= pm && pm <= hi,
      s"point mean $pm outside bootstrap band [$lo, $hi]")
    // the band should be tight relative to the mean at this n
    // (mean order value ~155k over 15k orders → SE ~ mean/sqrt(n)·cv)
    assert((hi - lo) / pm < 0.1,
      s"implausibly wide bootstrap band: [$lo, $hi] around $pm")
    // weights are deterministic: a second run is identical
    val r2 = AggQueries.aggBootstrapCi.fn(spark, sfDir).collect().head
    assert(r2.getDouble(2) == lo && r2.getDouble(3) == hi)
  }

  test("join_asof_forward: next click is the true successor; symmetric to backward asof") {
    val fwd = JoinQueries.joinAsofForward.fn(spark, sfDir).collect()
    assert(fwd.nonEmpty)
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"),
        $"event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val clicksByUser: Map[Long, Seq[(Long, Long)]] =
      ev.filter(_._2 == "click").toSeq
        .groupBy(_._1).map { case (u, xs) =>
          u -> xs.map(x => (x._3, x._4)).sorted }
    fwd.foreach { r =>
      val (user, pUs) = (r.getLong(1), r.getLong(2))
      val pId = r.getLong(0)
      // the true next click strictly after the purchase in
      // (ts, event_id) order
      val want = clicksByUser.getOrElse(user, Seq.empty)
        .find(c => c._1 > pUs || (c._1 == pUs && c._2 > pId))
        .map(_._1)
      if (r.isNullAt(3)) assert(want.isEmpty,
        s"purchase $pId: expected a next click, got null")
      else assert(want.contains(r.getLong(3)),
        s"purchase $pId: wrong next click")
    }
  }

  test("win_yoy_growth: pct change replays from calendar-joined month sums") {
    val rows = WindowQueries.winYoyGrowth.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byMonth = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val m = r.getString(0)
      val Array(y, mm) = m.split("-").map(_.toInt)
      val prior = f"${y - 1}%04d-$mm%02d"
      byMonth.get(prior) match {
        case Some(p) =>
          assert(r.getDouble(2) == p)
          assert(r.getDouble(3) == r6((r.getDouble(1) - p) / p * 100),
            s"month $m yoy")
        case None =>
          assert(r.isNullAt(2) && r.isNullAt(3),
            s"month $m: no prior year, yoy must be null")
      }
    }
    // sanity: at least one joined row exists (the series spans years)
    assert(rows.exists(r => !r.isNullAt(3)))
  }

  test("ev_bot_score: CV replays from integer gap moments; flag logic holds") {
    val rows = EventQueries.evBotScore.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gaps = Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (u, xs) =>
        val sorted = xs.map(x => (x._2, x._3)).sorted.map(_._1)
        u -> sorted.zip(sorted.tail).map { case (a, b) => b - a }
      }
    rows.take(100).foreach { r =>
      val u = r.getLong(0)
      val gs = gaps(u)
      assert(r.getLong(5) == gs.length.toLong, s"user $u n_gaps")
      if (gs.length >= 2) {
        val n = gs.length.toDouble
        val sg = gs.map(BigDecimal(_)).sum.toDouble
        val qg = gs.map(g => BigDecimal(g) * BigDecimal(g)).sum.toDouble
        val cv = math.sqrt((qg - sg * sg / n) / (n - 1)) / (sg / n)
        assert(math.abs(r.getDouble(6) - r6(cv)) <= 1e-9, s"user $u cv")
      } else assert(r.isNullAt(6))
      val flag = ((!r.isNullAt(6) && r.getDouble(6) < 0.3)
        || r.getDouble(4) >= 0.95) && r.getLong(1) >= 30
      assert(r.getBoolean(7) == flag, s"user $u flag")
    }
  }

  test("graph_closeness: distances replay from a driver-side BFS; harmonic consistent") {
    val rows = GraphQueries.graphCloseness.fn(spark, sfDir).collect()
    assert(rows.length == 8)
    // rebuild the part graph driver-side (small at test SF) and BFS
    val edges = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("okey"), $"l_partkey".as("pk")).distinct()
    val byOrder: Seq[Seq[Long]] = edges.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2)).toSeq
    val adj: Map[Long, Set[Long]] = byOrder
      .flatMap { ps =>
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val seed = r.getLong(0)
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      val reached = dist.filter(_._2 > 0)
      assert(r.getLong(1) == reached.size.toLong, s"seed $seed n_reached")
      assert(r.getLong(2) == reached.values.map(_.toLong).sum,
        s"seed $seed sum_dist")
      assert(r.getDouble(3) ==
        r6(reached.size.toDouble / reached.values.sum))
      val harm = reached.values
        .map(d => BigDecimal(r6(1.0 / d))).sum.toDouble
      assert(r.getDouble(4) == harm, s"seed $seed harmonic")
    }
  }

  test("graph_betweenness: full Brandes replay driver-side; micro-unit recursion exact") {
    val rows = GraphQueries.graphBetweenness.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.nonEmpty)
    // rebuild the part graph and replay the horizon-3 Brandes pass
    // with the IDENTICAL integer micro-unit recursion
    val byOrder: Seq[Seq[Long]] = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey").distinct().collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).distinct).toSeq
    val adj: Map[Long, Set[Long]] = byOrder
      .flatMap(ps => for (a <- ps; b <- ps if a != b) yield (a, b))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = adj.keys.toSeq.sorted.take(8)
    def halfUpDiv(a: Long, b: Long): Long = (2 * a + b) / (2 * b)
    val micro = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    val hits = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    seeds.foreach { s =>
      // forward: levels with exact path counts
      var levels = Vector(Map(s -> 1L))
      var vis = Set(s)
      for (_ <- 1 to 3) {
        val nxt = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        levels.last.foreach { case (u, sig) =>
          adj.getOrElse(u, Set.empty).filterNot(vis.contains)
            .foreach(v => nxt(v) += sig)
        }
        levels :+= nxt.toMap
        vis ++= nxt.keySet
      }
      // backward: integer micro-units, (2a+b) div (2b) per term
      var dm = levels(3).map { case (w, _) => w -> 0L }
      levels(3).keys.foreach { w => hits(w) += 1 }
      for (t <- 2 to 1 by -1) {
        dm = levels(t).map { case (v, sv) =>
          val d = adj.getOrElse(v, Set.empty).toSeq
            .filter(levels(t + 1).contains)
            .map { w =>
              halfUpDiv(sv * (1000000L + dm(w)), levels(t + 1)(w))
            }.sum
          v -> d
        }
        dm.foreach { case (v, d) => micro(v) += d; hits(v) += 1 }
      }
    }
    val want = hits.keys.map { v =>
      v -> (hits(v), micro(v).toDouble / 1000000)
    }.toMap
    assert(rows == want,
      s"betweenness diverged: ${rows.size} query rows vs ${want.size}")
    // sanity: at least one genuine broker exists (nonzero betweenness)
    assert(rows.values.exists(_._2 > 0))
  }

  test("ev_ab_ratio_delta: ratio and delta-method SE replay from per-user moments") {
    val r = EventQueries.evAbRatioDelta.fn(spark, sfDir).collect().head
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val users = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
          round($"value", 2).cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)"))).as("x"),
        count(lit(1)).as("y"))
      .join(Tables.events(spark, sfDir).select($"user_id").distinct(),
        Seq("user_id"))
      .withColumn("v",
        graft.api.Sampling.portableHash($"user_id", "ab:") % 2)
      .collect()
      .map(x => (x.getLong(x.fieldIndex("v")),
        x.getDecimal(1).doubleValue(), x.getLong(2).toDouble))
    def arm(v: Long) = {
      val xs = users.filter(_._1 == v)
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val rr = sx / sy
      val vx = (xs.map(t => t._2 * t._2).sum - sx * sx / n) / (n - 1)
      val vy = (xs.map(t => t._3 * t._3).sum - sy * sy / n) / (n - 1)
      val cv = (xs.map(t => t._2 * t._3).sum - sx * sy / n) / (n - 1)
      val se2 = (vx - 2 * rr * cv + rr * rr * vy) /
        (n * (sy / n) * (sy / n))
      (n.toLong, rr, se2)
    }
    val (nc, rc, se2c) = arm(0)
    val (nt, rt, se2t) = arm(1)
    assert(r.getLong(0) == nc && r.getLong(3) == nt)
    // replay tolerance: the spec recomputes with double accumulation
    // (not the query's exact DECIMAL moments), so allow 1e-9 relative
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1, math.abs(b))
    assert(close(r.getDouble(1), r6(rc)))
    assert(close(r.getDouble(4), r6(rt)))
    assert(close(r.getDouble(7), r6((rt - rc) / math.sqrt(se2c + se2t))))
    assert(r.getDouble(2) > 0 && r.getDouble(5) > 0,
      "delta-method SEs must be positive")
  }

  test("win_seasonal_decompose: trend iff full window; residual = det - seasonal; dow means replay") {
    val rows = WindowQueries.winSeasonalDecompose.fn(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val n = rows.length
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rows are day-ordered: trend defined exactly on interior days
    rows.zipWithIndex.foreach { case (r, i) =>
      val hasTrend = !r.isNullAt(2)
      assert(hasTrend == (i >= 3 && i < n - 3),
        s"day ${r.getString(0)}: trend presence wrong at index $i")
      if (hasTrend) {
        val det = r6(r.getDouble(1) - r.getDouble(2))
        assert(r6(det - r.getDouble(3)) == r.getDouble(4),
          s"day ${r.getString(0)}: residual mismatch")
      } else assert(r.isNullAt(4))
    }
    // seasonal is constant per dow and equals the mean of detrended
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val byDow = rows.filter(r => !r.isNullAt(2))
      .groupBy(r => java.time.LocalDate.parse(r.getString(0), fmt)
        .getDayOfWeek.getValue - 1)
    byDow.foreach { case (_, rs) =>
      assert(rs.map(_.getDouble(3)).distinct.length == 1,
        "seasonal must be one value per dow")
      val dets = rs.map(r => BigDecimal(r6(r.getDouble(1) - r.getDouble(2))))
      val want = r6((dets.sum / dets.length).toDouble)
      assert(math.abs(rs.head.getDouble(3) - want) <= 1e-6)
    }
  }

  test("setop bag semantics: EXCEPT ALL = max(m-n,0), INTERSECT ALL = min(m,n) per key") {
    def counts(yr: Int): Map[Long, Long] = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === yr).groupBy($"o_custkey")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (m95, m98) = (counts(1995), counts(1998))
    val exceptAll = SortSetQueries.setopExceptAll.fn(spark, sfDir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantExcept = m95.map { case (k, m) =>
      k -> math.max(m - m98.getOrElse(k, 0L), 0L) }.filter(_._2 > 0)
    assert(exceptAll == wantExcept)
    val interAll = SortSetQueries.setopIntersectAll.fn(spark, sfDir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantInter = m95.map { case (k, m) =>
      k -> math.min(m, m98.getOrElse(k, 0L)) }.filter(_._2 > 0)
    assert(interAll == wantInter)
  }

  test("win_theil_sen: slope replays as the median of pairwise slopes; outlier-robust") {
    val rows = WindowQueries.winTheilSen.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1)
      .map { case (et, xs) =>
        et -> xs.sortBy(_._2).map(_._3).toIndexedSeq }
    rows.foreach { r =>
      val et = r.getString(0)
      val ys = daily(et)
      assert(r.getLong(1) == ys.length.toLong)
      val slopes = for {
        i <- ys.indices; j <- (i + 1) until ys.length
      } yield (ys(j) - ys(i)) / (j - i)
      assert(r.getLong(2) == slopes.length.toLong)
      val slope = r6(med(slopes))
      assert(r.getDouble(3) == slope, s"$et slope")
      val resid = ys.zipWithIndex.map { case (y, i) =>
        y - slope * (i + 1) }
      assert(r.getDouble(4) == r6(med(resid)), s"$et intercept")
      // robustness: spiking ONE day 10x moves the T-S slope by less
      // than it moves the OLS slope (the estimator's whole point)
      val spiked = ys.updated(ys.length / 2, ys(ys.length / 2) * 10)
      val spikedSlopes = for {
        i <- spiked.indices; j <- (i + 1) until spiked.length
      } yield (spiked(j) - spiked(i)) / (j - i)
      def ols(v: IndexedSeq[Double]): Double = {
        val n = v.length.toDouble
        val xb = (n + 1) / 2
        val yb = v.sum / n
        val num = v.zipWithIndex.map { case (y, i) =>
          (i + 1 - xb) * (y - yb) }.sum
        val den = v.zipWithIndex.map { case (_, i) =>
          (i + 1 - xb) * (i + 1 - xb) }.sum
        num / den
      }
      val tsShift = math.abs(med(spikedSlopes) - med(slopes))
      val olsShift = math.abs(ols(spiked) - ols(ys))
      assert(tsShift <= olsShift,
        s"$et: T-S shifted $tsShift vs OLS $olsShift under one spike")
    }
  }

  test("join_lateral_topk: true per-nation top-3; LATERAL decorrelates to a group-limit, not a per-row loop") {
    val got = JoinQueries.joinLateralTopk.fn(spark, sfDir)
    val rows = got.collect()
    // ≤3 rows per nation and exactly the window-rank top-3
    val byNation = rows.groupBy(_.getString(0))
    assert(byNation.values.forall(_.length <= 3))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_name")
    val want = Tables.customer(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .join(Tables.nation(spark, sfDir),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"c_name", $"c_acctbal")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet == want)
    // plan: the correlated LIMIT must become a rank/group-limit join,
    // never a nested-loop re-execution per outer row
    val phys = got.queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit") || phys.contains("Window"),
      s"expected decorrelated group-limit plan, got:\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      "LATERAL must not plan as a nested-loop join")
  }

  test("text_readability: counts replay per-row; flesch on the decimal grid") {
    val rows = TextQueries.textReadability.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(200).foreach { r =>
      val t = texts(r.getLong(0))
      val w = math.max("[A-Za-z]+".r.findAllIn(t).length, 1)
      val sen = math.max("[.!?]+".r.findAllIn(t).length, 1)
      val syl = "[aeiouy]+".r.findAllIn(t.toLowerCase).length
      assert(r.getLong(1) == w && r.getLong(2) == sen && r.getLong(3) == syl)
      val wps = r6(w.toDouble / sen)
      val spw = r6(syl.toDouble / w)
      assert(r.getDouble(4) == wps && r.getDouble(5) == spw)
      val flesch = (BigDecimal("206.835") -
        BigDecimal("1.015") * BigDecimal(wps) -
        BigDecimal("84.6") * BigDecimal(spw))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(6) == flesch, s"doc ${r.getLong(0)} flesch")
    }
  }

  test("win_kalman_level: filter replays driver-side; gain in (0,1); p converges") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = WindowQueries.winKalmanLevel.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
      .collect()
      .map(x => (x.getString(0), (x.getDate(1).toString, x.getDouble(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1).map(_._2) }
    rows.foreach { row =>
      val ys = series(row.getString(0))
      var l = ys.head; var p = 10.0; var esum = 0.0
      ys.tail.foreach { y =>
        val k = (p + 1.0) / (p + 1.0 + 10.0)
        esum += math.abs(y - l)
        l = l + k * (y - l)
        p = (1.0 - k) * (p + 1.0)
      }
      assert(row.getLong(1) == ys.length.toLong)
      assert(row.getDouble(2) == r6(l), s"${row.getString(0)} level")
      val gain = (p + 1.0) / (p + 1.0 + 10.0)
      assert(row.getDouble(3) == r6(gain))
      assert(gain > 0.0 && gain < 1.0)
      // steady-state Riccati fixed point for Q=1, R=10: with
      // x = p* + Q, x solves x² − x − 10 = 0 → x = (1+√41)/2, so
      // p* = x − 1 ≈ 2.7016 — converged well below the R=10 prior
      // after a month of days
      assert(row.getDouble(4) < 2.8 && row.getDouble(4) > 2.6,
        s"p_var ${row.getDouble(4)} not converged")
      assert(row.getDouble(5) >= 0.0)
    }
  }

  test("win_mann_kendall: S and tie-corrected variance replay exactly; verdict matches z") {
    val rows = WindowQueries.winMannKendall.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(x => (x.getString(0), (x.getDate(1).toString, x.getLong(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1).map(_._2) }
    rows.foreach { row =>
      val ys = series(row.getString(0))
      val n = ys.length.toLong
      var s = 0L
      for (i <- ys.indices; j <- (i + 1) until ys.length)
        s += java.lang.Long.signum(ys(j) - ys(i))
      val tieSum = ys.groupBy(identity).values
        .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) })
        .sum
      val var18 = n * (n - 1) * (2 * n + 5) - tieSum
      assert(row.getLong(1) == n)
      assert(row.getLong(2) == s, s"${row.getString(0)} S")
      assert(row.getLong(3) == var18)
      val z = row.getDouble(4)
      val verdict = row.getString(5)
      if (verdict == "increasing") assert(z > 1.96)
      else if (verdict == "decreasing") assert(z < -1.96)
      else assert(math.abs(z) <= 1.96 + 1e-6 || var18 == 0)
    }
  }

  test("ev_ab_sprt: always-valid p is monotone non-increasing; counts cumulative; flag consistent") {
    val rows = EventQueries.evAbSprt.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // day strings sorted = chronological
    val days = rows.map(_.getString(0))
    assert(days.sameElements(days.sorted))
    var prevP = Double.MaxValue
    var prev = (0L, 0L, 0L, 0L)
    rows.foreach { r =>
      val cur = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // cumulative counts never decrease; conversions never exceed arms
      assert(cur._1 >= prev._1 && cur._2 >= prev._2 &&
        cur._3 >= prev._3 && cur._4 >= prev._4)
      assert(cur._3 <= cur._1 && cur._4 <= cur._2)
      prev = cur
      val p = r.getDouble(7)
      assert(p > 0.0 && p <= 1.0)
      assert(p <= prevP + 1e-9, "always-valid p must never increase")
      prevP = p
      assert(r.getBoolean(8) == (p <= 0.05))
    }
    // the final row has every user enrolled
    val nUsers = Tables.events(spark, sfDir)
      .select($"user_id").distinct().count()
    val last = rows.last
    assert(last.getLong(1) + last.getLong(2) == nUsers)
  }

  test("sim_topk_hamming: hamming replays from sign bits; every hit shares a band; cosine ranks") {
    val rows = SimQueries.simTopkHamming.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sigs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        r.getLong(0) -> v.map(x => if (x.toDouble >= 0.0) 1 else 0).toArray
      }.toMap
    def bands(bits: Array[Int]): Array[Long] =
      (0 until 8).map(t =>
        bits.slice(8 * t, 8 * t + 8).foldLeft(0L)(_ * 2 + _)).toArray
    rows.groupBy(_.getLong(0)).foreach { case (pid, prs) =>
      val pb = bands(sigs(pid))
      val ranked = prs.sortBy(_.getInt(1))
      // rk dense from 1; cosine non-increasing with rk
      assert(ranked.map(_.getInt(1)).toSeq == (1 to ranked.length).toSeq)
      ranked.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).getDouble(4) >= w(1).getDouble(4))
      }
      prs.foreach { r =>
        val nb = bands(sigs(r.getLong(2)))
        // hamming = Σ per-band popcounts of the sign signature
        val h = pb.zip(nb).map { case (a, b) =>
          java.lang.Long.bitCount(a ^ b).toLong }.sum
        assert(r.getLong(3) == h, s"probe $pid neighbor ${r.getLong(2)}")
        // candidate admission requires at least one agreeing band
        assert(pb.zip(nb).exists { case (a, b) => a == b })
      }
    }
  }

  test("mining_item_cf: cosine replays from exact interaction counts; symmetric co") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = MiningQueries.miningItemCf.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val inter = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sfDir)
        .select($"l_orderkey".as("o_orderkey"), $"l_partkey"),
        Seq("o_orderkey"))
      .join(Tables.part(spark, sfDir)
        .select($"p_partkey".as("l_partkey"), $"p_brand"),
        Seq("l_partkey"))
      .select($"o_custkey", $"p_brand").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byBrand = inter.groupBy(_._2)
      .map { case (b, xs) => b -> xs.map(_._1).toSet }
    rows.foreach { r =>
      val (brand, other) = (r.getString(0), r.getString(2))
      val co = (byBrand(brand) & byBrand(other)).size.toLong
      assert(r.getLong(3) == co, s"$brand/$other co")
      assert(co >= 2)
      val cos = co.toDouble /
        math.sqrt(byBrand(brand).size.toDouble * byBrand(other).size)
      assert(r.getDouble(4) == r6(cos))
    }
    // per-brand rec lists are top-3, ranked by cosine desc
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val byRk = rs.sortBy(_.getInt(1))
      byRk.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).getDouble(4) >= w(1).getDouble(4))
      }
    }
  }

  test("ev_quantile_te: quantiles replay driver-side; qte consistent; monotone across q") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = EventQueries.evQuantileTe.fn(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p25", "p50", "p75"))
    // rebuild per-user revenue driver-side with the same hash arms
    val u = Tables.events(spark, sfDir)
      .withColumn("v",
        graft.api.Sampling.portableHash($"user_id", "ab:") % 2)
      .groupBy($"user_id", $"v")
      .agg(sum(when($"event_type" === "purchase",
          round($"value", 2).cast("decimal(18,2)"))
        .otherwise(lit(0).cast("decimal(18,2)")))
        .cast("decimal(18,2)").as("rev"))
      .collect()
      .map(r => (r.getLong(1), r.getDecimal(2).doubleValue()))
    def quantile(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      if (lo == s.length - 1) s(lo)
      else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
    val c = u.filter(_._1 == 0L).map(_._2)
    val t = u.filter(_._1 == 1L).map(_._2)
    val ps = Map("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)
    var prevC = Double.MinValue
    rows.foreach { r =>
      val p = ps(r.getString(0))
      assert(r.getDouble(1) == r6(quantile(c, p)), s"${r.getString(0)} control")
      assert(r.getDouble(2) == r6(quantile(t, p)), s"${r.getString(0)} treatment")
      assert(r.getDouble(3) == r6(quantile(t, p) - quantile(c, p)))
      // quantiles are monotone in q
      assert(r.getDouble(1) >= prevC); prevC = r.getDouble(1)
    }
  }

  test("win_acf: integer-moment ACF replays exactly; lag-pair counts check out") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = WindowQueries.winAcf.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(x => (x.getString(0), (x.getDate(1).toString, x.getLong(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1).map(_._2) }
    rows.foreach { r =>
      val ys = series(r.getString(0))
      val n = ys.length.toLong
      val lag = r.getInt(1)
      val s1 = ys.sum
      val s2 = ys.map(y => y * y).sum
      val pairs = ys.drop(lag).zip(ys.dropRight(lag))
      val c = pairs.map { case (a, b) => a * b }.sum
      val al = ys.drop(lag).sum
      val bl = ys.dropRight(lag).sum
      assert(r.getLong(2) == n)
      assert(r.getLong(3) == n - lag, s"${r.getString(0)} lag $lag n_pairs")
      val num = n * n * c - n * s1 * (al + bl) + (n - lag) * s1 * s1
      val den = n * n * s2 - n * s1 * s1
      assert(den != 0)
      assert(r.getDouble(4) == r6(num.toDouble / den.toDouble),
        s"${r.getString(0)} lag $lag acf")
      // a sample autocorrelation with the global mean is bounded
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9)
    }
    // every type reports all 7 lags
    rows.groupBy(_.getString(0)).foreach { case (t, g) =>
      assert(g.map(_.getInt(1)).sorted.sameElements(1 to 7), t)
    }
  }

  test("ev_bandit_ucb: cumulative UCB1 replays from portable-hash arms; one choice per day") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = EventQueries.evBanditUcb.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // replay: per (day, arm) pulls/rewards from the same salted hash
    val ev = Tables.events(spark, sfDir)
      .select(to_date($"ts").cast("string").as("day"), $"user_id",
        $"event_type", $"value")
      .collect()
      .map { r =>
        val arm =
          (graft.streaming.EventStreams.portableHash(r.getLong(1), "ab:")
            % 2).toInt
        val rew = if (r.getString(2) == "purchase" && r.getDouble(3) > 100)
          1L else 0L
        ((r.getString(0), arm), (1L, rew))
      }
      .groupBy(_._1)
      .map { case (k, v) => k -> (v.map(_._2._1).sum, v.map(_._2._2).sum) }
    val days = ev.keys.map(_._1).toSeq.distinct.sorted
    var cum = Map(0 -> (0L, 0L), 1 -> (0L, 0L))
    val expect = days.flatMap { d =>
      (0 to 1).map { a =>
        val (p, w) = ev.getOrElse((d, a), (0L, 0L))
        val (cp, cw) = cum(a)
        cum = cum.updated(a, (cp + p, cw + w))
        (d, a) -> cum(a)
      }
    }.toMap
    assert(rows.length == days.length * 2)
    rows.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      val (n, w) = expect(key)
      assert(r.getLong(2) == n, s"$key pulls")
      assert(r.getLong(3) == w, s"$key rewards")
      val ntot = expect((r.getString(0), 0))._1 + expect((r.getString(0), 1))._1
      assert(r.getDouble(4) == r6(w.toDouble / n), s"$key mean")
      val ucb = w.toDouble / n + math.sqrt(2.0 * math.log(ntot.toDouble) / n)
      assert(r.getDouble(5) == r6(ucb), s"$key ucb")
      // exploration bonus keeps the index above the plain mean
      assert(r.getDouble(5) > r.getDouble(4))
    }
    // exactly one arm chosen per day, and it carries the max rounded ucb
    rows.groupBy(_.getString(0)).foreach { case (d, g) =>
      val chosen = g.filter(_.getBoolean(6))
      assert(chosen.length == 1, s"$d chosen count")
      assert(chosen.head.getDouble(5) == g.map(_.getDouble(5)).max, d)
    }
  }

  test("text_winnowing: full MOSS replay (k=8, w=4, rightmost-min ties, df<=20) matches") {
    val rows = TextQueries.textWinnowing.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def h32(g: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    // selection: min of h*1024 + (1023 - pos) over each 4-gram window
    val sel: Map[Long, Set[Long]] = docs.map { case (id, text) =>
      val es = (1 to text.length - 7).map { pos =>
        h32(text.substring(pos - 1, pos + 7)) * 1024L + (1023L - pos)
      }
      id -> es.sliding(4).filter(_.length == 4).map(_.min)
        .map(_ / 1024L).toSet
    }.toMap
    val df = sel.values.flatten.groupBy(identity).map { case (f, o) =>
      f -> o.size }
    val kept = sel.map { case (id, fs) =>
      id -> fs.filter(f => df(f) >= 2 && df(f) <= 20) }
    val ids = kept.keys.toSeq.sorted
    val expect = (for {
      i <- ids; j <- ids if i < j
      shared = (kept(i) & kept(j)).size if shared >= 5
    } yield (i, j) -> shared).toMap
    assert(rows.keySet == expect.keySet,
      s"pair sets differ: spark-only ${rows.keySet -- expect.keySet}, " +
        s"replay-only ${expect.keySet -- rows.keySet}")
    expect.foreach { case (p, shared) =>
      val (n, overlap) = rows(p)
      assert(n == shared, s"$p n_shared")
      val mn = math.min(kept(p._1).size, kept(p._2).size)
      assert(overlap ==
        BigDecimal(shared.toDouble / mn)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$p overlap")
    }
  }

  test("multimodal_phash_wide: strict precision subset of the 16-bit tier") {
    val wide = MultimodalQueries.multimodalPhashWide.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val narrow = MultimodalQueries.multimodalPhashNeardup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(wide.nonEmpty, "wide tier should still find template pairs")
    // the 32-bit signature's low 16 bits ARE the 16-bit signature
    // (same hash bits, same balances), so hamming32 >= hamming16 and
    // every wide pair must appear in the 16-bit tier with a <= distance
    wide.foreach { case (p, h32) =>
      assert(narrow.contains(p), s"wide pair $p missing from 16-bit tier")
      assert(narrow(p) <= h32, s"$p: hamming16 ${narrow(p)} > hamming32 $h32")
    }
    // and it must actually sharpen: an order of magnitude fewer pairs
    assert(wide.size * 10 <= narrow.size,
      s"wide ${wide.size} vs narrow ${narrow.size}")
  }

  test("embed_isotropy: exact-decimal replay; Jensen bound holds per label") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = SimQueries.embedIsotropy.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"label", $"embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    rows.foreach { r =>
      val label = r.getInt(0)
      val vs = vecs.filter(_._1 == label).map(_._2)
      val n = vs.length
      assert(r.getLong(1) == n.toLong)
      def q(x: Double): BigDecimal =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val dims = vs.head.length
      val s = (0 until dims).map(d => vs.map(v => q(v(d).toDouble)).sum)
      val ss = s.map(x => x * x).sum
      val sxx = vs.flatten.map(x => { val v = q(x.toDouble); v * v }).sum
      assert(r.getDouble(2) == r6(math.sqrt(ss.toDouble) / n), s"$label mu")
      assert(r.getDouble(3) == r6(math.sqrt(sxx.toDouble / n)), s"$label rms")
      assert(r.getDouble(4) == r6(ss.toDouble / (n.toDouble * sxx.toDouble)),
        s"$label isotropy")
      // Jensen: ||mean vec||^2 <= mean ||vec||^2
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("agg_chi2_independence: chi2 replays from the exact contingency table") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = AggQueries.aggChi2Independence.fn(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    // replay the whole statistic from the raw join
    val cells = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority").count()
      .collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    val n = cells.values.sum
    val rt = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val ct = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val su = cells.map { case ((sg, pr), o) =>
      q12(o.toDouble * o / (rt(sg) * ct(pr)))
    }.sum
    val chiExact = (su - 1) * BigDecimal(n)
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == rt.size && r.getLong(2) == ct.size)
    assert(r.getLong(3) == (rt.size - 1).toLong * (ct.size - 1))
    assert(r.getDouble(4) == r6(chiExact.toDouble), "chi2")
    assert(r.getDouble(5) == r6(math.sqrt(
      chiExact.toDouble / (n * math.min(rt.size - 1, ct.size - 1)))),
      "cramers_v")
    assert(r.getBoolean(6) == (chiExact.toDouble > 26.296))
    // chi2 and V live in their valid ranges
    assert(r.getDouble(4) >= 0.0)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // the fixture's grid is the full 5x5 at every SF (the dof-16
    // rejection literal's precondition)
    assert(r.getLong(3) == 16)
  }

  test("sim_topk_nng: full beam-walk replay matches; recall@3 vs exact >= 0.7") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val byId = vecs.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    // directed k=10 edge lists, then the symmetrized adjacency
    val g: Map[Long, Seq[Long]] = vecs.map { case (src, v) =>
      src -> vecs.filter(_._1 != src)
        .map { case (dst, w) => (dst, cos(v, w)) }
        .sortBy { case (dst, c) => (-c, dst) }.take(10).map(_._1).toSeq
    }.toMap
    val adj: Map[Long, Set[Long]] = {
      val both = g.toSeq.flatMap { case (s2, ds) =>
        ds.flatMap(d => Seq(s2 -> d, d -> s2)) }
      both.groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    }
    // 8 degree-seeded entries: highest symmetrized degree, id ties
    // (the adopted entry layer — Similarity.nngBuild scaladoc)
    val entries = adj.toSeq.map { case (n, ds) => (n, ds.size) }
      .sortBy { case (n, deg) => (-deg, n) }.take(8).map(_._1)
    val probes = vecs.map(_._1).filter(_ < 50)
    // replay the greedy beam walk: beam 10, 4 rounds
    val expected = probes.flatMap { pid =>
      val pv = byId(pid)
      var visited: Map[Long, Double] =
        entries.map(e => e -> cos(pv, byId(e))).toMap
      for (_ <- 1 to 4) {
        val frontier = visited.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(10).map(_._1)
        val fresh = frontier.flatMap(adj(_)).distinct
          .filterNot(visited.contains)
        visited = visited ++ fresh.map(n => n -> cos(pv, byId(n)))
      }
      visited.toSeq.filter(_._1 != pid)
        .sortBy { case (n, c) => (-c, n) }.take(3).zipWithIndex
        .map { case ((n, c), i) => (pid, i + 1, n, c) }
    }.toSet
    val got = SimQueries.simTopkNng.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected, "beam-walk trajectory diverged")
    // recall@3 of the graph walk vs the exact brute-force top-3
    val exact = probes.map { pid =>
      val pv = byId(pid)
      pid -> vecs.filter(_._1 != pid)
        .map { case (n, w) => (n, cos(pv, w)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1).toSet
    }.toMap
    val hits = got.groupBy(_._1).map { case (pid, rows) =>
      rows.map(_._3).count(exact(pid)) }.sum
    val recall = hits.toDouble / (probes.length * 3)
    assert(recall >= 0.7, f"mean recall@3 $recall%.3f below floor")
  }

  test("sim_nng_ingest: links = base-graph walk; nngInsert grows a symmetric graph") {
    val rows = SimQueries.simNngIngest.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // every arrival links to exactly 10 BASE nodes, ranked
    rows.groupBy(_._1).foreach { case (pid, g) =>
      assert(pid % 5 == 4, s"probe $pid not an arrival")
      assert(g.map(_._2).sorted.sameElements(1 to 10), s"$pid ranks")
      g.foreach { case (_, _, dst, _) =>
        assert(dst % 5 < 4, s"$pid linked to non-base $dst") }
      // ranked by (cosine desc, id)
      val sorted2 = g.sortBy(_._2).map(x => (-x._4, x._3))
      assert(sorted2.sameElements(sorted2.sorted), s"$pid rank order")
    }
    // the mutating half on a scratch copy of the base index
    import graft.api.Similarity
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val base = ev.filter($"vec_id" % 5 < 4)
    val arrivals = ev.filter($"vec_id" % 5 === 4)
    val tmp = java.nio.file.Files
      .createTempDirectory("nng_ingest_spec").toString
    Similarity.nngBuild(base, "vec_id", "v", tmp, k = 10, nEntries = 8)
    val links = Similarity.nngInsert(arrivals, "vec_id", "v", tmp)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(links.toSet == rows.toSet,
      "nngInsert links diverge from the contract row")
    val adj = spark.read.parquet(s"$tmp/adj")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // symmetric after insert
    assert(adj.forall { case (a, b) => adj((b, a)) }, "adj asymmetric")
    // every arrival present with its full degree (10 out-links)
    val arrIds = arrivals.select($"vec_id").collect().map(_.getLong(0))
    arrIds.foreach { a =>
      assert(adj.count(_._1 == a) >= 10, s"arrival $a under-linked") }
    // grown nodes cover base + arrivals
    val nNodes = spark.read.parquet(s"$tmp/nodes").count()
    assert(nNodes == ev.count(), "nodes not grown to full corpus")
  }

  test("sim_recall_nng: hits = |walk top-3 ∩ exact top-3|; mean recall >= 0.7") {
    val rows = SimQueries.simRecallNng.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val walk = SimQueries.simTopkNng.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val exact = graft.api.Similarity
      .cosineTopK(ev, ev.filter($"vec_id" < 50), "vec_id", "v", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { case (pid, nExact, nHits, recall) =>
      assert(nExact == 3)
      assert(nHits == (walk(pid) & exact(pid)).size.toLong, s"probe $pid")
      assert(recall == nHits.toDouble / 3)
      assert(recall >= 0.0 && recall <= 1.0)
    }
    val mean = rows.map(_._4).sum / rows.length
    assert(mean >= 0.7, f"mean recall $mean%.3f below floor")
  }

  test("merge_schema_evolution: widened snapshot replays; legacy rows null-padded") {
    val rows = LayoutQueries.mergeSchemaEvolution.fn(spark, sfDir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.nonEmpty)
    // in-memory replay from raw orders
    val raw = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority",
        $"o_totalprice".cast("decimal(18,2)").as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDecimal(2).stripTrailingZeros))
    val merged = raw.filter { case (k, _, _) => k % 7 != 0 || k % 3 == 0 }
      .map { case (k, pr, p) =>
        val price =
          if (k % 3 == 0)
            (BigDecimal(p) * BigDecimal("1.1"))
              .setScale(2, BigDecimal.RoundingMode.HALF_UP)
          else BigDecimal(p).setScale(2)
        val ch =
          if (k % 3 == 0) { if (k % 2 == 0) "online" else "store" }
          else "(legacy)"
        ((pr, ch), price)
      }
    val expected = merged.groupBy(_._1).map { case (k, v) =>
      k -> (v.size.toLong,
        v.map(_._2).sum.setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (k, (n, s)) =>
      assert(rows(k)._1 == n, s"$k count")
      assert(rows(k)._2 == s, s"$k sum")
    }
    // the published files actually carry the widened schema
    val snap = spark.read.parquet(
      s"/tmp/graft_layout/merge_schema_evo_" +
        sfDir.replaceAll("[^a-zA-Z0-9]", "_"))
    assert(snap.columns.contains("channel"))
    val legacyNulls = snap.filter($"channel".isNull).count()
    assert(legacyNulls > 0, "no null-padded legacy rows in the files")
  }

  test("win_runs_test: runs/moments replay from the daily series; ties dropped") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val series = Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(x => (x.getString(0), (x.getDate(1).toString, x.getLong(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1).map(_._2) }
    val rows = WindowQueries.winRunsTest.fn(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length == series.size)
    rows.foreach { r =>
      val ys = series(r.getString(0))
      // exact interpolated median of the sorted counts
      val sorted = ys.sorted
      val med =
        if (sorted.length % 2 == 1) sorted(sorted.length / 2).toDouble
        else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
      val signs = ys.filter(_.toDouble != med).map(y => if (y > med) 1 else 0)
      val n1 = signs.count(_ == 1).toLong
      val n2 = signs.count(_ == 0).toLong
      val runs = (1 +
        signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))).toLong
      assert(r.getLong(1) == n1 && r.getLong(2) == n2, r.getString(0))
      assert(r.getLong(3) == runs, s"${r.getString(0)} runs")
      val n = n1 + n2
      val mu = (2L * n1 * n2).toDouble / n + 1
      val v2 = (2L * n1 * n2 * (2L * n1 * n2 - n1 - n2)).toDouble /
        (n * n * (n - 1)).toDouble
      val z = (runs.toDouble - mu) / math.sqrt(v2)
      assert(r.getDouble(4) == r6(z), s"${r.getString(0)} z")
      assert(r.getString(5) ==
        (if (math.abs(z) > 1.96) "non_random" else "random"))
      // runs count is bounded by the sequence length
      assert(runs >= 1 && runs <= n)
    }
  }

  test("nngBuildDescent: linear build replays exactly; edge recall beats the ring") {
    import graft.api.Similarity
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val byId = vecs.toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (byId(a), byId(b))
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); na += x(i) * x(i)
        nb += y(i) * y(i); i += 1 }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    def phash(salt: String, id2: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$id2".getBytes("UTF-8"))
      md.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val (k, rounds, pool) = (10, 6, 20)
    val n = vecs.length
    val ring = vecs.map(_._1).sortBy(i => (phash("nngd:", i), i))
    val rank = ring.zipWithIndex.toMap
    val atRank = ring.zipWithIndex.map(_.swap).toMap
    def topN(cand: Map[Long, Set[Long]], nKeep: Int): Map[Long, Seq[Long]] =
      cand.map { case (s2, ds) =>
        s2 -> ds.toSeq.map(d => (d, cos(s2, d)))
          .sortBy { case (d, c) => (-c, d) }.take(nKeep).map(_._1) }
    val init: Map[Long, Set[Long]] = vecs.map { case (s2, _) =>
      s2 -> (1 to pool).map(o => atRank((rank(s2) + o) % n)).toSet }.toMap
    var cand = topN(init, pool)
    for (_ <- 1 to rounds) {
      val adj = cand.toSeq
        .flatMap { case (s2, ds) => ds.flatMap(d => Seq(s2 -> d, d -> s2)) }
        .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val next = vecs.map { case (s2, _) =>
        val nn2 = adj.getOrElse(s2, Set.empty)
          .flatMap(m => adj.getOrElse(m, Set.empty)) - s2
        s2 -> (nn2 ++ cand(s2))
      }.toMap
      cand = topN(next, pool)
    }
    val candK = cand.map { case (k2, v) => k2 -> v.take(k) }
    // drive the distributed build and compare the full edge set
    val tmp = java.nio.file.Files
      .createTempDirectory("nng_descent_spec").toString
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    Similarity.nngBuildDescent(ev, "vec_id", "v", tmp, k = k,
      rounds = rounds, pool = pool)
    val got = spark.read.parquet(s"$tmp/edges")
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val expected = candK.map { case (k2, v) => k2 -> v.toSet }
    assert(got == expected, "descent trajectory diverged")
    // edge recall vs the exact top-k lists: descent must clearly beat
    // the hash-ring init it started from
    val exact = vecs.map { case (s2, _) =>
      s2 -> vecs.map(_._1).filter(_ != s2)
        .map(d => (d, cos(s2, d)))
        .sortBy { case (d, c) => (-c, d) }.take(k).map(_._1).toSet
    }.toMap
    def recall(g: Map[Long, Set[Long]]): Double =
      g.map { case (s2, ds) => (ds & exact(s2)).size }.sum.toDouble /
        (n * k)
    val rInit = recall(topN(init, k)
      .map { case (k2, v) => k2 -> v.toSet })
    val rFinal = recall(got)
    assert(rFinal >= 0.9, f"descent edge recall $rFinal%.3f too low")
    assert(rFinal > rInit + 0.3,
      f"descent ($rFinal%.3f) did not improve on the ring ($rInit%.3f)")
    // the descent graph serves through the SAME walk
    val served = Similarity.nngTopK(ev.filter($"vec_id" < 5),
      "vec_id", "v", tmp, k = 3)
    assert(served.count() == 15)
  }

  test("descent-built graph passes the serving recall floor (sim_recall_nng harness)") {
    // the 100-TB NNG story splices two tables: serving is measured on
    // exact-built graphs, the scale build is descent. This closes the
    // seam at the fixture SF: the SAME walk at the SAME sim_recall_nng
    // parameters (k=3, beam=10, rounds=4, probes vec_id < 50) over a
    // DESCENT-built graph must clear the same mean-recall floor the
    // exact-built graph is held to (0.7).
    val ev = Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val n = ev.count()
    val tmp = java.nio.file.Files
      .createTempDirectory("nng_descent_recall").toString
    graft.api.Similarity.nngBuildDescent(ev, "vec_id", "v", tmp, k = 10,
      rounds = math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
    val probes = ev.filter($"vec_id" < 50)
    val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id", "v", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val served = graft.api.Similarity.nngTopK(probes, "vec_id", "v", tmp,
        k = 3, beam = 10, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (served & exact).size.toDouble / exact.size
    info(f"descent-graph serving recall@3: $recall%.3f")
    assert(recall >= 0.7,
      f"descent-served recall $recall%.3f below the sim_recall_nng floor")
  }

  test("sim_topk_nng_descent: full build+walk replay at the contract parameters") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val byId = vecs.toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (byId(a), byId(b))
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); na += x(i) * x(i)
        nb += y(i) * y(i); i += 1 }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    def phash(salt: String, id2: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt$id2".getBytes("UTF-8"))
      md.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val (k, pool, buildRounds) = (10, 20, 10)
    val n = vecs.length
    // descent build replay
    val ring = vecs.map(_._1).sortBy(i => (phash("nngd:", i), i))
    val rank = ring.zipWithIndex.toMap
    val atRank = ring.zipWithIndex.map(_.swap).toMap
    def topN(cand: Map[Long, Set[Long]], nKeep: Int): Map[Long, Seq[Long]] =
      cand.map { case (s2, ds) =>
        s2 -> ds.toSeq.map(d => (d, cos(s2, d)))
          .sortBy { case (d, c) => (-c, d) }.take(nKeep).map(_._1) }
    var cand = topN(vecs.map { case (s2, _) =>
      s2 -> (1 to pool).map(o => atRank((rank(s2) + o) % n)).toSet }.toMap,
      pool)
    for (_ <- 1 to buildRounds) {
      val adj = cand.toSeq
        .flatMap { case (s2, ds) => ds.flatMap(d => Seq(s2 -> d, d -> s2)) }
        .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
      cand = topN(vecs.map { case (s2, _) =>
        val nn2 = adj.getOrElse(s2, Set.empty)
          .flatMap(m => adj.getOrElse(m, Set.empty)) - s2
        s2 -> (nn2 ++ cand(s2))
      }.toMap, pool)
    }
    val g = cand.map { case (k2, v) => k2 -> v.take(k) }
    val adjF: Map[Long, Set[Long]] = g.toSeq
      .flatMap { case (s2, ds) => ds.flatMap(d => Seq(s2 -> d, d -> s2)) }
      .groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    // walk replay (entries salt nng:, beam 10, 4 rounds, top-3 out)
    val entries = vecs.map(_._1).sortBy(i => (phash("nng:", i), i)).take(8)
    val probes = vecs.map(_._1).filter(_ < 50)
    val expected = probes.flatMap { pid =>
      var visited: Map[Long, Double] =
        entries.map(e => e -> cos(pid, e)).toMap
      for (_ <- 1 to 4) {
        val frontier = visited.toSeq
          .sortBy { case (nd, c) => (-c, nd) }.take(10).map(_._1)
        val fresh = frontier.flatMap(adjF.getOrElse(_, Set.empty))
          .distinct.filterNot(visited.contains)
        visited = visited ++ fresh.map(nd => nd -> cos(pid, nd))
      }
      visited.toSeq.filter(_._1 != pid)
        .sortBy { case (nd, c) => (-c, nd) }.take(3).zipWithIndex
        .map { case ((nd, c), i) => (pid, i + 1, nd, c) }
    }.toSet
    val got = SimQueries.simTopkNngDescent.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected, "descent build+walk trajectory diverged")
  }

  test("agg_mutual_info: exact-grid replay; MI within [0, min entropy]") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def l8(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def p12(num: Long, den: Long): BigDecimal =
      BigDecimal(num.toDouble / den)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val cells = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority").count()
      .collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    val n = cells.values.sum
    val rt = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val ct = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val mi = cells.map { case ((sg, pr), o) =>
      p12(o, n) * (l8(o.toDouble) + l8(n.toDouble)
        - l8(rt(sg).toDouble) - l8(ct(pr).toDouble))
    }.sum
    def h(m: Map[String, Long]): BigDecimal =
      m.values.map(v => -(p12(v, n) * (l8(v.toDouble) - l8(n.toDouble)))).sum
    val (hs, hp) = (h(rt), h(ct))
    val r = AggQueries.aggMutualInfo.fn(spark, sfDir).collect().head
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == r6(mi.toDouble), "mi")
    assert(r.getDouble(2) == r6(hs.toDouble), "h_seg")
    assert(r.getDouble(3) == r6(hp.toDouble), "h_prio")
    assert(r.getDouble(4) ==
      r6(mi.toDouble / math.min(hs.toDouble, hp.toDouble)), "nmi")
    // information-theoretic bounds (up to the 8-place log rounding)
    assert(r.getDouble(1) >= -1e-6)
    assert(r.getDouble(1) <= math.min(r.getDouble(2), r.getDouble(3)) + 1e-6)
    assert(r.getDouble(4) >= -1e-6 && r.getDouble(4) <= 1 + 1e-6)
  }

  test("sim_topk_filtered: label blocking == brute-force filtered ranking") {
    val rows = SimQueries.simTopkFiltered.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    assert(rows.nonEmpty)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val expected = vecs.filter(_._1 < 50).flatMap { case (pid, lb, pv) =>
      vecs.filter(x => x._2 == lb && x._1 != pid)
        .map { case (nid, _, nv) => (nid, cos(pv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3).zipWithIndex
        .map { case ((nid, c), i) => (pid, i + 1, nid, c, lb) }
    }.toSet
    assert(rows.toSet == expected)
    // every result shares the probe's label (the filter actually binds)
    val lbl = vecs.map(v => v._1 -> v._2).toMap
    rows.foreach { case (pid, _, nid, _, l) =>
      assert(lbl(pid) == l && lbl(nid) == l) }
  }

  test("dedup_clusters_incremental: contracted apply == full recompute; boundary merges exist") {
    val full = DedupQueries.dedupClusters.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = DedupQueries.dedupClustersIncremental.fn(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, "incremental CC diverges from full recompute")
    // the test is only meaningful if some candidate pair actually
    // straddles the base/arrival boundary (a merge the contracted
    // state cannot know about)
    val pairs = DedupQueries.minhashPairsSpark(spark, sfDir)
      .select($"doc1", $"doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cross = pairs.count { case (a, b) =>
      (a % 5 < 4) != (b % 5 < 4) }
    assert(cross > 0, "fixture has no base/arrival straddling pairs")
  }

  test("win_granger_causality: F replays from exact moments; matrix complete") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val series: Map[String, Map[String, Long]] = Tables
      .events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(x => (x.getString(0), x.getDate(1).toString, x.getLong(2)))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(x => x._2 -> x._3).toMap }
    val rows = WindowQueries.winGrangerCausality.fn(spark, sfDir)
      .collect()
    val types = series.keySet
    assert(rows.length == types.size * (types.size - 1), "matrix size")
    rows.foreach { r =>
      val (cse, eff) = (r.getString(0), r.getString(1))
      // align on calendar days where effect(t), effect(t-1), cause(t-1)
      val ef = series(eff); val ca = series(cse)
      val obs = ef.keys.toSeq.sorted.flatMap { d =>
        val prev = java.time.LocalDate.parse(d).minusDays(1).toString
        for (yl <- ef.get(prev); xl <- ca.get(prev))
          yield (ef(d), yl, xl)
      }
      val n = obs.length.toLong
      assert(r.getLong(2) == n, s"$cse->$eff n")
      // exact integer moments, cast once, fixed-order formula
      val nD = n.toDouble
      val syD = obs.map(_._1).sum.toDouble
      val sylD = obs.map(_._2).sum.toDouble
      val sxlD = obs.map(_._3).sum.toDouble
      val sy2D = obs.map(o => o._1 * o._1).sum.toDouble
      val syl2D = obs.map(o => o._2 * o._2).sum.toDouble
      val sxl2D = obs.map(o => o._3 * o._3).sum.toDouble
      val syylD = obs.map(o => o._1 * o._2).sum.toDouble
      val syxlD = obs.map(o => o._1 * o._3).sum.toDouble
      val sylxlD = obs.map(o => o._2 * o._3).sum.toDouble
      val syy = sy2D - syD * syD / nD
      val sylyl = syl2D - sylD * sylD / nD
      val sxlxl = sxl2D - sxlD * sxlD / nD
      val syyl = syylD - syD * sylD / nD
      val syxl = syxlD - syD * sxlD / nD
      val sylxl = sylxlD - sylD * sxlD / nD
      val det = sylyl * sxlxl - sylxl * sylxl
      val bU = (syyl * sxlxl - syxl * sylxl) / det
      val cU = (syxl * sylyl - syyl * sylxl) / det
      val rssR = syy - syyl * syyl / sylyl
      val rssU = syy - bU * syyl - cU * syxl
      val fStat = (rssR - rssU) * (nD - 3) / rssU
      if (det <= 0 || sylyl <= 0 || rssU <= 0) {
        assert(r.isNullAt(3) && r.isNullAt(4), s"$cse->$eff guard")
      } else {
        assert(r.getDouble(3) == r6(fStat), s"$cse->$eff F")
        assert(r.getBoolean(4) == (fStat > 3.87), s"$cse->$eff verdict")
        // F is a ratio of sums of squares: non-negative up to rounding
        assert(r.getDouble(3) >= -1e-6)
      }
    }
  }

  test("ev_attribution_shapley: exact lattice replay; efficiency identity holds") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val channels = ev.map(_._2).distinct.filter(_ != "purchase").sorted
    assert(channels.length == 4, "fixture channel count (weights precondition)")
    val rnk = channels.zipWithIndex.toMap
    val users = ev.map(_._1).distinct
    val conv = ev.filter(_._2 == "purchase").map(_._1).toSet
    val masks = ev.filter(x => x._2 != "purchase")
      .groupBy(_._1).map { case (u, xs) =>
        u -> xs.map(x => 1 << rnk(x._2)).distinct.sum }
    val byMask = users.groupBy(u => masks.getOrElse(u, 0))
    val v: Map[Int, BigDecimal] = (0 until 16).map { m =>
      m -> byMask.get(m).map { us =>
        q12(us.count(conv).toDouble / us.length)
      }.getOrElse(BigDecimal(0))
    }.toMap
    val w24 = Map(0 -> 6, 1 -> 2, 2 -> 2, 3 -> 6)
    val s24: Map[String, BigDecimal] = channels.map { c =>
      val bit = 1 << rnk(c)
      c -> (0 until 16).filter(m => (m & bit) == 0).map { m =>
        BigDecimal(w24(Integer.bitCount(m))) * (v(m + bit) - v(m))
      }.sum
    }.toMap
    val rows = EventQueries.evAttributionShapley.fn(spark, sfDir)
      .collect()
    assert(rows.map(_.getString(0)).sorted.sameElements(channels))
    val total = s24.values.sum
    rows.foreach { r =>
      val c = r.getString(0)
      assert(r.getDouble(1) == r6(s24(c).toDouble / 24), s"$c shapley")
      assert(r.getDouble(2) == r6(s24(c).toDouble / total.toDouble),
        s"$c share")
    }
    // Shapley efficiency: sum of credits = v(full) - v(empty), exact
    // in the 24-scaled decimal domain
    assert(total == (v(15) - v(0)) * 24, "efficiency identity")
  }

  test("win_ljung_box: Q replays from win_acf's rounded grid; h = 7 everywhere") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val acf = WindowQueries.winAcf.fn(spark, sfDir).collect()
      .map(x => (x.getString(0),
        (x.getInt(1), x.getLong(2), x.getDouble(4))))
      .groupBy(_._1)
    val rows = WindowQueries.winLjungBox.fn(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length == acf.size)
    rows.foreach { r =>
      val t = r.getString(0)
      val lags = acf(t).map(_._2)
      val n = lags.head._2
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == 7, s"$t h") // every series has >= 8 days
      val su = lags.map { case (lag, _, a) =>
        val rq = BigDecimal(a).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        q12((rq * rq).toDouble / (n - lag))
      }.sum
      val qStat = su * BigDecimal(n * (n + 2))
      assert(r.getDouble(3) == r6(qStat.toDouble), s"$t q_stat")
      assert(r.getBoolean(4) == (qStat.toDouble > 14.067), t)
      assert(r.getDouble(3) >= 0.0)
    }
  }
  test("ev_session_gap_sweep: the 30-min point equals the shipped ev_session fleet totals") {
    // the sweep derives sessions(g) from the delta multiset (users +
    // breaks); the shipped row sessionizes per user with the same
    // >=-boundary rule — the two spellings must agree exactly at the
    // shared gap, including the exact in-session time behind the mean
    val sweep = EventQueries.evSessionGapSweep.fn(spark, sfDir)
      .filter($"gap_min" === 30).head()
    val per = EventQueries.evSession.fn(spark, sfDir)
      .agg(sum($"n_sessions"), sum($"n_events")).head()
    assert(sweep.getLong(2) == per.getLong(0), "n_sessions at g=30")
    assert(sweep.getLong(1) == per.getLong(1), "n_events")
  }

  test("graph_betweenness_knn: wide-horizon Brandes readout is internally consistent") {
    val rows = GraphQueries.graphBetweennessKnn.fn(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 500)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 8, "seed hits in [1,8]")
      assert(r.getDouble(2) >= 0.0, "betweenness non-negative")
    }
    // the sparse graph actually exercises the wider horizon: strictly
    // more nodes are reached than the seeds' 3-hop ball on a 4-NN
    // graph could guarantee, and some node carries transit credit
    assert(rows.count(_.getDouble(2) > 0) > 8, "real transit hubs exist")
  }

  test("dq_binomial_test: p-values replay an independent exact binomial tail") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderpriority").collect()
    val p0 = orders.count(_.getString(1) == "1-URGENT").toDouble /
      orders.length
    // independent spelling: log-free exact tail via BigDecimal-safe
    // double recursion in the OPPOSITE direction (upper tail summed
    // directly, not 1 - lower) — agreement to 6 places certifies the
    // fold is computing the right quantity, not just a stable one
    def upperTail(n: Int, x: Int): Double = {
      var pmf = math.pow(1 - p0, n)
      var k = 0
      var lower = 0.0
      while (k < x) {
        lower += pmf
        pmf = pmf * (n - k) / (k + 1) * p0 / (1 - p0)
        k += 1
      }
      1.0 - lower
    }
    val rows = AuditQueries.dqBinomialTest.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val grid = orders.groupBy(_.getLong(0)).toSeq.map { case (_, os) =>
      (os.length, os.count(_.getString(1) == "1-URGENT"))
    }.groupBy(identity).map { case (k, v) => (k, v.size) }
    assert(rows.length == grid.size, "one row per (n, x) cell")
    rows.foreach { r =>
      val (n, x) = (r.getLong(0).toInt, r.getLong(1).toInt)
      assert(r.getLong(2) == grid((n, x)).toLong, s"cell count ($n,$x)")
      assert(math.abs(r.getDouble(4) - r6(upperTail(n, x))) <= 1e-6,
        s"p-value at ($n,$x)")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      if (x == 0) assert(r.getDouble(4) == 1.0, "x=0 tail is 1")
    }
    // sum over cells of n_customers = customer count
    assert(rows.map(_.getLong(2)).sum == grid.values.sum.toLong)
  }

  test("dq_bh_fdr: step-up contract — monotone rejections, planted FDR under alpha, exact split") {
    val rows = AuditQueries.dqBhFdr.fn(spark, sfDir).collect()
    assert(rows.length == 4)
    val byAlpha = rows.sortBy(_.getDouble(0))
    // rejections monotone in alpha
    assert(byAlpha.map(_.getLong(2)).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)), "monotone in alpha")
    byAlpha.foreach { r =>
      val (alpha, m, rej, tp, fp) = (r.getDouble(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(rej == tp + fp, "split is exact")
      assert(tp <= m / 10, "true positives bounded by planted cohort")
      if (rej > 0) {
        // BH promise holds on the planted ground truth
        assert(r.getDouble(5) <= alpha, s"FDR at alpha=$alpha")
        // the cut is a rejected p-value, so it sits under its own
        // step-up bar k*·alpha/m
        assert(r.getDouble(6) <= r.getDouble(7) + 1e-9,
          "p_cut under bh_threshold")
      } else {
        assert(r.getDouble(5) == 0.0 && r.getDouble(6) == -1.0)
      }
    }
    // the planted cohort is detectable at all: some alpha rejects
    assert(byAlpha.last.getLong(2) > 0, "alpha=0.25 rejects")
  }
}
