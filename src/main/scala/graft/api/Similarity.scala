package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Public, fixture-independent similarity-search API (see [[Dedup]]
  * for conventions). Vectors are `array<double>` columns; cosine is
  * computed by the codegen'd vec_dot/vec_norm expressions and rounded
  * to 6 places before ranking so tie-breaks are deterministic.
  */
object Similarity {

  private def prep(vecs: DataFrame, id: String, vec: String): DataFrame = {
    graft.functions.VectorExpressions.register(vecs.sparkSession)
    vecs.select(col(id).as("vid"), col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
  }

  private val dot = "vec_dot(va, vb)"

  /** Exact top-k cosine neighbors of each probe row against the
    * corpus: (probe_id, rk, neighbor_id, cosine). The probe set is
    * broadcast; the corpus is scanned once and never shuffled. */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val c = prep(corpus, id, vec)
      .select(col("vid").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"))
    val p = prep(probes, id, vec)
      .select(col("vid").as("probe_id"), col("v").as("va"),
        col("nrm").as("na"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998): greedy
    * re-rank of the exact cosine shortlist so results are relevant
    * but not redundant — the retrieval move when near-duplicate
    * neighbors would crowd out coverage (RAG contexts, eval-set
    * curation): (probe_id, rnk, neighbor_id, score).
    *
    * Pick 1 is the relevance argmax; pick i maximizes
    * λ·rel − (1−λ)·max sim-to-already-picked. Scores and sims are
    * rounded to 6 places before every argmax (lexical neighbor-id
    * tiebreak), so the greedy trajectory is deterministic
    * cross-engine.
    *
    * Scale shape: one broadcast-probe corpus scan builds the
    * shortlist (identical to [[cosineTopK]]); the k−1 greedy rounds
    * then run on the probes×shortlist frame — bounded rows regardless
    * of corpus size — as per-probe windows and keyed joins. */
  def mmrTopK(corpus: DataFrame, probes: DataFrame, id: String,
      vec: String, shortlist: Int = 8, k: Int = 3,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val c = prep(corpus, id, vec).select(col("vid").as("nid"),
      col("v").as("vb"), col("nrm").as("nb"))
    val p = prep(probes, id, vec).select(col("vid").as("probe_id"),
      col("v").as("va"), col("nrm").as("na"))
    val wRel = Window.partitionBy(col("probe_id"))
      .orderBy(col("rel").desc, col("nid"))
    // The probes×shortlist frame is bounded and every greedy round
    // references it (and its growing `selected` sibling) — checkpoint
    // once so the corpus-scan shortlist subtree runs ONE job instead
    // of once per downstream reference (the pageRank discipline).
    val sl = c.join(broadcast(p), col("probe_id") =!= col("nid"))
      .withColumn("rel", round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") <= shortlist)
      .select(col("probe_id"), col("nid"), col("vb"), col("nb"),
        col("rel"))
      .ckpt()
    var selected = sl
      .withColumn("rk", row_number().over(wRel)).filter(col("rk") === 1)
      .select(col("probe_id"), lit(1).as("rnk"), col("nid"),
        col("rel").as("score"), col("vb"), col("nb"))
    for (i <- 2 to k) {
      val rem = sl.join(selected.select(col("probe_id"), col("nid")),
        Seq("probe_id", "nid"), "left_anti")
      val wPick = Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("nid"))
      val pick = rem.join(
          selected.select(col("probe_id"), col("vb").as("sb"),
            col("nb").as("sn")), Seq("probe_id"))
        .withColumn("sim",
          round(expr("vec_dot(vb, sb)") / (col("nb") * col("sn")), 6))
        .groupBy(col("probe_id"), col("nid"), col("rel"))
        .agg(max(col("sim")).as("msim"))
        .withColumn("score", round(lit(lambda) * col("rel")
          - (lit(1.0) - lit(lambda)) * col("msim"), 6))
        .withColumn("pk", row_number().over(wPick))
        .filter(col("pk") === 1)
        .join(sl.select(col("probe_id"), col("nid"), col("vb"),
          col("nb")), Seq("probe_id", "nid"))
        .select(col("probe_id"), lit(i).as("rnk"), col("nid"),
          col("score"), col("vb"), col("nb"))
      // `selected` feeds three consumers next round (anti-join, sim
      // join, union): truncate its lineage per round — the pageRank /
      // dedup_semantic checkpoint discipline — so plan size stays
      // linear in k instead of ~3^k. The frame is ≤ probes·i rows.
      selected = selected.union(pick).ckpt()
    }
    selected.select(col("probe_id"), col("rnk"),
      col("nid").as("neighbor_id"), col("score"))
  }

  /** All same-label pairs with cosine ≥ tau — the HOT-LABEL-SAFE form
    * of the label-blocked pair join: (label, v1, v2, cosine), v1 < v2.
    *
    * A plain equi-join on the label sends every row of a hot label to
    * ONE shuffle key — at 100 TB a dominant label (the common case:
    * one language, one source) serializes the whole O(n²) pair work
    * on a single task. Here each label's self-join is decomposed into
    * block PAIRS (the [[Dedup.cosinePairs]] construction, applied
    * per label): rows hash into `blocks` sub-blocks and every
    * unordered pair meets under exactly one (label, lo, hi) key, so
    * the hot label's work spreads over blocks·(blocks+1)/2 shuffle
    * keys with per-key input bounded by ~2·|label|/blocks rows —
    * while the result is provably identical to the plain join
    * (ScalePostureSpec demonstrates both properties). */
  def labelPairs(vecs: DataFrame, id: String, vec: String,
      label: String, tau: Double, blocks: Int = 8): DataFrame = {
    graft.functions.VectorExpressions.register(vecs.sparkSession)
    val e = vecs.select(col(label).as("lbl"), col(id).as("vid"),
        col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
      // block from the PORTABLE HASH of the id, not the raw id: raw
      // pmod(id, blocks) collapses to a handful of blocks on strided
      // or shard-prefixed id spaces (ids ≡ c mod 2^k — the common
      // layout at 100 TB) and rejects string ids outright; the hash
      // spreads any id type uniformly, and the block key never
      // affects the RESULT — only which shuffle key a pair meets on.
      .withColumn("blk", pmod(Sampling.portableHash(col("vid"), "blk:"),
        lit(blocks)).cast("int"))
    val lft = e.select(col("lbl"), col("vid").as("id1"),
      col("v").as("va"), col("nrm").as("na"), col("blk").as("lo"),
      explode(expr(s"sequence(blk, ${blocks - 1})")).as("hi"))
    val rgt = e.select(col("lbl"), col("vid").as("id2"),
      col("v").as("vb"), col("nrm").as("nb"),
      explode(expr("sequence(0, blk)")).as("lo"), col("blk").as("hi"))
    lft.join(rgt, Seq("lbl", "lo", "hi"))
      .filter(col("lo") =!= col("hi") || col("id1") < col("id2"))
      .withColumn("cosine",
        round(expr(dot) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .select(col("lbl").as(label),
        least(col("id1"), col("id2")).as("v1"),
        greatest(col("id1"), col("id2")).as("v2"), col("cosine"))
  }

  /** Multi-table sign-LSH approximate top-k: `tables` hash tables,
    * each bucketing on the sign bits of `bits` consecutive
    * dimensions; a probe's candidates are the union of its buckets.
    * (probe_id, rk, neighbor_id, cosine). Bucketing is a per-row
    * projection — the corpus is never shuffled. */
  def signLshTopK(corpusVecs: DataFrame, probeVecs: DataFrame,
      id: String, vec: String, k: Int, tables: Int = 8,
      bits: Int = 4): DataFrame = {
    def bucketed(df: DataFrame): DataFrame =
      prep(df, id, vec).select(col("vid"), col("v"), col("nrm"),
        posexplode(expr(
          s"""transform(sequence(0, ${tables - 1}), t ->
             |  aggregate(transform(slice(v, $bits * t + 1, $bits),
             |    x -> CASE WHEN x >= CAST(0 AS DOUBLE) THEN 1 ELSE 0 END),
             |    0, (acc, b) -> acc * 2 + b))""".stripMargin))
          .as(Seq("tbl", "bucket")))
    val probes = bucketed(probeVecs)
      .select(col("tbl"), col("bucket"), col("vid").as("probe_id"),
        col("v").as("va"), col("nrm").as("na"))
    val corpus = bucketed(corpusVecs).select(col("tbl"), col("bucket"),
      col("vid").as("neighbor_id"), col("v").as("vb"),
      col("nrm").as("nb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** Symmetric int8 scalar quantization: every component scaled by
    * one global 127/max|x| factor and rounded — (vid, q:
    * array<tinyint>). The quantized corpus is ¼ the bytes of the
    * float one; because cosine is invariant to per-vector scale, each
    * frame may use its own scale factor and quantized cosines still
    * approximate true cosines (rounding is the only error source).
    * The scale scalar is a 1-row aggregate broadcast — no collect. */
  def sq8Quantize(vecs: DataFrame, id: String, vec: String): DataFrame = {
    graft.functions.VectorExpressions.register(vecs.sparkSession)
    val v = vecs.select(col(id).as("vid"), col(vec).as("v"))
    val scale = v
      .agg(max(expr("array_max(transform(v, x -> abs(x)))")).as("mx"))
    v.crossJoin(broadcast(scale))
      .select(col("vid"), expr(
        "transform(v, x -> CAST(round(x * 127.0 / greatest(mx, 1e-30d)) AS TINYINT))")
        .as("q"))
  }

  /** Two-stage scalar-quantized top-k: an int8 shortlist pass over
    * the quantized corpus (vec_dot_i8 — exact long arithmetic, ¼ scan
    * bytes), then an EXACT float re-rank of only the shortlist:
    * (probe_id, rk, neighbor_id, cosine), cosines exact.
    *
    * This is the memory/bandwidth serving trade alongside IVF's
    * partition-pruning trade: at 100 TB the shortlist stage reads
    * ONLY the int8 column (a quarter of the float bytes) across the
    * full corpus, and float vectors are fetched — by keyed equi-join,
    * shortlist-cardinality rows — for the re-rank alone. Returned
    * cosines are exact; only RECALL is approximate (a true neighbor
    * missing from the shortlist), which the property spec bounds. */
  def sq8TopK(corpusVecs: DataFrame, probeVecs: DataFrame, id: String,
      vec: String, k: Int, shortlist: Int = 40): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cq = sq8Quantize(corpusVecs, id, vec)
      .select(col("vid").as("neighbor_id"), col("q").as("qb"))
      .withColumn("qnb", sqrt(expr("CAST(vec_dot_i8(qb, qb) AS DOUBLE)")))
    val pq = sq8Quantize(probeVecs, id, vec)
      .select(col("vid").as("probe_id"), col("q").as("qa"))
      .withColumn("qna", sqrt(expr("CAST(vec_dot_i8(qa, qa) AS DOUBLE)")))
    val ws = Window.partitionBy(col("probe_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val short = cq.join(broadcast(pq), col("probe_id") =!= col("neighbor_id"))
      .withColumn("acos",
        round(expr("CAST(vec_dot_i8(qa, qb) AS DOUBLE)")
          / (col("qna") * col("qnb")), 6))
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select(col("probe_id"), col("neighbor_id"))
    val c = prep(corpusVecs, id, vec)
      .select(col("vid").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"))
    val p = prep(probeVecs, id, vec)
      .select(col("vid").as("probe_id"), col("v").as("va"),
        col("nrm").as("na"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    short.join(c, Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("cosine", round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: cluster the
    * embedding space with the deterministic coarse k-means quantizer
    * ([[VecKMeans.train]] — smallest-id seeds, fixed rounds), then
    * find cosine-≥-tau pairs WITHIN each cluster: (cid, v1, v2,
    * cosine), v1 < v2.
    *
    * This is the scale path for embedding dedup when the all-pairs
    * block join ([[graft.api.Dedup.cosinePairs]]) is too big: cells
    * cut the candidate space from O(n²) to Σ|cell|² — the price is
    * recall (a cross-cell near-dup pair is never scored; SemDeDup's
    * accepted trade, property-bounded in OperatorPropertySpec rather
    * than oracle-checked). Within-cell pair generation reuses the
    * hot-label-safe [[labelPairs]] block decomposition with cid as
    * the label, so one dominant cell cannot serialize the pair work
    * on a single shuffle key. Cosines are exact (same kernel as the
    * exact paths) — precision is 1.0 by construction. */
  def semanticPairs(vecs: DataFrame, id: String, vec: String,
      tau: Double, k: Int = 8, rounds: Int = 2,
      blocks: Int = 8): DataFrame = {
    val ev = prep(vecs, id, vec).select(col("vid").as("vec_id"), col("v"))
    val centers = VecKMeans.train(ev, k, rounds)
    val assigned = VecKMeans.assign(ev, centers)
      .select(col("vec_id"), col("v"), col("cid"))
    labelPairs(assigned, "vec_id", "v", "cid", tau, blocks)
      .select(col("cid"), col("v1"), col("v2"), col("cosine"))
  }

  /** [[semanticPairs]] served from a SAVED [[ivfBuild]] index: the
    * cid-partitioned cells ARE the semantic clustering, so the same
    * saved index answers ANN probes ([[ivfTopK]]) and semantic-dedup
    * sweeps — build once, serve both. The pair sweep reads every cell
    * partition once (a dedup sweep is corpus-wide by nature) and
    * reuses the hot-label-safe block decomposition keyed by cid.
    * Identical output to the in-memory [[semanticPairs]] when the
    * index was built from the same frame (deterministic quantizer —
    * spec-pinned). */
  def semanticPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, tau: Double, blocks: Int = 8): DataFrame = {
    val cells = spark.read.parquet(s"$path/cells")
      .select(col("cid"), col("vec_id"), col("v"))
    labelPairs(cells, "vec_id", "v", "cid", tau, blocks)
      .select(col("cid"), col("v1"), col("v2"), col("cosine"))
  }

  /** Cell-density PATH PROBE for semantic dedup — the ccScheduleProbe
    * pattern (certify the PLANNING DECISION, not just its output)
    * applied to the in-memory-vs-indexed choice `dedup_semantic` /
    * `dedup_semantic_indexed` left open: reads ONLY the saved index's
    * `cid` partition column (parquet metadata, not vector bytes — the
    * sim_ivf_cell_stats discipline) and returns (n_vecs, n_cells,
    * max_cell, Σc(c−1), path). Integer-exact decision, replayable by
    * any engine: `indexed` iff Σc(c−1) ≥ 2·`avgCandidateDegree`·n —
    * i.e. when the within-cell candidate join averages more than
    * `avgCandidateDegree` scored candidates per vector, the quadratic
    * pair stage dominates the linear train+assign stage, and the
    * amortized saved-index serving path (train once per corpus
    * generation, cells pre-partitioned on disk) is mandated; below
    * it, a per-run in-memory train is cheaper than the publish. On
    * clone-dense corpora (cells concentrating duplicates) Σc(c−1)
    * grows quadratically in the clone mass, so exactly the regime
    * that made the in-memory row output-bound at the 100× probe is
    * the regime the probe routes to the indexed path. */
  def semanticPathProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, avgCandidateDegree: Long = 64)
      : (Long, Long, Long, Long, String) = {
    val r = spark.read.parquet(s"$path/cells")
      .groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).cast("long"), count(lit(1)).cast("long"),
        max(col("c")).cast("long"),
        sum(col("c") * (col("c") - lit(1L))).cast("long"))
      .head()
    val (n, k, mx, p2) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val chosen =
      if (p2 >= 2 * avgCandidateDegree * n) "indexed" else "inmemory"
    (n, k, mx, p2, chosen)
  }

  /** [[semanticPairs]] with the path CHOSEN by [[semanticPathProbe]]
    * (the connectedComponentsAuto move): probe the saved index's cell
    * profile, then serve the within-cell pair sweep either from the
    * saved cells (`indexed` — candidate join dominates, amortize the
    * quantizer) or from a per-run in-memory train (`inmemory` — the
    * corpus is small/balanced enough that a fresh train is cheaper
    * than reading the published artifact). Both paths are
    * result-identical (deterministic quantizer, spec-pinned), so the
    * choice is pure plan routing. Returns (pairs, chosen path). */
  def semanticPairsAuto(vecs: DataFrame, id: String, vec: String,
      path: String, tau: Double, k: Int = 8, rounds: Int = 2,
      blocks: Int = 8): (DataFrame, String) = {
    val spark = vecs.sparkSession
    val chosen = semanticPathProbe(spark, path)._5
    val pairs =
      if (chosen == "indexed") semanticPairsFromIndex(spark, path, tau, blocks)
      else semanticPairs(vecs, id, vec, tau, k, rounds, blocks)
    (pairs, chosen)
  }

  /** Build and SAVE an IVF (inverted-file) ANN index: a coarse
    * k-means quantizer ([[VecKMeans.train]]) partitions the corpus
    * into `k` cells; cell assignments (with the vector and its norm)
    * are written as cid-PARTITIONED parquet at `path/cells`, the k
    * centers at `path/centers`.
    *
    * This is the 100 TB serving story: the expensive quantizer
    * training and corpus assignment run ONCE at build time, and every
    * [[ivfTopK]] probe afterwards reads only its nProbe cells'
    * partition directories (partition pruning) — the amortization an
    * in-query re-train can never give.
    *
    * `attrs`: optional metadata columns of `corpus` (labels, language,
    * license tier …) stored INSIDE the cells layout, so a filtered
    * probe ([[ivfTopKMatching]]) never joins a side table at serving
    * time — at 100 TB the metadata travels with the vector bytes it
    * filters, and the candidate join keys on (cid, attr) instead of
    * cid alone. Quantizer training is attr-blind (same centers with
    * or without attrs). */
  def ivfBuild(corpus: DataFrame, id: String, vec: String, path: String,
      k: Int = 8, rounds: Int = 2, attrs: Seq[String] = Nil): Unit = {
    val e = prep(corpus, id, vec)
    val ev = e.select(col("vid").as("vec_id"), col("v"))
    val centers = VecKMeans.train(ev, k, rounds)
    centers.write.mode("overwrite").parquet(s"$path/centers")
    val base = VecKMeans.assign(ev, centers)
      .join(e.select(col("vid").as("vec_id"), col("nrm")), Seq("vec_id"))
    val withAttrs =
      if (attrs.isEmpty) base
      else base.join(
        corpus.select(col(id).as("vec_id") +: attrs.map(col): _*),
        Seq("vec_id"))
    withAttrs
      .select(Seq(col("cid"), col("vec_id"), col("v"), col("nrm")) ++
        attrs.map(col): _*)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/cells")
  }

  /** Incrementally add vectors to an existing [[ivfBuild]] index:
    * arrivals are assigned to their nearest SAVED cell (the quantizer
    * is NOT retrained — the standard serving trade: cell balance
    * degrades slowly and a periodic rebuild restores it) and appended
    * to the cid-partitioned layout, so only the touched partitions
    * gain files. The maintenance counterpart of continuous-ingestion
    * dedup: stream in, assign, append, probe immediately. */
  def ivfAppend(newVecs: DataFrame, id: String, vec: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    val centers = spark.read.parquet(s"$path/centers")
    val e = prep(newVecs, id, vec)
    // GUARD: arrivals must match the saved index's dimension —
    // vec_dot truncates to the shorter operand, so a wrong-dim
    // arrival would be assigned to SOME cell and stored, and every
    // later probe would score it on a truncated dot: silently wrong
    // cosines. Reject the whole batch before anything is written.
    val dim = centers.agg(max(size(col("c")))).first().getInt(0)
    val dimRange = e.agg(min(size(col("v"))), max(size(col("v")))).first()
    if (!dimRange.isNullAt(0))
      require(dimRange.getInt(0) == dim && dimRange.getInt(1) == dim,
        s"append vectors have dimension(s) ${dimRange.getInt(0)}.." +
          s"${dimRange.getInt(1)} but the saved index at $path expects " +
          s"$dim; rejecting the whole batch")
    // GUARD: an attributed index ([[ivfBuild]] attrs) must stay
    // attributed — appending rows without the metadata columns would
    // silently null them out and every filtered probe afterwards
    // would drop the arrivals. Carry the extra columns from the
    // arrival frame, rejecting the batch if any is missing.
    val extraAttrs = spark.read.parquet(s"$path/cells").schema
      .map(_.name).filterNot(Set("cid", "vec_id", "v", "nrm"))
    extraAttrs.foreach { a =>
      require(newVecs.columns.contains(a),
        s"saved index at $path stores attribute '$a' but the append " +
          "batch lacks it; rejecting the whole batch")
    }
    val assigned = VecKMeans
      .assign(e.select(col("vid").as("vec_id"), col("v")), centers)
      .join(e.select(col("vid").as("vec_id"), col("nrm")), Seq("vec_id"))
    val withAttrs =
      if (extraAttrs.isEmpty) assigned
      else assigned.join(
        newVecs.select(col(id).as("vec_id") +: extraAttrs.map(col): _*),
        Seq("vec_id"))
    withAttrs
      .select(Seq(col("cid"), col("vec_id"), col("v"), col("nrm")) ++
        extraAttrs.map(col): _*)
      .write.mode("append").partitionBy("cid").parquet(s"$path/cells")
  }

  /** RETRAIN an [[ivfBuild]] index from its own stored vectors and
    * write the result at `newPath` — the maintenance step
    * [[ivfAppend]] defers: appends never retrain the quantizer, so
    * cell balance drifts (a new arrival cluster piles into one hot
    * cell, bounding worst-case probe latency and starving recall at
    * fixed nProbe); when the `sim_ivf_cell_stats` audit says the
    * profile has degraded, a rebuild re-trains on the CURRENT corpus
    * and restores balance. Reads only the saved cells (one corpus
    * scan — the original raw table is not needed), trains with the
    * same deterministic seeding/rounding as the build, and writes the
    * standard layout, so the caller republishes atomically via
    * IndexStore.ensure and every consumer (topk / range / semantic
    * dedup / cell stats) serves the new index unchanged.
    *
    * An ATTRIBUTED index ([[ivfBuild]] attrs) stays attributed: the
    * metadata columns are discovered from the cells schema (the
    * [[ivfAppend]] move) and carried through the retrain — without
    * this, a rebuild would silently strip them and every filtered
    * probe against the rebuilt index would fail resolving the
    * attribute column at serving time. */
  def ivfRebuild(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String, k: Int = 8,
      rounds: Int = 2): Unit = {
    val cells = spark.read.parquet(s"$oldPath/cells")
    val extraAttrs = cells.schema.map(_.name)
      .filterNot(Set("cid", "vec_id", "v", "nrm"))
    ivfBuild(cells.select(
        (Seq("vec_id", "v") ++ extraAttrs).map(col): _*),
      "vec_id", "v", newPath, k = k, rounds = rounds,
      attrs = extraAttrs)
  }

  /** Greedy k-CENTER (Gonzalez farthest-point) exemplar selection —
    * the `sample_kcenter` traversal as a reusable API: start at the
    * smallest id, then k−1 times add the vector farthest from its
    * nearest chosen center (1 − cosine on the rounded-6 grid,
    * smallest-max-cosine argmax, id tiebreak). Returns the ranked
    * centers ((rank, id, dist-to-nearest-prior); dist None for the
    * seed). k linear scans against a ≤k-row broadcast center set —
    * never pairwise; the k bounded 1-row collects carry ids between
    * rounds (the nProbe discipline). */
  def kcenterSelect(corpus: DataFrame, id: String, vec: String,
      k: Int): Seq[(Int, Long, Option[Double])] =
    kcenterSelectPrepped(prep(corpus, id, vec)
      .select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .ckpt(), k)

  /** [[kcenterSelect]] over an already-prepped, already-checkpointed
    * (vec_id, v, nrm) frame — so [[kcenterIndexBuild]] can reuse ONE
    * materialized corpus for both the selection scans and the final
    * center-row fetch. */
  private def kcenterSelectPrepped(e: DataFrame,
      k: Int): Seq[(Int, Long, Option[Double])] = {
    val c0 = e.agg(min(col("vec_id"))).head().getLong(0)
    var centers = Seq((0, c0, Option.empty[Double]))
    for (t <- 1 until k) {
      val cent = e.filter(col("vec_id").isin(centers.map(_._2): _*))
        .select(col("v").as("cv"), col("nrm").as("cnrm"))
      val next = e.filter(!col("vec_id").isin(centers.map(_._2): _*))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"),
          round(expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")), 6)
            .as("cos"))
        .groupBy(col("vec_id")).agg(max(col("cos")).as("m"))
        .orderBy(col("m").asc, col("vec_id")).limit(1)
        .head()
      centers :+= ((t, next.getLong(0), Some(1.0 - next.getDouble(1))))
    }
    centers
  }

  /** Persist a [[kcenterSelect]] coreset as a SAVED CENTER SET:
    * (rank, cid, v, nrm) — ≤k rows, the broadcast side every later
    * arrival assignment rides (SampleStreams.assignAgainstSavedCenters
    * serves it statelessly on a stream). The expensive part — k
    * corpus scans — runs once; assignment afterwards is one per-row
    * argmax against the tiny saved frame. */
  def kcenterIndexBuild(corpus: DataFrame, id: String, vec: String,
      path: String, k: Int): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE prepped+checkpointed corpus serves both the k selection
    // scans and the final center-row fetch (a second prep scan here
    // was pure waste — the selection already materialized the frame)
    val e = prep(corpus, id, vec)
      .select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .ckpt()
    val sel = kcenterSelectPrepped(e, k)
    val ranks = sel.map { case (r, cid, _) => (r, cid) }
      .toDF("rank", "cid")
    ranks.join(e.select(col("vec_id").as("cid"), col("v"), col("nrm")),
        Seq("cid"))
      .select(col("rank"), col("cid"), col("v"), col("nrm"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
  }

  /** Approximate top-k cosine over a SAVED [[ivfBuild]] index:
    * (probe_id, rk, neighbor_id, cosine). Each probe is assigned to
    * its `nProbe` nearest cells; the probed cell ids — at most k of
    * them, a bounded set — are realized on the driver so the cells
    * scan carries a LITERAL `cid IN (...)` predicate that Catalyst
    * turns into PartitionFilters: only the probed partition
    * directories are ever read. The probe set (bounded) is broadcast;
    * the index is scanned once, never shuffled. */
  /** RANGE search over a saved [[ivfBuild]] index: every neighbor
    * with cosine ≥ `tau` inside the probes' nProbe nearest cells —
    * (probe_id, neighbor_id, cosine). The threshold-retrieval twin of
    * [[ivfTopK]] (RAG recall sweeps, near-dup probes against a served
    * corpus): same cell assignment, same literal `cid IN (...)`
    * partition pruning, but the result is every qualifying pair, not
    * a top-k — output-bound by the true neighbor count. Recall is
    * bounded by cell recall exactly as for top-k probes (a cross-cell
    * qualifying pair is never scored). No distinct is needed: a
    * neighbor lives in exactly one cell, so (probe, neighbor) meets
    * at most once. */
  def ivfRangeSearch(probes: DataFrame, id: String, vec: String,
      path: String, tau: Double, nProbe: Int = 3): DataFrame = {
    val spark = probes.sparkSession
    val centers = spark.read.parquet(s"$path/centers")
    val p = prep(probes, id, vec)
    val probeCells = VecKMeans
      .assignTopN(p.select(col("vid").as("vec_id"), col("v")), centers,
        nProbe)
      .join(p.select(col("vid").as("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), col("nrm").as("na"))
    val cids = probeCells.select(col("cid")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cid").isin(cids: _*))
      .select(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
    cells.join(broadcast(probeCells), Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  def ivfTopK(probes: DataFrame, id: String, vec: String, path: String,
      k: Int, nProbe: Int = 3): DataFrame = {
    val spark = probes.sparkSession
    val centers = spark.read.parquet(s"$path/centers")
    val p = prep(probes, id, vec)
    val probeCells = VecKMeans
      .assignTopN(p.select(col("vid").as("vec_id"), col("v")), centers, nProbe)
      .join(p.select(col("vid").as("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), col("nrm").as("na"))
    val cids = probeCells.select(col("cid")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cid").isin(cids: _*))
      .select(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cells.join(broadcast(probeCells), Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** FILTERED ANN from a saved ATTRIBUTED index ([[ivfBuild]] with
    * `attrs`): top-k among candidates that share the probe's value on
    * every `matchCols` column — the production RAG shape (metadata
    * filter + vector search) served in ONE pruned scan. The probe
    * frame must carry `matchCols`; the candidate join keys on
    * (cid, matchCols*), so the filter SHRINKS the join fan-out
    * instead of post-filtering ranked results (no over-fetch factor,
    * exact top-k among the filtered candidate set by construction).
    * Same pruning discipline as [[ivfTopK]]: literal cid IN-list →
    * PartitionFilters; the metadata never joins a side table because
    * it lives in the cells bytes. Returns (probe_id, rk, neighbor_id,
    * cosine, matchCols*). */
  def ivfTopKMatching(probes: DataFrame, id: String, vec: String,
      path: String, k: Int, nProbe: Int,
      matchCols: Seq[String]): DataFrame = {
    require(matchCols.nonEmpty,
      "ivfTopKMatching without matchCols is just ivfTopK — use that")
    val spark = probes.sparkSession
    val centers = spark.read.parquet(s"$path/centers")
    val p = prep(probes, id, vec)
      .join(probes.select(col(id).as("vid") +: matchCols.map(col): _*),
        Seq("vid"))
    val probeCells = VecKMeans
      .assignTopN(p.select(col("vid").as("vec_id"), col("v")), centers,
        nProbe)
      .join(p.select(Seq(col("vid").as("vec_id"), col("nrm")) ++
        matchCols.map(col): _*), Seq("vec_id"))
      .select(Seq(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), col("nrm").as("na")) ++
        matchCols.map(col): _*)
    val cids = probeCells.select(col("cid")).distinct()
      .collect().map(_.get(0)).toSeq
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cid").isin(cids: _*))
      .select(Seq(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb")) ++
        matchCols.map(col): _*)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cells.join(broadcast(probeCells), "cid" +: matchCols)
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(Seq(col("probe_id"), col("neighbor_id"),
        round(expr(dot) / (col("na") * col("nb")), 6).as("cosine")) ++
        matchCols.map(col): _*)
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(Seq(col("probe_id"), col("rk"), col("neighbor_id"),
        col("cosine")) ++ matchCols.map(col): _*)
  }

  /** Build a saved LEXICAL POSTING index: the corpus's DISTINCT
    * (doc, term) pairs written bucket-partitioned by a portable term
    * hash — the inverted index a lexical retrieval tier probes
    * without re-sharding the corpus per query (the containment-index
    * discipline applied to whole-term postings). Build once, probe
    * pruned: a probe's terms hit ≤ nBuckets partition directories. */
  def lexIndexBuild(docs: DataFrame, id: String, text: String,
      path: String, nBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    docs.select(col(id).as("id"),
        explode(split(col(text), " ")).as("term")).distinct()
      .withColumn("bkt", lexBucket(nBuckets))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/postings")
  }

  /** Append new documents' postings to a [[lexIndexBuild]] index —
    * continuous lexical ingestion without rebuilding: the arrivals'
    * distinct (doc, term) pairs land in the SAME term-hash bucket
    * directories (the bucket is a pure function of the term, read
    * back from the index's meta), so a probe of the grown index is
    * indistinguishable from a probe of an all-at-once build
    * (LexIndexSpec pins the equality). The
    * [[graft.api.Dedup.containmentIndexAppend]] discipline applied
    * to whole-term postings; append-only, no compaction — re-ingested
    * doc ids are the caller's contract to avoid (duplicate postings
    * would double shared-term counts). */
  def lexIndexAppend(newDocs: DataFrame, id: String, text: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val nBuckets = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("n_buckets")
    newDocs.select(col(id).as("id"),
        explode(split(col(text), " ")).as("term")).distinct()
      .withColumn("bkt", lexBucket(nBuckets))
      .write.mode("append").partitionBy("bkt").parquet(s"$path/postings")
  }

  /** Probe a [[lexIndexBuild]] index: per (probe, indexed doc), the
    * count of shared DISTINCT terms — the raw lexical relevance
    * signal (rank/fuse downstream). The probe's term buckets are
    * collected (bounded by nBuckets — a planning-time literal, the
    * ivfTopK discipline) and pushed as a PartitionFilters `bkt IN`
    * predicate, so only the matching posting directories are read. */
  def lexSharedTerms(probes: DataFrame, id: String, text: String,
      path: String): DataFrame = {
    val spark = probes.sparkSession
    val nBuckets = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("n_buckets")
    val pterms = probes.select(col(id).as("probe_id"),
        explode(split(col(text), " ")).as("term")).distinct()
      .withColumn("bkt", lexBucket(nBuckets))
    // bounded collect: ≤ nBuckets distinct ints enabling the literal
    // partition filter on the postings scan
    val bks = pterms.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bkt").isin(bks.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
      .select(col("bkt"), col("term"), col("id").as("doc_id"))
    pterms.join(postings, Seq("bkt", "term"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
  }

  /** The posting bucket — a pure function of the term, so probe and
    * build always agree. */
  private[graft] def lexBucket(nBuckets: Int) =
    pmod(Sampling.portableHash(col("term"), "lex:"), lit(nBuckets))
      .cast("int")

  /** Build a BM25 serving index (k1 = 1.2, b = 0.75): everything a
    * query needs is precomputed and stored, so serving touches no
    * corpus-global state —
    *  - `postings/` (bkt, term, doc_id, tf), term-hash-bucketed like
    *    [[lexIndexBuild]] so probes prune to their terms' buckets;
    *  - `termstats/` (bkt, term, idf) with idf already on the
    *    DECIMAL(14,8) grid (ln((N−df+0.5)/(df+0.5)+1) rounded 8) —
    *    the corpus size N is baked in at build;
    *  - `docnorm/` (doc_id, lnorm) with the per-doc length norm
    *    k1·(1−b) + k1·b·dl/avgdl on the same grid — avgdl baked in;
    *  - `meta/` (n_buckets).
    * Every stored value is computed by the exact expressions the
    * in-memory spelling uses, so an index-served query is
    * value-identical to the from-scratch one (Bm25IndexSpec pins
    * it). */
  def bm25IndexBuild(docs: DataFrame, id: String, text: String,
      path: String, nBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val tok = docs.select(col(id).as("doc_id"),
      explode(split(col(text), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nt = docs.agg(count(lit(1)).as("n"))
    val tt = tok.agg(count(lit(1)).as("t"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.withColumn("bkt", lexBucket(nBuckets))
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$path/postings")
    df.crossJoin(broadcast(nt))
      .select(col("term"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1), 8)
          .cast("decimal(14,8)").as("idf"))
      .withColumn("bkt", lexBucket(nBuckets))
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$path/termstats")
    dl.crossJoin(broadcast(nt)).crossJoin(broadcast(tt))
      .select(col("doc_id"),
        round(lit(0.3) + lit(0.9)
          * ((col("dl") * col("n")).cast("double") / col("t")), 8)
          .cast("decimal(14,8)").as("lnorm"))
      .write.mode("overwrite").parquet(s"$path/docnorm")
  }

  /** Serve BM25 top-k from a [[bm25IndexBuild]] index: probe terms
    * prune the postings AND termstats scans to their buckets (literal
    * `bkt IN` → PartitionFilters, the [[lexSharedTerms]] discipline),
    * the per-term score is the same fixed double expression over the
    * STORED decimal grids, and the per-(probe, doc) score is the
    * exact decimal sum — value-identical to the from-scratch
    * spelling, cost proportional to the probes' posting lists. */
  def bm25TopK(probes: DataFrame, id: String, text: String,
      path: String, k: Int): DataFrame = {
    val spark = probes.sparkSession
    val nBuckets = spark.read.parquet(s"$path/meta")
      .head().getAs[Int]("n_buckets")
    val pterms = probes.select(col(id).as("probe_id"),
        explode(split(col(text), " ")).as("term")).distinct()
      .withColumn("bkt", lexBucket(nBuckets))
    val bks = pterms.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).sorted
    def pruned(name: String) = spark.read.parquet(s"$path/$name")
      .filter(col("bkt").isin(bks.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
    val sc = pterms
      .join(pruned("postings"), Seq("bkt", "term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .join(pruned("termstats"), Seq("bkt", "term"))
      .join(spark.read.parquet(s"$path/docnorm"), Seq("doc_id"))
      .withColumn("s8",
        round(col("idf").cast("double") * (col("tf") * lit(2.2))
          / (col("tf") + col("lnorm").cast("double")), 8)
          .cast("decimal(16,8)"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("s8")).as("sc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("doc_id"),
        round(col("sc").cast("double"), 6).as("score"))
  }

  /** Build a k-NN GRAPH index — the NSW/HNSW base layer (Malkov &
    * Yashunin's navigable small-world structure, flattened to one
    * layer): every corpus vector's k nearest neighbors by rounded-6
    * cosine (neighbor-id tiebreak) as directed `edges`
    * (src, rk, dst, cosine); their SYMMETRIZATION as `adj` (src, dst
    * distinct pairs in both directions — undirected expansion is what
    * makes a flat k-NN graph navigable, NSW's core trick); the node
    * vectors as `nodes` (vec_id, v, nrm) so serving never re-reads
    * the corpus; and `entries`, the nEntries HIGHEST-DEGREE nodes of
    * the symmetrized adjacency (ties by node id) — hub entries reach
    * the rest of the graph in the fewest hops, replacing HNSW's
    * upper layers. Degree seeding was ADOPTED over the original
    * hash-spread pick and the k-means cell-medoid layer by measured
    * recall at equal beam (IndexBench `entries` stage, BASELINE.md:
    * 0.956 vs 0.929 hash vs 0.922 medoid at sf0.1; the ordering
    * holds on the clone-dense 10× probe too). Like IVF appends not
    * retraining the quantizer, [[nngInsert]] does not re-derive the
    * entry set — degrees drift under insertion and a rebuild
    * refreshes them.
    * The fixture-scale list build is the exact all-pairs tier
    * ([[cosineTopK]] with probes = corpus, one broadcast corpus
    * scan); at 100 TB the lists come from NN-Descent or the IVF
    * tier's bounded candidates — the serving walk ([[nngTopK]]) is
    * unchanged either way, which is the point of the graph index:
    * build cost is paid once, every query after it touches only
    * frontier-keyed adjacency lists. */
  def nngBuild(corpus: DataFrame, id: String, vec: String, path: String,
      k: Int = 10, nEntries: Int = 8): Unit = {
    val e = prep(corpus, id, vec)
    val edges = cosineTopK(corpus, corpus, id, vec, k)
      .select(col("probe_id").as("src"), col("rk"),
        col("neighbor_id").as("dst"), col("cosine"))
    edges.write.mode("overwrite").parquet(s"$path/edges")
    val d = edges.select(col("src"), col("dst"))
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/adj")
    e.select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/nodes")
    // degree-seeded entries, computed off the just-written adj (one
    // bounded aggregate; re-reading beats re-deriving the union plan)
    nngEntriesDegree(corpus.sparkSession, path, nEntries)
      .write.mode("overwrite").parquet(s"$path/entries")
  }

  /** DIVERSIFIED k-NN graph build — the clone-robust variant of
    * [[nngBuild]] (the round-16 "clone-robust graph ANN" candidate):
    * on a clone-dense corpus (every document duplicated ~100×, the
    * crawl-mirror regime) the plain top-k lists are PURE clones —
    * cosine-1 copies fill all k slots, the symmetrized graph
    * decomposes into disconnected clone cliques, and beam-walk
    * recall collapses (measured ≤ 0.04 at the 10× probe for every
    * entry mode). The published fix is HNSW's select-neighbors
    * diversification (Malkov & Yashunin 2018, Algorithm 4; NSG's
    * MRNG edge rule is the same idea): keep a candidate only if it
    * is closer to the node than to any already-kept neighbor.
    *
    * That rule is a sequential greedy fold; this build uses its
    * ORDER-INDEPENDENT relaxation so the whole selection is one
    * relational plan: from a kCand-deep exact shortlist, candidate c
    * is REDUNDANT iff some higher-ranked candidate s is STRICTLY
    * closer to c than the node is (round6 cos(c, s) > cos(q, c)), or
    * is c's exact duplicate (cos(c, s) = 1.0 on the rounded grid) —
    * pruning against all closer candidates rather than kept ones
    * only, and the pruned are PADDED BACK in ascending-
    * redundancy order until k edges stand (HNSW's
    * keepPrunedConnections, with the padding order doing the real
    * clone work: a clone's redundancy is 1.0, a diverse candidate's
    * is its cluster cohesion, so freed slots go to the least-
    * redundant survivors first). Exact clone groups therefore
    * contribute ONE representative edge each and the graph
    * reconnects. Fully deterministic (rounded-6 comparisons, rank
    * then id tiebreaks), so a DuckDB oracle replays the selection.
    *
    * BOUNDARY (measured in NngDiverseSpec and the IndexBench
    * `diverse` stage): padding can only surface what the shortlist
    * CONTAINS — kCand must exceed clone-multiplicity + k, or the
    * shortlist itself is pure clones and the graph stays cliqued. At
    * crawl-mirror densities beyond kCand (the 100× probe's 99-copy
    * groups vs kCand = 30) the right tool is semantic dedup BEFORE
    * indexing ([[Dedup]]/SemDeDup, which this library ships) —
    * diversification is the fix for the 5–30-copy regime.
    *
    * Same saved layout as [[nngBuild]] (edges/adj/nodes/entries —
    * [[nngTopK]] serves either interchangeably). Scale shape: the
    * redundancy pass is one keyed self-join of the shortlist
    * (≤ kCand²/2 pairs per node, each scored by one dot product) +
    * a per-src window over ≤ kCand rows — linear in nodes with a
    * kCand²-bounded constant; no new corpus-sized stage. */
  def nngBuildDiverse(corpus: DataFrame, id: String, vec: String,
      path: String, k: Int = 10, kCand: Int = 30,
      nEntries: Int = 8): Unit = {
    val e = prep(corpus, id, vec).ckpt()
    val cand = cosineTopK(corpus, corpus, id, vec, kCand)
      .select(col("probe_id").as("src"), col("rk"),
        col("neighbor_id").as("dst"), col("cosine")).ckpt()
    val cs = cand.select(col("src"), col("rk"), col("dst"))
    val red = cs
      .join(cs.select(col("src"), col("rk").as("rks"),
        col("dst").as("ds")), Seq("src"))
      .filter(col("rks") < col("rk"))
      .join(e.select(col("vid").as("dst"), col("v").as("va"),
        col("nrm").as("na")), Seq("dst"))
      .join(e.select(col("vid").as("ds"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("ds"))
      .groupBy(col("src"), col("rk"))
      .agg(max(round(expr(dot) / (col("na") * col("nb")), 6)).as("red"))
    // diverse ⇔ not STRICTLY more redundant than close to the node,
    // AND not an exact duplicate (rounded cosine 1.0) of a higher-
    // ranked candidate. The ≤ (not <) matters on clone corpora: a
    // candidate whose redundancy merely TIES its probe cosine is an
    // artifact of the probe having exact clones ranked above it
    // (cos(c, clone-of-q) ≡ cos(c, q)), not genuine redundancy —
    // the strict rule would prune every cross-group representative
    // and leave the graph cliqued (measured: recall flat at 0.16 on
    // the 10× probe under <, climbing under ≤).
    val diverse = col("redc") <= col("cosine") && col("redc") < 1.0
    val w = Window.partitionBy(col("src")).orderBy(
      when(diverse, 0).otherwise(1),
      when(diverse, col("rk").cast("double")).otherwise(col("redc")),
      col("rk"), col("dst"))
    val edges = cand.join(red, Seq("src", "rk"), "left")
      .withColumn("redc", coalesce(col("red"), lit(-2.0)))
      .withColumn("rk2", row_number().over(w))
      .filter(col("rk2") <= k)
      .select(col("src"), col("rk2").as("rk"), col("dst"),
        col("cosine"))
    edges.write.mode("overwrite").parquet(s"$path/edges")
    val d = edges.select(col("src"), col("dst"))
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/adj")
    e.select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/nodes")
    nngEntriesDegree(corpus.sparkSession, path, nEntries)
      .write.mode("overwrite").parquet(s"$path/entries")
  }

  /** GREEDY BEAM SEARCH over a saved k-NN graph — the graph-traversal
    * ANN serving family next to the bucketed tiers (LSH/IVF/PQ/SQ8):
    * every probe scores the saved entry points, then `rounds` times
    * expands its current best-`beam` visited nodes through the
    * symmetrized adjacency lists, scoring unseen targets by exact
    * cosine against the stored node vectors; the answer is the top-k
    * of everything visited (self excluded — a probe that is itself a
    * graph node tops its own frontier at cosine 1 and immediately
    * expands its true neighbor list, which is a feature). Fully
    * deterministic: cosines round to 6 before every ranking, ties
    * break on node id, the trajectory is a pure function of
    * (graph, entries, probe) — which is what lets a DuckDB oracle
    * replay the whole search.
    *
    * Scale shape: the corpus is NEVER scanned at query time — each
    * round is a frontier-keyed equi-join into the adjacency lists
    * (probes×beam rows) and one keyed join into `nodes` to score the
    * ≤ probes×beam×2k new candidates; the probe set rides one bounded
    * broadcast. The visited frame (≤ probes×(nEntries +
    * rounds·beam·2k) rows — CONSTANT in corpus size, which is the
    * whole case for the family) is eagerly localCheckpointed per
    * round, so plan depth stays constant in `rounds` and the returned
    * frame's lineage carries no hint or join tail. Returns
    * (probe_id, rk, neighbor_id, cosine). */
  def nngTopK(probes: DataFrame, id: String, vec: String, path: String,
      k: Int = 3, beam: Int = 10, rounds: Int = 4,
      entriesOverride: Option[DataFrame] = None): DataFrame = {
    val spark = probes.sparkSession
    // The walk joins adj/nodes once per round (rounds+1 scans, each
    // behind its own eager per-round checkpoint, so no within-plan
    // exchange reuse is possible): memoize both saved-index frames
    // persisted PRE-PARTITIONED on their join keys, so every round's
    // index side is a cached, exchange-free scan (guide §2.4; r17
    // opt). Keyed by the index path: every rebuild and [[nngInsert]]
    // writes adj/nodes in place, and that write's path recache keeps
    // both memos fresh (see [[graft.PlanCache]]).
    val nPart = spark.sessionState.conf.numShufflePartitions
    val adj = graft.PlanCache.memo(spark, path, "nng_adj") {
      spark.read.parquet(s"$path/adj").repartition(nPart, col("src"))
    }
    val nodes = graft.PlanCache.memo(spark, path, "nng_nodes") {
      spark.read.parquet(s"$path/nodes")
        .select(col("vec_id").as("node"), col("v").as("vb"),
          col("nrm").as("nb"))
        .repartition(nPart, col("node"))
    }
    val entries = entriesOverride
      .getOrElse(spark.read.parquet(s"$path/entries"))
    val p = prep(probes, id, vec)
      .select(col("vid").as("probe_id"), col("v").as("va"),
        col("nrm").as("na"))
    def score(cand: DataFrame): DataFrame =
      cand.join(nodes, Seq("node"))
        .join(broadcast(p), Seq("probe_id"))
        .select(col("probe_id"), col("node"),
          round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
    // round 0: every probe scores the bounded entry set. An entries
    // frame carrying a probe_id column is PER-PROBE (the hierarchical
    // coarse walk's output — [[nngTopKHier]]); a plain (node) frame
    // is the shared saved entry set.
    val e0 =
      if (entries.columns.contains("probe_id"))
        entries.select(col("probe_id"), col("node"))
      else p.select(col("probe_id")).crossJoin(broadcast(entries))
    val v0 = score(e0).ckpt()
    val visited = (1 to rounds).foldLeft(v0) { (v, _) =>
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("node"))
      val frontier = v.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .select(col("probe_id"), col("node"))
      val cand = frontier
        .join(adj, frontier("node") === adj("src"))
        .select(col("probe_id"), col("dst").as("node")).distinct()
        .join(v.select(col("probe_id"), col("node")),
          Seq("probe_id", "node"), "left_anti")
      v.unionByName(score(cand)).ckpt()
    }
    val wf = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("node"))
    visited.filter(col("node") =!= col("probe_id"))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("node").as("neighbor_id"),
        col("cosine"))
  }

  /** MEDOID ENTRY LAYER for a saved k-NN graph — the coarse top
    * layer the flat hash-seeded entry pick lacks (round-14 VERDICT
    * item 5): train the deterministic k-means quantizer on the saved
    * node vectors (`kCells` cells ≈ the entry budget) and take each
    * cell's MEDOID — the node with the highest rounded-6 cosine to
    * its cell center, node-id tiebreak — as an entry point. Entries
    * then cover every region of the manifold BY CONSTRUCTION (one
    * per cell) instead of by hash luck, which is where the flat
    * pick loses recall when a probe lands in a region no hash seed
    * happens to cover. Deterministic end to end (same quantizer
    * seeding/rounding as IVF), so an oracle can replay the pick:
    * (node) rows, one per non-empty cell. */
  def nngEntriesMedoid(spark: org.apache.spark.sql.SparkSession,
      path: String, kCells: Int = 8, rounds: Int = 2): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val nodes = spark.read.parquet(s"$path/nodes")
    val ev = nodes.select(col("vec_id"), col("v"))
    val centers = VecKMeans.train(ev, kCells, rounds)
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("ccos").desc, col("vec_id"))
    VecKMeans.assign(ev, centers)
      .join(nodes.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .join(broadcast(centers.select(col("cid"),
        col("c").as("cv"))), Seq("cid"))
      .select(col("cid"), col("vec_id"),
        round(expr("vec_dot(v, cv)") /
          (col("nrm") * expr("vec_norm(cv)")), 6).as("ccos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("node"))
  }

  /** DEGREE-seeded entry layer: the `n` highest-degree nodes of the
    * symmetrized adjacency (hub entries — ties by node id). The
    * cheap alternative to [[nngEntriesMedoid]]: one aggregate over
    * the saved adj, no quantizer; hubs reach far in few hops but all
    * sit in dense regions, so coverage is not guaranteed — measure
    * before adopting (graft.IndexBench's `entries` stage). */
  def nngEntriesDegree(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Int = 8): DataFrame =
    spark.read.parquet(s"$path/adj")
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src"))
      .limit(n)
      .select(col("src").as("node"))

  /** HIERARCHICAL COARSE ENTRY LAYER for the NSW family — the
    * HNSW-style skip structure over the flat graph's fixed shared
    * entries (Malkov & Yashunin 2018's upper layers, reduced to the
    * one coarse level these corpus scales need): a deterministic
    * hash-sampled subset of the corpus, SIZE-capped at `layerCap`
    * nodes (modulus ⌈n/layerCap⌉ — the layer build's all-pairs kNN
    * is therefore CONSTANT cost at any corpus size, like an IVF
    * centroid table), indexed as its own small k-NN graph in the
    * standard edges/adj/nodes/entries layout — [[nngTopK]] serves it
    * unchanged. A probe greedily walks THIS layer first (cheap: a
    * few-hundred-node graph) and its per-probe coarse top-k become
    * the base walk's ENTRY POINTS ([[nngTopKHier]]) — entries land
    * in the probe's own region instead of at the 8 shared hubs, the
    * standard recall lever at equal beam. Beyond ~10⁷ nodes the
    * layer itself would be sampled again (HNSW's log-layer recursion);
    * one level covers the measured range here. Fully deterministic
    * (portable hash sampling, the nngBuild pipeline), so a DuckDB
    * oracle replays layer selection, layer graph, and both walks. */
  def nngBuildHierLayer(corpus: DataFrame, id: String, vec: String,
      path: String, layerCap: Int = 256, k: Int = 4,
      nEntries: Int = 4): Unit = {
    val n = corpus.count()
    val mod = math.max(1L, (n + layerCap - 1) / layerCap)
    nngBuild(corpus.filter(
        Sampling.portableHash(col(id), "nngh:") % mod === 0),
      id, vec, path, k, nEntries)
  }

  /** Two-level NSW serving: walk the saved coarse layer
    * ([[nngBuildHierLayer]] at `hierPath`), take each probe's top
    * `nEntries` coarse results as its PERSONAL entry points, then run
    * the standard base walk at `basePath` from those — equal base
    * beam/rounds to the flat walk, so any recall difference is the
    * entry layer's alone. Cost: the coarse walk joins against a
    * ≤ layerCap-node graph (its frontier work is a rounding error
    * next to the base walk); the base walk is unchanged. */
  def nngTopKHier(probes: DataFrame, id: String, vec: String,
      basePath: String, hierPath: String, k: Int = 3, beam: Int = 10,
      rounds: Int = 4, nEntries: Int = 8, beamTop: Int = 4,
      roundsTop: Int = 2): DataFrame = {
    val pe = nngTopK(probes, id, vec, hierPath, k = nEntries,
        beam = beamTop, rounds = roundsTop)
      .select(col("probe_id"), col("neighbor_id").as("node"))
    nngTopK(probes, id, vec, basePath, k, beam, rounds,
      entriesOverride = Some(pe))
  }

  /** NN-DESCENT-style k-NN GRAPH BUILD — the LINEAR-cost alternative
    * to [[nngBuild]]'s exact all-pairs tier (Dong et al.'s NN-Descent
    * insight: "a neighbor of a neighbor is likely a neighbor"):
    * initialize every node's candidate list from a HASH RING
    * (portable-hash order, next k nodes — deterministic pseudo-random
    * starts, no all-pairs step), then `rounds` times expand each
    * node's candidates through the symmetrized
    * neighbor-of-neighbor join, score by exact cosine, and keep the
    * top-`pool`; the final top-k per node is emitted. Iterating on a
    * POOL wider than k is what makes the descent converge on
    * high-dimensional weakly-clustered data (k=10 pool=10 needs ~12
    * rounds where pool=20 needs 6 on the 500-vector fixture), and the
    * round count must grow ≈ log₂(n) — candidate information DOUBLES
    * per neighbor-of-neighbor round, so measured convergence is 6
    * rounds at 500 vectors, 10 at 2,000 (plateau edge recall ≈ 0.93);
    * size `rounds` to ⌈log₂ n⌉ (graft.IndexBench does). Per-round
    * cost is |nodes|·(2·pool)² keyed-join rows — total n·pool²·log n,
    * LINEAR-ish in the corpus where the exact build is quadratic; the
    * crossover sits in the tens of thousands of vectors and the
    * measured curves live in BASELINE.md. Every step is deterministic
    * (hash ring, rounded-6 cosines, id tiebreaks), so the whole
    * trajectory replays in a spec. Writes the same index layout as
    * [[nngBuild]] (edges/adj/nodes/entries), so
    * [[nngTopK]]/[[nngInsert]] serve it unchanged. Returns the
    * per-round pool-edge counts (convergence monitoring).
    *
    * Graph quality is approximate — edge recall vs the exact lists is
    * property-tested (OperatorPropertySpec) and the serving recall
    * ships separately (sim_recall_nng measures the exact-built graph;
    * at 100 TB this build replaces it and the SAME recall harness
    * re-adjudicates). */
  def nngBuildDescent(corpus: DataFrame, id: String, vec: String,
      path: String, k: Int = 10, rounds: Int = 6, pool: Int = 20,
      nEntries: Int = 8, maxJoinRows: Long = 64000000L): Seq[Long] = {
    val e = prep(corpus, id, vec).ckpt()
    // planning-time ring size (bounded 1-row collect, the ivf nProbe
    // discipline)
    val n = e.count()
    val ranked = e.select(col("vid"),
        row_number().over(Window.orderBy(
          Sampling.portableHash(col("vid"), "nngd:"), col("vid")))
          .minus(1).as("r"))
      .ckpt()
    val byRank = ranked.select(col("r").as("rb"), col("vid").as("dst"))
    def score(cand: DataFrame): DataFrame =
      cand.join(e.select(col("vid").as("src"), col("v").as("va"),
          col("nrm").as("na")), Seq("src"))
        .join(e.select(col("vid").as("dst"), col("v").as("vb"),
          col("nrm").as("nb")), Seq("dst"))
        .select(col("src"), col("dst"),
          round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
    def topN(scored: DataFrame, nKeep: Int): DataFrame = {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= nKeep)
        .select(col("src"), col("rk"), col("dst"), col("cosine"))
        .ckpt()
    }
    val init = ranked
      .withColumn("off", explode(lit((1 to pool).toArray)))
      .select(col("vid").as("src"), ((col("r") + col("off")) % n).as("rb"))
      .join(byRank, Seq("rb"))
      .select(col("src"), col("dst"))
      // pool >= n wraps the ring (off ≡ 0 mod n → self-pairs, cosine
      // 1.0, rank first, survive to the emitted edges): drop them here
      .filter(col("src") =!= col("dst"))
    var cand = topN(score(init), pool)
    var candParts: Seq[DataFrame] = Seq(cand)
    val counts = scala.collection.mutable.ArrayBuffer(cand.count())
    // Chunked rounds (round-12 verdict item 4): the per-round
    // neighbor-of-neighbor join materializes ≈ n·(2·pool)² rows —
    // 320M at 200k vectors, which OOMed the single-JVM 24g default
    // and needed 64g. Splitting the SRC side into hash chunks and
    // running the join chunk-by-chunk bounds the in-flight join to
    // maxJoinRows while producing the IDENTICAL result: chunks
    // partition the src space and topN partitions by src, so the
    // union of per-chunk topNs equals the global topN. A real
    // cluster spreads the join across executors; chunking makes the
    // same build reproducible at default heap on one JVM.
    val nChunks = math.max(1, math.ceil(
      n.toDouble * (2.0 * pool) * (2.0 * pool) / maxJoinRows).toInt)
    val chunkOf = pmod(
      Sampling.portableHash(col("src"), "nngd:chunk:"), lit(nChunks))
    for (_ <- 1 to rounds) {
      val prevParts = candParts
      val d = cand.select(col("src"), col("dst"))
      val adj = d.unionByName(
        d.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().ckpt()
      candParts = (0 until nChunks).map { c =>
        val adjC = if (nChunks == 1) adj else adj.filter(chunkOf === c)
        val dC = if (nChunks == 1) d else d.filter(chunkOf === c)
        val nn2 = adjC.select(col("src"), col("dst").as("mid"))
          .join(adj.select(col("src").as("mid"), col("dst")), Seq("mid"))
          .select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst"))
        topN(score(nn2.unionByName(dC).distinct()), pool)
      }
      cand = candParts.reduce(_ unionByName _)
      counts += cand.count()
      // free the superseded round's checkpoints (they otherwise
      // accumulate rounds × n·pool cached rows across ~log₂ n rounds)
      prevParts.foreach(_.unpersist())
      adj.unpersist()
    }
    val kept = cand.filter(col("rk") <= k)
    kept.write.mode("overwrite").parquet(s"$path/edges")
    val d = kept.select(col("src"), col("dst"))
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/adj")
    e.select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/nodes")
    // degree-seeded entries (the nngBuild adoption — see its scaladoc)
    nngEntriesDegree(corpus.sparkSession, path, nEntries)
      .write.mode("overwrite").parquet(s"$path/entries")
    counts.toSeq
  }

  /** NSW BULK INSERTION into a saved [[nngBuild]] index: each arrival
    * finds its k link targets by SEARCHING the existing graph (the
    * [[nngTopK]] walk with k = the graph degree — insertion and
    * serving are the same traversal, which is the NSW insight), then
    * the links, their reverses, and the arrival vectors are APPENDED
    * (`adj` gains both directions so later walks can flow through the
    * new nodes; existing files are never rewritten). The whole batch
    * links against the pre-insert graph (bulk semantics), so the
    * result is independent of arrival order. Returns the link rows
    * (probe_id, rk, neighbor_id, cosine). */
  def nngInsert(arrivals: DataFrame, id: String, vec: String,
      path: String, k: Int = 10, beam: Int = 10,
      rounds: Int = 4): DataFrame = {
    val links = nngTopK(arrivals, id, vec, path, k, beam, rounds)
      .ckpt()
    prep(arrivals, id, vec)
      .select(col("vid").as("vec_id"), col("v"), col("nrm"))
      .write.mode("append").parquet(s"$path/nodes")
    val d = links.select(col("probe_id").as("src"),
      col("neighbor_id").as("dst"))
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst")))
      .write.mode("append").parquet(s"$path/adj")
    links
  }
}
