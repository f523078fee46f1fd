package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** IVF-PQ: the memory-compressed ANN serving path (Jégou/Douze/Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
  * the index stores, per vector, its coarse cell id plus `m` one-byte
  * PRODUCT-QUANTIZER codes (nearest sub-codebook centroid per d/m-dim
  * sub-vector), so the in-memory search structure is ~m bytes per
  * vector instead of 4·d. A probe scores candidates with ASYMMETRIC
  * DISTANCE COMPUTATION: dot(q, x) ≈ Σ_s dot(q_s, codebook_s[code_s]),
  * where the m·ksub partial dots are computed ONCE per probe (a
  * distance table), then each candidate costs m table lookups. The
  * ADC shortlist is exactly re-ranked on the stored full vectors —
  * the standard codes-in-memory / vectors-on-disk serving config, so
  * recall is bounded by cell recall, not PQ resolution.
  *
  * All stages are the bounded-broadcast shapes the policy allows:
  * codebooks are m·ksub rows, probe tables |probes|·m·ksub rows; the
  * corpus is scanned once at build and partition-pruned at probe time
  * (same mechanism as [[Similarity.ivfTopK]], proven in IvfIndexSpec).
  */
object IvfPq {

  private val dot = "vec_dot(va, vb)"

  /** (vec_id, s, sub) — the m d/m-dim sub-vectors of each row. */
  private def subVectors(ev: DataFrame, m: Int, subDim: Int): DataFrame = {
    val subs = (0 until m).map(s =>
      struct(lit(s).as("s"), slice(col("v"), s * subDim + 1, subDim).as("sub")))
    ev.select(col("vec_id"), explode(array(subs: _*)).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sub").as("sub"))
  }

  /** Build and save an IVF-PQ index at `path`: coarse `centers`
    * (k rows), per-subspace `codebooks` (m·ksub rows of (s, code,
    * c)), and cid-partitioned `cells` of (vec_id, v, nrm,
    * codes: array<int>). The vector dimension must be divisible
    * by `m`. */
  def build(corpus: DataFrame, id: String, vec: String, path: String,
      k: Int = 8, rounds: Int = 2, m: Int = 8, ksub: Int = 64): Unit = {
    // one byte per code is the memory contract the serving story (and
    // IvfPqSpec's compression assertion) rests on
    require(ksub > 0 && ksub <= 256,
      s"ksub=$ksub must be in 1..256 (codes are one byte each)")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    // materialize the prepared corpus ONCE: seeds, coarse training,
    // sub-vector explode and the final assignment all re-read it, and
    // re-evaluating the caller's lineage per consumer dominated build
    // time. A build pass that scans the corpus once is the contract.
    val e = corpus.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
      .ckpt()
    val dim = e.select(size(col("v"))).first().getInt(0)
    require(dim % m == 0, s"dimension $dim not divisible by m=$m")
    val subDim = dim / m
    val ev = e.select(col("vec_id"), col("v"))
    val centers = VecKMeans.train(ev, k, rounds)
    centers.write.mode("overwrite").parquet(s"$path/centers")
    // per-subspace codebooks, trained JOINTLY: keying every frame by
    // (s, code) lets all m Lloyd iterations advance in the same two
    // aggregates per round — identical math to m independent trainings
    // (same smallest-id seeds, same (d2, code) tie-break), but ~2 jobs
    // per round instead of ~6·m
    val subs = subVectors(ev, m, subDim).ckpt()
    // seed codes are the RANK among the ksub smallest ids (0..ksub−1),
    // never a cast of the id value (see VecKMeans.train) — this
    // is also what keeps every PQ code < 256 regardless of id space
    val seedIds = ev.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("int").as("code"))
    var cb = subs.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("s"), col("code"), col("sub").as("c"))
      .ckpt()
    // each subspace's whole codebook folded into ONE code-sorted array
    // row, so assignment is a per-row codegen'd argmin
    // (vec_argmin_code — bit-identical to the former ksub-way
    // candidate join + min(struct(d2, code)) aggregate, see the
    // expression's scaladoc) instead of a |subs|·ksub row explosion
    // plus re-aggregation shuffle per Lloyd round: the 100× probe
    // measured the join form at 112 s for 200k vectors, ~all of it
    // this explosion
    def cbArrays(codebook: DataFrame): DataFrame = codebook
      .groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("code"), col("c"))))
        .as("cbs"))
    def assignSubs(codebook: DataFrame): DataFrame = subs
      .join(broadcast(cbArrays(codebook)), Seq("s"))
      .select(col("vec_id"), col("s"),
        expr("vec_argmin_code(sub, cbs)").as("code"), col("sub"))
    for (_ <- 1 to rounds) {
      cb = assignSubs(cb)
        .select(col("s"), col("code"),
          posexplode(col("sub")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("code"), col("pos"))
        // 8-place rounding per Lloyd round — the VecKMeans.train
        // discipline: double summation is order-dependent, so without
        // it an engine replaying the rounds sequentially (the DuckDB
        // oracle behind sim_topk_ivfpq) drifts ULPs per round and the
        // trained codebooks stop being a reproducible relation
        .agg(round(avg(col("x")), 8).as("mv"))
        .groupBy(col("s"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), " +
          "q -> q.mv)").as("c"))
        .ckpt()
    }
    cb.write.mode("overwrite").parquet(s"$path/codebooks")
    // encode: nearest sub-centroid per (vector, subspace) against the
    // final codebooks, collected into one m-length code array
    val encoded = assignSubs(cb)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), " +
        "p -> CAST(p.code AS INT))").as("codes"))
    VecKMeans.assign(ev, centers)
      .join(e.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .join(encoded, Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"), col("codes"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/cells")
  }

  /** Incrementally add vectors to a saved [[build]] index: arrivals
    * are assigned to their nearest SAVED coarse cell and encoded
    * against the SAVED per-subspace codebooks (neither quantizer is
    * retrained — the standard serving trade, same as
    * [[Similarity.ivfAppend]]: resolution degrades slowly, a periodic
    * rebuild restores it), then appended to the cid-partitioned
    * layout — only the touched partitions gain files. */
  def append(newVecs: DataFrame, id: String, vec: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val centers = spark.read.parquet(s"$path/centers")
    val codebooks = spark.read.parquet(s"$path/codebooks")
    val dims = codebooks
      .agg(countDistinct(col("s")), max(size(col("c")))).first()
    val m = dims.getLong(0).toInt
    val subDim = dims.getInt(1)
    val e = newVecs.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
      .ckpt()
    // GUARD (mirrors build's dim % m check): every arrival must match
    // the saved index's dimension m·subDim. Without this, a wrong-dim
    // arrival is silently slice-truncated by subVectors, encoded
    // against mismatched codebooks, and appended — poisoning the
    // cells table for every later probe with no error anywhere. The
    // whole append fails BEFORE anything is written (the write below
    // is the first action against the index).
    val dim = m * subDim
    val dimRange = e.agg(min(size(col("v"))), max(size(col("v")))).first()
    if (!dimRange.isNullAt(0))
      require(dimRange.getInt(0) == dim && dimRange.getInt(1) == dim,
        s"append vectors have dimension(s) ${dimRange.getInt(0)}.." +
          s"${dimRange.getInt(1)} but the saved index at $path expects " +
          s"$dim (m=$m × subDim=$subDim); rejecting the whole batch")
    val ev = e.select(col("vec_id"), col("v"))
    // encode: nearest saved sub-centroid per (vector, subspace) —
    // same (d2, code) tie-break as build's assignSubs, via the same
    // per-row argmin expression (no ksub-way candidate join)
    val cbArr = codebooks.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("code"), col("c"))))
        .as("cbs"))
    val encoded = subVectors(ev, m, subDim)
      .join(broadcast(cbArr), Seq("s"))
      .select(col("vec_id"), col("s"),
        expr("vec_argmin_code(sub, cbs)").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), " +
        "p -> CAST(p.code AS INT))").as("codes"))
    VecKMeans.assign(ev, centers)
      .join(e.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .join(encoded, Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"), col("codes"))
      .write.mode("append").partitionBy("cid").parquet(s"$path/cells")
  }

  /** Approximate top-k cosine over a saved [[build]] index:
    * (probe_id, rk, neighbor_id, cosine — EXACT, from the re-rank).
    * Probes read only their nProbe cells' partitions; candidates are
    * scored by ADC table lookups (shortlist = `shortlistFactor`·k by
    * approximate cosine), and the shortlist is re-ranked exactly on
    * the stored vectors.
    *
    * The ADC tables travel as PER-PROBE MAP LITERALS: each probe
    * carries, on the broadcast probe side, an array (over subspaces)
    * of code→partial-dot maps, so a candidate's approximate dot is m
    * in-row lookups — no per-code explode, no (probe, s, code)
    * shuffle join, no re-aggregation. And because candidate rows keep
    * their stored vectors through scoring, the shortlist re-rank is a
    * FILTER + second sort under the same probe_id partitioning (one
    * exchange for the whole probe), not a join back into the
    * candidate set. */
  def topK(probes: DataFrame, id: String, vec: String, path: String,
      k: Int, nProbe: Int = 3, shortlistFactor: Int = 16): DataFrame = {
    val spark = probes.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val centers = spark.read.parquet(s"$path/centers")
    val codebooks = spark.read.parquet(s"$path/codebooks")
    // one driver action for both index dimensions (m, subDim)
    val dims = codebooks
      .agg(countDistinct(col("s")), max(size(col("c")))).first()
    val m = dims.getLong(0).toInt
    val subDim = dims.getInt(1)
    val p = probes.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
    // probed cells (bounded) → literal partition filter, as in ivfTopK
    val probeCells = VecKMeans.assignTopN(
        p.select(col("vec_id"), col("v")), centers, nProbe)
      .join(p.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cid"), col("vec_id").as("probe_id"),
        col("v").as("va"), col("nrm").as("na"))
    val cids = probeCells.select(col("cid")).distinct()
      .collect().map(_.get(0)).toSeq
    // per-probe ADC tables — dot(q_s, centroid) for every (s, code) —
    // folded into ONE nested-map column per probe: tbl[s][code].
    // (Both levels maps: code can be sparse when a Lloyd cell
    // emptied, and structs holding maps aren't array_sort-able.)
    // each partial dot rounded to 6 places: the per-row d2 rounding
    // argument (mining_kmeans) applied to ADC — the exact sum of m
    // rounded partials is a multiple of 1e-6, so each engine's ~1e-10
    // summation drift is absorbed by the final 6-place round below
    // and the shortlist rank is bit-identical cross-engine
    val tables = subVectors(p.select(col("vec_id"), col("v")), m, subDim)
      .withColumnRenamed("vec_id", "probe_id")
      .join(broadcast(codebooks), Seq("s"))
      .groupBy(col("probe_id"), col("s"))
      .agg(map_from_entries(collect_list(
        struct(col("code"), expr("round(vec_dot(sub, c), 6)")))).as("tmap"))
      .groupBy(col("probe_id"))
      .agg(map_from_entries(collect_list(struct(col("s"), col("tmap"))))
        .as("tbl"))
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cid").isin(cids: _*))
      .select(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"), col("codes"))
    // candidate rows carry everything scoring AND re-ranking need; the
    // probe side (bounded: |probes|·nProbe rows + m·ksub doubles per
    // probe) is broadcast, the pruned cells scan is never shuffled
    val candidates = cells
      .join(broadcast(probeCells.join(tables, Seq("probe_id"))),
        Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
    // ADC: m in-row map lookups per candidate; the lookup sum is
    // rounded to 6 BEFORE the norm division (recovering the exact
    // multiple-of-1e-6 sum of the rounded partials), so approx_cos is
    // a deterministic function of the index + probes on any engine
    val scored = candidates.withColumn("approx_cos",
      expr(s"round(aggregate(sequence(0, ${m - 1}), 0D, (acc, s) -> " +
        "acc + element_at(element_at(tbl, s), element_at(codes, s + 1))), 6)")
        / (col("na") * col("nb")))
    val wa = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val we = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // (probe, neighbor) is unique in candidates — a neighbor lives in
    // exactly one cell — so no dedup is needed before either rank;
    // the exact cosine is computed for SHORTLIST survivors only
    scored
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= k * shortlistFactor)
      .withColumn("cosine", round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }
}
