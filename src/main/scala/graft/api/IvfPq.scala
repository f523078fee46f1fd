package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * Both quantizers train by [[VecKMeans]]' one Lloyd rule, with their
  * ≤ k centers and m·ksub codebook rows on the driver as plan
  * literals, so [[build]] and [[append]] never join the corpus: a
  * vector's cell row is one per-row projection, and the only exchange
  * is the cells write's rebalance by cid. Serving uses bounded
  * broadcasts (probe tables are |probes|·m·ksub rows), and the cells
  * are partition-pruned at probe time (same mechanism as
  * [[Similarity.ivfTopK]], proven in IvfIndexSpec).
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
    val spark = corpus.sparkSession
    graft.functions.VectorExpressions.register(spark)
    // materialize the prepared corpus ONCE: both trainings and the
    // encode re-read it, and re-evaluating the caller's lineage per
    // consumer dominated build time
    val ev = corpus.select(col(id).as("vec_id"), col(vec).as("v")).ckpt()
    val dim = ev.select(size(col("v"))).first().getInt(0)
    require(dim % m == 0, s"dimension $dim not divisible by m=$m")
    val subDim = dim / m
    val centers = VecKMeans.train(ev, k, rounds)
    centers.write.mode("overwrite").parquet(s"$path/centers")
    // the m sub-codebooks train as ONE run of VecKMeans' Lloyd rule
    // keyed s·ksub + code — the math of m independent trainings, one
    // job per round. A seed's rank is its first code (never a cast of
    // the id value, see VecKMeans.train), so every code < ksub ≤ 256.
    val seeds = VecKMeans.seeds(ev, ksub).zipWithIndex
    val seeded = (0 until m).map(s => seeds.map {
      case (v, code) => (code, v.slice(s * subDim, (s + 1) * subDim))
    })
    val subs = subVectors(ev, m, subDim)
    val cbs = (1 to rounds).foldLeft(seeded) { (prev, _) =>
      val step = VecKMeans.lloydStep(subs.select(
        (col("s") * ksub + nearest(col("sub"), prev, col("s"))).as("key"),
        col("sub")))
      (0 until m).map(s => step.collect {
        case (key, c) if key / ksub == s => (key % ksub, c)
      })
    }
    // ≤ m·256 rows: one file
    spark.createDataFrame((for ((cb, s) <- cbs.zipWithIndex;
          (code, c) <- cb) yield Row(s, code, c)).asJava, codebookSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    cells(ev, centers, cbs, subDim)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/cells")
  }

  /** Incrementally add vectors to a saved [[build]] index: arrivals
    * are assigned to their nearest SAVED coarse cell and encoded
    * against the SAVED per-subspace codebooks (neither quantizer is
    * retrained — the standard serving trade, same as
    * [[Similarity.ivfAppend]]: resolution degrades slowly, a periodic
    * rebuild restores it), then appended to the cid-partitioned
    * layout — only the touched partitions gain files. Like
    * [[VecKMeans.assign]], each input row gives one cell row:
    * callers own id uniqueness. */
  def append(newVecs: DataFrame, id: String, vec: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val centers = spark.read.parquet(s"$path/centers")
    // the m·ksub saved codebook rows, once: they give the encoder its
    // literal and the index its dimensions (m, subDim)
    val cbs = spark.read.parquet(s"$path/codebooks")
      .select(col("s"), col("code"), col("c")).collect().toSeq
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getInt(1), r.getSeq[Double](2))).sortBy(_._1))
    val m = cbs.size
    val subDim = cbs.flatten.map(_._2.size).max
    val ev = newVecs.select(col(id).as("vec_id"), col(vec).as("v")).ckpt()
    // GUARD (mirrors build's dim % m check): every arrival must match
    // the saved index's dimension m·subDim. Without this, a wrong-dim
    // arrival is silently slice-truncated by the encoder, encoded
    // against mismatched codebooks, and appended — poisoning the
    // cells table for every later probe with no error anywhere. The
    // whole append fails BEFORE anything is written (the write below
    // is the first action against the index).
    val dim = m * subDim
    val dimRange = ev.agg(min(size(col("v"))), max(size(col("v")))).first()
    if (!dimRange.isNullAt(0))
      require(dimRange.getInt(0) == dim && dimRange.getInt(1) == dim,
        s"append vectors have dimension(s) ${dimRange.getInt(0)}.." +
          s"${dimRange.getInt(1)} but the saved index at $path expects " +
          s"$dim (m=$m × subDim=$subDim); rejecting the whole batch")
    cells(ev, centers, cbs, subDim)
      .write.mode("append").partitionBy("cid").parquet(s"$path/cells")
  }

  /** the code of `sub` in subspace `s`: its nearest centroid in the
    * code-sorted codebook `cbs(s)`, a plan literal. */
  private def nearest(sub: Column, cbs: Seq[Seq[(Int, Seq[Double])]],
      s: Column): Column =
    call_function("vec_argmin_code", sub, element_at(typedLit(cbs), s + 1))

  /** the (cid, vec_id, v, nrm, codes) cells rows of `ev` as ONE
    * per-row projection, shared by [[build]] and [[append]], rebalanced
    * by cid so each written cell holds AQE-sized files (one per cell
    * at small scale) instead of one per input partition. */
  private def cells(ev: DataFrame, centers: DataFrame,
      cbs: Seq[Seq[(Int, Seq[Double])]], subDim: Int): DataFrame =
    VecKMeans.assign(ev, centers).select(col("cid"), col("vec_id"),
      col("v"), expr("vec_norm(v)").as("nrm"),
      transform(sequence(lit(0), lit(cbs.size - 1)), s => nearest(
        slice(col("v"), s * subDim + 1, lit(subDim)), cbs, s)).as("codes"))
      .hint("rebalance", col("cid"))

  /** the saved `codebooks/` layout. */
  private val codebookSchema = StructType(Seq(StructField("s", IntegerType),
    StructField("code", IntegerType), StructField("c", ArrayType(DoubleType))))

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
