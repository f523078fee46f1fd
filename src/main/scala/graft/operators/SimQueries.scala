package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.sources.Tables
import graft.Ckpt.CkptOps

/** Similarity search over the embedding column (SURVEY.md §2.8).
  *
  * Cosine is computed in DOUBLE on both engines (Spark: higher-order
  * `zip_with`+`aggregate` fold — codegen'd, no UDF; DuckDB:
  * `list_dot_product` on a DOUBLE[] cast) and rounded to 6 places
  * before any ranking, so tie-breaks are deterministic cross-engine.
  *
  * Scale notes: brute-force top-k is the correctness baseline — it
  * broadcasts the (tiny) probe set against the corpus, so the corpus
  * is never shuffled; cost is one scan × K probes. The 100 TB path is
  * `sim_topk_lsh`: sign-LSH buckets computed per-vector (one scan, no
  * shuffle), probes search only their bucket — candidate set shrinks
  * ~2^bits×; recall is property-tested against brute force in
  * SimSpec.
  */
object SimQueries {

  /** doubles + L2 norm, shared by the queries below. Norm and dot use
    * the codegen'd native expressions in graft.functions (the
    * higher-order zip_with/aggregate forms are interpreted and
    * dominate all-pairs joins). */
  private[operators] def vecs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // pinned-count spread: the small-SF embeddings table is a single
    // parquet split, and every consumer fans it out (pair joins,
    // probe×bucket candidate joins) — one tiny exchange up front keeps
    // the dot-product stages parallel (see Tables.documentsSpread).
    Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
  }

  private val dot = "vec_dot(va, vb)"

  /** Exact top-5 cosine neighbors for probe vectors vec_id < 5
    * (self excluded): the brute-force baseline. */
  val simCosineTopk: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      graft.api.Similarity.cosineTopK(ev, ev.filter(col("vec_id") < 5),
        "vec_id", "v", k = 5)
        .orderBy(col("probe_id"), col("rk"))
    }
    GQuery("sim_cosine_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine
        |  FROM n p JOIN n c ON p.vec_id < 5 AND c.vec_id != p.vec_id),
        |ranked AS (
        |  SELECT probe_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT probe_id, rk, neighbor_id, cosine
        |FROM ranked WHERE rk <= 5
        |ORDER BY probe_id, rk""".stripMargin)(sparkImpl)
  }

  /** Shared oracle SQL for both spellings of the same-label pair
    * join: the naive label equi-join IS the semantics, so the salted
    * plan answers the same SQL. */
  private val pairThresholdSql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |      FROM e)
      |SELECT CAST(a.label AS INT) AS label, a.vec_id AS v1,
      |  b.vec_id AS v2,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.3
      |ORDER BY label, v1, v2""".stripMargin

  /** All same-label pairs with cosine ≥ 0.3 (label is the blocking
    * key, so the join is equi on label + residual threshold). A HOT
    * label (one language/source dominating — the 100 TB case) pins
    * this plain join's work on one task: the scale form is
    * graft.api.Similarity.labelPairs, which decomposes each label's
    * self-join into block pairs (ApiSpec pins it equal to this query;
    * ScalePostureSpec demonstrates the bounded per-key input on a
    * one-hot corpus). */
  val simPairThreshold: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      val e = vecs(s, dir)
      val a = e.select(col("label"), col("vec_id").as("v1"),
        col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("v2"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("label"))
        .filter(col("v1") < col("v2"))
        .withColumn("cosine", round(expr(dot) / (col("na") * col("nb")), 6))
        .filter(col("cosine") >= 0.3)
        .select(col("label").cast("int").as("label"), col("v1"), col("v2"),
          col("cosine"))
        .orderBy(col("label"), col("v1"), col("v2"))
    }
    GQuery("sim_pair_threshold", pairThresholdSql)(sparkImpl)
  }

  /** The HOT-LABEL-SAFE spelling of [[simPairThreshold]], oracle-
    * backed by the SAME SQL: graft.api.Similarity.labelPairs
    * decomposes each label's self-join into block pairs, so every
    * unordered pair meets under exactly one (label, lo, hi) shuffle
    * key — a dominant label's O(n²) work spreads over
    * blocks·(blocks+1)/2 keys instead of one task — and the result
    * set is provably identical to the plain label join. */
  val simPairThresholdSalted: GQuery = GQuery(
    "sim_pair_threshold_salted", pairThresholdSql) { (s, dir) =>
    graft.api.Similarity.labelPairs(
        vecs(s, dir).select(col("vec_id"), col("label"), col("v")),
        "vec_id", "v", "label", tau = 0.3, blocks = 16)
      .select(col("label").cast("int").as("label"), col("v1"),
        col("v2"), col("cosine"))
      .orderBy(col("label"), col("v1"), col("v2"))
  }

  /** Multi-table sign-LSH approximate top-3: 8 hash tables, each
    * bucketing on the sign bits of a distinct group of 4 dimensions;
    * a probe's candidate set is the union of its 8 buckets, so a true
    * neighbor is missed only if it disagrees on some sign in EVERY
    * table (recall ≈ 1 − (1 − p⁴)⁸, property-tested vs brute force).
    *
    * Oracle-backed (round 10): the buckets are a pure sign projection
    * of the stored vectors — table t's bucket is the 4 sign bits of
    * dimensions 4t+1..4t+4 read MSB-first — so DuckDB replays
    * bucketize → (tbl, bucket) candidate join → distinct → exact
    * cosine top-3, and the driver hash-checks the whole serving path.
    * Approximate only relative to BRUTE FORCE (recall), never
    * nondeterministic.
    *
    * Scale shape: bucketing is a per-row projection (no shuffle); the
    * candidate join is equi on (table, bucket) — the full pairwise
    * cosine computation never happens. */
  val simTopkLsh: GQuery = GQuery(
    "sim_topk_lsh",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |b AS (
      |  SELECT vec_id, v, nrm, t.tbl,
      |    (CASE WHEN v[4 * t.tbl + 1] >= 0 THEN 8 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 2] >= 0 THEN 4 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 3] >= 0 THEN 2 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM n, (SELECT unnest(range(8)) AS tbl) t),
      |cand AS (
      |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine
      |  FROM b p JOIN b c ON p.tbl = c.tbl AND p.bucket = c.bucket
      |  WHERE p.vec_id < 50 AND c.vec_id != p.vec_id),
      |ranked AS (
      |  SELECT probe_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, neighbor_id) AS rk
      |  FROM cand)
      |SELECT probe_id, rk, neighbor_id, cosine
      |FROM ranked WHERE rk <= 3
      |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    graft.api.Similarity.signLshTopK(ev, ev.filter(col("vec_id") < 50),
      "vec_id", "v", k = 3, tables = 8, bits = 4)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** IVF (inverted-file) approximate top-3 over a SAVED index — the
    * other classic ANN scale path next to sign-LSH, now with the real
    * serving story: `Similarity.ivfBuild` trains a coarse k-means
    * quantizer (k = 8 cells) and writes cell assignments as
    * cid-PARTITIONED parquet; `Similarity.ivfTopK` assigns each probe
    * to its nProbe = 3 nearest cells and reads ONLY those cells'
    * partition directories (literal `cid IN (...)` → PartitionFilters,
    * asserted in IvfIndexSpec). Recall is governed by how often a
    * true neighbor falls in a probed cell (property-tested vs brute
    * force in OperatorPropertySpec). Oracle-backed since the
    * quantizer became SQL-replayable (round 8): approximate relative
    * to BRUTE FORCE, but a deterministic function of the corpus —
    * the oracle replays train → probe-cell top-3 → within-cell exact
    * top-k, so the driver hash-checks the whole serving path.
    *
    * The index is built IF ABSENT (quantizer training is
    * deterministic — smallest-id seeds, fixed rounds — so a rebuild
    * would be byte-identical): the first invocation pays the one-time
    * build, every later one measures the real serving path, the
    * pruned nProbe-partition probe. */
  /** index path + build-if-absent via graft.IndexStore: the path is
    * per-user and stamped with the source parquet's (mtime, length) —
    * a regenerated fixture can never serve a stale index — and the
    * build publishes with one atomic rename, so concurrent runs can't
    * interleave a read with a half-written build. The family name
    * carries an ALGORITHM version (`_c8` = quantizer centers rounded
    * to 8 places per Lloyd round): the stamp invalidates on data
    * change only, so a change to the center arithmetic must rename
    * the family or stale-but-stamped indexes from older code would
    * still be served. */
  val simTopkIvf: GQuery = GQuery(
    "sim_topk_ivf",
    // replay of the SAVED index's serving path: quantizer cells from
    // the shared unrolled-Lloyd CTE (cfin = the final k = 8 centers —
    // the CTE's stable alias, immune to the rounds argument,
    // fin = the corpus assignment the saved cells hold), probe cells
    // = 3 nearest centers per probe on the same (d2, cid) tiebreak
    // as VecKMeans.assignTopN, candidates = probed cells' members,
    // exact cosine top-3 on the (cosine DESC, neighbor_id) order
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 50) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, cid FROM (
       |    SELECT vec_id, v, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |cand AS (
       |  SELECT pc.probe_id, n.vec_id AS neighbor_id,
       |    round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |      AS cosine
       |  FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM cand)
       |SELECT probe_id, rk, neighbor_id, cosine
       |FROM ranked WHERE rk <= 3
       |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val ivfPath = ensureIvfC8(s, dir)
    graft.api.Similarity.ivfTopK(ev.filter(col("vec_id") < 50),
      "vec_id", "v", ivfPath, k = 3, nProbe = 3)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** IVF INDEX-HEALTH AUDIT — per-cell population of the SAVED IVF
    * index (the same stamped ivf_c8 family sim_topk_ivf / sim_range_ivf
    * / dedup_semantic_indexed serve from): cell sizes plus integer-
    * exact hot/cold flags (hot = cell ≥ 2× the average, cold = ≤ ⅕) —
    * the readout that decides nProbe and rebuild cadence BEFORE a
    * 100 TB corpus is served (a hot cell bounds worst-case probe
    * latency; many cold cells mean wasted quantizer capacity; after
    * enough ivfAppend drift the flags say rebuild). Oracle replays
    * the quantizer ([[MiningQueries.kmeansOracleCte]]) and re-counts.
    *
    * Scale shape: the audit reads ONLY the index's `cid` partition
    * column — with column pruning the scan touches parquet metadata,
    * not vector bytes — then a ≤k-row aggregate and a 1-row total
    * broadcast. Near-free at any corpus size; fourth consumer of one
    * index build. */
  val simIvfCellStats: GQuery = GQuery(
    "sim_ivf_cell_stats",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |pc AS (SELECT CAST(cid AS INT) AS cid,
       |         CAST(count(*) AS BIGINT) AS n_vectors
       |       FROM fin GROUP BY 1),
       |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
       |             CAST(count(*) AS BIGINT) AS n_cells FROM pc)
       |SELECT cid, n_vectors, n_cells,
       |  n_vectors * n_cells >= total * 2 AS hot,
       |  n_vectors * n_cells * 5 <= total AS cold
       |FROM pc CROSS JOIN t
       |ORDER BY cid""".stripMargin) { (s, dir) =>
    val ivfPath = ensureIvfC8(s, dir)
    val perCell = s.read.parquet(s"$ivfPath/cells")
      .select(col("cid").cast("int").as("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).cast("bigint").as("n_vectors"))
    val tot = perCell.agg(sum(col("n_vectors")).cast("bigint").as("total"),
      count(lit(1)).cast("bigint").as("n_cells"))
    perCell.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vectors"), col("n_cells"),
        (col("n_vectors") * col("n_cells") >= col("total") * 2).as("hot"),
        (col("n_vectors") * col("n_cells") * 5 <= col("total")).as("cold"))
      .orderBy(col("cid"))
  }

  /** IVF REBUILD — the maintenance step `sim_ivf_cell_stats` exists
    * to schedule, certified end to end (the dedup_cluster_stats
    * pattern: the DECISION and its outcome are themselves
    * hash-checked rows): a drifted corpus — every 4th embedding
    * re-arrives shifted into one tight far-away cluster, the
    * canonical distribution shift ivfAppend cannot adapt to because
    * appends never retrain the quantizer — is appended to a base
    * ivf_c8 build, the pre-rebuild profile shows the arrivals piled
    * into hot cells, then [[graft.api.Similarity.ivfRebuild]]
    * retrains on the index's OWN stored vectors and the post-rebuild
    * profile is re-audited. Output: one row per (phase ∈ {pre, post},
    * cid) with the cell population and the integer-exact hot/cold
    * flags. The oracle replays BOTH quantizer trainings (base, and
    * base ∪ arrivals for the rebuild) via the prefixed
    * [[MiningQueries.kmeansCtes]] chains plus the append-side
    * nearest-cell assignment, all in one WITH clause.
    *
    * Scale shape: both audits read only the indexes' `cid` partition
    * column (parquet metadata, not vector bytes); the rebuild itself
    * is the offline ivfBuild cost — one scan of the stored cells per
    * Lloyd round against the driver-held k centers — amortized across
    * every consumer of the republished index. IndexStore stamps both
    * artifacts, so the drift+rebuild sequence runs once per corpus
    * generation and re-runs are pure reads (idempotent: the append
    * happens INSIDE the pre index's ensure block, never twice). */
  val simIvfRebuild: GQuery = {
    val idOff = 10000000L
    GQuery("sim_ivf_rebuild",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |arr AS (SELECT vec_id + $idOff AS vec_id,
         |          list_transform(v, x -> x * 0.05 + 2.0) AS v
         |        FROM e WHERE vec_id % 4 = 0),
         |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM arr),
         |${MiningQueries.kmeansCtes(8, 2, "e", "b")},
         |arrfin AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT a.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.c)
         |          + list_dot_product(c.c, c.c), c.cid) AS rn
         |    FROM arr a, bcfin c)
         |  WHERE rn = 1),
         |${MiningQueries.kmeansCtes(8, 2, "u", "r")},
         |pre AS (SELECT vec_id, cid FROM bfin
         |        UNION ALL SELECT vec_id, cid FROM arrfin),
         |post AS (SELECT vec_id, cid FROM rfin),
         |pp AS (
         |  SELECT 'pre' AS phase, CAST(cid AS INT) AS cid,
         |    CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM pre GROUP BY 2
         |  UNION ALL
         |  SELECT 'post' AS phase, CAST(cid AS INT) AS cid,
         |    CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM post GROUP BY 2),
         |t AS (SELECT phase, CAST(sum(n_vectors) AS BIGINT) AS total,
         |        CAST(count(*) AS BIGINT) AS n_cells
         |      FROM pp GROUP BY 1)
         |SELECT pp.phase, pp.cid, pp.n_vectors, t.n_cells,
         |  pp.n_vectors * t.n_cells >= t.total * 2 AS hot,
         |  pp.n_vectors * t.n_cells * 5 <= t.total AS cold
         |FROM pp JOIN t ON pp.phase = t.phase
         |ORDER BY pp.phase, pp.cid""".stripMargin) { (s, dir) =>
      val base = vecs(s, dir).select(col("vec_id"), col("v"))
      // drifted arrivals: every 4th vector re-embedded into one tight
      // cluster far from the base distribution (x*0.05 + 2.0 is a
      // single IEEE multiply-add per element — both engines compute
      // bit-identical doubles, no rounding grid needed); a quarter of
      // the corpus piling into one cell is what actually trips the
      // integer hot flag (2x the mean) that schedules the rebuild
      val arrivals = base.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + lit(idOff)).as("vec_id"),
          transform(col("v"), x => x * lit(0.05) + lit(2.0)).as("v"))
      // family names carry the drift modulus: the stamp is keyed on
      // (family, fixture), so a parameter change must mint a new family
      // or a stale cached index would be served
      val prePath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("ivf_rebuild_pre_m4", dir,
          "embeddings.parquet")) { tmp =>
        graft.api.Similarity.ivfBuild(base, "vec_id", "v", tmp,
          k = 8, rounds = 2)
        graft.api.Similarity.ivfAppend(arrivals, "vec_id", "v", tmp)
      }
      val postPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("ivf_rebuild_post_m4", dir,
          "embeddings.parquet")) { tmp =>
        graft.api.Similarity.ivfRebuild(s, prePath, tmp,
          k = 8, rounds = 2)
      }
      def profile(path: String, phase: String) = {
        val perCell = s.read.parquet(s"$path/cells")
          .select(col("cid").cast("int").as("cid"))
          .groupBy(col("cid"))
          .agg(count(lit(1)).cast("bigint").as("n_vectors"))
        val tot = perCell.agg(
          sum(col("n_vectors")).cast("bigint").as("total"),
          count(lit(1)).cast("bigint").as("n_cells"))
        perCell.crossJoin(broadcast(tot))
          .select(lit(phase).as("phase"), col("cid"), col("n_vectors"),
            col("n_cells"),
            (col("n_vectors") * col("n_cells") >= col("total") * 2)
              .as("hot"),
            (col("n_vectors") * col("n_cells") * 5 <= col("total"))
              .as("cold"))
      }
      profile(prePath, "pre").unionAll(profile(postPath, "post"))
        .orderBy(col("phase"), col("cid"))
    }
  }

  /** DuckDB replay of the per-subspace PQ codebook training
    * (graft.api.IvfPq.build): sub-vectors (m = 8, subDim = 8), seed
    * codes = rank among the 64 smallest vec_ids, each Lloyd round
    * argmin-assigns on (d2, code) and recenters with round(avg, 8) —
    * the recenter discipline IvfPq.build applies since round 10 —
    * ending with `cbfin AS (s, code, c)` and `enc AS (vec_id, s,
    * code)`, the final per-subspace encoding. Assumes
    * [[MiningQueries.kmeansOracleCte]]'s `e` CTE is in scope. */
  private def pqOracleCte(m: Int, subDim: Int, ksub: Int,
      rounds: Int): String = {
    val lloyd = (t: Int) =>
      s"""sa$t AS (
         |  SELECT vec_id, s, code, sub FROM (
         |    SELECT sv.vec_id, sv.s, cb.code, sv.sub,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
         |        list_dot_product(sv.sub, sv.sub)
         |          - 2 * list_dot_product(sv.sub, cb.c)
         |          + list_dot_product(cb.c, cb.c), cb.code) AS rn
         |    FROM sv JOIN cb${t - 1} cb ON sv.s = cb.s)
         |  WHERE rn = 1),
         |cb$t AS (
         |  SELECT s, code, list(m ORDER BY pos) AS c FROM (
         |    SELECT s, code, pos, round(avg(x), 8) AS m
         |    FROM (SELECT s, code, unnest(sub) AS x,
         |            unnest(range(1, len(sub) + 1)) AS pos FROM sa$t)
         |    GROUP BY s, code, pos)
         |  GROUP BY s, code)""".stripMargin
    s"""sv AS (
       |  SELECT vec_id, t.s AS s,
       |    v[$subDim * t.s + 1 : $subDim * t.s + $subDim] AS sub
       |  FROM e, (SELECT unnest(range($m)) AS s) t),
       |seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
       |           AS code
       |         FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $ksub)),
       |cb0 AS (SELECT sv.s, seed.code, sv.sub AS c
       |        FROM sv JOIN seed ON sv.vec_id = seed.vec_id),
       |${(1 to rounds).map(lloyd).mkString(",\n")},
       |cbfin AS (SELECT s, code, c FROM cb$rounds),
       |enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT sv.vec_id, sv.s, cb.code,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
       |        list_dot_product(sv.sub, sv.sub)
       |          - 2 * list_dot_product(sv.sub, cb.c)
       |          + list_dot_product(cb.c, cb.c), cb.code) AS rn
       |    FROM sv JOIN cbfin cb ON sv.s = cb.s)
       |  WHERE rn = 1)""".stripMargin
  }

  /** IVF-PQ approximate top-3 over a saved product-quantized index —
    * the memory-compressed ANN serving path (graft.api.IvfPq): the
    * in-memory search structure is m = 8 one-byte codes per vector
    * (~3% of the float vector), candidates are scored by ADC table
    * lookups, and the shortlist is exactly re-ranked on the stored
    * vectors. Build-if-absent like sim_topk_ivf; recall and
    * exactness-of-reranked-cosines are property-tested in IvfPqSpec.
    *
    * Oracle-backed (round 10): with the codebooks trained under the
    * round-8 recenter discipline and ADC partials rounded to 6
    * places, every stage is a deterministic SQL relation — the oracle
    * replays coarse quantizer ([[MiningQueries.kmeansOracleCte]]) +
    * PQ codebooks ([[pqOracleCte]]) + probe-cell top-3 + ADC
    * shortlist (48 = k·16) + exact re-rank, and the driver
    * hash-checks the whole serving path. The index family is
    * `ivfpq_c8r8` (r8 = round-8 codebook recenter): the round-10
    * arithmetic change renamed it so stale-but-stamped `ivfpq_c8`
    * indexes from older code can never be served. */
  val simTopkIvfPq: GQuery = GQuery(
    "sim_topk_ivfpq",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |${pqOracleCte(m = 8, subDim = 8, ksub = 64, rounds = 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |pd AS (
       |  SELECT p.vec_id, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 50) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, nrm AS pn, cid FROM (
       |    SELECT vec_id, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |pt AS (
       |  SELECT sv.vec_id AS probe_id, cb.s, cb.code,
       |    round(list_dot_product(sv.sub, cb.c), 6) AS pd6
       |  FROM sv JOIN cbfin cb ON sv.s = cb.s
       |  WHERE sv.vec_id < 50),
       |cand AS (
       |  SELECT pc.probe_id, n.vec_id AS neighbor_id, pc.pn,
       |    n.nrm AS nn
       |  FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id),
       |adc AS (
       |  SELECT c.probe_id, c.neighbor_id, c.pn, c.nn,
       |    round(sum(pt.pd6), 6) AS adcsum
       |  FROM cand c
       |    JOIN enc ON enc.vec_id = c.neighbor_id
       |    JOIN pt ON pt.probe_id = c.probe_id AND pt.s = enc.s
       |      AND pt.code = enc.code
       |  GROUP BY c.probe_id, c.neighbor_id, c.pn, c.nn),
       |shortl AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY adcsum / (pn * nn) DESC, neighbor_id) AS ark
       |    FROM adc)
       |  WHERE ark <= 48),
       |ranked AS (
       |  SELECT s.probe_id, s.neighbor_id,
       |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
       |      AS cosine,
       |    row_number() OVER (PARTITION BY s.probe_id
       |      ORDER BY round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm),
       |        6) DESC, s.neighbor_id) AS rk
       |  FROM shortl s JOIN n c ON c.vec_id = s.neighbor_id
       |    JOIN n p ON p.vec_id = s.probe_id)
       |SELECT probe_id, rk, neighbor_id, cosine
       |FROM ranked WHERE rk <= 3
       |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val pqPath = ensureIvfpqC8r8(s, dir)
    graft.api.IvfPq.topK(ev.filter(col("vec_id") < 50),
      "vec_id", "v", pqPath, k = 3, nProbe = 3)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** ANN RECALL EVALUATION for the IVFPQ tier — the last missing row
    * of the PER-TIER ANN DECISION MATRIX (sim_recall_eval sign-LSH,
    * sim_recall_ivf saved-IVF, sim_recall_nng saved-graph, and now
    * the compressed tier): exact brute-force top-3 ground truth vs
    * the saved ivfpq_c8r8 index's ADC-shortlist + exact-re-rank
    * answer, per-probe recall@3. The four rows together (plus each
    * tier's serving cost from the bench) are the complete
    * bits-vs-cells-vs-graph-vs-codes decision table a 100 TB corpus
    * is indexed from. Oracle replays quantizer + codebooks + ADC +
    * re-rank + the hit join — the recall table is as reproducible as
    * the index it evaluates.
    *
    * Scale shape: ground truth probe-bounded (one broadcast-probe
    * corpus scan); the ANN side rides the saved index's pruned-cell
    * plan; the recall join is ≤ 2·k rows per probe. */
  val simRecallIvfPq: GQuery = GQuery(
    "sim_recall_ivfpq",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |${pqOracleCte(m = 8, subDim = 8, ksub = 64, rounds = 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |ex AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY round(list_dot_product(p.v, c.v)
       |                       / (p.nrm * c.nrm), 6) DESC,
       |                 c.vec_id) AS rk
       |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
       |  WHERE rk <= 3),
       |pd AS (
       |  SELECT p.vec_id, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 50) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, nrm AS pn, cid FROM (
       |    SELECT vec_id, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |pt AS (
       |  SELECT sv.vec_id AS probe_id, cb.s, cb.code,
       |    round(list_dot_product(sv.sub, cb.c), 6) AS pd6
       |  FROM sv JOIN cbfin cb ON sv.s = cb.s
       |  WHERE sv.vec_id < 50),
       |cand AS (
       |  SELECT pc.probe_id, n.vec_id AS neighbor_id, pc.pn,
       |    n.nrm AS nn
       |  FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id),
       |adc AS (
       |  SELECT c.probe_id, c.neighbor_id, c.pn, c.nn,
       |    round(sum(pt.pd6), 6) AS adcsum
       |  FROM cand c
       |    JOIN enc ON enc.vec_id = c.neighbor_id
       |    JOIN pt ON pt.probe_id = c.probe_id AND pt.s = enc.s
       |      AND pt.code = enc.code
       |  GROUP BY c.probe_id, c.neighbor_id, c.pn, c.nn),
       |shortl AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY adcsum / (pn * nn) DESC, neighbor_id) AS ark
       |    FROM adc)
       |  WHERE ark <= 48),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT s.probe_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY s.probe_id
       |        ORDER BY round(list_dot_product(p.v, c.v)
       |                       / (p.nrm * c.nrm), 6) DESC,
       |                 s.neighbor_id) AS rk
       |    FROM shortl s JOIN n c ON c.vec_id = s.neighbor_id
       |      JOIN n p ON p.vec_id = s.probe_id)
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT ex.probe_id, count(*) AS n_hits
       |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
       |                  AND ex.neighbor_id = ann.neighbor_id
       |  GROUP BY ex.probe_id),
       |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
       |        GROUP BY probe_id)
       |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6) AS recall
       |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
       |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val probes = ev.filter(col("vec_id") < 50)
    val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id", "v",
      k = 3).select(col("probe_id"), col("neighbor_id"))
    val pqPath = ensureIvfpqC8r8(s, dir)
    val ann = graft.api.IvfPq.topK(probes, "vec_id", "v",
      pqPath, k = 3, nProbe = 3)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("probe_id"))
  }

  /** Cosine RANGE search (tau = 0.4, probes vec_id < 20) served from
    * the SAME saved IVF index as sim_topk_ivf / dedup_semantic_indexed
    * — the threshold-retrieval serving mode next to top-k: every
    * qualifying neighbor in the probes' 3 nearest cells, output-bound
    * by the true neighbor count rather than k. One more consumer of
    * the one saved index (build once, serve top-k + range + dedup
    * sweeps). Oracle: the same quantizer replay as sim_topk_ivf with
    * the rank stage swapped for the threshold filter. */
  val simRangeIvf: GQuery = GQuery(
    "sim_range_ivf",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 20) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, cid FROM (
       |    SELECT vec_id, v, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3)
       |SELECT pc.probe_id, n.vec_id AS neighbor_id,
       |  round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |    AS cosine
       |FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id
       |WHERE round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |  >= 0.4
       |ORDER BY probe_id, neighbor_id""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val ivfPath = ensureIvfC8(s, dir)
    graft.api.Similarity.ivfRangeSearch(ev.filter(col("vec_id") < 20),
      "vec_id", "v", ivfPath, tau = 0.4, nProbe = 3)
      .orderBy(col("probe_id"), col("neighbor_id"))
  }

  /** Scalar-quantized (int8) two-stage top-5 for the same probes as
    * the brute-force baseline: shortlist on the ¼-size quantized
    * corpus with the exact-integer vec_dot_i8 kernel, then exact
    * float re-rank of the 40-row-per-probe shortlist — returned
    * cosines are exact, only recall is approximate (property-tested
    * vs sim_cosine_topk in OperatorPropertySpec). no-oracle
    * (approximate shortlist, not a SQL-expressible relation).
    *
    * The third ANN serving trade next to IVF (partition pruning) and
    * PQ (code compression): SQ8 keeps one full-corpus scan but
    * shrinks its bytes 4× with near-lossless ranking — the right
    * first step when recall must stay ≈1 and the corpus is
    * scan-bound.
    *
    * Oracle-backed (round 10): the whole two-stage path is
    * deterministic arithmetic — each frame's global 127/max|x| scale
    * is a 1-row aggregate, `round()` ties break away from zero on
    * both engines, the int8 dot products are exact in DOUBLE (values
    * ≤ 127²·dim ≪ 2⁵³), and the shortlist rank rounds to 6 places
    * with a neighbor-id tiebreak — so DuckDB replays quantize →
    * shortlist → exact re-rank and the driver hash-checks it. */
  val simTopkSq8: GQuery = GQuery(
    "sim_topk_sq8",
    // mxc/mxp: each frame quantizes with its OWN max-|x| scale (the
    // probes are vec_id < 5), exactly as Similarity.sq8Quantize does
    // per call; cosine is scale-invariant so the scales cancel.
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |mxc AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
      |        FROM e),
      |mxp AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
      |        FROM e WHERE vec_id < 5),
      |cq AS (
      |  SELECT vec_id AS neighbor_id,
      |    list_transform(v, x -> round(x * 127.0 / greatest(mx, 1e-30)))
      |      AS qb
      |  FROM e, mxc),
      |cqn AS (SELECT neighbor_id, qb,
      |          sqrt(list_dot_product(qb, qb)) AS qnb FROM cq),
      |pq AS (
      |  SELECT vec_id AS probe_id,
      |    list_transform(v, x -> round(x * 127.0 / greatest(mx, 1e-30)))
      |      AS qa
      |  FROM e, mxp WHERE vec_id < 5),
      |pqn AS (SELECT probe_id, qa,
      |          sqrt(list_dot_product(qa, qa)) AS qna FROM pq),
      |short AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT p.probe_id, c.neighbor_id,
      |      row_number() OVER (PARTITION BY p.probe_id
      |        ORDER BY round(list_dot_product(p.qa, c.qb)
      |          / (p.qna * c.qnb), 6) DESC, c.neighbor_id) AS srk
      |    FROM cqn c JOIN pqn p ON p.probe_id != c.neighbor_id)
      |  WHERE srk <= 40),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |ranked AS (
      |  SELECT s.probe_id, s.neighbor_id,
      |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine,
      |    row_number() OVER (PARTITION BY s.probe_id
      |      ORDER BY round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
      |        DESC, s.neighbor_id) AS rk
      |  FROM short s JOIN n c ON c.vec_id = s.neighbor_id
      |    JOIN n p ON p.vec_id = s.probe_id)
      |SELECT probe_id, rk, neighbor_id, cosine
      |FROM ranked WHERE rk <= 5
      |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    graft.api.Similarity.sq8TopK(ev, ev.filter(col("vec_id") < 5),
      "vec_id", "v", k = 5, shortlist = 40)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** Shared oracle for both spellings of semantic dedup: replay the
    * k = 8 / 2-round quantizer with [[MiningQueries.kmeansOracleCte]]
    * (per-round 8-place center rounding on both engines makes the
    * trained cells a deterministic SQL relation), then the within-cell
    * exact-cosine pairs are a plain self-join. */
  private val semanticSql =
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin)
       |SELECT CAST(a.cid AS INT) AS cid, a.vec_id AS v1, b.vec_id AS v2,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
       |FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
       |ORDER BY cid, v1, v2""".stripMargin

  /** SemDeDup-style semantic dedup candidates: k-means cells as the
    * blocking key, exact cosine ≥ 0.4 pairs within each cell — the
    * same tau as the exact all-pairs dedup_embed_cosine, so the
    * property spec can measure exactly what the cell blocking trades
    * away (cross-cell pairs; precision stays 1.0, cosines exact).
    * Oracle-backed since the quantizer became SQL-replayable (see
    * [[semanticSql]]). At 100 TB the candidate space drops
    * from O(n²) to Σ|cell|², and the within-cell join rides the
    * hot-label-safe block decomposition — no dominant-cell
    * serialization. */
  val dedupSemantic: GQuery = GQuery("dedup_semantic", semanticSql) {
    (s, dir) =>
      // path chosen by the measured cell-density probe (the
      // connectedComponentsAuto move): inmemory at fixture balance,
      // indexed once the within-cell candidate join dominates — both
      // paths produce identical pairs, so the oracle is path-blind
      // and `dedup_semantic_stats` certifies the decision itself
      graft.api.Similarity.semanticPairsAuto(
        vecs(s, dir).select(col("vec_id"), col("v")),
        "vec_id", "v", ensureIvfC8(s, dir), tau = 0.4, k = 8,
        rounds = 2)._1
        .orderBy(col("cid"), col("v1"), col("v2"))
  }

  /* The shared saved artifacts of these rows: each stamped family is
   * spelled once, built from the same `vecs` / `documentsSpread` input
   * its oracle rows certify, so the bytes published under a stamp never
   * depend on which consumer (a query or a bench main) builds first. */

  /** ivf_c8: ANN top-k, range, semantic dedup, cell stats, hybrid,
    * recall and cluster-profile rows, and StreamBench's range twin. */
  private[graft] def ensureIvfC8(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("ivf_c8", dir, "embeddings.parquet")) {
      tmp => graft.api.Similarity.ivfBuild(
        vecs(s, dir).select(col("vec_id"), col("v")), "vec_id", "v",
        tmp, k = 8, rounds = 2)
    }

  /** ivfl_c8: the label-attributed IVF index (filtered top-k/recall
    * and StreamBench's matched-range twin). */
  private[graft] def ensureIvflC8(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("ivfl_c8", dir, "embeddings.parquet")) {
      tmp => graft.api.Similarity.ivfBuild(
        vecs(s, dir).select(col("vec_id"), col("label"), col("v")),
        "vec_id", "v", tmp, k = 8, rounds = 2, attrs = Seq("label"))
    }

  /** ivfpq_c8r8: the IVF-PQ index (top-k, recall, PQ error audit). */
  private[graft] def ensureIvfpqC8r8(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("ivfpq_c8r8", dir, "embeddings.parquet")) {
      tmp => graft.api.IvfPq.build(
        vecs(s, dir).select(col("vec_id"), col("v")), "vec_id", "v", tmp,
        k = 8, rounds = 2, m = 8, ksub = 64)
    }

  /** nng_k10d8: the full-corpus NSW graph (top-k, recall, and the
    * hierarchical walk's base layer). */
  private[graft] def ensureNngK10d8(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("nng_k10d8", dir, "embeddings.parquet")) {
      tmp => graft.api.Similarity.nngBuild(
        vecs(s, dir).select(col("vec_id"), col("v")), "vec_id", "v", tmp,
        k = 10, nEntries = 8)
    }

  /** lex_postings: the saved posting index of both hybrid rows. */
  private[graft] def ensureLexPostings(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("lex_postings", dir, "documents.parquet")) {
      tmp => graft.api.Similarity.lexIndexBuild(
        Tables.documentsSpread(s, dir), "doc_id", "text", tmp)
    }

  /** kcenter_c4: the saved Gonzalez k = 4 center set
    * (sample_kcenter_assign and StreamBench's assign twin). */
  private[graft] def ensureKcenterC4(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("kcenter_c4", dir, "embeddings.parquet")) {
      tmp => graft.api.Similarity.kcenterIndexBuild(
        vecs(s, dir).select(col("vec_id"), col("v")), "vec_id", "v", tmp, 4)
    }

  /** The semantic-dedup PATH CHOOSER's cell-density probe as an
    * oracle-backed row (round-14 VERDICT item 3 — the
    * dedup_cluster_stats pattern: hash-certify the PLANNING DECISION):
    * the k = 8 quantizer's cell profile reduced to the integer-exact
    * statistic Σc(c−1) (twice the within-cell candidate-pair count)
    * and the decision `indexed` iff Σc(c−1) ≥ 128·n — i.e. the
    * saved-index serving path is mandated once the exact pair join
    * averages > 64 scored candidates per vector, the regime where the
    * quadratic stage dominates the linear train+assign and where the
    * 100× clone-dense probe measured dedup_semantic output-bound
    * (BASELINE.md: 153.6 s). DuckDB replays the quantizer and the
    * same integer compare, so the hash gate certifies the CHOICE,
    * not just the pairs it routes to.
    *
    * Scale shape: reads only the saved index's `cid` partition
    * column (parquet metadata, not vector bytes), one ≤k-row
    * aggregate, 1-row output assembled driver-side from bounded
    * scalars — the dedup_cluster_stats discipline. */
  val dedupSemanticStats: GQuery = GQuery(
    "dedup_semantic_stats",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |cc AS (SELECT cid, count(*) AS c FROM fin GROUP BY cid),
       |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_vecs,
       |             CAST(count(*) AS BIGINT) AS n_cells,
       |             CAST(max(c) AS BIGINT) AS max_cell,
       |             CAST(sum(c * (c - 1)) AS BIGINT) AS pair2
       |      FROM cc)
       |SELECT n_vecs, n_cells, max_cell,
       |  CAST(pair2 // 2 AS BIGINT) AS n_candidate_pairs,
       |  CASE WHEN pair2 >= 128 * n_vecs
       |    THEN 'indexed' ELSE 'inmemory' END AS path
       |FROM t""".stripMargin) { (s, dir) =>
    val (n, k, mx, p2, chosen) = graft.api.Similarity
      .semanticPathProbe(s, ensureIvfC8(s, dir))
    import s.implicits._
    Seq((n, k, mx, p2 / 2, chosen))
      .toDF("n_vecs", "n_cells", "max_cell", "n_candidate_pairs", "path")
  }

  /** [[dedupSemantic]] served from the SAVED IVF index — the SAME
    * stamped index sim_topk_ivf builds and probes (k = 8, rounds = 2,
    * identical training frame), so one build amortizes across ANN
    * serving AND dedup sweeps. OperatorPropertySpec pins this equal
    * to the in-memory dedup_semantic (deterministic quantizer ⇒
    * identical cells ⇒ identical pairs); oracle-backed by the same
    * SQL as its twin. */
  val dedupSemanticIndexed: GQuery =
    GQuery("dedup_semantic_indexed", semanticSql) { (s, dir) =>
      graft.api.Similarity
        .semanticPairsFromIndex(s, ensureIvfC8(s, dir), tau = 0.4)
        .orderBy(col("cid"), col("v1"), col("v2"))
    }

  /** MMR-diversified top-3 from the exact top-8 shortlist (λ = 0.7,
    * probes vec_id < 5): relevance-ranked but redundancy-penalized —
    * the greedy trajectory is deterministic (every score/sim rounded
    * to 6 before its argmax, neighbor-id tiebreaks), so the oracle is
    * the same greedy unrolled as three CTE steps. The corpus is
    * scanned once for the shortlist; the greedy rounds touch only the
    * probes×8 frame. */
  val simTopkMmr: GQuery = GQuery(
    "sim_topk_mmr",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |sl0 AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS nid, c.v AS cv,
      |    c.nrm AS cn,
      |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS rel,
      |    row_number() OVER (PARTITION BY p.vec_id
      |      ORDER BY round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm),
      |        6) DESC, c.vec_id) AS rk
      |  FROM n p JOIN n c ON p.vec_id < 5 AND c.vec_id != p.vec_id),
      |s AS (SELECT probe_id, nid, cv, cn, rel FROM sl0 WHERE rk <= 8),
      |p1 AS (SELECT probe_id, nid, cv, cn, rel, rel AS score
      |       FROM sl0 WHERE rk = 1),
      |m2 AS (
      |  SELECT r.probe_id, r.nid, r.rel,
      |    max(round(list_dot_product(r.cv, q.cv) / (r.cn * q.cn), 6))
      |      AS msim
      |  FROM s r JOIN p1 q ON r.probe_id = q.probe_id
      |  WHERE NOT EXISTS (SELECT 1 FROM p1 x
      |                    WHERE x.probe_id = r.probe_id AND x.nid = r.nid)
      |  GROUP BY r.probe_id, r.nid, r.rel),
      |sc2 AS (
      |  SELECT probe_id, nid,
      |    round(CAST(0.7 AS DOUBLE) * rel
      |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * msim, 6)
      |      AS score,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY round(CAST(0.7 AS DOUBLE) * rel
      |        - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * msim, 6)
      |        DESC, nid) AS pk
      |  FROM m2),
      |p2 AS (SELECT sc2.probe_id, sc2.nid, s.cv, s.cn, s.rel, sc2.score
      |       FROM sc2 JOIN s ON sc2.probe_id = s.probe_id
      |         AND sc2.nid = s.nid
      |       WHERE pk = 1),
      |sel2 AS (SELECT probe_id, nid, cv, cn FROM p1
      |         UNION ALL SELECT probe_id, nid, cv, cn FROM p2),
      |m3 AS (
      |  SELECT r.probe_id, r.nid, r.rel,
      |    max(round(list_dot_product(r.cv, q.cv) / (r.cn * q.cn), 6))
      |      AS msim
      |  FROM s r JOIN sel2 q ON r.probe_id = q.probe_id
      |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
      |                    WHERE x.probe_id = r.probe_id AND x.nid = r.nid)
      |  GROUP BY r.probe_id, r.nid, r.rel),
      |sc3 AS (
      |  SELECT probe_id, nid,
      |    round(CAST(0.7 AS DOUBLE) * rel
      |      - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * msim, 6)
      |      AS score,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY round(CAST(0.7 AS DOUBLE) * rel
      |        - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * msim, 6)
      |        DESC, nid) AS pk
      |  FROM m3),
      |p3 AS (SELECT probe_id, nid, score FROM sc3 WHERE pk = 1)
      |SELECT probe_id, 1 AS rnk, nid AS neighbor_id, score FROM p1
      |UNION ALL SELECT probe_id, 2, nid, score FROM p2
      |UNION ALL SELECT probe_id, 3, nid, score FROM p3
      |ORDER BY probe_id, rnk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    graft.api.Similarity.mmrTopK(ev, ev.filter(col("vec_id") < 5),
      "vec_id", "v", shortlist = 8, k = 3, lambda = 0.7)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Per-DIMENSION embedding statistics — n, mean, variance, min, max
    * for each of the 64 dims: the feature-normalization profile a
    * whitening/standardization stage consumes, and the first
    * data-quality scan of a new embedding drop (dead dimensions,
    * scale drift between batches). Sums ride the DECIMAL(18,9) grid
    * (float→double is exact; the decimal quantization rounds half
    * away from zero on both engines), so per-dim Σx and Σx² are
    * order-free; variance is then ONE fixed double expression
    * (Σx² − (Σx)²/n)/(n−1) rounded to 6 identically on both sides.
    *
    * Scale shape: posexplode fans each vector into 64 (dim, x) rows
    * that combine map-side into ≤ 64 groups per task — aggregate
    * state is 64 rows regardless of corpus size; no window, no join,
    * one shuffle of 64-row partials. */
  val embedDimStats: GQuery = GQuery(
    "embed_dim_stats",
    """WITH x AS (
      |  SELECT CAST(unnest(embedding) AS DOUBLE) AS xe,
      |         generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |d AS (SELECT dim, xe, CAST(xe AS DECIMAL(18,9)) AS xd FROM x)
      |SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(CAST(sum(xd) AS DOUBLE) / count(*), 6) AS DOUBLE)
      |    AS mean,
      |  CAST(round((CAST(sum(xd*xd) AS DOUBLE)
      |     - CAST(sum(xd) AS DOUBLE) * CAST(sum(xd) AS DOUBLE)
      |       / count(*)) / (count(*) - 1), 6) AS DOUBLE) AS variance,
      |  CAST(min(xe) AS DOUBLE) AS mn, CAST(max(xe) AS DOUBLE) AS mx
      |FROM d GROUP BY dim ORDER BY dim""".stripMargin) { (s, dir) =>
    val d = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("xe"))
      .withColumn("xd", col("xe").cast("decimal(18,9)"))
    d.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"),
        sum(col("xd") * col("xd")).as("sxx"),
        min(col("xe")).as("mn"), max(col("xe")).as("mx"))
      .select(col("dim").cast("int").as("dim"), col("n"),
        round(col("sx").cast("double") / col("n"), 6)
          .cast("double").as("mean"),
        round((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("n"))
          / (col("n") - 1), 6).cast("double").as("variance"),
        col("mn"), col("mx"))
      .orderBy(col("dim"))
  }

  /** k-NN LABEL PREDICTION over the exact top-5 cosine neighbors —
    * the auto-annotation / label-propagation shape of a training-data
    * pipeline (assign a class to unlabeled arrivals by majority over
    * their nearest labeled neighbors): held-out probes
    * (vec_id % 50 = 0) vote among the labeled rest; ties at equal
    * vote counts break to the SMALLEST label, so the prediction is
    * deterministic cross-engine (cosines rounded to 6 before
    * ranking, as everywhere in this family).
    *
    * Scale shape: probes broadcast against the corpus scan exactly as
    * [[simCosineTopk]] (the corpus never shuffles for the candidate
    * stage); the vote is a probes×5-row aggregate + per-probe window
    * on a frame whose size is probes×k, independent of corpus size.
    * At real scale the shortlist stage swaps for the saved-IVF probe
    * (sim_topk_ivf) without touching the voting logic. */
  val simKnnClassify: GQuery = GQuery(
    "sim_knn_classify",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |      FROM e),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, p.label AS tl,
      |    c.vec_id AS nid, c.label AS nlabel,
      |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine
      |  FROM n p JOIN n c ON p.vec_id % 50 = 0 AND c.vec_id % 50 != 0),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY cosine DESC, nid) AS rk
      |  FROM pairs),
      |votes AS (
      |  SELECT probe_id, tl, nlabel, count(*) AS votes
      |  FROM ranked WHERE rk <= 5 GROUP BY 1, 2, 3),
      |win AS (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY votes DESC, nlabel) AS vr
      |  FROM votes)
      |SELECT probe_id, CAST(tl AS INT) AS true_label,
      |  CAST(nlabel AS INT) AS pred_label, CAST(votes AS BIGINT) AS votes,
      |  tl = nlabel AS correct
      |FROM win WHERE vr = 1 ORDER BY probe_id""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir)
    val probes = e.filter(col("vec_id") % 50 === 0)
    val corpus = e.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("v"))
    val topk = graft.api.Similarity.cosineTopK(
      corpus, probes.select(col("vec_id"), col("v")), "vec_id", "v", k = 5)
    val labeled = topk.join(
      e.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
      Seq("neighbor_id"))
    val win = labeled.groupBy(col("probe_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("vr") === 1)
    win.join(probes.select(col("vec_id").as("probe_id"),
        col("label").as("tl")), Seq("probe_id"))
      .select(col("probe_id"), col("tl").cast("int").as("true_label"),
        col("nlabel").cast("int").as("pred_label"),
        col("votes").cast("bigint").as("votes"),
        (col("tl") === col("nlabel")).as("correct"))
      .orderBy(col("probe_id"))
  }

  /** Per-dimension STANDARDIZATION (z-scoring) of the embedding
    * corpus, verified through its per-label norm profile — the
    * whitening step that consumes [[embedDimStats]]' statistics, plus
    * the QA readout (a standardized d-dim vector has E‖z‖ ≈ √d; a
    * label whose norms drift flags a broken embedding batch).
    * Determinism ladder: per-dim mean/sd derive from DECIMAL-grid
    * sums and are rounded to 6 (one fixed double expression per
    * engine); each z-score is one double op rounded to 6 onto the
    * DECIMAL(14,6) grid; norms are decimal sums of exact squares,
    * sqrt'd and re-quantized; the final per-label aggregate sums
    * decimals. No step's value depends on accumulation order.
    *
    * Scale shape: the 64-row stats aggregate broadcasts back onto the
    * posexploded corpus (64 keys — a shuffle join here would funnel
    * the corpus onto 64 tasks; the broadcast is the only sane plan
    * and the frame is bounded by construction), then one vec-keyed
    * aggregate (map-side combining) and a 10-row label rollup.
    *
    * Contract: every dimension must have non-zero variance (true of
    * any real embedding batch; a constant dimension would put ±∞
    * through the z-score's decimal quantization and fail — loudly and
    * identically — on both engines). */
  val embedStandardize: GQuery = GQuery(
    "embed_standardize",
    """WITH x AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS xe,
      |         generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |d AS (SELECT vec_id, label, dim, xe,
      |        CAST(xe AS DECIMAL(18,9)) AS xd FROM x),
      |stats AS (
      |  SELECT dim,
      |    CAST(round(CAST(sum(xd) AS DOUBLE) / count(*), 6) AS DOUBLE)
      |      AS mean,
      |    CAST(round(sqrt((CAST(sum(xd*xd) AS DOUBLE)
      |       - CAST(sum(xd) AS DOUBLE) * CAST(sum(xd) AS DOUBLE)
      |         / count(*)) / (count(*) - 1)), 6) AS DOUBLE) AS sd
      |  FROM d GROUP BY dim),
      |z AS (
      |  SELECT d.vec_id, d.label,
      |    CAST(round((d.xe - s.mean) / s.sd, 6) AS DECIMAL(14,6)) AS zd
      |  FROM d JOIN stats s USING (dim)),
      |norms AS (
      |  SELECT vec_id, label,
      |    CAST(round(sqrt(CAST(sum(zd*zd) AS DOUBLE)), 6)
      |      AS DECIMAL(14,6)) AS nrm
      |  FROM z GROUP BY 1, 2)
      |SELECT CAST(label AS INT) AS label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(round(CAST(sum(nrm) AS DOUBLE) / count(*), 6) AS DOUBLE)
      |    AS avg_norm,
      |  CAST(min(nrm) AS DOUBLE) AS min_norm,
      |  CAST(max(nrm) AS DOUBLE) AS max_norm
      |FROM norms GROUP BY label ORDER BY label""".stripMargin) {
    (s, dir) =>
    val d = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("x").cast("double").as("xe"))
      .withColumn("xd", col("xe").cast("decimal(18,9)"))
    val stats = d.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xd")).as("sx"),
        sum(col("xd") * col("xd")).as("sxx"))
      .select(col("dim"),
        round(col("sx").cast("double") / col("n"), 6)
          .cast("double").as("mean"),
        round(sqrt((col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")
            / col("n")) / (col("n") - 1)), 6).cast("double").as("sd"))
    val z = d.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("label"),
        round((col("xe") - col("mean")) / col("sd"), 6)
          .cast("decimal(14,6)").as("zd"))
    z.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("zd") * col("zd")).as("ssq"))
      .select(col("vec_id"), col("label"),
        round(sqrt(col("ssq").cast("double")), 6)
          .cast("decimal(14,6)").as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("nrm")).as("sn"),
        min(col("nrm")).as("mnn"), max(col("nrm")).as("mxn"))
      .select(col("label").cast("int").as("label"),
        col("n").cast("bigint").as("n"),
        round(col("sn").cast("double") / col("n"), 6)
          .cast("double").as("avg_norm"),
        col("mnn").cast("double").as("min_norm"),
        col("mxn").cast("double").as("max_norm"))
      .orderBy(col("label"))
  }

  /** ANN RECALL EVALUATION — the measurement harness every ANN
    * deployment runs before trusting an index: sample probe queries
    * (vec_id < 50, the sim_topk_lsh probe set), compute EXACT
    * brute-force top-3 ground truth for just those probes, serve the
    * same probes from the approximate tier (sign-LSH, same 8×4-bit
    * parameters as sim_topk_lsh), and report per-probe recall@3 —
    * the number that decides tables/bits/nProbe before a 100 TB
    * corpus is indexed. Both tiers are deterministic functions of
    * the corpus, so even this EVALUATION is oracle-replayable —
    * DuckDB recomputes ground truth, the LSH serving path, and the
    * per-probe intersection.
    *
    * Scale shape: the exact side is probe-bounded (the standard
    * ANN-benchmark methodology — ground truth only for the sampled
    * probes, one broadcast-probe corpus scan, the sim_cosine_topk
    * plan); the ANN side is the bucketed candidate join. The recall
    * join runs on (probe, neighbor) pairs — ≤ 2·k rows per probe. */
  val simRecallEval: GQuery = GQuery(
    "sim_recall_eval",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |ex AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY round(list_dot_product(p.v, c.v)
      |                       / (p.nrm * c.nrm), 6) DESC,
      |                 c.vec_id) AS rk
      |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
      |  WHERE rk <= 3),
      |b AS (
      |  SELECT vec_id, v, nrm, t.tbl,
      |    (CASE WHEN v[4 * t.tbl + 1] >= 0 THEN 8 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 2] >= 0 THEN 4 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 3] >= 0 THEN 2 ELSE 0 END
      |     + CASE WHEN v[4 * t.tbl + 4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM n, (SELECT unnest(range(8)) AS tbl) t),
      |ann AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT probe_id, neighbor_id,
      |      row_number() OVER (PARTITION BY probe_id
      |        ORDER BY cosine DESC, neighbor_id) AS rk
      |    FROM (
      |      SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |        round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
      |          AS cosine
      |      FROM b p JOIN b c ON p.tbl = c.tbl AND p.bucket = c.bucket
      |      WHERE p.vec_id < 50 AND c.vec_id != p.vec_id))
      |  WHERE rk <= 3),
      |hits AS (
      |  SELECT ex.probe_id, count(*) AS n_hits
      |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
      |                  AND ex.neighbor_id = ann.neighbor_id
      |  GROUP BY ex.probe_id),
      |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
      |        GROUP BY probe_id)
      |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6) AS recall
      |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
      |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val probes = ev.filter(col("vec_id") < 50)
    val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id", "v",
      k = 3).select(col("probe_id"), col("neighbor_id"))
    val ann = graft.api.Similarity.signLshTopK(ev, probes, "vec_id", "v",
      k = 3, tables = 8, bits = 4)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("probe_id"))
  }

  /** EMBEDDING-DRIFT monitoring — "did the new embedding batch move?":
    * the corpus splits into two cohorts (even/odd vec_id, standing in
    * for old-model vs re-embedded batches), per-(label, dim) centroid
    * means are computed on the DECIMAL(18,9) grid and rounded to 6
    * (the embed_dim_stats discipline), and each label reports the L2
    * distance between its two cohort centroids — the drift readout
    * that gates re-indexing / re-training in a continuously-embedded
    * pipeline. Sum of squared 6-place diffs is EXACT in
    * DECIMAL(24,12), so the final sqrt is one deterministic double op
    * on both engines.
    *
    * Scale shape: one (label, dim, cohort) map-side-combining
    * aggregate over the posexploded corpus — state 2·|labels|·64 rows
    * at any corpus size — then a |labels|·64-row self-join and a
    * |labels|-row rollup. No windows, nothing corpus-sized moves. */
  val simCentroidDrift: GQuery = GQuery(
    "sim_centroid_drift",
    """WITH x AS (
      |  SELECT label, vec_id % 2 AS cohort,
      |    CAST(unnest(embedding) AS DOUBLE) AS xe,
      |    generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |m AS (
      |  SELECT label, cohort, dim, count(*) AS n,
      |    CAST(round(CAST(sum(CAST(xe AS DECIMAL(18,9))) AS DOUBLE)
      |      / count(*), 6) AS DECIMAL(12,6)) AS mu
      |  FROM x GROUP BY label, cohort, dim),
      |d AS (
      |  SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
      |    (a.mu - b.mu) * (a.mu - b.mu) AS sq
      |  FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
      |  WHERE a.cohort = 0 AND b.cohort = 1)
      |SELECT CAST(label AS INT) AS label,
      |  CAST(min(n_a) AS BIGINT) AS n_even,
      |  CAST(min(n_b) AS BIGINT) AS n_odd,
      |  round(sqrt(CAST(sum(CAST(sq AS DECIMAL(24,12))) AS DOUBLE)), 6)
      |    AS l2_drift
      |FROM d GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    val m = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("label"), (col("vec_id") % 2).as("cohort"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("cohort"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("double").cast("decimal(18,9)")).as("sx"))
      .select(col("label"), col("cohort"), col("dim"), col("n"),
        round(col("sx").cast("double") / col("n"), 6)
          .cast("decimal(12,6)").as("mu"))
    val a = m.filter(col("cohort") === 0)
      .select(col("label"), col("dim"), col("n").as("n_a"),
        col("mu").as("mu_a"))
    val b = m.filter(col("cohort") === 1)
      .select(col("label").as("lb"), col("dim").as("db"),
        col("n").as("n_b"), col("mu").as("mu_b"))
    a.join(b, col("label") === col("lb") && col("dim") === col("db"))
      .select(col("label"), col("n_a"), col("n_b"),
        ((col("mu_a") - col("mu_b")) * (col("mu_a") - col("mu_b")))
          .cast("decimal(24,12)").as("sq"))
      .groupBy(col("label"))
      .agg(min(col("n_a")).as("n_even"), min(col("n_b")).as("n_odd"),
        round(sqrt(sum(col("sq")).cast("double")), 6).as("l2_drift"))
      .select(col("label").cast("int").as("label"),
        col("n_even").cast("bigint").as("n_even"),
        col("n_odd").cast("bigint").as("n_odd"), col("l2_drift"))
      .orderBy(col("label"))
  }

  /** HYBRID SEARCH — reciprocal-rank fusion of a LEXICAL tier and a
    * VECTOR tier (the RRF recipe modern retrieval stacks run when
    * neither BM25 nor embeddings alone suffice): probe docs
    * (doc_id < 5) retrieve a lexical top-10 by shared-distinct-term
    * count (the inverted-index shape) and a vector top-10 by exact
    * cosine (doc_id = vec_id aligns the modalities), fused by
    * Σ 1/(60+rank) — one rounded double expression, k = 60 per the
    * original RRF paper — and re-ranked to a final top-5.
    *
    * Scale shape: the lexical tier is a term-keyed equi-join of the
    * tiny probe term set against the corpus posting list (at 100 TB
    * production adds IDF cutoffs / posting caps — the
    * dedup_containment prefix discipline); the vector tier is the
    * probe-bounded cosineTopK scan; fusion touches ≤ 20 rows per
    * probe. Both tier ranks break ties on doc_id, so fusion is
    * deterministic end to end. */
  /** Shared lexical-tier CTEs of the hybrid oracles: probe docs'
    * shared-distinct-term counts against the corpus, ranked. */
  private val duckLexCtes =
    """ptok AS (SELECT doc_id AS probe_id,
      |         unnest(string_split(text, ' ')) AS term
      |       FROM documents WHERE doc_id < 5),
      |pterms AS (SELECT DISTINCT probe_id, term FROM ptok),
      |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |         FROM documents),
      |dterms AS (SELECT DISTINCT doc_id, term FROM dtok),
      |lexscore AS (
      |  SELECT p.probe_id, d.doc_id, count(*) AS shared
      |  FROM pterms p JOIN dterms d ON p.term = d.term
      |  WHERE d.doc_id != p.probe_id
      |  GROUP BY p.probe_id, d.doc_id),
      |lexrank AS (
      |  SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
      |    ORDER BY shared DESC, doc_id) AS rk
      |  FROM lexscore)""".stripMargin

  /** Shared RRF fusion tail of the hybrid oracles: top-10 of each
    * tier full-outer-joined, Σ 1/(60+rank), final top-5. Expects
    * `lexrank` and `vecrank` CTEs of (probe_id, doc_id, rk). */
  private val duckFuseTail =
    """fused AS (
      |  SELECT coalesce(l.probe_id, v.probe_id) AS probe_id,
      |    coalesce(l.doc_id, v.doc_id) AS doc_id,
      |    round(coalesce(1.0 / (60 + l.rk), 0)
      |          + coalesce(1.0 / (60 + v.rk), 0), 8) AS rrf
      |  FROM (SELECT * FROM lexrank WHERE rk <= 10) l
      |  FULL OUTER JOIN (SELECT * FROM vecrank WHERE rk <= 10) v
      |    ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id),
      |final AS (
      |  SELECT probe_id, doc_id, rrf,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY rrf DESC, doc_id) AS rk
      |  FROM fused)
      |SELECT probe_id, rk, doc_id, rrf
      |FROM final WHERE rk <= 5
      |ORDER BY probe_id, rk""".stripMargin

  /** Shared oracle SQL for the two EXACT-vector hybrid spellings: the
    * fusion semantics are identical, whichever physical plan serves
    * the lexical tier (in-memory distinct vs the saved posting
    * index). */
  private val duckHybridSql =
    s"""WITH $duckLexCtes,
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |vecrank AS (
       |  SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, doc_id) AS rk
       |  FROM (SELECT p.vec_id AS probe_id, c.vec_id AS doc_id,
       |          round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
       |            AS cosine
       |        FROM n p JOIN n c ON p.vec_id < 5 AND c.vec_id != p.vec_id)),
       |$duckFuseTail""".stripMargin

  /** Rank raw lexical (probe_id, doc_id, shared) scores to the
    * per-probe top-10 — the lexical tier's fusion input. */
  private def lexTop10(lexScore: DataFrame): DataFrame = {
    val wLex = Window.partitionBy(col("probe_id"))
      .orderBy(col("shared").desc, col("doc_id"))
    lexScore
      .withColumn("lrk", row_number().over(wLex))
      .filter(col("lrk") <= 10)
      .select(col("probe_id"), col("doc_id"), col("lrk"))
  }

  /** RRF fusion shared by all hybrid spellings: full-outer-join the
    * two ranked tiers — lex (probe_id, doc_id, lrk), vec (probe_id,
    * doc_id, vrk) — score Σ 1/(60+rank), final top-5 per probe. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wFin = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("probe_id", "doc_id"), "full_outer")
      .select(col("probe_id"), col("doc_id"),
        round(coalesce(lit(1.0) / (lit(60) + col("lrk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("vrk")), lit(0.0)), 8)
          .as("rrf"))
      .withColumn("rk", row_number().over(wFin))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("doc_id"), col("rrf"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** Fusion tail shared by the two exact-vector hybrid spellings:
    * rank the raw lexical scores to a top-10, compute the
    * exact-cosine top-10, RRF-fuse, final top-5. */
  private def hybridFuse(s: SparkSession, dir: String,
      lexScore: DataFrame): DataFrame = {
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val vec = graft.api.Similarity.cosineTopK(ev,
        ev.filter(col("vec_id") < 5), "vec_id", "v", k = 10)
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("rk").as("vrk"))
    rrfFuse(lexTop10(lexScore), vec)
  }

  val simHybridSearch: GQuery = GQuery(
    "sim_hybrid_search", duckHybridSql) { (s, dir) =>
    val dterms = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val pterms = dterms.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("term"))
    hybridFuse(s, dir, pterms.join(dterms, Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared")))
  }

  /** Hybrid search as a SERVING path — the same semantics as
    * [[simHybridSearch]] (same oracle SQL, provably identical
    * result), but the lexical tier probes a SAVED posting index
    * (graft.api.Similarity.lexIndexBuild, build-if-absent through
    * IndexStore): the corpus's distinct (doc, term) postings are
    * sharded once at build into 32 term-hash bucket directories, and
    * each query reads ONLY its probe terms' buckets (literal `bkt
    * IN` → PartitionFilters, spec-pinned) — the 100× probe measured
    * the in-memory spelling paying the full posting build per query
    * (12.3 s), which is exactly the cost this index amortizes. */
  val simHybridIndexed: GQuery = GQuery(
    "sim_hybrid_indexed", duckHybridSql) { (s, dir) =>
    val docs = Tables.documentsSpread(s, dir)
    val path = ensureLexPostings(s, dir)
    val lexScore = graft.api.Similarity.lexSharedTerms(
        docs.filter(col("doc_id") < 5), "doc_id", "text", path)
      .filter(col("doc_id") =!= col("probe_id"))
    hybridFuse(s, dir, lexScore)
  }

  /** Hybrid search with BOTH tiers served from SAVED indexes — the
    * fully index-backed serving path: the lexical tier probes the
    * saved posting index (as [[simHybridIndexed]]) and the VECTOR
    * tier probes the saved IVF index (the same `ivf_c8` family
    * sim_topk_ivf serves from — one build, three consumers), so no
    * query-time pass over the corpus text or the full vector set
    * remains. Fusion is the same RRF recipe; the vector top-10 is
    * the IVF answer (nProbe = 3 of 8 cells — approximate by design),
    * so the oracle replays the full IVF chain (unrolled-Lloyd
    * quantizer → probe cells → candidate cosine top-10) instead of
    * the exact scan, and the driver hash-checks the entire
    * index-served pipeline end to end.
    *
    * Scale shape: posting scan pruned to the probes' term buckets,
    * IVF cell scan pruned to the probes' `cid` partitions — both at
    * planning time via literal IN filters; every remaining join is
    * keyed and probe-bounded. This is the 100 TB serving plan: both
    * tiers touch index shards proportional to the query, never the
    * corpus. */
  val simHybridIvf: GQuery = GQuery(
    "sim_hybrid_ivf",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 5) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, cid FROM (
       |    SELECT vec_id, v, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |cand AS (
       |  SELECT pc.probe_id, n.vec_id AS doc_id,
       |    round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |      AS cosine
       |  FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id),
       |vecrank AS (
       |  SELECT probe_id, doc_id, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, doc_id) AS rk
       |  FROM cand),
       |$duckLexCtes,
       |$duckFuseTail""".stripMargin) { (s, dir) =>
    val docs = Tables.documentsSpread(s, dir)
    val lexPath = ensureLexPostings(s, dir)
    val lexScore = graft.api.Similarity.lexSharedTerms(
        docs.filter(col("doc_id") < 5), "doc_id", "text", lexPath)
      .filter(col("doc_id") =!= col("probe_id"))
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val ivfPath = ensureIvfC8(s, dir)
    val vec = graft.api.Similarity.ivfTopK(ev.filter(col("vec_id") < 5),
        "vec_id", "v", ivfPath, k = 10, nProbe = 3)
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("rk").as("vrk"))
    rrfFuse(lexTop10(lexScore), vec)
  }

  /** Lexical retrieval ON INGEST — the index-maintenance shape of the
    * lexical tier: the posting index is built from HALF the existing
    * corpus and GROWN to the rest with
    * graft.api.Similarity.lexIndexAppend (no rebuild — arrivals'
    * postings land in the same term-hash buckets), then each
    * arriving document (doc_id % 10 = 7, the held-out stream) is
    * served its lexical top-10 among existing docs from the grown
    * index. The oracle scores probes against the FULL existing
    * corpus — passing proves build+append ≡ all-at-once (the
    * containment-ingest contract, also unit-pinned in LexIndexSpec).
    *
    * Scale shape: probe terms prune the postings scan to their `bkt`
    * partitions at planning time; the shared-term join is term-keyed
    * with map-side-combining counts; the top-10 window partitions by
    * probe (bounded state). Append is one distinct+write of the
    * arrivals' postings — existing buckets are never rewritten. */
  val simLexIngest: GQuery = GQuery(
    "sim_lex_ingest",
    """WITH ptok AS (SELECT doc_id AS probe_id,
      |         unnest(string_split(text, ' ')) AS term
      |       FROM documents WHERE doc_id % 10 = 7),
      |pterms AS (SELECT DISTINCT probe_id, term FROM ptok),
      |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |         FROM documents WHERE doc_id % 10 <> 7),
      |dterms AS (SELECT DISTINCT doc_id, term FROM dtok),
      |lexscore AS (
      |  SELECT p.probe_id, d.doc_id, count(*) AS shared
      |  FROM pterms p JOIN dterms d ON p.term = d.term
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT probe_id, doc_id, shared,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY shared DESC, doc_id) AS rk
      |  FROM lexscore)
      |SELECT probe_id, rk, doc_id, CAST(shared AS BIGINT) AS shared
      |FROM ranked WHERE rk <= 10
      |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val docs = Tables.documentsSpread(s, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val path = graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("lex_postings_inc", dir,
        "documents.parquet")) { tmp =>
      graft.api.Similarity.lexIndexBuild(
        corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", tmp)
      graft.api.Similarity.lexIndexAppend(
        corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", tmp)
    }
    val arrivals = docs.filter(col("doc_id") % 10 === 7)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("shared").desc, col("doc_id"))
    graft.api.Similarity.lexSharedTerms(arrivals, "doc_id", "text", path)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("probe_id"), col("rk"), col("doc_id"), col("shared"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** k-NN-DISTANCE OUTLIER SCORE — the classic distance-based outlier
    * detector over the embedding corpus (Ramaswamy et al.'s "distance
    * to k-th/mean-of-k neighbors"): each vector's score is its mean
    * cosine DISTANCE (1 − cos) to its k = 5 nearest neighbors; the
    * top-20 scores are the isolation candidates a curation pass
    * reviews (mislabeled, corrupted, or off-distribution points —
    * embeddings far from everything). Exact brute-force tier (the
    * sim_cosine_topk probe-broadcast shape with probes = corpus); at
    * 100 TB the shortlist comes from the IVF/LSH tiers instead and
    * the scoring tail is unchanged. Cosines round to 6 before the
    * DECIMAL(8,6) grid mean, so ranking ties are deterministic
    * (vec_id tiebreak).
    *
    * Scale shape: one probe-broadcast scan + per-probe k-row window,
    * then a 5-row-per-vector mean and TakeOrderedAndProject(20). */
  val embedOutlierKnn: GQuery = {
    val k = 5
    GQuery("embed_outlier_knn",
      s"""WITH e AS (SELECT vec_id, label,
         |    embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |    sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |pairs AS (
         |  SELECT p.vec_id, p.label,
         |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
         |      AS cosine
         |  FROM n p JOIN n c ON c.vec_id != p.vec_id),
         |knn AS (
         |  SELECT vec_id, label, cosine FROM (
         |    SELECT vec_id, label, cosine,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cosine DESC, vec_id) AS rk
         |    FROM pairs) WHERE rk <= $k)
         |SELECT vec_id, label,
         |  round(CAST(sum(CAST(round(1 - cosine, 6) AS DECIMAL(8,6)))
         |             AS DOUBLE) / $k, 6) AS knn_dist
         |FROM knn
         |GROUP BY vec_id, label
         |ORDER BY knn_dist DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val labels = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"))
      graft.api.Similarity.cosineTopK(ev, ev, "vec_id", "v", k)
        .select(col("probe_id").as("vec_id"),
          round(lit(1) - col("cosine"), 6).cast("decimal(8,6)")
            .as("dist"))
        .groupBy(col("vec_id"))
        .agg(round(sum(col("dist")).cast("double") / k, 6)
          .as("knn_dist"))
        .join(labels, Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("knn_dist"))
        .orderBy(col("knn_dist").desc, col("vec_id"))
        .limit(20)
    }
  }

  /** MUTUAL k-NN GRAPH over the embedding corpus (k=3): an edge
    * survives only if each endpoint ranks the other in its own top-k
    * — the standard symmetrization that feeds HDBSCAN/spectral
    * clustering and graph-based ANN indexes (NN-Descent's target
    * structure). Exact brute-force tier: every vector ranks the full
    * corpus (the sim_cosine_topk probe-broadcast shape with probes =
    * corpus), then the mutual filter is one self-equi-join of the
    * directed k-NN lists on the reversed key pair — output ≤ n·k/2
    * edges. At 100 TB the directed lists come from the IVF/LSH tiers
    * instead (bounded candidates per vector); the mutual join is
    * unchanged — it is keyed, linear, and output-bound either way.
    * Cosine rounds to 6 before ranking (cross-engine ties
    * deterministic, neighbor-id tiebreak). */
  val simKnnGraph: GQuery = {
    val k = 3
    val sparkImpl = (s: SparkSession, dir: String) => {
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val knn = graft.api.Similarity.cosineTopK(ev, ev, "vec_id", "v", k)
        .select(col("probe_id").as("src"), col("neighbor_id").as("dst"),
          col("cosine"))
      // mutual = both directions present; normalize each directed edge
      // to (lo, hi) and keep pairs seen twice (cosine is symmetric and
      // rounded identically in both directions, so max() is exact).
      knn.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"), col("cosine"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"), max(col("cosine")).as("cosine"))
        .filter(col("n") === 2)
        .select(col("src"), col("dst"), col("cosine"))
        .orderBy(col("src"), col("dst"))
    }
    GQuery("sim_knn_graph",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |pairs AS (
        |  SELECT p.vec_id AS src, c.vec_id AS dst,
        |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine
        |  FROM n p JOIN n c ON c.vec_id != p.vec_id),
        |knn AS (
        |  SELECT src, dst, cosine FROM (
        |    SELECT src, dst, cosine,
        |      row_number() OVER (PARTITION BY src
        |        ORDER BY cosine DESC, dst) AS rk
        |    FROM pairs) WHERE rk <= $k)
        |SELECT a.src, a.dst, a.cosine
        |FROM knn a
        |WHERE a.src < a.dst AND EXISTS (
        |  SELECT 1 FROM knn b WHERE b.src = a.dst AND b.dst = a.src)
        |ORDER BY a.src, a.dst""".stripMargin)(sparkImpl)
  }

  /** DOMINANT PRINCIPAL COMPONENT of the embedding corpus by
    * distributed POWER ITERATION — the spectral summary a pipeline
    * uses to detect anisotropy/collapsed embeddings (one direction
    * soaking up variance) and to whiten cheaply. Three unrolled
    * iterations of v ← Gv/‖Gv‖ over the uncentered Gram matrix
    * G = ΣxxT, from the exact start v0 = 1/√64 = 0.125.
    *
    * Cross-engine determinism end-to-end: inputs quantize to the
    * DECIMAL(18,9) grid (the embed_dim_stats discipline), so G is an
    * EXACT decimal sum (order-free); every iteration's products
    * round to the DECIMAL(24,12) grid before their exact sums; norms
    * and normalized loadings round 8. Both engines run token-
    * identical formulas, so even the eigenvector's sign is pinned —
    * no sign-fix needed.
    *
    * Scale shape: ONE corpus-sized stage exists (the per-vector
    * dim×dim self-join that feeds G's map-side-combining sum —
    * state 64² rows per task regardless of corpus size); G is then
    * localCheckpointed at 4096 rows and each iteration is a
    * broadcast-sized join + 64-row aggregate. The three 1-row norm
    * scalars ride cross joins (bounded; PlanShapeSpec-documented). */
  val embedPcaPower: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      val x = Tables.embeddings(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("vec_id"))
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim", "xf")))
        .select(col("vec_id"), col("dim"),
          col("xf").cast("double").cast("decimal(18,9)").as("xd"))
      val xa = x.select(col("vec_id"), col("dim").as("i"),
        col("xd").as("xa"))
      val xb = x.select(col("vec_id"), col("dim").as("j"),
        col("xd").as("xb"))
      val g = xa.join(xb, Seq("vec_id"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("xa") * col("xb")).as("gram"))
        .ckpt()
      val v0 = g.filter(col("j") === 0).select(col("i").as("j"))
        .withColumn("v", lit(BigDecimal("0.125")).cast("decimal(10,8)"))
      val (v3, n3) = (1 to 3).foldLeft((v0, v0)) { case ((v, _), _) =>
        val w = g.join(v, Seq("j"))
          .selectExpr("i",
            "CAST(round(CAST(gram AS DOUBLE) * CAST(v AS DOUBLE), 12)" +
              " AS DECIMAL(24,12)) AS p")
          .groupBy(col("i")).agg(sum(col("p")).as("w"))
        val n = w.selectExpr(
            "CAST(round(CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 12)" +
              " AS DECIMAL(24,12)) AS ww")
          .agg(sum(col("ww")).as("sww"))
          .selectExpr("round(sqrt(CAST(sww AS DOUBLE)), 8) AS nrm")
        val vn = w.crossJoin(n).selectExpr("i AS j",
          "CAST(round(CAST(w AS DOUBLE) / nrm, 8) AS DECIMAL(10,8)) AS v")
        (vn, n)
      }
      v3.crossJoin(n3)
        .selectExpr("CAST(j AS INT) AS dim", "CAST(v AS DOUBLE) AS loading",
          "CAST(nrm AS DOUBLE) AS eigval")
        .orderBy(col("dim"))
    }
    val duckIter = (t: Int) =>
      s"""w$t AS (
         |  SELECT g.i, sum(CAST(round(CAST(g.gram AS DOUBLE)
         |      * CAST(v${t - 1}.v AS DOUBLE), 12) AS DECIMAL(24,12))) AS w
         |  FROM g JOIN v${t - 1} ON g.j = v${t - 1}.j GROUP BY g.i),
         |n$t AS (
         |  SELECT round(sqrt(CAST(sum(CAST(round(CAST(w AS DOUBLE)
         |      * CAST(w AS DOUBLE), 12) AS DECIMAL(24,12))) AS DOUBLE)), 8)
         |    AS nrm
         |  FROM w$t),
         |v$t AS (
         |  SELECT i AS j, CAST(round(CAST(w AS DOUBLE) / nrm, 8)
         |      AS DECIMAL(10,8)) AS v
         |  FROM w$t CROSS JOIN n$t)""".stripMargin
    GQuery("embed_pca_power",
      s"""WITH x AS (
         |  SELECT vec_id,
         |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS xd,
         |    generate_subscripts(embedding, 1) - 1 AS dim
         |  FROM embeddings),
         |g AS (
         |  SELECT a.dim AS i, b.dim AS j, sum(a.xd * b.xd) AS gram
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id
         |  GROUP BY a.dim, b.dim),
         |v0 AS (
         |  SELECT i AS j, CAST(0.125 AS DECIMAL(10,8)) AS v
         |  FROM g WHERE g.j = 0),
         |${(1 to 3).map(duckIter).mkString(",\n")}
         |SELECT CAST(j AS INT) AS dim, CAST(v AS DOUBLE) AS loading,
         |  CAST(nrm AS DOUBLE) AS eigval
         |FROM v3 CROSS JOIN n3
         |ORDER BY dim""".stripMargin)(sparkImpl)
  }

  /** MATRYOSHKA two-stage top-k — the dimension-truncation ANN trade
    * next to IVF (partition pruning), PQ (code compression), and SQ8
    * (scalar quantization): stage 1 shortlists top-20 by cosine over
    * the FIRST 16 of 64 dimensions (4× fewer multiplies per
    * candidate, the MRL-embedding serving pattern), stage 2 re-ranks
    * the shortlist by exact full-dimension cosine and keeps top-5.
    * Both cosines round to 6 before their rankings (deterministic
    * cross-engine tiebreaks, as everywhere in the family).
    *
    * Scale shape: the truncated pass is the same probe-broadcast
    * corpus scan as sim_cosine_topk but at a quarter of the arithmetic
    * and bandwidth (only the prefix slice is touched); the exact pass
    * runs on 20 rows per probe. At 100 TB the truncated columns live
    * in their own parquet column (ReadSchema prunes the full vector
    * until re-rank) or behind the IVF index. */
  /** Shared serving path for the matryoshka tier: top-20 shortlist by
    * 16-dim-prefix cosine, exact full-dimension re-rank to `k`, probes
    * `vec_id < probeMax` — the ONE spelling sim_matryoshka_topk (the
    * k = 5 readout) and sim_recall_matryoshka (k = 3 vs exact ground
    * truth) both serve, so the recall row audits exactly the plan the
    * serving row ships. Returned unordered; callers sort. */
  private def matryoshkaTopKFrame(s: SparkSession, dir: String,
      probeMax: Int, k: Int): DataFrame = {
    val base = vecs(s, dir)
      .withColumn("vt", expr("slice(v, 1, 16)"))
      .withColumn("nt", expr("vec_norm(vt)"))
    val c = base.select(col("vec_id").as("cand_id"), col("v").as("vb"),
      col("nrm").as("nb"), col("vt").as("vtb"), col("nt").as("ntb"))
    val p = base.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("probe_id"), col("v").as("va"),
        col("nrm").as("na"), col("vt").as("vta"), col("nt").as("nta"))
    val w1 = Window.partitionBy(col("probe_id"))
      .orderBy(col("tcos").desc, col("cand_id"))
    val short = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("tcos",
        round(expr("vec_dot(vta, vtb)") / (col("nta") * col("ntb")), 6))
      .withColumn("trk", row_number().over(w1))
      .filter(col("trk") <= 20)
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    short
      .withColumn("cosine",
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"),
        col("cand_id").as("neighbor_id"), col("cosine"))
  }

  val simMatryoshkaTopk: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) =>
      matryoshkaTopKFrame(s, dir, probeMax = 5, k = 5)
        .orderBy(col("probe_id"), col("rk"))
    GQuery("sim_matryoshka_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |    v[1:16] AS vt,
        |    sqrt(list_dot_product(v[1:16], v[1:16])) AS nt
        |  FROM e),
        |s1 AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(list_dot_product(p.vt, c.vt) / (p.nt * c.nt), 6) AS tcos,
        |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6) AS cosine
        |  FROM n p JOIN n c ON p.vec_id < 5 AND c.vec_id != p.vec_id),
        |short AS (
        |  SELECT * FROM (
        |    SELECT probe_id, cand_id, cosine,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY tcos DESC, cand_id) AS trk
        |    FROM s1) WHERE trk <= 20),
        |r2 AS (
        |  SELECT probe_id, cand_id, cosine,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, cand_id) AS rk
        |  FROM short)
        |SELECT probe_id, rk, cand_id AS neighbor_id, cosine
        |FROM r2 WHERE rk <= 5
        |ORDER BY probe_id, rk""".stripMargin)(sparkImpl)
  }

  /** SQ8 QUANTIZATION-ERROR audit — the distortion side of the
    * sim_topk_sq8 serving trade (its recall spec answers "does
    * ranking survive?"; this answers "how much signal does int8
    * throw away, and for which labels?"): each vector is quantized
    * with the corpus-wide 127/max|x| scale (exactly
    * Similarity.sq8Quantize), dequantized, and scored by per-vector
    * reconstruction SSE; per label — mean SSE, worst vector, and
    * max per-dimension absolute error. The decide-before-deploying
    * artifact for every compressed-serving rollout, and the
    * calibration sibling of dedup_minhash_error.
    *
    * Determinism: the scale is a 1-row aggregate; round() ties break
    * away from zero on both engines (the sq8 oracle's argument);
    * each per-vector fold runs in index order on both engines (the
    * vec_dot precedent), then rounds to 8 and lands on the
    * DECIMAL(18,8) grid, so the per-label sums are order-free.
    *
    * Scale shape: one corpus scan with per-row array arithmetic, a
    * 1-row broadcast scale, and a ≤|labels|-row map-side-combining
    * aggregate — flat at any corpus size. */
  val embedSq8Error: GQuery = GQuery(
    "embed_sq8_error",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |           FROM embeddings),
      |mx AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
      |       FROM e),
      |p AS (
      |  SELECT label,
      |    CAST(round(list_sum(list_transform(v,
      |        x -> (x - round(x * 127.0 / greatest(mx, 1e-30)) * mx / 127.0)
      |           * (x - round(x * 127.0 / greatest(mx, 1e-30)) * mx / 127.0)
      |      )), 8) AS DECIMAL(18,8)) AS sse,
      |    CAST(round(list_max(list_transform(v,
      |        x -> abs(x - round(x * 127.0 / greatest(mx, 1e-30))
      |                   * mx / 127.0)
      |      )), 8) AS DECIMAL(18,8)) AS mae
      |  FROM e, mx)
      |SELECT CAST(label AS INT) AS label,
      |  CAST(count(*) AS BIGINT) AS n_vecs,
      |  round(CAST(sum(sse) AS DOUBLE) / count(*), 6) AS mean_sse,
      |  round(CAST(max(sse) AS DOUBLE), 6) AS max_sse,
      |  round(CAST(max(mae) AS DOUBLE), 6) AS max_dim_abs_err
      |FROM p GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    val e = vecs(s, dir).select(col("vec_id"), col("label"), col("v"))
    val mx = e.agg(
      max(expr("array_max(transform(v, x -> abs(x)))")).as("mx"))
    val errExpr =
      "x - round(x * 127.0 / greatest(mx, 1e-30d)) * mx / 127.0d"
    val p = e.crossJoin(broadcast(mx))
      .select(col("label"),
        round(expr(s"aggregate(transform(v, x -> ($errExpr) * ($errExpr)), " +
          "0d, (a, b) -> a + b)"), 8)
          .cast("decimal(18,8)").as("sse"),
        round(expr(s"array_max(transform(v, x -> abs($errExpr)))"), 8)
          .cast("decimal(18,8)").as("mae"))
    p.groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("sse")).cast("double") / count(lit(1)), 6)
          .as("mean_sse"),
        round(max(col("sse")).cast("double"), 6).as("max_sse"),
        round(max(col("mae")).cast("double"), 6).as("max_dim_abs_err"))
      .orderBy(col("label"))
  }

  /** BM25 LEXICAL RETRIEVAL — Okapi BM25 (k1 = 1.2, b = 0.75) top-5
    * per probe, the ranked-retrieval scorer the hybrid tier's raw
    * shared-term count approximates: per shared term,
    * idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with
    * idf(t) = ln((N−df+0.5)/(df+0.5)+1) (the non-negative BM25+ idf).
    *
    * Determinism discipline: idf and the per-doc length norm are each
    * quantized to DECIMAL(14,8) first, the per-term score is ONE fixed
    * double expression over those quantized inputs rounded to a
    * DECIMAL(16,8) grid, and the per-(probe,doc) score is the exact
    * decimal SUM of those grid values — order-free, so ranking on it
    * is cross-engine stable with the doc_id tiebreak.
    *
    * Scale shape: the posting list (doc, term, tf) and the df table
    * both key on term; the probe term set is tiny and drives every
    * join, so the candidate set is probe-bounded exactly like the
    * hybrid lexical tier (never a vocabulary broadcast — df rides the
    * term-keyed join). Corpus-global N and token total are 1-row
    * broadcasts. */
  /** Shared oracle SQL for both BM25 spellings — the fusion of stored
    * grids vs from-scratch computation is value-identical by
    * construction, so one oracle serves both (the duckHybridSql
    * precedent). */
  private val duckBm25Sql =
    """WITH dtok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |       FROM dtok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM dtok GROUP BY doc_id),
      |nt AS (SELECT count(*) AS n FROM documents),
      |tt AS (SELECT count(*) AS t FROM dtok),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (SELECT DISTINCT doc_id AS probe_id, term
      |       FROM dtok WHERE doc_id < 5),
      |idf AS (
      |  SELECT term,
      |    CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1), 8)
      |      AS DECIMAL(14,8)) AS idf
      |  FROM df, nt),
      |lnorm AS (
      |  SELECT doc_id,
      |    CAST(round(0.3 + 0.9 * (CAST(dl * n AS DOUBLE) / t), 8)
      |      AS DECIMAL(14,8)) AS lnorm
      |  FROM dl, nt, tt),
      |sc AS (
      |  SELECT q.probe_id, f.doc_id,
      |    sum(CAST(round(CAST(i.idf AS DOUBLE) * (f.tf * 2.2)
      |          / (f.tf + CAST(l.lnorm AS DOUBLE)), 8)
      |        AS DECIMAL(16,8))) AS sc
      |  FROM qt q
      |  JOIN tf f ON f.term = q.term AND f.doc_id != q.probe_id
      |  JOIN idf i ON i.term = q.term
      |  JOIN lnorm l ON l.doc_id = f.doc_id
      |  GROUP BY q.probe_id, f.doc_id),
      |rk AS (
      |  SELECT probe_id, doc_id,
      |    round(CAST(sc AS DOUBLE), 6) AS score,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY sc DESC, doc_id) AS rk
      |  FROM sc)
      |SELECT probe_id, rk, doc_id, score
      |FROM rk WHERE rk <= 5
      |ORDER BY probe_id, rk""".stripMargin

  val simBm25Topk: GQuery = GQuery(
    "sim_bm25_topk", duckBm25Sql) { (s, dir) =>
    val tok = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nt = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val tt = tok.agg(count(lit(1)).as("t"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = tok.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("term")).distinct()
    val idf = df.crossJoin(broadcast(nt))
      .select(col("term"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1), 8)
          .cast("decimal(14,8)").as("idf"))
    val lnorm = dl.crossJoin(broadcast(nt)).crossJoin(broadcast(tt))
      .select(col("doc_id"),
        round(lit(0.3) + lit(0.9)
          * ((col("dl") * col("n")).cast("double") / col("t")), 8)
          .cast("decimal(14,8)").as("lnorm"))
    val sc = qt.join(tf, Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .join(idf, Seq("term"))
      .join(lnorm, Seq("doc_id"))
      .withColumn("s8",
        round(col("idf").cast("double") * (col("tf") * lit(2.2))
          / (col("tf") + col("lnorm").cast("double")), 8)
          .cast("decimal(16,8)"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("s8")).as("sc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("rk"), col("doc_id"),
        round(col("sc").cast("double"), 6).as("score"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** BM25 as a SERVING path — the same semantics as [[simBm25Topk]]
    * (same oracle SQL, provably identical result), but every query-
    * time input comes from the SAVED bm25_idx index
    * (graft.api.Similarity.bm25IndexBuild, build-if-absent through
    * IndexStore): tf postings and prebuilt DECIMAL-grid idf are
    * term-hash-bucketed so the probe reads ONLY its terms' buckets
    * (literal `bkt IN` → PartitionFilters), the per-doc length norm
    * is a doc-keyed side table, and no corpus-global aggregate (N,
    * total tokens, df) is computed at query time — the posting/stats
    * build the in-memory spelling pays per query (measured 12.1 s at
    * the 100× probe) is amortized into one index build. */
  val simBm25Indexed: GQuery = GQuery(
    "sim_bm25_indexed", duckBm25Sql) { (s, dir) =>
    val docs = Tables.documentsSpread(s, dir)
    val path = graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("bm25_idx", dir,
        "documents.parquet")) { tmp =>
      graft.api.Similarity.bm25IndexBuild(docs, "doc_id", "text", tmp)
    }
    graft.api.Similarity.bm25TopK(docs.filter(col("doc_id") < 5),
        "doc_id", "text", path, k = 5)
      .orderBy(col("probe_id"), col("rk"))
  }

  /** ANN RECALL EVALUATION for the IVF tier — [[simRecallEval]]'s
    * harness pointed at the SAVED IVF index instead of sign-LSH: exact
    * brute-force top-3 ground truth for the sampled probes vs the
    * index-served `ivfTopK` answer (k = 3, nProbe = 3 of 8 cells),
    * per-probe recall@3. Together the two recall queries are the
    * tables/bits-vs-cells/nProbe decision matrix an ANN deployment
    * reads before indexing a 100 TB corpus — and this one exercises
    * the exact serving path sim_topk_ivf ships (same ivf_c8 index
    * family, one build, fourth consumer).
    *
    * Scale shape: ground truth probe-bounded (one broadcast-probe
    * corpus scan); the ANN side reads only the probed cid partitions
    * of the saved index (literal IN → PartitionFilters); the recall
    * join is ≤ 2·k rows per probe. */
  val simRecallIvf: GQuery = GQuery(
    "sim_recall_ivf",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |ex AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY round(list_dot_product(p.v, c.v)
       |                       / (p.nrm * c.nrm), 6) DESC,
       |                 c.vec_id) AS rk
       |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
       |  WHERE rk <= 3),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 50) p, cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, cid FROM (
       |    SELECT vec_id, v, nrm, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, neighbor_id) AS rk
       |    FROM (
       |      SELECT pc.probe_id, n.vec_id AS neighbor_id,
       |        round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |          AS cosine
       |      FROM pc JOIN n ON n.cid = pc.cid
       |                    AND n.vec_id != pc.probe_id))
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT ex.probe_id, count(*) AS n_hits
       |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
       |                  AND ex.neighbor_id = ann.neighbor_id
       |  GROUP BY ex.probe_id),
       |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
       |        GROUP BY probe_id)
       |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6) AS recall
       |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
       |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val probes = ev.filter(col("vec_id") < 50)
    val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id", "v",
      k = 3).select(col("probe_id"), col("neighbor_id"))
    val ivfPath = ensureIvfC8(s, dir)
    val ann = graft.api.Similarity.ivfTopK(probes, "vec_id", "v",
      ivfPath, k = 3, nProbe = 3)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("probe_id"))
  }

  /** Shared oracle head for the shortlist-tier recall rows: exact
    * brute-force top-3 ground truth for the standard probe set
    * (vec_id < 50), as `ex` over the normed corpus `n` — verbatim the
    * sim_recall_eval/sim_recall_ivf ground-truth CTEs, factored so
    * every tier's recall row measures against the SAME truth. */
  /** The `ex` ground-truth CTE alone (requires an in-scope
    * `n (vec_id, v, nrm)`), for oracles whose WITH clause is opened
    * by another chain (sim_nprobe_sweep's kmeans CTEs). */
  private val recallExCte =
    """ex AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY p.vec_id
      |        ORDER BY round(list_dot_product(p.v, c.v)
      |                       / (p.nrm * c.nrm), 6) DESC,
      |                 c.vec_id) AS rk
      |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
      |  WHERE rk <= 3)""".stripMargin

  private val recallExactSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |$recallExCte""".stripMargin

  /** Shared oracle tail: per-probe hits vs the `ann` CTE and the
    * recall@3 readout — identical across every recall row. */
  private val recallTailSql =
    """hits AS (
      |  SELECT ex.probe_id, count(*) AS n_hits
      |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
      |                  AND ex.neighbor_id = ann.neighbor_id
      |  GROUP BY ex.probe_id),
      |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
      |        GROUP BY probe_id)
      |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6) AS recall
      |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
      |ORDER BY den.probe_id""".stripMargin

  /** Shared Spark-side recall readout: (probe_id, n_exact, n_hits,
    * recall) from the exact and approximate (probe_id, neighbor_id)
    * answer sets — the sim_recall_eval tail, factored for the
    * shortlist-tier rows. */
  private def recallReadout(exact: DataFrame, ann: DataFrame): DataFrame = {
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("probe_id"))
  }

  /** Exact brute-force top-3 for the standard probe set — the ground
    * truth every shortlist-tier recall row compares against. */
  private def recallExactFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    graft.api.Similarity.cosineTopK(ev, ev.filter(col("vec_id") < 50),
      "vec_id", "v", k = 3).select(col("probe_id"), col("neighbor_id"))
  }

  /** RECALL@3 for the SQ8 tier — the fifth row of the per-tier ANN
    * recall matrix (sign-LSH, saved-IVF, saved-NNG, IVF-PQ, and now
    * the int8 scalar-quantized shortlist): the same vec_id < 50
    * probes, exact ground truth, served by the exact two-stage
    * sq8TopK path sim_topk_sq8 ships (per-frame 127/max|x| scales,
    * exact int8 shortlist of 40, float re-rank) at k = 3. The number
    * answers "how much ranking does 4× byte compression cost?"
    * BEFORE a 100 TB corpus is quantized — and like the other recall
    * rows, the evaluation itself is deterministic arithmetic, so
    * DuckDB replays quantize → shortlist → re-rank → intersect.
    *
    * Scale shape: ground truth probe-bounded (one broadcast-probe
    * corpus scan); the SQ8 side is the serving row's own scan-bound
    * plan; the recall join is ≤ 2·k rows per probe. */
  val simRecallSq8: GQuery = GQuery(
    "sim_recall_sq8",
    s"""$recallExactSql,
       |mxc AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
       |        FROM e),
       |mxp AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
       |        FROM e WHERE vec_id < 50),
       |cq AS (
       |  SELECT vec_id AS neighbor_id,
       |    list_transform(v, x -> round(x * 127.0 / greatest(mx, 1e-30)))
       |      AS qb
       |  FROM e, mxc),
       |cqn AS (SELECT neighbor_id, qb,
       |          sqrt(list_dot_product(qb, qb)) AS qnb FROM cq),
       |pq AS (
       |  SELECT vec_id AS probe_id,
       |    list_transform(v, x -> round(x * 127.0 / greatest(mx, 1e-30)))
       |      AS qa
       |  FROM e, mxp WHERE vec_id < 50),
       |pqn AS (SELECT probe_id, qa,
       |          sqrt(list_dot_product(qa, qa)) AS qna FROM pq),
       |short AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.probe_id, c.neighbor_id,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY round(list_dot_product(p.qa, c.qb)
       |          / (p.qna * c.qnb), 6) DESC, c.neighbor_id) AS srk
       |    FROM cqn c JOIN pqn p ON p.probe_id != c.neighbor_id)
       |  WHERE srk <= 40),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT s.probe_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY s.probe_id
       |        ORDER BY round(list_dot_product(p.v, c.v)
       |          / (p.nrm * c.nrm), 6) DESC, s.neighbor_id) AS rk
       |    FROM short s JOIN n c ON c.vec_id = s.neighbor_id
       |      JOIN n p ON p.vec_id = s.probe_id)
       |  WHERE rk <= 3),
       |$recallTailSql""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val ann = graft.api.Similarity.sq8TopK(ev,
      ev.filter(col("vec_id") < 50), "vec_id", "v", k = 3, shortlist = 40)
      .select(col("probe_id"), col("neighbor_id"))
    recallReadout(recallExactFrame(s, dir), ann)
  }

  /** RECALL@3 for the sign-bit Hamming tier: the same probes and
    * ground truth, served by [[hammingTopKFrame]] — the EXACT plan
    * sim_topk_hamming ships (8×8-bit sign bands, band-equality
    * candidates, Hamming-64 shortlist, exact re-rank) at k = 3. Next
    * to sim_recall_sq8 this prices the cheaper 64-bit signature
    * against the 4×-larger int8 one; a 100 TB deployment reads the
    * two rows together when choosing its shortlist bytes.
    *
    * Scale shape: the candidate join is band-bucketed (never
    * all-pairs on the Spark side); ground truth probe-bounded; the
    * recall join ≤ 2·k rows per probe. */
  val simRecallHamming: GQuery = GQuery(
    "sim_recall_hamming",
    s"""$recallExactSql,
       |b AS (SELECT vec_id, v, nrm,
       |  list_transform(generate_series(0, 7), t ->
       |    CAST(list_sum(list_transform(generate_series(1, 8), i ->
       |      CASE WHEN v[8 * t + i] >= 0
       |           THEN CAST(1 AS BIGINT) << (8 - i)
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bands
       |  FROM n),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(generate_series(1, 8), j ->
       |      CAST(bit_count(xor(p.bands[j], c.bands[j])) AS BIGINT)))
       |      AS BIGINT) AS hamming,
       |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
       |      AS cosine
       |  FROM b p
       |  JOIN b c ON p.vec_id < 50 AND c.vec_id != p.vec_id
       |  CROSS JOIN generate_series(0, 7) AS g(t)
       |  WHERE p.bands[t + 1] = c.bands[t + 1]),
       |h AS (
       |  SELECT probe_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY hamming, neighbor_id) AS hk
       |  FROM cand),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, neighbor_id) AS rk
       |    FROM h WHERE hk <= 64)
       |  WHERE rk <= 3),
       |$recallTailSql""".stripMargin) { (s, dir) =>
    val ann = hammingTopKFrame(s, dir, k = 3)
      .select(col("probe_id"), col("neighbor_id"))
    recallReadout(recallExactFrame(s, dir), ann)
  }

  /** RECALL@3 for the matryoshka tier: the same probes and ground
    * truth, served by [[matryoshkaTopKFrame]] — the EXACT plan
    * sim_matryoshka_topk ships (16-of-64-dim prefix shortlist of 20,
    * exact full-dimension re-rank) at k = 3. Completes the
    * compressed-shortlist recall trio: prefix truncation (4× fewer
    * multiplies) vs int8 quantization (4× fewer bytes) vs sign bands
    * (32× fewer bytes), all priced against one ground truth.
    *
    * Scale shape: the truncated pass is a probe-broadcast corpus scan
    * reading only the prefix slice; re-rank runs on 20 rows/probe. */
  val simRecallMatryoshka: GQuery = GQuery(
    "sim_recall_matryoshka",
    s"""$recallExactSql,
       |nt AS (
       |  SELECT vec_id, v, nrm, v[1:16] AS vt,
       |    sqrt(list_dot_product(v[1:16], v[1:16])) AS ntn
       |  FROM n),
       |s1 AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(p.vt, c.vt) / (p.ntn * c.ntn), 6)
       |      AS tcos,
       |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
       |      AS cosine
       |  FROM nt p JOIN nt c ON p.vec_id < 50 AND c.vec_id != p.vec_id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT probe_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY tcos DESC, neighbor_id) AS trk
       |    FROM s1) WHERE trk <= 20),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY cosine DESC, neighbor_id) AS rk
       |    FROM short)
       |  WHERE rk <= 3),
       |$recallTailSql""".stripMargin) { (s, dir) =>
    val ann = matryoshkaTopKFrame(s, dir, probeMax = 50, k = 3)
      .select(col("probe_id"), col("neighbor_id"))
    recallReadout(recallExactFrame(s, dir), ann)
  }

  /** nPROBE SIZING SWEEP — the number sim_ivf_cell_stats' scaladoc
    * promises ("sizes nProbe"): recall@3 of the SAVED ivf_c8 index at
    * nProbe = 1..4, each sweep point served by the real
    * [[graft.api.Similarity.ivfTopK]] path (pruned partitions, bounded
    * cid collect) against the shared brute-force ground truth. The
    * curve is what a 100 TB deployment reads to pick the smallest
    * nProbe above its recall floor — scan cost grows linearly in
    * nProbe, so the knee of this curve IS the serving budget.
    *
    * Determinism: recall is MICRO recall (Σhits / Σexact) — both sums
    * exact integers, one double divide rounded to 6 — never a
    * float-sum of per-probe ratios (summation order would diverge
    * across engines). With a constant per-probe denominator (k = 3)
    * micro and macro recall coincide, so no information is lost.
    *
    * Scale shape: ground truth probe-bounded (computed ONCE, shared
    * by all sweep points); each sweep point reads only its probed cid
    * partitions; the hits join is ≤ 2·k rows per (probe, sweep). */
  val simNprobeSweep: GQuery = GQuery(
    "sim_nprobe_sweep",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |n AS (SELECT vec_id, v, cid, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM fin),
       |$recallExCte,
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm FROM n WHERE vec_id < 50) p, cfin c),
       |pr AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM pd),
       |nps AS (SELECT unnest([1, 2, 3, 4]) AS n_probe),
       |pc AS (
       |  SELECT nps.n_probe, pr.vec_id AS probe_id, pr.v AS pv,
       |    pr.nrm AS pn, pr.cid
       |  FROM pr, nps WHERE pr.rn <= nps.n_probe),
       |ann AS (
       |  SELECT n_probe, probe_id, neighbor_id FROM (
       |    SELECT pc.n_probe, pc.probe_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY pc.n_probe, pc.probe_id
       |        ORDER BY round(list_dot_product(pc.pv, n.v)
       |          / (pc.pn * n.nrm), 6) DESC, n.vec_id) AS rk
       |    FROM pc JOIN n ON n.cid = pc.cid AND n.vec_id != pc.probe_id)
       |  WHERE rk <= 3),
       |hits AS (
       |  SELECT ann.n_probe, count(*) AS n_hits
       |  FROM ann JOIN ex ON ann.probe_id = ex.probe_id
       |                  AND ann.neighbor_id = ex.neighbor_id
       |  GROUP BY ann.n_probe),
       |den AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT CAST(nps.n_probe AS INT) AS n_probe,
       |  CAST(den.n_exact AS BIGINT) AS n_exact,
       |  CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE)
       |    / den.n_exact, 6) AS recall
       |FROM nps LEFT JOIN hits ON nps.n_probe = hits.n_probe
       |CROSS JOIN den
       |ORDER BY n_probe""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val probes = ev.filter(col("vec_id") < 50)
    val exact = recallExactFrame(s, dir)
    val ivfPath = ensureIvfC8(s, dir)
    val ann = (1 to 4).map { np =>
      graft.api.Similarity.ivfTopK(probes, "vec_id", "v", ivfPath,
          k = 3, nProbe = np)
        .select(lit(np).as("n_probe"), col("probe_id"),
          col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val hits = ann.join(exact, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
    val den = exact.agg(count(lit(1)).as("n_exact"))
    s.range(1, 5).select(col("id").cast("int").as("n_probe"))
      .join(hits, Seq("n_probe"), "left")
      .crossJoin(den)
      .select(col("n_probe"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("n_probe"))
  }

  /** PQ RECONSTRUCTION-DISTORTION audit — [[embedSq8Error]]'s readout
    * for the PRODUCT quantizer, served from the SAVED ivfpq_c8r8
    * index (fifth consumer: codebooks + per-vector codes are read
    * back from the index the serving path ships, so this audits the
    * bytes actually deployed, not a re-derivation): per label, the
    * mean and max squared reconstruction error Σ_s‖sub_s −
    * codebook_s[code_s]‖². Next to the SQ8 table this completes the
    * quantizer decision matrix (8× int8 scalar grid vs 32× one-byte
    * PQ codes) a 100 TB ANN deployment reads before choosing its
    * memory tier.
    *
    * Determinism: per-subspace d2 is the index build's own assignment
    * expression (dot(sub,sub) − 2·dot(sub,c) + dot(c,c), the vec_dot
    * fold both engines share) rounded to the DECIMAL(18,8) grid; the
    * per-vector sum over the 8 subspaces is an exact decimal sum.
    *
    * Scale shape: the cells scan carries (vec, codes); the codebook
    * join attaches ≤ m·ksub = 512 rows (un-hinted — AQE promotes);
    * per-label rollup is map-side-combining over ≤|labels| rows. */
  val embedPqError: GQuery = GQuery(
    "embed_pq_error",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |${pqOracleCte(m = 8, subDim = 8, ksub = 64, rounds = 2)},
       |err AS (
       |  SELECT sv.vec_id,
       |    CAST(round(list_dot_product(sv.sub, sv.sub)
       |      - 2 * list_dot_product(sv.sub, cb.c)
       |      + list_dot_product(cb.c, cb.c), 8) AS DECIMAL(18,8)) AS d2
       |  FROM sv
       |  JOIN enc ON sv.vec_id = enc.vec_id AND sv.s = enc.s
       |  JOIN cbfin cb ON cb.s = enc.s AND cb.code = enc.code),
       |pv AS (SELECT vec_id, sum(d2) AS sse FROM err GROUP BY vec_id),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT CAST(label AS INT) AS label,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  round(CAST(sum(sse) AS DOUBLE) / count(*), 6) AS mean_sse,
       |  round(CAST(max(sse) AS DOUBLE), 6) AS max_sse
       |FROM pv JOIN lab USING (vec_id)
       |GROUP BY label
       |ORDER BY label""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir).select(col("vec_id"), col("v"))
    val pqPath = ensureIvfpqC8r8(s, dir)
    val cells = s.read.parquet(s"$pqPath/cells")
      .select(col("vec_id"), col("v"), col("codes"))
    val cb = s.read.parquet(s"$pqPath/codebooks")
    val sub = cells
      .select(col("vec_id"), col("v"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .withColumn("sub", expr("slice(v, 8 * s + 1, 8)"))
      .join(cb, Seq("s", "code"))
      .select(col("vec_id"),
        round(expr("vec_dot(sub, sub) - 2 * vec_dot(sub, c)"
          + " + vec_dot(c, c)"), 8).cast("decimal(18,8)").as("d2"))
    val pv = sub.groupBy(col("vec_id")).agg(sum(col("d2")).as("sse"))
    pv.join(vecs(s, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
      .groupBy(col("label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("sse")).cast("double") / count(lit(1)), 6)
          .as("mean_sse"),
        round(max(col("sse")).cast("double"), 6).as("max_sse"))
      .orderBy(col("label"))
  }

  /** PER-DIMENSION QUANTILE CLIPPING profile — the outlier-taming
    * pass run before scalar quantization (an SQ8 grid sized by a
    * heavy-tailed dimension wastes most of its codes on outliers; see
    * embed_sq8_error): each dimension's values clamp to that
    * dimension's own [p01, p99], and the report says what clipping
    * would cost — per-dim thresholds, clipped counts/rate, and the
    * mean squared error the clamp introduces. Thresholds round to the
    * family's 6-place grid before the compares (boundary values
    * classify identically cross-engine); values and errors live on
    * the DECIMAL(18,9) grid (the embed_dim_stats discipline), so all
    * sums are exact.
    *
    * Scale: one posexplode + per-dim exact-percentile aggregate (64
    * groups; swap for approx_percentile at 100 TB per the
    * agg_percentiles note), the 64-row threshold frame BROADCAST back
    * (a dim-keyed shuffle join would funnel the corpus onto 64 tasks
    * — the embed_standardize note), one map-side-combining rollup. */
  val embedQuantileClip: GQuery = GQuery(
    "embed_quantile_clip",
    """WITH x AS (
      |  SELECT CAST(unnest(embedding) AS DOUBLE) AS xe,
      |         generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |d AS (SELECT dim, CAST(xe AS DECIMAL(18,9)) AS xd FROM x),
      |th AS (
      |  SELECT dim,
      |    CAST(round(quantile_cont(CAST(xd AS DOUBLE), 0.01), 6)
      |      AS DECIMAL(18,9)) AS lo,
      |    CAST(round(quantile_cont(CAST(xd AS DOUBLE), 0.99), 6)
      |      AS DECIMAL(18,9)) AS hi
      |  FROM d GROUP BY dim),
      |c AS (
      |  SELECT d.dim, d.xd, th.lo, th.hi,
      |    least(greatest(d.xd, th.lo), th.hi) AS xc
      |  FROM d JOIN th ON d.dim = th.dim)
      |SELECT CAST(dim AS INT) AS dim,
      |  CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
      |  CAST(sum(CASE WHEN xd < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(sum(CASE WHEN xd > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high,
      |  round(CAST(sum(CASE WHEN xd < lo OR xd > hi THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS clip_rate,
      |  round(CAST(sum(CAST((xd - xc) AS DECIMAL(19,9))
      |    * (xd - xc)) AS DOUBLE) / count(*), 9) AS clip_mse
      |FROM c GROUP BY dim, lo, hi
      |ORDER BY dim""".stripMargin) { (s, dir) =>
    val d = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("vec_id"))
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        col("x").cast("double").cast("decimal(18,9)").as("xd"))
    val th = d.groupBy(col("dim")).agg(
      round(expr("percentile(CAST(xd AS DOUBLE), 0.01d)"), 6)
        .cast("decimal(18,9)").as("lo"),
      round(expr("percentile(CAST(xd AS DOUBLE), 0.99d)"), 6)
        .cast("decimal(18,9)").as("hi"))
    val c = d.join(broadcast(th), Seq("dim"))
      .withColumn("xc",
        least(greatest(col("xd"), col("lo")), col("hi")))
    c.groupBy(col("dim"), col("lo"), col("hi"))
      .agg(
        sum(when(col("xd") < col("lo"), 1).otherwise(0)).cast("bigint")
          .as("n_clipped_low"),
        sum(when(col("xd") > col("hi"), 1).otherwise(0)).cast("bigint")
          .as("n_clipped_high"),
        round(sum(when(col("xd") < col("lo")
            || col("xd") > col("hi"), 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("clip_rate"),
        round(sum((col("xd") - col("xc")).cast("decimal(19,9)")
            * (col("xd") - col("xc"))).cast("double") / count(lit(1)),
          9).as("clip_mse"))
      .select(col("dim").cast("int").as("dim"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"),
        col("n_clipped_low"), col("n_clipped_high"), col("clip_rate"),
        col("clip_mse"))
      .orderBy(col("dim"))
  }

  /** MULTI-INDEX HAMMING top-k (Norouzi et al.'s MIH construction) —
    * the BINARY-code serving tier alongside SQ8 (int8) and IVF-PQ:
    * each vector collapses to a 64-bit sign signature stored as eight
    * 8-bit BANDS, candidates are pairs agreeing on AT LEAST ONE band
    * (the pigeonhole guarantee: any neighbor within Hamming radius 7
    * of 64 bits MUST share a band — the dedup_simhash discipline,
    * here driving top-k retrieval instead of dedup), ranking is full
    * 64-bit Hamming via `bit_count(xor)` per band, and the final
    * top-5 is an EXACT float cosine re-rank of the ≤64-row Hamming
    * shortlist. Signatures and band values are integer-exact in both
    * engines (fold acc·2+bit ≡ Σ bit·2^(16−i)); ties break on
    * neighbor_id at both ranks.
    *
    * Scale shape: banding is a per-row projection (one corpus scan,
    * no shuffle to build); candidates meet on an EQUI key
    * (band#, value) — never probes×corpus; the probe side is
    * broadcast-bounded by the literal vec_id < 50 filter; Hamming is
    * evaluated only on candidates and float math only on the
    * shortlist. At 100 TB the binary index is 1/32 the float bytes
    * and the band join prunes like the simhash pair join —
    * output-bound, fully keyed. */
  /** Shared serving path for the sign-bit Hamming tier: 8×8-bit sign
    * bands, band-equality candidate generation, Hamming shortlist
    * (hk ≤ 64), exact-cosine re-rank to `k`, probes vec_id < 50 — the
    * ONE spelling sim_topk_hamming (k = 5 readout) and
    * sim_recall_hamming (k = 3 vs exact ground truth) both serve.
    * Returned unordered; callers sort. */
  private def hammingTopKFrame(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val e = vecs(s, dir)
    val banded = e.select(col("vec_id"), col("v"), col("nrm"),
      expr("""transform(sequence(0, 7), t ->
             |  aggregate(transform(slice(v, 8 * t + 1, 8),
             |    x -> CASE WHEN x >= CAST(0 AS DOUBLE)
             |         THEN CAST(1 AS BIGINT)
             |         ELSE CAST(0 AS BIGINT) END),
             |    CAST(0 AS BIGINT), (acc, b) -> acc * 2 + b))"""
        .stripMargin).as("bands"))
    val corpus = banded.select(col("vec_id").as("neighbor_id"),
      col("v").as("vb"), col("nrm").as("nb"),
      col("bands").as("bb"),
      posexplode(col("bands")).as(Seq("t", "bv")))
    val probes = banded.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("v").as("va"),
        col("nrm").as("na"), col("bands").as("ba"),
        posexplode(col("bands")).as(Seq("t", "bv")))
    val cand = corpus.join(broadcast(probes), Seq("t", "bv"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        expr("""aggregate(zip_with(ba, bb,
               |  (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)),
               |  CAST(0 AS BIGINT), (acc, h) -> acc + h)"""
          .stripMargin).as("hamming"),
        round(expr(dot) / (col("na") * col("nb")), 6).as("cosine"))
      .distinct()
    val w1 = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("hk", row_number().over(w1))
      .filter(col("hk") <= 64)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("neighbor_id"),
        col("hamming"), col("cosine"))
  }

  val simTopkHamming: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) =>
      hammingTopKFrame(s, dir, k = 5)
        .orderBy(col("probe_id"), col("rk"))
    GQuery("sim_topk_hamming",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
        |  list_transform(generate_series(0, 7), t ->
        |    CAST(list_sum(list_transform(generate_series(1, 8), i ->
        |      CASE WHEN v[8 * t + i] >= 0
        |           THEN CAST(1 AS BIGINT) << (8 - i)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bands
        |  FROM e),
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(generate_series(1, 8), j ->
        |      CAST(bit_count(xor(p.bands[j], c.bands[j])) AS BIGINT)))
        |      AS BIGINT) AS hamming,
        |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
        |      AS cosine
        |  FROM n p
        |  JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id
        |  CROSS JOIN generate_series(0, 7) AS g(t)
        |  WHERE p.bands[t + 1] = c.bands[t + 1]),
        |h AS (
        |  SELECT probe_id, neighbor_id, hamming, cosine,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY hamming, neighbor_id) AS hk
        |  FROM cand),
        |r AS (
        |  SELECT probe_id, neighbor_id, hamming, cosine,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM h WHERE hk <= 64)
        |SELECT probe_id, rk, neighbor_id, hamming, cosine
        |FROM r WHERE rk <= 5
        |ORDER BY probe_id, rk""".stripMargin)(sparkImpl)
  }

  /** EMBEDDING ISOTROPY audit — the common-direction pathology readout
    * (Mu & Viswanath 2018 "all-but-the-top"; Ethayarajh 2019): per
    * label, ‖μ‖²/E‖v‖², the share of average vector energy consumed
    * by the mean direction. Near 0 = isotropic (cosine retrieval
    * works as-is); large = a shared offset dominates and
    * mean-centering (embed_standardize) should run before the sim_*
    * tiers. All sums ride exact decimal grids: components quantize to
    * DECIMAL(18,9) (the embed_dim_stats discipline), per-dim sums are
    * re-pinned to DECIMAL(15,9) (|Σx| < 10⁶ at any plausible corpus)
    * so their squares stay EXACT at DECIMAL(31,18), and every double
    * op is a single fixed expression over exact decimals, rounded to
    * 6 identically on both engines.
    *
    * Scale shape: one posexplode fan-out combining map-side into
    * ≤ labels×64 groups (the embed_dim_stats plan); the squares/ratio
    * run on a ≤ labels×64-row frame — aggregate state is independent
    * of corpus size; no window, no join. */
  val embedIsotropy: GQuery = GQuery(
    "embed_isotropy",
    """WITH x AS (
      |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS xe,
      |         generate_subscripts(embedding, 1) - 1 AS dim
      |  FROM embeddings),
      |d AS (SELECT label, dim, CAST(xe AS DECIMAL(18,9)) AS xd FROM x),
      |per_dim AS (
      |  SELECT label, dim,
      |    CAST(sum(xd) AS DECIMAL(15,9)) AS s,
      |    CAST(sum(xd * xd) AS DECIMAL(38,18)) AS sxx,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |per_label AS (
      |  SELECT label, max(n) AS n,
      |    CAST(sum(s * s) AS DECIMAL(38,18)) AS ss,
      |    CAST(sum(sxx) AS DECIMAL(38,18)) AS sxx
      |  FROM per_dim GROUP BY 1)
      |SELECT label, n,
      |  round(sqrt(CAST(ss AS DOUBLE)) / n, 6) AS mu_norm,
      |  round(sqrt(CAST(sxx AS DOUBLE) / n), 6) AS rms_norm,
      |  round(CAST(ss AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)), 6) AS isotropy
      |FROM per_label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    val d = Tables.embeddings(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double").cast("decimal(18,9)"))
    val perDim = d.groupBy(col("label"), col("dim"))
      .agg(sum(col("xd")).cast("decimal(15,9)").as("s"),
        sum(col("xd") * col("xd")).cast("decimal(38,18)").as("sxx"),
        count(lit(1)).cast("bigint").as("n"))
    val perLabel = perDim.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("s") * col("s")).cast("decimal(38,18)").as("ss"),
        sum(col("sxx")).cast("decimal(38,18)").as("sxx"))
    perLabel.select(col("label"), col("n"),
        round(sqrt(col("ss").cast("double")) / col("n"), 6).as("mu_norm"),
        round(sqrt(col("sxx").cast("double") / col("n")), 6).as("rms_norm"),
        round(col("ss").cast("double")
          / (col("n").cast("double") * col("sxx").cast("double")), 6)
          .as("isotropy"))
      .orderBy(col("label"))
  }

  /** GRAPH-TRAVERSAL ANN — greedy beam search over a SAVED directed
    * k-NN graph (graft.api.Similarity.nngBuild/nngTopK), the
    * NSW/HNSW serving family that completes the ANN tier matrix next
    * to the bucketed ones (sign-LSH, IVF, IVF-PQ, SQ8, Matryoshka,
    * Hamming multi-index): probes vec_id < 50, 8 DEGREE-SEEDED
    * entry points (highest symmetrized degree, id ties — HNSW's
    * upper layers replaced by hub starts; adopted over the original
    * hash-spread pick by measured recall at equal beam, BASELINE.md
    * round-15: 0.956 vs 0.929 at sf0.1), UNDIRECTED expansion over the symmetrized k=10
    * lists (NSW's navigability trick — a directed 10-NN graph strands
    * the walk in local clusters; measured recall@3 0.05 directed/
    * single-entry vs 0.85 with this spelling), beam 10, 4 rounds,
    * exact-cosine top-3 of the visited set. The walk is a pure
    * function of (graph, entries, probe) — cosines round to 6 before
    * every ranking with node-id tiebreaks — so the DuckDB oracle
    * replays the ENTIRE search: the all-pairs edge lists, the
    * symmetrization, the degree-ordered entry pick, then each round's
    * top-beam frontier / unseen-expansion / scoring as chained CTEs.
    *
    * Scale shape: query time never scans the corpus — each round is
    * a frontier-keyed equi-join into the saved edge lists plus one
    * keyed scoring join into the saved node vectors (candidates
    * bounded by probes×beam×k); the per-round visited frame is
    * eagerly localCheckpointed so the returned plan is flat. The
    * fixture-scale graph BUILD is the exact all-pairs tier (built
    * once through IndexStore, amortized across queries); at 100 TB
    * the lists come from NN-Descent or the IVF tier's bounded
    * candidates and the serving walk is unchanged — that asymmetry
    * (expensive build, frontier-bounded queries) is the reason this
    * family exists. Recall vs the exact tier and the full walk
    * trajectory are spec-pinned (OperatorPropertySpec). */
  /** The nng walk's oracle CTE chain, parametrized so the serving row
    * (sim_topk_nng: graph over the full corpus) and the insertion row
    * (sim_nng_ingest: graph over the base slice, probes = arrivals)
    * replay ONE spelling: builds `e`/`n`, the graph CTEs over
    * `baseWhere` rows (directed top-kNeighbors lists, symmetrized
    * adj, degree-ordered entries), probes from `probeWhere`, then
    * `rounds` beam-expansion rounds ending in `v{rounds}` =
    * (probe_id, node, cosine), every visited node scored. */
  /** The greedy-beam-walk CTE rounds — assumes CTEs `adj(src, dst)`
    * (the symmetrized graph), `nb(vec_id, v, nrm)` (scorable nodes),
    * `p(probe_id, v, nrm)` (probes), and `ent(node)` (entry points)
    * are already in scope; produces `v0..v{rounds}` with every
    * visited (probe_id, node, cosine). */
  /** Generalized beam-walk CTE chain: `pfx` prefixes every round CTE
    * (so two walks — e.g. the hierarchical coarse walk and the base
    * walk — compose in one query without name collisions), `adjName`/
    * `nbName` point the walk at its graph, and `entryPairs` is the
    * round-0 (probe_id, node) source — the shared `p CROSS JOIN ent`
    * for flat walks, a per-probe frame for hierarchical ones. */
  private def nngBeamCtesGen(beam: Int, rounds: Int, pfx: String,
      adjName: String, nbName: String, entryPairs: String): String = {
    val sc = "round(list_dot_product(p.v, nn.v) / (p.nrm * nn.nrm), 6)"
    val roundCte = (r: Int) =>
      s"""${pfx}f$r AS (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rn
         |    FROM ${pfx}v${r - 1})
         |  WHERE rn <= $beam),
         |${pfx}c$r AS (
         |  SELECT DISTINCT f.probe_id, $adjName.dst AS node
         |  FROM ${pfx}f$r f JOIN $adjName ON $adjName.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM ${pfx}v${r - 1} x
         |    WHERE x.probe_id = f.probe_id AND x.node = $adjName.dst)),
         |${pfx}s$r AS (
         |  SELECT c.probe_id, c.node, $sc AS cosine
         |  FROM ${pfx}c$r c JOIN p ON p.probe_id = c.probe_id
         |             JOIN $nbName nn ON nn.vec_id = c.node),
         |${pfx}v$r AS MATERIALIZED (SELECT * FROM ${pfx}v${r - 1}
         |  UNION ALL SELECT * FROM ${pfx}s$r)"""
        .stripMargin
    // AS MATERIALIZED on every visited-set CTE: each round references
    // v_{r-1} three times (frontier cut, NOT EXISTS, union), so
    // DuckDB's default inlining re-evaluates the whole prior walk
    // 3^rounds times — tolerable for one flat walk, fatal once the
    // hierarchical rows chain TWO walks in one query.
    s"""${pfx}v0 AS MATERIALIZED (
       |  SELECT ep.probe_id, ep.node, $sc AS cosine
       |  FROM ($entryPairs) ep
       |  JOIN p ON p.probe_id = ep.probe_id
       |  JOIN $nbName nn ON nn.vec_id = ep.node),
       |${(1 to rounds).map(roundCte).mkString(",\n")}""".stripMargin
  }

  private def nngBeamCtes(beam: Int, rounds: Int): String =
    nngBeamCtesGen(beam, rounds, "", "adj", "nb",
      "SELECT p.probe_id, ent.node FROM p CROSS JOIN ent")

  private def nngWalkCtes(kNeighbors: Int, nEntries: Int, beam: Int,
      rounds: Int, baseWhere: String, probeWhere: String): String = {
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM e),
       |nb AS (SELECT * FROM n WHERE $baseWhere),
       |pairs AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
       |      AS cosine
       |  FROM nb a JOIN nb b ON a.vec_id != b.vec_id),
       |g AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS rk
       |    FROM pairs) WHERE rk <= $kNeighbors),
       |adj AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g
       |    UNION ALL SELECT dst AS src, src AS dst FROM g)),
       |p AS (SELECT vec_id AS probe_id, v, nrm FROM n
       |      WHERE $probeWhere),
       |ent AS (
       |  SELECT src AS node FROM adj
       |  GROUP BY src
       |  ORDER BY count(*) DESC, src
       |  LIMIT $nEntries),
       |${nngBeamCtes(beam, rounds)}""".stripMargin
  }

  /** The NN-Descent build's oracle CTE chain (graft.api.Similarity
    * .nngBuildDescent): hash-ring init at pool width, `buildRounds`
    * symmetrize → neighbor-of-neighbor → re-score → top-pool
    * refinements, then the final top-k lists as `g(src, dst)` and
    * their symmetrization as `adj` — the graph the beam walk serves.
    * Assumes `e`/`n` in scope; all descent CTEs are d-prefixed so the
    * walk CTEs compose without collision. */
  private def nngDescentGraphCtes(k: Int, pool: Int,
      buildRounds: Int): String = {
    val sc = "round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)"
    // AS MATERIALIZED breaks DuckDB's default CTE inlining — each
    // round references the previous one several times, so inlined
    // plans double per round (2^rounds base-table scans blew the fd
    // limit at 11 rounds)
    val roundCte = (r: Int) =>
      s"""dad$r AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM dc${r - 1}
         |    UNION ALL SELECT dst AS src, src AS dst FROM dc${r - 1})),
         |du$r AS (
         |  SELECT DISTINCT x.src, y.dst
         |  FROM dad$r x JOIN dad$r y ON x.dst = y.src
         |  WHERE x.src != y.dst
         |  UNION
         |  SELECT src, dst FROM dc${r - 1}),
         |ds$r AS (
         |  SELECT u.src, u.dst, $sc AS cosine
         |  FROM du$r u JOIN n a ON a.vec_id = u.src
         |              JOIN n b ON b.vec_id = u.dst),
         |dc$r AS MATERIALIZED (
         |  SELECT src, dst, cosine FROM (
         |    SELECT src, dst, cosine, row_number() OVER (
         |      PARTITION BY src ORDER BY cosine DESC, dst) AS rk
         |    FROM ds$r) WHERE rk <= $pool)""".stripMargin
    s"""drk AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY
       |    CAST(concat('0x', substr(md5(
       |      concat('nngd:', CAST(vec_id AS VARCHAR))), 1, 12))
       |      AS BIGINT), vec_id) - 1 AS r
       |  FROM e),
       |dcnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |di AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM drk a, dcnt,
       |    (SELECT CAST(unnest(range(1, ${pool + 1})) AS BIGINT) AS o) oo,
       |    drk b
       |  WHERE b.r = (a.r + oo.o) % dcnt.n),
       |ds0 AS (
       |  SELECT u.src, u.dst, $sc AS cosine
       |  FROM di u JOIN n a ON a.vec_id = u.src
       |            JOIN n b ON b.vec_id = u.dst),
       |dc0 AS MATERIALIZED (
       |  SELECT src, dst, cosine FROM (
       |    SELECT src, dst, cosine, row_number() OVER (
       |      PARTITION BY src ORDER BY cosine DESC, dst) AS rk
       |    FROM ds0) WHERE rk <= $pool),
       |${(1 to buildRounds).map(roundCte).mkString(",\n")},
       |g AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS rk
       |    FROM dc$buildRounds) WHERE rk <= $k),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g
       |    UNION ALL SELECT dst AS src, src AS dst FROM g))""".stripMargin
  }

  /** GRAPH-ANN with a LINEAR-cost BUILD — the same beam-walk serving
    * as sim_topk_nng, but over a graph built by the NN-DESCENT-style
    * refinement (graft.api.Similarity.nngBuildDescent) instead of the
    * exact all-pairs tier: hash-ring init, 10 symmetrize →
    * neighbor-of-neighbor → re-score → keep-top-pool rounds (pool 20 —
    * iterating wider than the emitted k=10 is what converges on
    * weakly-clustered 64-dim data; measured edge recall 0.92 at 2,000
    * vectors), then the top-10 lists serve the identical walk. This
    * is the 100 TB BUILD story the exact tier cannot tell: per-round
    * cost is |nodes|·(2·pool)² keyed rows — n·pool²·log n total vs
    * the exact build's n² (BASELINE.md's IndexBench table) — and the
    * ENTIRE pipeline (ring, every refinement round, the walk) is
    * deterministic, so the oracle replays build AND search end to
    * end. Build rounds are FIXED at 10 here for a stable oracle
    * (⌈log₂ n⌉ at the bench SF; graft.IndexBench sizes adaptively).
    *
    * Scale shape: serving identical to sim_topk_nng (corpus never
    * scanned, visited set corpus-invariant); the build is offline
    * through IndexStore (family nngd_k10p20r10d), each round two keyed
    * self-joins + one scoring join + a per-src window — no stage ever
    * materializes more than |nodes|·(2·pool)² rows. */
  val simTopkNngDescent: GQuery = {
    val (k, pool, buildRounds) = (10, 20, 10)
    val (nEntries, beam, walkRounds, kOut) = (8, 10, 4, 3)
    GQuery("sim_topk_nng_descent",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
         |      FROM e),
         |nb AS (SELECT * FROM n),
         |${nngDescentGraphCtes(k, pool, buildRounds)},
         |p AS (SELECT vec_id AS probe_id, v, nrm FROM n
         |      WHERE vec_id < 50),
         |ent AS (
         |  SELECT src AS node FROM adj
         |  GROUP BY src
         |  ORDER BY count(*) DESC, src
         |  LIMIT $nEntries),
         |${nngBeamCtes(beam, walkRounds)}
         |SELECT probe_id, rk, node AS neighbor_id, cosine FROM (
         |  SELECT probe_id, node, cosine, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |  FROM v$walkRounds WHERE node != probe_id)
         |WHERE rk <= $kOut
         |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val nngPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("nngd_k10p20r10d", dir,
          "embeddings.parquet")) {
        tmp => graft.api.Similarity.nngBuildDescent(ev, "vec_id", "v",
          tmp, k = k, rounds = buildRounds, pool = pool,
          nEntries = nEntries)
      }
      graft.api.Similarity.nngTopK(ev.filter(col("vec_id") < 50),
        "vec_id", "v", nngPath, k = kOut, beam = beam,
        rounds = walkRounds)
        .orderBy(col("probe_id"), col("rk"))
    }
  }

  val simTopkNng: GQuery = {
    val (kNeighbors, nEntries, beam, rounds, k) = (10, 8, 10, 4, 3)
    GQuery("sim_topk_nng",
      s"""WITH ${nngWalkCtes(kNeighbors, nEntries, beam, rounds,
           "TRUE", "vec_id < 50")}
         |SELECT probe_id, rk, node AS neighbor_id, cosine FROM (
         |  SELECT probe_id, node, cosine, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |  FROM v$rounds WHERE node != probe_id)
         |WHERE rk <= $k
         |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val nngPath = ensureNngK10d8(s, dir)
      graft.api.Similarity.nngTopK(ev.filter(col("vec_id") < 50),
        "vec_id", "v", nngPath, k = k, beam = beam, rounds = rounds)
        .orderBy(col("probe_id"), col("rk"))
    }
  }

  /** ANN RECALL EVALUATION for the GRAPH tier — the recall harness
    * ([[simRecallEval]] sign-LSH, [[simRecallIvf]] saved-IVF) pointed
    * at the saved k-NN graph: exact brute-force top-3 ground truth vs
    * the beam walk's answer, per-probe recall@3. With the LSH and IVF
    * rows this completes the PER-TIER ANN DECISION MATRIX — the three
    * numbers (plus each tier's serving cost from the bench) that
    * decide bits vs cells vs graph degree/beam before a 100 TB corpus
    * is indexed. Same nng_k10d8 family, one build, second consumer;
    * the whole evaluation is deterministic, so even the recall table
    * is oracle-replayable (walk CTEs + exact CTE + the hit join).
    *
    * Scale shape: ground truth probe-bounded (one broadcast-probe
    * corpus scan); the walk side never scans the corpus; the recall
    * join is ≤ 2·k rows per probe. */
  val simRecallNng: GQuery = {
    val (kNeighbors, nEntries, beam, rounds) = (10, 8, 10, 4)
    GQuery("sim_recall_nng",
      s"""WITH ${nngWalkCtes(kNeighbors, nEntries, beam, rounds,
           "TRUE", "vec_id < 50")},
         |ex AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(list_dot_product(p.v, c.v)
         |                       / (p.nrm * c.nrm), 6) DESC,
         |                 c.vec_id) AS rk
         |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
         |  WHERE rk <= 3),
         |ann AS (
         |  SELECT probe_id, node AS neighbor_id FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |    FROM v$rounds WHERE node != probe_id)
         |  WHERE rk <= 3),
         |hits AS (
         |  SELECT ex.probe_id, count(*) AS n_hits
         |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
         |                  AND ex.neighbor_id = ann.neighbor_id
         |  GROUP BY ex.probe_id),
         |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
         |        GROUP BY probe_id)
         |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6)
         |    AS recall
         |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
         |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val probes = ev.filter(col("vec_id") < 50)
      val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id",
        "v", k = 3).select(col("probe_id"), col("neighbor_id"))
      val nngPath = ensureNngK10d8(s, dir)
      val ann = graft.api.Similarity.nngTopK(probes, "vec_id", "v",
        nngPath, k = 3, beam = beam, rounds = rounds)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = ann.join(exact, Seq("probe_id", "neighbor_id"),
        "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall"))
        .orderBy(col("probe_id"))
    }
  }

  /** ANN RECALL for the HIERARCHICAL (two-level) NSW serving path —
    * [[graft.api.Similarity.nngTopKHier]] over the flat nng_k10d8
    * graph plus the saved coarse entry layer
    * ([[graft.api.Similarity.nngBuildHierLayer]]: deterministic
    * hash-sampled, SIZE-capped at 256 nodes, its own k = 4 graph in
    * the standard layout): each probe walks the coarse layer first
    * (beam 4, 2 rounds — a few-hundred-node graph, rounding-error
    * cost) and its top-8 coarse hits become its PERSONAL entry points
    * for the base walk at the SAME beam/rounds as [[simRecallNng]] —
    * so the recall delta between the two rows isolates exactly what
    * the entry layer buys (the round-15 VERDICT's remaining ANN
    * refinement). Ground truth, probes, and harness identical to the
    * flat row; the oracle replays layer selection (portable hash,
    * ⌈n/256⌉ modulus), the layer's kNN graph, BOTH walks (prefixed
    * CTE chains), and the recall join. */
  val simRecallNngHier: GQuery = {
    val (kNeighbors, beam, rounds) = (10, 10, 4)
    val (layerCap, kTop, entTop, beamTop, roundsTop, nEntries) =
      (256, 4, 4, 4, 2, 8)
    val hHash = "CAST(concat('0x', substr(md5(concat('nngh:', " +
      "CAST(vec_id AS VARCHAR))), 1, 12)) AS BIGINT)"
    GQuery("sim_recall_nng_hier",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
         |      FROM e),
         |nb AS (SELECT * FROM n),
         |pairs AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
         |      AS cosine
         |  FROM nb a JOIN nb b ON a.vec_id != b.vec_id),
         |g AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, dst) AS rk
         |    FROM pairs) WHERE rk <= $kNeighbors),
         |adj AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM g
         |    UNION ALL SELECT dst AS src, src AS dst FROM g)),
         |p AS (SELECT vec_id AS probe_id, v, nrm FROM n
         |      WHERE vec_id < 50),
         |hmod AS (SELECT GREATEST(1, (count(*) + ${layerCap - 1})
         |  // $layerCap) AS md FROM n),
         |hn AS MATERIALIZED (SELECT n.* FROM n, hmod WHERE $hHash % hmod.md = 0),
         |hpairs AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
         |      AS cosine
         |  FROM hn a JOIN hn b ON a.vec_id != b.vec_id),
         |hg AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY cosine DESC, dst) AS rk
         |    FROM hpairs) WHERE rk <= $kTop),
         |hadj AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM hg
         |    UNION ALL SELECT dst AS src, src AS dst FROM hg)),
         |hent AS (
         |  SELECT src AS node FROM hadj
         |  GROUP BY src
         |  ORDER BY count(*) DESC, src
         |  LIMIT $entTop),
         |${nngBeamCtesGen(beamTop, roundsTop, "h", "hadj", "hn",
             "SELECT p.probe_id, hent.node FROM p CROSS JOIN hent")},
         |pe AS MATERIALIZED (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |    FROM hv$roundsTop WHERE node != probe_id)
         |  WHERE rk <= $nEntries),
         |${nngBeamCtesGen(beam, rounds, "", "adj", "nb",
             "SELECT probe_id, node FROM pe")},
         |ex AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(list_dot_product(p.v, c.v)
         |                       / (p.nrm * c.nrm), 6) DESC,
         |                 c.vec_id) AS rk
         |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
         |  WHERE rk <= 3),
         |ann AS (
         |  SELECT probe_id, node AS neighbor_id FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |    FROM v$rounds WHERE node != probe_id)
         |  WHERE rk <= 3),
         |hits AS (
         |  SELECT ex.probe_id, count(*) AS n_hits
         |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
         |                  AND ex.neighbor_id = ann.neighbor_id
         |  GROUP BY ex.probe_id),
         |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
         |        GROUP BY probe_id)
         |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6)
         |    AS recall
         |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
         |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val probes = ev.filter(col("vec_id") < 50)
      val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id",
        "v", k = 3).select(col("probe_id"), col("neighbor_id"))
      val nngPath = ensureNngK10d8(s, dir)
      val hierPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("nng_hier_c256k4", dir,
          "embeddings.parquet")) {
        tmp => graft.api.Similarity.nngBuildHierLayer(ev, "vec_id",
          "v", tmp, layerCap = layerCap, k = kTop, nEntries = entTop)
      }
      val ann = graft.api.Similarity.nngTopKHier(probes, "vec_id", "v",
        nngPath, hierPath, k = 3, beam = beam, rounds = rounds,
        nEntries = nEntries, beamTop = beamTop, roundsTop = roundsTop)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = ann.join(exact, Seq("probe_id", "neighbor_id"),
        "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall"))
        .orderBy(col("probe_id"))
    }
  }

  /** The diversified graph's oracle CTE chain (graft.api.Similarity
    * .nngBuildDiverse): kCand-deep exact shortlist `dvc`, per-
    * candidate redundancy `dvr` (max rounded-6 cosine to any HIGHER-
    * ranked candidate of the same src), then the padded selection —
    * diverse-first (redundancy strictly under the candidate's own
    * probe cosine, original rank order), pruned padded back in
    * ascending-redundancy order — cut at k as `g`, symmetrized as
    * `adj`, degree entries as `ent`. The CASE keys are copied
    * verbatim from the Spark window. AS MATERIALIZED throughout: the
    * walk CTEs re-reference the graph every round and DuckDB 1.0's
    * inliner would re-evaluate the O(n²) shortlist per reference. */
  private def nngDiverseGraphCtes(kCand: Int, k: Int,
      nEntries: Int): String = {
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e),
       |nb AS (SELECT * FROM n),
       |dvc AS MATERIALIZED (
       |  SELECT src, rk, dst, cosine FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
       |        AS cosine,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY round(list_dot_product(a.v, b.v)
       |                       / (a.nrm * b.nrm), 6) DESC,
       |                 b.vec_id) AS rk
       |    FROM nb a JOIN nb b ON b.vec_id != a.vec_id)
       |  WHERE rk <= $kCand),
       |dvr AS MATERIALIZED (
       |  SELECT c.src, c.rk,
       |    max(round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6))
       |      AS red
       |  FROM dvc c JOIN dvc s ON s.src = c.src AND s.rk < c.rk
       |  JOIN n x ON x.vec_id = c.dst
       |  JOIN n y ON y.vec_id = s.dst
       |  GROUP BY 1, 2),
       |g AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT c.src, c.dst, row_number() OVER (PARTITION BY c.src
       |      ORDER BY
       |        CASE WHEN coalesce(r.red, -2) <= c.cosine
       |              AND coalesce(r.red, -2) < 1.0
       |             THEN 0 ELSE 1 END,
       |        CASE WHEN coalesce(r.red, -2) <= c.cosine
       |              AND coalesce(r.red, -2) < 1.0
       |             THEN CAST(c.rk AS DOUBLE)
       |             ELSE coalesce(r.red, -2) END,
       |        c.rk, c.dst) AS rk2
       |    FROM dvc c LEFT JOIN dvr r ON r.src = c.src AND r.rk = c.rk)
       |  WHERE rk2 <= $k),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g
       |    UNION ALL SELECT dst AS src, src AS dst FROM g)),
       |p AS (SELECT vec_id AS probe_id, v, nrm FROM n
       |      WHERE vec_id < 50),
       |ent AS (
       |  SELECT src AS node FROM adj
       |  GROUP BY src
       |  ORDER BY count(*) DESC, src
       |  LIMIT $nEntries)""".stripMargin
  }

  /** ANN RECALL for the DIVERSIFIED graph tier ([[graft.api
    * .Similarity.nngBuildDiverse]] — the clone-robust build closing
    * the round-16 "clone-robust graph ANN" candidate): same recall
    * harness, probes, ground truth, beam, and walk as
    * [[simRecallNng]], over the graph whose neighbor lists are
    * diversity-selected (HNSW select-neighbors, order-independent
    * relaxation) instead of plain top-k. On the clean fixture the
    * two tiers should score comparably — the row certifies the
    * SELECTION's determinism end to end; the regime that mandates
    * this tier is the clone-dense probe, where plain-graph recall
    * collapses to ≤ 0.04 and the diversified graph reconnects
    * (measured in BASELINE.md). Scale shape: build adds one
    * kCand²-bounded keyed self-join per node; serving identical to
    * sim_topk_nng. */
  val simRecallNngDiverse: GQuery = {
    val (kNeighbors, kCand, nEntries, beam, rounds) = (10, 30, 8, 10, 4)
    GQuery("sim_recall_nng_diverse",
      s"""WITH ${nngDiverseGraphCtes(kCand, kNeighbors, nEntries)},
         |${nngBeamCtes(beam, rounds)},
         |ex AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(list_dot_product(p.v, c.v)
         |                       / (p.nrm * c.nrm), 6) DESC,
         |                 c.vec_id) AS rk
         |    FROM n p JOIN n c ON p.vec_id < 50 AND c.vec_id != p.vec_id)
         |  WHERE rk <= 3),
         |ann AS (
         |  SELECT probe_id, node AS neighbor_id FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |    FROM v$rounds WHERE node != probe_id)
         |  WHERE rk <= 3),
         |hits AS (
         |  SELECT ex.probe_id, count(*) AS n_hits
         |  FROM ex JOIN ann ON ex.probe_id = ann.probe_id
         |                  AND ex.neighbor_id = ann.neighbor_id
         |  GROUP BY ex.probe_id),
         |den AS (SELECT probe_id, count(*) AS n_exact FROM ex
         |        GROUP BY probe_id)
         |SELECT den.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6)
         |    AS recall
         |FROM den LEFT JOIN hits ON den.probe_id = hits.probe_id
         |ORDER BY den.probe_id""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val probes = ev.filter(col("vec_id") < 50)
      val exact = graft.api.Similarity.cosineTopK(ev, probes, "vec_id",
        "v", k = 3).select(col("probe_id"), col("neighbor_id"))
      val nngPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("nngdiv2_k10c30d8", dir,
          "embeddings.parquet")) {
        tmp => graft.api.Similarity.nngBuildDiverse(ev, "vec_id", "v",
          tmp, k = kNeighbors, kCand = kCand, nEntries = nEntries)
      }
      val ann = graft.api.Similarity.nngTopK(probes, "vec_id", "v",
        nngPath, k = 3, beam = beam, rounds = rounds)
        .select(col("probe_id"), col("neighbor_id"))
      val hits = ann.join(exact, Seq("probe_id", "neighbor_id"),
        "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall"))
        .orderBy(col("probe_id"))
    }
  }

  /** FILTERED VECTOR SEARCH — exact top-3 cosine among corpus vectors
    * sharing the probe's LABEL (label-constrained retrieval, the
    * "filtered ANN" mode every production vector store treats as
    * first-class: tenant-scoped, language-scoped, or
    * license-scoped neighbor queries): the predicate IS the blocking,
    * so the probe×corpus pairing becomes a label-keyed EQUI-JOIN —
    * never a corpus broadcast scan — and the filter makes search
    * CHEAPER, not harder (post-filtering an unfiltered ANN shortlist,
    * the naive spelling, loses recall exactly when the filter is
    * selective).
    *
    * Scale shape: one label-keyed shuffle join; a low-cardinality hot
    * label skews it — the mitigations are the
    * sim_pair_threshold_salted block decomposition or a per-label
    * saved sub-index (IVF-within-label), both leaving these semantics
    * unchanged. Cosines round to 6 before ranking (neighbor-id
    * tiebreak). */
  val simTopkFiltered: GQuery = GQuery(
    "sim_topk_filtered",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |        sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, p.label, c.vec_id AS neighbor_id,
      |    round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
      |      AS cosine
      |  FROM n p JOIN n c ON c.label = p.label
      |                   AND c.vec_id != p.vec_id
      |  WHERE p.vec_id < 50)
      |SELECT probe_id, rk, neighbor_id, cosine, label FROM (
      |  SELECT probe_id, label, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, neighbor_id) AS rk
      |  FROM pairs)
      |WHERE rk <= 3
      |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir)
    val p = ev.filter(col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("label"),
        col("v").as("va"), col("nrm").as("na"))
    val c = ev.select(col("vec_id").as("neighbor_id"),
      col("label"), col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    p.join(c, Seq("label"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("probe_id"), col("rk"), col("neighbor_id"),
        col("cosine"), col("label"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** FILTERED ANN served from the saved ATTRIBUTED IVF index — the
    * production RAG shape (metadata filter + vector search) at the
    * index tier: [[simTopkFiltered]] is the exact brute-force form
    * (label-keyed all-pairs); this row serves the same same-label
    * top-3 from a saved index whose cells STORE the label next to
    * the vector bytes (`ivfBuild(attrs = label)`, family ivfl_c8),
    * so the probe joins candidates on (cid, label) — the filter
    * shrinks the candidate fan-out BEFORE ranking (no over-fetch
    * factor, no post-filter re-rank, no side join to a metadata
    * table at serving time). Probes vec_id < 50 carry their own
    * label, mirroring the brute row's semantics so the two rows
    * read side by side as exact-vs-indexed.
    *
    * Scale shape: identical to sim_topk_ivf (literal cid IN-list →
    * PartitionFilters, bounded nProbe collect, broadcast probes) —
    * the attr join key only ever REDUCES fan-out. At 100 TB the
    * metadata travels inside the index partitions it filters. */
  val simTopkIvfFiltered: GQuery = GQuery(
    "sim_topk_ivf_filtered",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |n AS (
       |  SELECT f.vec_id, f.v, f.cid,
       |    sqrt(list_dot_product(f.v, f.v)) AS nrm, lab.label
       |  FROM fin f JOIN lab ON f.vec_id = lab.vec_id),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, p.label, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm, label FROM n WHERE vec_id < 50) p,
       |    cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, label, cid
       |  FROM (
       |    SELECT vec_id, v, nrm, label, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, cosine, label,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM (
       |    SELECT pc.probe_id, n.vec_id AS neighbor_id,
       |      round(list_dot_product(pc.pv, n.v) / (pc.pn * n.nrm), 6)
       |        AS cosine, pc.label
       |    FROM pc JOIN n ON n.cid = pc.cid AND n.label = pc.label
       |                  AND n.vec_id != pc.probe_id))
       |SELECT probe_id, rk, neighbor_id, cosine, label
       |FROM ranked WHERE rk <= 3
       |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir)
    val ivflPath = ensureIvflC8(s, dir)
    graft.api.Similarity.ivfTopKMatching(
        ev.filter(col("vec_id") < 50)
          .select(col("vec_id"), col("label"), col("v")),
        "vec_id", "v", ivflPath, k = 3, nProbe = 3,
        matchCols = Seq("label"))
      .orderBy(col("probe_id"), col("rk"))
  }

  /** RECALL@3 for the FILTERED serving tier — does cell pruning still
    * hold recall when a metadata filter shrinks the candidate pool?
    * Ground truth is the exact same-label top-3 (the sim_topk_filtered
    * kernel at k = 3, probes vec_id < 50); the served answer is
    * [[graft.api.Similarity.ivfTopKMatching]] over the attributed
    * ivfl_c8 index at nProbe = 3. Filtered recall is the number a
    * filtered-RAG deployment must read INSTEAD of plain sim_recall_ivf:
    * a filter thins every cell, so at fixed nProbe the filtered
    * candidate pool is sparser and recall can sit below the unfiltered
    * row — measuring it closes the last unmeasured serving tier.
    *
    * Scale shape: ground truth is probe-bounded (label-keyed scan for
    * 50 probes); the served side reads pruned cid partitions joined on
    * (cid, label); the recall join is ≤ 2·k rows per probe. */
  val simRecallIvfFiltered: GQuery = GQuery(
    "sim_recall_ivf_filtered",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |n AS (
       |  SELECT f.vec_id, f.v, f.cid,
       |    sqrt(list_dot_product(f.v, f.v)) AS nrm, lab.label
       |  FROM fin f JOIN lab ON f.vec_id = lab.vec_id),
       |ex AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY round(list_dot_product(p.v, c.v)
       |                       / (p.nrm * c.nrm), 6) DESC,
       |                 c.vec_id) AS rk
       |    FROM n p JOIN n c ON p.vec_id < 50 AND c.label = p.label
       |                     AND c.vec_id != p.vec_id)
       |  WHERE rk <= 3),
       |pd AS (
       |  SELECT p.vec_id, p.v, p.nrm, p.label, c.cid,
       |    list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.c)
       |      + list_dot_product(c.c, c.c) AS d2
       |  FROM (SELECT vec_id, v, nrm, label FROM n WHERE vec_id < 50) p,
       |    cfin c),
       |pc AS (
       |  SELECT vec_id AS probe_id, v AS pv, nrm AS pn, label, cid
       |  FROM (
       |    SELECT vec_id, v, nrm, label, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM pd)
       |  WHERE rn <= 3),
       |ann AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT pc.probe_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY pc.probe_id
       |        ORDER BY round(list_dot_product(pc.pv, n.v)
       |          / (pc.pn * n.nrm), 6) DESC, n.vec_id) AS rk
       |    FROM pc JOIN n ON n.cid = pc.cid AND n.label = pc.label
       |                  AND n.vec_id != pc.probe_id)
       |  WHERE rk <= 3),
       |$recallTailSql""".stripMargin) { (s, dir) =>
    val ev = vecs(s, dir)
    val probes = ev.filter(col("vec_id") < 50)
    // exact same-label ground truth: the sim_topk_filtered plan at k=3
    val p = probes.select(col("vec_id").as("probe_id"), col("label"),
      col("v").as("va"), col("nrm").as("na"))
    val c = ev.select(col("vec_id").as("neighbor_id"),
      col("label"), col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val exact = p.join(c, Seq("label"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine",
        round(expr(dot) / (col("na") * col("nb")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
    val ivflPath = ensureIvflC8(s, dir)
    val ann = graft.api.Similarity.ivfTopKMatching(
        probes.select(col("vec_id"), col("label"), col("v")),
        "vec_id", "v", ivflPath, k = 3, nProbe = 3,
        matchCols = Seq("label"))
      .select(col("probe_id"), col("neighbor_id"))
    recallReadout(exact, ann)
  }

  /** GRAPH-INDEX INGESTION — the online-maintenance shape of the nng
    * tier, completing the ingest family (dedup_ingest /
    * dedup_containment_ingest / sim_lex_ingest): arriving vectors
    * (vec_id % 5 = 4, the held-out 20%) are INSERTED into a graph
    * built over the base 80% by SEARCHING it — NSW insertion IS the
    * serving walk with k = the graph degree: each arrival's beam
    * search over the base graph yields its 10 link targets, which
    * (with their reverses) become its adjacency rows. The contract
    * row is the link computation itself — order-free because the
    * whole batch links against the BASE graph (bulk insertion), so
    * the oracle replays it with the same walk CTEs over the base
    * slice; the contract index stays pure-base so reruns are
    * idempotent. The MUTATING half (graft.api.Similarity.nngInsert:
    * append links + reverses + node vectors) is spec-pinned on a
    * scratch copy in OperatorPropertySpec — grown-graph adjacency
    * symmetry, arrival degree, and links ≡ this row's output.
    *
    * Scale shape: identical to sim_topk_nng serving — per-arrival
    * cost is constant in corpus size (frontier-keyed adjacency joins,
    * bounded visited set), which is exactly why graph indexes ingest
    * well: no rebuild, no corpus scan, existing adjacency untouched
    * except appends. */
  val simNngIngest: GQuery = {
    val (kNeighbors, nEntries, beam, rounds) = (10, 8, 10, 4)
    GQuery("sim_nng_ingest",
      s"""WITH ${nngWalkCtes(kNeighbors, nEntries, beam, rounds,
           "vec_id % 5 < 4", "vec_id % 5 = 4")}
         |SELECT probe_id, rk, node AS neighbor_id, cosine FROM (
         |  SELECT probe_id, node, cosine, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |  FROM v$rounds WHERE node != probe_id)
         |WHERE rk <= $kNeighbors
         |ORDER BY probe_id, rk""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val base = ev.filter(col("vec_id") % 5 < 4)
      val nngPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("nng_base_k10d8", dir,
          "embeddings.parquet")) {
        tmp => graft.api.Similarity.nngBuild(base, "vec_id", "v", tmp,
          k = kNeighbors, nEntries = nEntries)
      }
      graft.api.Similarity.nngTopK(ev.filter(col("vec_id") % 5 === 4),
        "vec_id", "v", nngPath, k = kNeighbors, beam = beam,
        rounds = rounds)
        .orderBy(col("probe_id"), col("rk"))
    }
  }

  /** k-NN LABEL PREDICTION served from the SAVED k-NN GRAPH — the
    * [[simKnnClassify]] vote pointed at the graph tier instead of the
    * brute-force shortlist (round-12 verdict item 8: the vote is
    * shortlist-agnostic, so at 100 TB the same classifier rides
    * whichever ANN tier the corpus is already indexed under). The
    * labeled corpus (vec_id % 50 != 0) gets its own saved NSW graph
    * (family nng_lab_k10d8 — the graph must exclude the held-out
    * probes, unlike sim_topk_nng's full-corpus graph); each probe
    * beam-walks it for a top-5 shortlist and the majority vote (ties
    * to the smallest label) predicts. Predictions differ from the
    * exact classifier only where the walk's recall misses a true
    * neighbor — the oracle replays graph build + walk + vote
    * end-to-end, so even those misses are deterministic and
    * hash-checked.
    *
    * Scale shape: serving identical to sim_topk_nng (corpus never
    * scanned, visited set corpus-invariant); the vote is a
    * probes×5-row aggregate + per-probe window. */
  val simKnnClassifyNng: GQuery = {
    val (kNeighbors, nEntries, beam, rounds, kVote) = (10, 8, 10, 4, 5)
    GQuery("sim_knn_classify_nng",
      s"""WITH ${nngWalkCtes(kNeighbors, nEntries, beam, rounds,
           "vec_id % 50 != 0", "vec_id % 50 = 0")},
         |topk AS (
         |  SELECT probe_id, node FROM (
         |    SELECT probe_id, node, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY cosine DESC, node) AS rk
         |    FROM v$rounds)
         |  WHERE rk <= $kVote),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |votes AS (
         |  SELECT t.probe_id, l.label AS nlabel,
         |    CAST(count(*) AS BIGINT) AS votes
         |  FROM topk t JOIN lab l ON t.node = l.vec_id
         |  GROUP BY 1, 2),
         |win AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY votes DESC, nlabel) AS vr
         |  FROM votes)
         |SELECT w.probe_id, CAST(p.label AS INT) AS true_label,
         |  CAST(w.nlabel AS INT) AS pred_label, w.votes,
         |  p.label = w.nlabel AS correct
         |FROM win w JOIN lab p ON w.probe_id = p.vec_id
         |WHERE w.vr = 1
         |ORDER BY w.probe_id""".stripMargin) { (s, dir) =>
      val e = vecs(s, dir)
      val corpus = e.filter(col("vec_id") % 50 =!= 0)
        .select(col("vec_id"), col("v"))
      val probes = e.filter(col("vec_id") % 50 === 0)
      val nngPath = graft.IndexStore.ensure(
        graft.IndexStore.stampedPath("nng_lab_k10d8", dir,
          "embeddings.parquet")) {
        tmp => graft.api.Similarity.nngBuild(corpus, "vec_id", "v",
          tmp, k = kNeighbors, nEntries = nEntries)
      }
      val topk = graft.api.Similarity.nngTopK(
        probes.select(col("vec_id"), col("v")), "vec_id", "v",
        nngPath, k = kVote, beam = beam, rounds = rounds)
      val labeled = topk.join(
        e.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlabel")), Seq("neighbor_id"))
      val win = labeled.groupBy(col("probe_id"), col("nlabel"))
        .agg(count(lit(1)).cast("bigint").as("votes"))
        .withColumn("vr", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(col("votes").desc, col("nlabel"))))
        .filter(col("vr") === 1)
      win.join(probes.select(col("vec_id").as("probe_id"),
          col("label").as("tl")), Seq("probe_id"))
        .select(col("probe_id"), col("tl").cast("int").as("true_label"),
          col("nlabel").cast("int").as("pred_label"), col("votes"),
          (col("tl") === col("nlabel")).as("correct"))
        .orderBy(col("probe_id"))
    }
  }

  /** GREEDY k-CENTER CORESET SELECTION (Gonzalez 1985 farthest-point
    * traversal, the coreset/diversity-selection step of a
    * data-efficient training run — pick k maximally-spread exemplars
    * instead of a random sample): start from the smallest vec_id,
    * then k−1 times add the vector FARTHEST from its nearest chosen
    * center (cosine distance 1 − cos, cosines rounded 6 as everywhere
    * in this family; farthest = smallest max-cosine, vec_id
    * tiebreak). Every step is deterministic, so the oracle unrolls
    * the whole traversal — the selected coreset is hash-checked, not
    * just plausible.
    *
    * Scale shape: per round ONE corpus scan against a ≤k-row
    * broadcast center set (corpus × k codegen'd dot products,
    * map-side max per vec) + a TakeOrdered(1); k bounded 1-row
    * collects (the ivf nProbe discipline) carry the chosen ids
    * between rounds. Total k scans — linear in the corpus, never
    * pairwise. */
  /** The unrolled Gonzalez k-center traversal as a reusable CTE
    * chain: emits `n` (vec_id, v, nrm), the seed `c0`, per-round
    * winners `c1..c{k−1}` (cid, m = max cosine to priors) and the
    * growing center sets `cents1..cents{k}` — both kcenter rows
    * (the selection and the saved-center assignment) append their
    * own tails. */
  private def kcenterCtes(k: Int): String = {
    val sc = "round(list_dot_product(x.v, c.v) / (x.nrm * c.nrm), 6)"
    val roundCte = (t: Int) =>
      s"""cand$t AS (
         |  SELECT x.vec_id, max($sc) AS m
         |  FROM n x JOIN n c ON c.vec_id IN (SELECT cid FROM cents$t)
         |  WHERE x.vec_id NOT IN (SELECT cid FROM cents$t)
         |  GROUP BY x.vec_id),
         |c$t AS (SELECT vec_id AS cid, m FROM cand$t
         |        ORDER BY m ASC, vec_id LIMIT 1),
         |cents${t + 1} AS (
         |  SELECT cid FROM cents$t UNION ALL SELECT cid FROM c$t)"""
        .stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |      FROM e),
       |c0 AS (SELECT min(vec_id) AS cid FROM n),
       |cents1 AS (SELECT cid FROM c0),
       |${(1 until k).map(roundCte).mkString(",\n")}""".stripMargin
  }

  val sampleKcenter: GQuery = {
    val k = 4
    GQuery("sample_kcenter",
      s"""WITH ${kcenterCtes(k)}
         |SELECT * FROM (
         |  SELECT 0 AS rank, cid AS vec_id, CAST(NULL AS DOUBLE) AS dist
         |  FROM c0
         |  ${(1 until k).map(t =>
             s"UNION ALL SELECT $t, cid, 1 - m FROM c$t").mkString("\n  ")})
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      // the traversal lives in the API (round 14: the saved-center
      // assignment tier shares it) — (rank, vec_id,
      // dist-to-nearest-prior), k−1 bounded 1-row collects
      import s.implicits._
      graft.api.Similarity.kcenterSelect(
          vecs(s, dir).select(col("vec_id"), col("v")),
          "vec_id", "v", k)
        .toDF("rank", "vec_id", "dist")
    }
  }

  /** k-center COVERAGE — the consumption half of `sample_kcenter`
    * (the coreset is useless until arrivals are ASSIGNED to
    * exemplars): the Gonzalez centers are persisted once
    * (`Similarity.kcenterIndexBuild`, a ≤k-row saved frame under
    * IndexStore), every corpus vector joins the broadcast center set
    * and keeps its nearest (max rounded-6 cosine, smallest-cid tie),
    * and the report is per-center coverage: (rank, cid, n_assigned,
    * radius = max 1−cos). The radius row is the 2-approximation
    * readout — how far the worst-covered vector sits from its
    * exemplar. Oracle replays the full traversal (the shared
    * `kcenterCtes` chain) plus the assignment argmax.
    *
    * Scale shape: ONE corpus scan against a ≤k-row broadcast (the
    * selection's own per-round plan, run once more), per-key argmax,
    * k-row rollup; SampleStreams.assignAgainstSavedCenters serves the
    * identical assignment statelessly on a stream (spec-pinned). */
  val sampleKcenterAssign: GQuery = {
    val k = 4
    GQuery("sample_kcenter_assign",
      s"""WITH ${kcenterCtes(k)},
         |cr AS (SELECT 0 AS rank, cid FROM c0
         |${(1 until k).map(t =>
             s"       UNION ALL SELECT $t, cid FROM c$t").mkString("\n")}),
         |asn AS (
         |  SELECT vec_id, rank, cid, cos FROM (
         |    SELECT vec_id, rank, cid, cos,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid) AS rn
         |    FROM (SELECT x.vec_id, cc.rank, cc.cid,
         |            round(list_dot_product(x.v, cc.v)
         |                  / (x.nrm * cc.nrm), 6) AS cos
         |          FROM n x CROSS JOIN
         |            (SELECT r.rank, r.cid, c.v, c.nrm
         |             FROM cr r JOIN n c ON c.vec_id = r.cid) cc))
         |  WHERE rn = 1)
         |SELECT CAST(rank AS INT) AS rank, cid,
         |  CAST(count(*) AS BIGINT) AS n_assigned,
         |  max(round(1 - cos, 6)) AS radius
         |FROM asn GROUP BY rank, cid
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      val ev = vecs(s, dir).select(col("vec_id"), col("v"))
      val path = ensureKcenterC4(s, dir)
      graft.streaming.SampleStreams.assignAgainstSavedCenters(
          ev, path, "vec_id", "v")
        .groupBy(col("rank"), col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n_assigned"),
          max(col("dist")).as("radius"))
        .orderBy(col("rank"))
    }
  }

  val all: Seq[GQuery] =
    Seq(simTopkNng, simNngIngest, simRecallNng, simRecallNngHier,
      simRecallNngDiverse,
      simTopkNngDescent,
      simKnnClassifyNng, sampleKcenter, sampleKcenterAssign,
      simIvfCellStats, simIvfRebuild, simRecallIvfPq,
      simTopkFiltered, simTopkHamming, simCosineTopk,
      simPairThreshold, simPairThresholdSalted,
      simTopkLsh, simTopkIvf, simTopkIvfPq, simTopkSq8, dedupSemantic,
      dedupSemanticIndexed, dedupSemanticStats, simTopkMmr, simRangeIvf,
      embedDimStats,
      simKnnClassify, embedStandardize, simRecallEval, simCentroidDrift,
      simHybridSearch, simHybridIndexed, simHybridIvf, simLexIngest,
      simKnnGraph, embedPcaPower, simMatryoshkaTopk, embedSq8Error,
      simBm25Topk, simRecallIvf, embedPqError, simBm25Indexed,
      embedQuantileClip, embedOutlierKnn, embedIsotropy,
      simRecallSq8, simRecallHamming, simRecallMatryoshka,
      simNprobeSweep, simTopkIvfFiltered, simRecallIvfFiltered)
}
