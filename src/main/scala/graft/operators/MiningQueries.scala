package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GQuery, PlanCache}
import graft.sources.Tables

/** Data-mining staples of the big-data-coursework genre (SURVEY.md
  * §2.11 extras): market-basket co-occurrence and k-means clustering.
  *
  * Both are plain DataFrame plans so Catalyst owns the physical
  * strategy; k-means unrolls a FIXED number of Lloyd rounds
  * (deterministic hash-free init: the k smallest vec_ids), keeping
  * the whole computation declarative.
  */
object MiningQueries {

  /** Market-basket: top-3 co-purchased part brands per brand by
    * basket count (self-join of distinct (order, brand) pairs — the
    * classic co-occurrence shape; the per-order fan-out is bounded by
    * lines-per-order, so the join is near-linear). */
  /** distinct (order, brand) pairs — the shared base of the
    * co-purchase and graph families, saved once per corpus generation
    * (the graph_edges artifact discipline, GraphQueries.savedEdges)
    * and memoized per (session, dir). */
  private[operators] def orderBrands(s: SparkSession, dir: String): DataFrame =
    GraphQueries.savedEdges(s, dir, "order_brands", "lineitem.parquet") {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey"))
        .join(Tables.part(s, dir)
          .select(col("p_partkey").as("l_partkey"),
            col("p_brand").as("brand")), Seq("l_partkey"))
        .select(col("okey"), col("brand")).distinct()
    }

  val miningCopurchase: GQuery = GQuery(
    "mining_copurchase",
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |co AS (
      |  SELECT a.brand AS brand, b.brand AS other,
      |    count(*) AS n_baskets
      |  FROM ob a JOIN ob b
      |    ON a.okey = b.okey AND a.brand <> b.brand
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT brand, other, n_baskets,
      |    row_number() OVER (PARTITION BY brand
      |      ORDER BY n_baskets DESC, other) AS rk
      |  FROM co)
      |SELECT brand, rk, other, CAST(n_baskets AS BIGINT) AS n_baskets
      |FROM ranked WHERE rk <= 3
      |ORDER BY brand, rk""".stripMargin) { (s, dir) =>
    val ob = orderBrands(s, dir)
    val co = ob.select(col("okey"), col("brand"))
      .join(ob.select(col("okey"), col("brand").as("other")), Seq("okey"))
      .filter(col("brand") =!= col("other"))
      .groupBy(col("brand"), col("other"))
      .agg(count(lit(1)).as("n_baskets"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(col("n_baskets").desc, col("other"))
    co.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("brand"), col("rk"), col("other"),
        col("n_baskets").cast("bigint").as("n_baskets"))
      .orderBy(col("brand"), col("rk"))
  }

  // the k-means kernels moved to the public graft.api.VecKMeans
  // (column contract (vec_id, v) / (cid, c)); these forwarders keep
  // the operator-local names
  private[operators] def assign(e: DataFrame, centers: DataFrame): DataFrame =
    graft.api.VecKMeans.assign(e, centers)

  /** The DuckDB replay of [[graft.api.VecKMeans.train]] + final
    * assignment, unrolled round by round exactly as `graph_pagerank`
    * unrolls power iteration (GraphQueries.scala): seeds are the k
    * smallest vec_ids (cid = rank − 1), each round argmin-assigns on
    * (d2, cid) and recomputes per-dimension means rounded to 8 places
    * — the SAME rounding VecKMeans.train applies, so the two
    * engines' centers are identical despite order-dependent double
    * summation. Ends with `cfin AS (cid, c)` — a STABLE alias for the
    * final centers (callers must reference `cfin`, never `c$rounds`,
    * so changing the rounds argument can't silently leave a caller
    * scoring against intermediate centers) — and
    * `fin AS (vec_id, v, cid, d2)`: the final assignment against
    * those centers, ready for a caller-appended SELECT (kmeans sizes,
    * within-cell pairs, probe-cell ranking). */
  private[operators] def kmeansOracleCte(k: Int, rounds: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${kmeansCtes(k, rounds, "e", "")}""".stripMargin

  /** The same unrolled-Lloyd CTE chain over an ARBITRARY corpus CTE
    * `src` (vec_id, v), with every CTE name prefixed by `p` so two
    * independent trainings can live in one WITH clause (the
    * sim_ivf_rebuild oracle trains the pre-drift quantizer on the
    * base corpus AND the rebuilt quantizer on base ∪ arrivals).
    * Emits `${p}cfin` (final centers) and `${p}fin` (final
    * assignment); the default (src = "e", p = "") reproduces exactly
    * what [[kmeansOracleCte]] always produced (the corpus CTE is
    * aliased `e` inside, so the chain's inner references are
    * unchanged). */
  private[operators] def kmeansCtes(k: Int, rounds: Int, src: String,
      p: String): String = {
    val duckRound = (t: Int) =>
      s"""${p}a$t AS (
         |  SELECT vec_id, v, cid, d2 FROM (
         |    SELECT vec_id, v, cid, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM (SELECT e.vec_id, e.v, c.cid,
         |            list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
         |              + list_dot_product(c.c, c.c) AS d2
         |          FROM $src e, ${p}c${t - 1} c))
         |  WHERE rn = 1),
         |${p}c$t AS (
         |  SELECT cid, list(m ORDER BY pos) AS c FROM (
         |    SELECT cid, pos, round(avg(x), 8) AS m
         |    FROM (SELECT cid, unnest(v) AS x,
         |            unnest(range(1, len(v) + 1)) AS pos FROM ${p}a$t)
         |    GROUP BY cid, pos)
         |  GROUP BY cid)""".stripMargin
    s"""${p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $k)),
       |${(1 to rounds).map(duckRound).mkString(",\n")},
       |${p}cfin AS (SELECT cid, c FROM ${p}c$rounds),
       |${p}fin AS (
       |  SELECT vec_id, v, cid, d2 FROM (
       |    SELECT vec_id, v, cid, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM (SELECT e.vec_id, e.v, c.cid,
       |            list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.c)
       |              + list_dot_product(c.c, c.c) AS d2
       |          FROM $src e, ${p}cfin c))
       |  WHERE rn = 1)""".stripMargin
  }

  /** k-means over the embeddings: k = 4 centers seeded from the 4
    * smallest vec_ids, 3 unrolled Lloyd rounds, squared-euclidean
    * assignment with center-id tiebreak. Emits per-cluster sizes.
    * Oracle-backed by [[kmeansOracleCte]] (per-round 8-place center
    * rounding on both engines makes the trained quantizer a
    * deterministic, SQL-replayable relation); MiningSpec additionally
    * property-tests the invariants (sizes partition the corpus,
    * assignments are nearest-center, inertia non-increasing).
    *
    * Scale shape: each round = one scan of the (cached) corpus
    * against the driver-held k-center literal + one map-side-combining
    * aggregate whose k×dims rows return to the driver; the final
    * assignment is a projection plus the per-cell aggregate. Nothing
    * quadratic, no window, no broadcast. */
  val miningKmeans: GQuery = {
    val k = 4
    val rounds = 3
    val sparkImpl = (s: SparkSession, dir: String) => {
      val e = PlanCache.memo(s, dir, "kmeans_vecs") {
        SimQueries.vecs(s, dir).select(col("vec_id"), col("v"))
      }
      val centers = trainCenters(e, k, rounds)
      // per-row d2 rounding BEFORE the sum (the per-round center
      // rounding discipline applied to the aggregate): each rounded
      // d2 is a multiple of 1e-6 in exact arithmetic, so the sum's
      // order-dependent ULP drift (~1e-10 at this scale) can never
      // reach the final round's 0.5e-6 decision boundary — the
      // unrounded form was data-dependently flaky whenever sum(d2)
      // landed near a boundary.
      assign(e, centers)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          (round(sum(round(col("d2"), 6)) * 1e6) / 1e6).as("inertia"))
        .orderBy(col("cid"))
    }
    GQuery("mining_kmeans",
      s"""${kmeansOracleCte(k, rounds)}
         |SELECT CAST(cid AS INT) AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  round(sum(round(d2, 6)) * 1e6) / 1e6 AS inertia
         |FROM fin GROUP BY cid ORDER BY cid""".stripMargin)(sparkImpl)
  }

  private[operators] def assignTopN(
      e: DataFrame, centers: DataFrame, n: Int): DataFrame =
    graft.api.VecKMeans.assignTopN(e, centers, n)

  private[operators] def trainCenters(
      e: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.api.VecKMeans.train(e, k, rounds)

  /** Association rules A → B over the co-purchase baskets (the
    * Agrawal/Srikant market-basket formulation): support = n(A,B)/N,
    * confidence = n(A,B)/n(A), lift = confidence / (n(B)/N), kept at
    * confidence ≥ 1/10 (filtered integer-exactly as n(A,B)·10 ≥ n(A)
    * so no rounding boundary can disagree cross-engine). Reuses the
    * memoized (order, brand) frame; per-brand basket counts attach as
    * unhinted joins (brand-cardinality — AQE promotes), the 1-row
    * basket total is the only broadcast. */
  val miningAssocRules: GQuery = GQuery(
    "mining_assoc_rules",
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_total FROM ob),
      |nb AS (SELECT brand, count(*) AS n_b FROM ob GROUP BY brand),
      |co AS (
      |  SELECT a.brand AS antecedent, b.brand AS consequent,
      |    count(*) AS n_ab
      |  FROM ob a JOIN ob b
      |    ON a.okey = b.okey AND a.brand <> b.brand
      |  GROUP BY 1, 2)
      |SELECT co.antecedent, co.consequent,
      |  round(CAST(co.n_ab AS DOUBLE) / n.n_total, 6) AS support,
      |  round(CAST(co.n_ab AS DOUBLE) / na.n_b, 6) AS confidence,
      |  round(CAST(co.n_ab AS DOUBLE) * n.n_total
      |    / (CAST(na.n_b AS DOUBLE) * nc.n_b), 6) AS lift
      |FROM co
      |JOIN nb na ON co.antecedent = na.brand
      |JOIN nb nc ON co.consequent = nc.brand
      |CROSS JOIN n
      |WHERE co.n_ab * 10 >= na.n_b
      |ORDER BY co.antecedent, co.consequent""".stripMargin) { (s, dir) =>
    val ob = orderBrands(s, dir)
    val nTotal = ob.select(col("okey")).distinct()
      .agg(count(lit(1)).as("n_total"))
    val nb = ob.groupBy(col("brand")).agg(count(lit(1)).as("n_b"))
    val co = ob.select(col("okey"), col("brand").as("antecedent"))
      .join(ob.select(col("okey"), col("brand").as("consequent")),
        Seq("okey"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_ab"))
    co.join(nb.select(col("brand").as("antecedent"),
        col("n_b").as("n_a")), Seq("antecedent"))
      .join(nb.select(col("brand").as("consequent"),
        col("n_b").as("n_c")), Seq("consequent"))
      .crossJoin(broadcast(nTotal))
      .filter(col("n_ab") * 10 >= col("n_a"))
      .select(col("antecedent"), col("consequent"),
        round(col("n_ab").cast("double") / col("n_total"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6)
          .as("confidence"),
        round(col("n_ab").cast("double") * col("n_total")
          / (col("n_a").cast("double") * col("n_c")), 6).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** FREQUENT 3-ITEMSETS — the Apriori step above mining_copurchase's
    * pairs: brand triples co-bought in ≥ 15 baskets, via the ordered
    * a<b<c three-way self-join of the distinct (order, brand) frame
    * (each triple counted exactly once, the graph_triangles
    * discipline applied to baskets). Top-20 by support with a full
    * lexicographic tiebreak.
    *
    * Scale shape: joins key on the basket id, so per-basket fan-out
    * is C(brands-in-basket, 3) — bounded by basket width, never by
    * corpus size; the support count combines map-side. The real
    * Apriori prune (only extend frequent pairs) is what the api
    * would add at 100 TB; at any scale the join stays basket-keyed
    * and output-bounded. */
  val miningItemset3: GQuery = GQuery(
    "mining_itemset3",
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |tri AS (
      |  SELECT a.brand AS b1, b.brand AS b2, c.brand AS b3,
      |    count(*) AS support
      |  FROM ob a
      |  JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |  JOIN ob c ON b.okey = c.okey AND b.brand < c.brand
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) >= 15)
      |SELECT b1, b2, b3, CAST(support AS BIGINT) AS support
      |FROM tri
      |ORDER BY support DESC, b1, b2, b3
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val ob = orderBrands(s, dir)
    val a = ob.select(col("okey"), col("brand").as("b1"))
    val b = ob.select(col("okey"), col("brand").as("b2"))
    val c = ob.select(col("okey"), col("brand").as("b3"))
    a.join(b, Seq("okey")).filter(col("b1") < col("b2"))
      .join(c, Seq("okey")).filter(col("b2") < col("b3"))
      .groupBy(col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 15)
      .select(col("b1"), col("b2"), col("b3"),
        col("support").cast("bigint").as("support"))
      .orderBy(col("support").desc, col("b1"), col("b2"), col("b3"))
      .limit(20)
  }

  /** ORDERED SEQUENCE MINING (PrefixSpan's length-2 tier) — the
    * mining family's baskets (copurchase, itemset3, assoc_rules) are
    * UNORDERED; this mines directional patterns "a happens before b
    * in a session" with support and the directionality ratio
    * P(a→b) / (P(a→b)+P(b→a)) — the signal that distinguishes
    * view→purchase from purchase→view. A session = (user, day); a
    * session supports a→b iff its FIRST a precedes its FIRST b (the
    * standard first-occurrence semantics, which keeps per-session
    * state at one timestamp per event type — never the full
    * sequence).
    *
    * Scale shape: one map-side-combining (session, type)→min(ts)
    * aggregate, a per-session self-join bounded by |types|² = 25
    * pairs per session (type count, not event count), one pattern
    * rollup; the session-total scalar is a 1-row broadcast. */
  val miningSeqPatterns: GQuery = GQuery(
    "mining_seq_patterns",
    """WITH s AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    min(ts) AS first_ts
      |  FROM events GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(count(DISTINCT (user_id, day)) AS BIGINT)
      |          AS n_sessions FROM s),
      |p AS (
      |  SELECT a.event_type AS ante, b.event_type AS post,
      |    CAST(count(*) AS BIGINT) AS n_support
      |  FROM s a JOIN s b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |    AND a.event_type <> b.event_type
      |    AND a.first_ts < b.first_ts
      |  GROUP BY 1, 2)
      |SELECT p.ante, p.post, p.n_support,
      |  round(CAST(p.n_support AS DOUBLE) / t.n_sessions, 6)
      |    AS support,
      |  round(CAST(p.n_support AS DOUBLE)
      |        / (p.n_support + coalesce(r.n_support, 0)), 6)
      |    AS direction_ratio
      |FROM p LEFT JOIN p r ON r.ante = p.post AND r.post = p.ante
      |CROSS JOIN tot t
      |ORDER BY p.ante, p.post""".stripMargin) { (s, dir) =>
    val firsts = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(min(col("ts")).as("first_ts"))
    val b = firsts.select(col("user_id").as("u2"), col("day").as("d2"),
      col("event_type").as("post"), col("first_ts").as("ts2"))
    val p = firsts.join(b,
        col("user_id") === col("u2") && col("day") === col("d2")
          && col("event_type") =!= col("post")
          && col("first_ts") < col("ts2"))
      .groupBy(col("event_type").as("ante"), col("post"))
      .agg(count(lit(1)).cast("bigint").as("n_support"))
    val tot = firsts.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).cast("bigint").as("n_sessions"))
    val r = p.select(col("ante").as("r_post"), col("post").as("r_ante"),
      col("n_support").as("n_rev"))
    p.join(r, col("ante") === col("r_ante") && col("post") === col("r_post"),
        "left")
      .crossJoin(broadcast(tot))
      .select(col("ante"), col("post"), col("n_support"),
        round(col("n_support").cast("double") / col("n_sessions"), 6)
          .as("support"),
        round(col("n_support").cast("double")
          / (col("n_support") + coalesce(col("n_rev"), lit(0L))), 6)
          .as("direction_ratio"))
      .orderBy(col("ante"), col("post"))
  }

  /** ITEM-ITEM COLLABORATIVE FILTERING — the normalized cousin of
    * `mining_copurchase`: interactions are CUSTOMER-grain (a customer
    * "interacted with" a brand if any of their orders contains it —
    * the binary user×item matrix of classic item-CF), and neighbors
    * rank by COSINE co/√(n_a·n_b), not raw co-counts, so a
    * universally popular brand no longer tops every list. Counts are
    * exact integers; the only double is the final cosine, rounded to
    * the 6-place grid with (cosine DESC, other) tiebreak. Top-3
    * recommendations per brand, support floor co ≥ 2.
    *
    * Scale shape: the interaction matrix is one distinct shuffle on
    * (custkey, brand); pairs meet keyed on custkey with per-customer
    * fan-out bounded by their brand degree (the copurchase shape);
    * the 25-row brand-popularity frame joins broadcast under AQE —
    * no corpus² stage anywhere. */
  val miningItemCf: GQuery = GQuery(
    "mining_item_cf",
    """WITH cb AS (
      |  SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
      |  FROM orders o
      |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT brand, CAST(count(*) AS BIGINT) AS nu FROM cb
      |      GROUP BY 1),
      |co AS (
      |  SELECT a.brand AS brand, b.brand AS other,
      |    CAST(count(*) AS BIGINT) AS co
      |  FROM cb a JOIN cb b
      |    ON a.ck = b.ck AND a.brand <> b.brand
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT co.brand, co.other, co.co,
      |    round(CAST(co.co AS DOUBLE)
      |      / sqrt(CAST(na.nu AS DOUBLE) * CAST(nb.nu AS DOUBLE)), 6)
      |      AS cosine
      |  FROM co JOIN n na ON co.brand = na.brand
      |  JOIN n nb ON co.other = nb.brand
      |  WHERE co.co >= 2),
      |ranked AS (
      |  SELECT brand, other, co, cosine,
      |    row_number() OVER (PARTITION BY brand
      |      ORDER BY cosine DESC, other) AS rk
      |  FROM sc)
      |SELECT brand, rk, other, co, cosine
      |FROM ranked WHERE rk <= 3
      |ORDER BY brand, rk""".stripMargin) { (s, dir) =>
    // ONE wide exchange builds the interaction matrix: both dims
    // (25-brand part projection, 2-col orders) broadcast onto the
    // lineitem scan — at 100 TB orders stops fitting a broadcast and
    // AQE falls back to a shuffle join, still one pass — and the
    // single distinct dedups map-side before its (ck, brand) shuffle
    // (measured vs the two-distinct and basket-explode spellings:
    // 1.10 s vs 1.67 / 4.6 warm at sf0.1)
    val cb = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"),
          col("p_brand").as("brand")), Seq("l_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey").as("ck")),
        Seq("o_orderkey"))
      .select(col("ck"), col("brand"))
      // partition by ck BEFORE the distinct: hashpartitioning(ck)
      // satisfies the (ck, brand) aggregate's clustering AND both
      // sides of the ck-keyed pair self-join below, so the matrix is
      // shuffled once instead of once for the distinct plus once per
      // join side (guide §2.4 — r17 opt). Partition count PINNED to
      // the session's shuffle parallelism (r18): the self-join's
      // fan-out is quadratic in basket width while the exchange's
      // input bytes are small, so AQE's byte-based coalescing would
      // serialize the pair blow-up onto a few slots (the multimodal
      // phash pin discipline). Skew note: ck is basket-bounded
      // (uniform TPC-H custkeys; measured histogram in
      // OPTIMIZATION_r18.md) — a hot customer at corpus scale salts
      // exactly like join_skew_salted.
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("ck")).distinct()
    val n = cb.groupBy(col("brand"))
      .agg(count(lit(1)).cast("bigint").as("nu"))
    val co = cb.join(cb.select(col("ck"), col("brand").as("other")),
        Seq("ck"))
      .filter(col("brand") =!= col("other"))
      .groupBy(col("brand"), col("other"))
      .agg(count(lit(1)).cast("bigint").as("co"))
    val sc = co
      .join(n.select(col("brand"), col("nu").as("na")), Seq("brand"))
      .join(n.select(col("brand").as("other"), col("nu").as("nb")),
        Seq("other"))
      .filter(col("co") >= 2)
      .select(col("brand"), col("other"), col("co"),
        round(col("co").cast("double")
          / sqrt(col("na").cast("double") * col("nb").cast("double")),
          6).as("cosine"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(col("cosine").desc, col("other"))
    sc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("brand"), col("rk"), col("other"), col("co"),
        col("cosine"))
      .orderBy(col("brand"), col("rk"))
  }

  val all: Seq[GQuery] = Seq(miningCopurchase, miningAssocRules,
    miningKmeans, miningItemset3, miningSeqPatterns, miningItemCf)
}
