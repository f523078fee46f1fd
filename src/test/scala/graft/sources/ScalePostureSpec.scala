package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Demonstrations of the 100 TB-scale mechanics on small data
  * (SURVEY.md §7 M5): source/sink roundtrips, partitioned layouts with
  * partition pruning, and skew-salting that preserves results.
  */
class ScalePostureSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("csv and json sinks roundtrip the lineitem sample losslessly") {
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
    val csvDir = tmp("graft_csv")
    val jsonDir = tmp("graft_json")
    li.write.mode("overwrite").option("header", "true").csv(csvDir)
    li.write.mode("overwrite").json(jsonDir)
    val csvBack = spark.read.option("header", "true")
      .schema(li.schema).csv(csvDir)
    val jsonBack = spark.read.schema(li.schema).json(jsonDir)
    assert(csvBack.count() == li.count())
    assert(jsonBack.count() == li.count())
    assert(csvBack.except(li).count() == 0 && li.except(csvBack).count() == 0)
    assert(jsonBack.except(li).count() == 0 && li.except(jsonBack).count() == 0)
  }

  test("predicate and projection push down into the parquet scan") {
    // a filter+project must reach the scan as PushedFilters +
    // a pruned ReadSchema — scanning all columns (or all rows) for a
    // 2-column filtered projection is wrong at any scale
    val df = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" > 45.0)
      .select($"l_orderkey", $"l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,45.0)]"), s"filter not pushed:\n$plan")
    val schema = "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"
    assert(plan.contains(schema), s"projection not pruned:\n$plan")
  }

  test("partitioned parquet layout prunes partitions in the scan") {
    val dir = tmp("graft_part")
    Tables.orders(spark, sfDir)
      .withColumn("order_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("order_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter($"order_year" === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must be applied at planning (pruned directories),
    // not as a post-scan row filter
    assert(plan.contains("PartitionFilters") &&
      plan.contains("order_year"), s"no partition pruning in:\n$plan")
    val expected = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === 1997).count()
    assert(pruned.count() == expected)
  }

  test("salted aggregation equals direct aggregation (skew pattern)") {
    // two-phase: salt the (potentially skewed) group key, partial-agg
    // on (key, salt), then final-agg on key. Result must be identical.
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("s"))
    val salted = ev
      .withColumn("salt", pmod(hash($"event_id"), lit(8)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"), sum($"value").as("ps"))
      .groupBy($"event_type")
      .agg(sum($"pn").as("n"), round(sum($"ps"), 2).as("s"))
    assert(direct.except(salted).count() == 0
      && salted.except(direct).count() == 0)
  }

  // ---- hot-label pair join: block-pair decomposition ----
  // One-hot synthetic corpora — 90% of vectors share label 0, the
  // 100 TB pathology for a label-blocked pair join (one language /
  // one source dominating): the PLAIN equi-join on label sends all
  // hot rows to a single shuffle key; Similarity.labelPairs spreads
  // them over blocks·(blocks+1)/2 (label, lo, hi) keys. Three id
  // spaces are exercised because the blocking key is derived from the
  // id: sequential longs, STRIDED longs (ids ≡ 0 mod 64 — the sharded
  // layout where raw pmod(id, blocks) collapses every row into ONE
  // block), and STRING ids (which raw pmod rejects at analysis).

  /** Reference result: the plain (skew-prone) label self-join. */
  private def plainLabelPairs(e: org.apache.spark.sql.DataFrame) = {
    val w = e.withColumn("nrm", expr("vec_norm(v)"))
    val a = w.select($"label", $"vid".as("v1"), $"v".as("va"),
      $"nrm".as("na"))
    val b = w.select($"label", $"vid".as("v2"), $"v".as("vb"),
      $"nrm".as("nb"))
    a.join(b, Seq("label")).filter($"v1" < $"v2")
      .withColumn("cosine",
        round(expr("vec_dot(va, vb)") / ($"na" * $"nb"), 6))
      .filter($"cosine" >= 0.99)
      .select($"label", $"v1", $"v2", $"cosine")
  }

  /** The PRODUCTION block key — the exact expression
    * Similarity.labelPairs and Dedup.cosinePairs block on. The bound
    * below must be measured on this key, not a stand-in: a test that
    * blocks differently from the implementation audits a phantom. */
  private def productionBlk(blocks: Int) =
    pmod(graft.api.Sampling.portableHash($"vid", "blk:"), lit(blocks))
      .cast("int")

  /** Parity (labelPairs ≡ plain join) and the skew bound: each
    * (label, lo, hi) key's input is at most two sub-blocks while the
    * plain join's hot key carries every hot-label row. */
  private def assertPairParityAndBound(
      e: org.apache.spark.sql.DataFrame, blocks: Int): Unit = {
    val plain = plainLabelPairs(e)
    val salted = graft.api.Similarity.labelPairs(e, "vid", "v", "label",
      tau = 0.99, blocks = blocks)
    assert(plain.count() > 0)
    assert(salted.except(plain).count() == 0
      && plain.except(salted).count() == 0)
    val hot = e.filter($"label" === lit(0))
    val hotN = hot.count()
    val perBlockMax = hot
      .withColumn("blk", productionBlk(blocks))
      .groupBy($"blk").count().agg(max($"count")).head().getLong(0)
    assert(perBlockMax * 2 <= hotN / 2,
      s"block-pair key input ${2 * perBlockMax} not ≪ hot-key input $hotN")
  }

  test("hot-label pair join: block-pair decomposition bounds per-key input, same results") {
    graft.functions.VectorExpressions.register(spark)
    val e = spark.range(1000).select($"id".as("vid"),
      when($"id" % 10 === 0, $"id" % 3 + 1).otherwise(lit(0L)).as("label"),
      expr("transform(sequence(0, 3), j -> CAST((id % (j + 7)) + 1 AS DOUBLE))")
        .as("v"))
    assertPairParityAndBound(e, blocks = 8)
  }

  test("hot-label pair join holds on STRIDED ids, where raw pmod collapses to one block") {
    graft.functions.VectorExpressions.register(spark)
    val blocks = 8
    // ids ≡ 0 mod 64: every raw pmod(vid, 8) is 0 — the pre-round-6
    // key would put the whole hot label back on ONE shuffle key
    val e = spark.range(1000).select(($"id" * 64).as("vid"),
      when($"id" % 10 === 0, $"id" % 3 + 1).otherwise(lit(0L)).as("label"),
      expr("transform(sequence(0, 3), j -> CAST((id % (j + 7)) + 1 AS DOUBLE))")
        .as("v"))
    val hot = e.filter($"label" === 0)
    val rawMax = hot
      .withColumn("blk", pmod($"vid", lit(blocks)).cast("int"))
      .groupBy($"blk").count().agg(max($"count")).head().getLong(0)
    assert(rawMax == hot.count(),
      "precondition: raw pmod must collapse strided ids to one block")
    assertPairParityAndBound(e, blocks)
  }

  test("hot-label pair join holds on STRING ids (raw pmod would reject them)") {
    graft.functions.VectorExpressions.register(spark)
    // UUID-style opaque string ids — no numeric structure to lean on;
    // the portable-hash block key spreads them like any other type
    val e = spark.range(1000).select(
      concat(lit("doc-"), md5($"id".cast("string"))).as("vid"),
      when($"id" % 10 === 0, $"id" % 3 + 1).otherwise(lit(0L)).as("label"),
      expr("transform(sequence(0, 3), j -> CAST((id % (j + 7)) + 1 AS DOUBLE))")
        .as("v"))
    assertPairParityAndBound(e, blocks = 8)
  }

  test("AQE rewrites a skewed sort-merge join into skew-split tasks") {
    // isolated session: thresholds lowered so a unit-test-sized skew
    // triggers the same OptimizeSkewedJoin rewrite a 100 TB hot key
    // would (one giant partition split into parallel sub-joins).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // left: 100k rows on ONE hot key + a sprinkle of others
    val left = s2.range(100000).select(
      when($"id" % 100 === 0, $"id" % 7 + 1).otherwise(lit(0L)).as("k"),
      $"id".as("v"))
    val right = s2.range(8).select($"id".as("k"), ($"id" * 10).as("w"))
    val joined = left.join(right, Seq("k"))
    // execute THIS dataset (count() would spawn its own query
    // execution and leave joined's adaptive plan unfinalized)
    val n = joined.toLocalIterator().asScala.length
    assert(n == left.join(right.hint("broadcast"), Seq("k")).count())
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE skew-join rewrite did not fire:\n$plan")
  }

  test("bucketed tables co-locate the fact-fact join (no exchange on the bucketed key)") {
    val wh = tmp("graft_wh")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bucket_db LOCATION '$wh'")
    Tables.lineitem(spark, sfDir).write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_bucket_db.li_bucketed")
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_bucket_db.o_bucketed")
    val joined = spark.table("graft_bucket_db.li_bucketed")
      .join(spark.table("graft_bucket_db.o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    spark.sql("DROP DATABASE graft_bucket_db CASCADE")
  }
}
