package graft.operators

import graft.SparkTestBase

/** Physical-plan pins for the layout + composed-analytics tier: these
  * assert the SCALE properties the queries exist to demonstrate, so a
  * planner/config regression fails a test instead of silently turning
  * a pruned scan into a full scan or a co-located join into a shuffle.
  */
class LayoutAnalyticsSpec extends SparkTestBase {

  test("sink_partitioned_prune resolves the priority predicate as a PartitionFilter") {
    val plan = LayoutQueries.sinkPartitionedPrune.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the predicate must appear in PartitionFilters (directory-level
    // pruning) — if it degrades to a data filter the write lost its
    // partitioning or the read lost partition discovery
    val partFilterRe =
      """PartitionFilters: \[[^\]]*o_orderpriority[^\]]*\]""".r
    assert(partFilterRe.findFirstIn(plan).isDefined,
      s"o_orderpriority not in PartitionFilters:\n$plan")
  }

  test("merge_scd2_asof: the current-view read prunes the history partition") {
    // run once so the state-partitioned SCD table exists on disk
    LayoutQueries.mergeScd2Asof.fn(spark, sfDir).count()
    val path = LayoutQueries.tmpDir("scd2_asof", sfDir)
    val plan = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("state") === "current")
      .queryExecution.executedPlan.toString
    val partFilterRe = """PartitionFilters: \[[^\]]*state[^\]]*\]""".r
    assert(partFilterRe.findFirstIn(plan).isDefined,
      s"state predicate not a PartitionFilter (history not pruned):\n$plan")
  }

  test("bucketed orders⋈customer join plans no exchange on either side") {
    // pin the BIG-BIG shape: at fixture scale the planner would just
    // broadcast the customer side (fine, but it proves nothing about
    // bucketing), so disable auto-broadcast and assert the sort-merge
    // join reads both bucket layouts directly — zero exchanges of any
    // kind. This is the plan a 100 TB fact⋈fact join on the bucket key
    // gets, where neither side can broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = LayoutQueries.bucketedJoinFrame(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free, got:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan did not use the bucket layout:\n$plan")
    } finally spark.conf.set(key, saved)
  }

  test("tpch_q3 pushes both date predicates and the segment filter into the scans") {
    val plan = AnalyticsQueries.tpchQ3Shipping.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"l_shipdate filter not pushed:\n$plan")
    assert(plan.contains("LessThan(o_orderdate"),
      s"o_orderdate filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"c_mktsegment filter not pushed:\n$plan")
  }

  test("tpch_q3 top-10 is a bounded take, not a global sort") {
    val plan = AnalyticsQueries.tpchQ3Shipping.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for ORDER BY + LIMIT:\n$plan")
  }

  test("win_ntile's window is partitioned (never a single-task global sort)") {
    val windows = AnalyticsQueries.winNtile.fn(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window (one-task shape at scale):\n$w")
    }
  }

  test("tpch_q5 keeps the supplier-nation equality as a join condition, not a post-filter cartesian") {
    val plan = AnalyticsQueries.tpchQ5LocalSupplier.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q5 degraded to an unkeyed join:\n$plan")
  }

  test("sink_zorder_cluster: both range predicates pushed; files span tight 2-dim rectangles") {
    import org.apache.spark.sql.functions._
    // default maxMetadataStringLength=100 truncates PushedFilters in
    // the rendered plan — widen it so the assertions see every filter
    val mk = "spark.sql.maxMetadataStringLength"
    val savedLen = spark.conf.get(mk)
    spark.conf.set(mk, "10000")
    val df = LayoutQueries.sinkZorderCluster.fn(spark, sfDir)
    val plan = try df.queryExecution.executedPlan.toString
      finally spark.conf.set(mk, savedLen)
    // both dimensions must reach the parquet reader as pushed range
    // filters — that is what turns the per-file min/max rectangles
    // into skipped IO
    assert(plan.contains("GreaterThanOrEqual(l_partkey,1)")
      && plan.contains("LessThanOrEqual(l_partkey,150)"),
      s"l_partkey range not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_suppkey,1)")
      && plan.contains("LessThanOrEqual(l_suppkey,8)"),
      s"l_suppkey range not pushed:\n$plan")
    // the clustering claim itself: per-file bounding rectangles must
    // be materially tighter than the global rectangle — if the z-sort
    // is lost (plain write), every file spans ~the full key space and
    // min/max skipping prunes nothing
    val path = LayoutQueries.tmpDir("zorder_lineitem", sfDir)
    val byFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg((max(col("l_partkey")) - min(col("l_partkey"))).as("ps"),
        (max(col("l_suppkey")) - min(col("l_suppkey"))).as("ss"))
      .collect()
    assert(byFile.length > 1, "z-order write should produce several files")
    val global = spark.read.parquet(path)
      .agg((max(col("l_partkey")) - min(col("l_partkey")))
        * (max(col("l_suppkey")) - min(col("l_suppkey")))).collect()(0).getLong(0)
    val avgArea = byFile.map(r => r.getLong(1) * r.getLong(2)).sum
      .toDouble / byFile.length
    assert(avgArea <= 0.75 * global,
      s"per-file rectangles not tighter than global: avg $avgArea vs $global")
  }

  test("sink_compact_small_files collapses the fragmented layout") {
    // run the query (derives both layouts), then compare file counts
    LayoutQueries.sinkCompactSmallFiles.fn(spark, sfDir).collect()
    val frag = LayoutQueries.parquetFileCount(
      LayoutQueries.tmpDir("frag_orders", sfDir))
    val compact = LayoutQueries.parquetFileCount(
      LayoutQueries.tmpDir("compact_orders", sfDir))
    assert(frag == 64, s"fragmented layout should be 64 files, got $frag")
    assert(compact >= 1 && compact <= frag / 8,
      s"compaction left $compact files (fragmented: $frag)")
  }

  test("join_partition_pruned_runtime plans a dynamic partition filter on the fact scan") {
    val plan = LayoutQueries.joinPartitionPrunedRuntime.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no DynamicPruningExpression in the fact scan:\n$plan")
  }

  test("win_rank_topk: rank filter pushed into partial AND final WindowGroupLimit") {
    // Spark's InferWindowGroupLimit turns `row_number() <= k` into a
    // bounded per-group limit BEFORE the window's exchange (partial
    // mode) and again after (final mode) — the built-in equivalent of
    // a per-partition top-k heap. At 100 TB this is the difference
    // between sorting every group fully and carrying k rows per group
    // through the shuffle; pin it so a conf/regression can't silently
    // bring the full sort back.
    val plan = WindowQueries.winRankTopkPerGroup.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(hits >= 2,
      s"expected partial+final WindowGroupLimit, found $hits:\n$plan")
  }

  test("source_schema_drift: mergeSchema null-fills pre-drift rows; without it the column vanishes") {
    import org.apache.spark.sql.functions._
    // run the contract query once so the two batches exist on disk
    val got = LayoutQueries.sourceSchemaDrift.fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val half = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 2 === 0).count()
    assert(got("__pre_drift__") == half,
      s"every even-key (pre-drift) row must surface under the sentinel")
    // without mergeSchema the drifted column silently disappears on
    // the pre-drift files — demonstrate it deterministically on
    // batch1's path alone (the multi-path un-merged read serves "an
    // arbitrary data file"'s footer per Spark's documented contract,
    // so asserting WHICH footer it picks would be file-listing-order
    // flaky; assert only the version-stable part: it equals one of
    // the two footers, never an invented third schema)
    val path = LayoutQueries.tmpDir("schema_drift", sfDir)
    val batch1Cols = spark.read.parquet(s"$path/batch1").columns.toSet
    val batch2Cols = spark.read.parquet(s"$path/batch2").columns.toSet
    assert(!batch1Cols.contains("c_mktsegment"),
      s"pre-drift footer must lack the drifted column, got " +
        batch1Cols.mkString(","))
    val unmerged =
      spark.read.parquet(s"$path/batch1", s"$path/batch2").columns.toSet
    assert(unmerged == batch1Cols || unmerged == batch2Cols,
      s"un-merged read must serve one footer's schema verbatim, got " +
        unmerged.mkString(","))
  }

  test("source_csv_malformed: planted lines all route to _corrupt_record, none crash the read") {
    import org.apache.spark.sql.functions._
    val got = SourceQueries.sourceCsvMalformed.fn(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val planted = graft.sources.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 97 === 0).count()
    val total = graft.sources.Tables.orders(spark, sfDir).count()
    assert(got("_corrupt") == planted,
      s"corrupt count ${got.get("_corrupt")} != planted $planted")
    assert(got.filterNot(_._1 == "_corrupt").values.sum == total,
      "clean rows must survive the permissive read exactly")
  }

  test("merge_scd2: history/current invariants hold and the snapshot prunes by state") {
    import org.apache.spark.sql.functions._
    val dim = graft.sources.Tables.customer(spark, sfDir)
    val nChanged = dim.filter(col("c_custkey") % 4 === 0).count()
    val nNew = dim.filter(col("c_custkey") % 25 === 3).count()
    val nAll = dim.count()
    val rows = LayoutQueries.mergeScd2.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(6))).toMap
    // every matched current row closes into history, exactly once
    assert(rows(("history", "2020-01-01"))._1 == nChanged)
    // the new current set: one version-2 row per change + the inserts
    assert(rows(("current", "2023-06-15"))._1 == nChanged + nNew)
    assert(rows(("current", "2023-06-15"))._2 == 2,
      "changed keys must reach version 2")
    // untouched rows ride through still current at version 1
    assert(rows(("current", "2020-01-01"))._1 == nAll - nChanged)
    assert(rows(("current", "2020-01-01"))._2 == 1)
    // the layout lever: state is a hive partition directory, so a
    // current-only read never lists history files
    val path = LayoutQueries.tmpDir("merge_scd2", sfDir)
    assert(new java.io.File(s"$path/state=current").isDirectory &&
      new java.io.File(s"$path/state=history").isDirectory,
      "snapshot must be hive-partitioned by state")
    val scan = spark.read.parquet(path)
      .filter(col("state") === "current").queryExecution.executedPlan
      .toString
    // FileSourceScanExec always prints an (often empty) PartitionFilters
    // section and "state" appears in the schema regardless — require the
    // predicate INSIDE the bracket, as the sink_partitioned_prune pin does
    val statePruneRe = """PartitionFilters: \[[^\]]*state[^\]]*\]""".r
    assert(statePruneRe.findFirstIn(scan).isDefined,
      s"state filter must prune partitions:\n$scan")
  }

  test("merge_partition_overwrite touches only the patched partitions") {
    import org.apache.spark.sql.functions._
    // the dynamic-overwrite contract: months absent from the patch
    // keep their exact files (same names, same bytes), patched months
    // are rewritten. Run the query once (it writes base + applies the
    // patch), then diff the on-disk listing against a fresh base-only
    // write of an untouched month.
    LayoutQueries.mergePartitionOverwrite.fn(spark, sfDir).collect()
    val path = LayoutQueries.tmpDir("dyn_overwrite", sfDir)
    def listing(month: String): Map[String, Long] = {
      val d = new java.io.File(s"$path/om=$month")
      assert(d.isDirectory, s"missing partition dir om=$month")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = listing("1997-05")
    val patchedBefore = listing("1998-01")
    // re-apply ONLY the patch (no base rewrite): untouched months must
    // keep identical files; patched months get fresh ones
    val base = graft.sources.Tables.orders(spark, sfDir)
      .select(date_format(date_trunc("month", col("o_orderdate")),
          "yyyy-MM").as("om"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"))
    base.filter(col("om").isin("1998-01", "1998-02", "1998-03"))
      .select(col("om"), col("o_orderkey"),
        round(col("price") * lit("1.10").cast("decimal(4,2)"), 2)
          .cast("decimal(18,2)").as("price"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("om").parquet(path)
    assert(listing("1997-05") == untouchedBefore,
      "untouched partition was rewritten by the dynamic overwrite")
    assert(listing("1998-01").keySet != patchedBefore.keySet ||
      listing("1998-01") != patchedBefore,
      "patched partition should have been rewritten")
  }

  test("tpch_q19 stays one equi-join; per-side envelopes of the disjunction push to the scans") {
    val mk = "spark.sql.maxMetadataStringLength"
    val savedLen = spark.conf.get(mk)
    spark.conf.set(mk, "10000")
    try {
      val plan = AnalyticsQueries.tpchQ19BrandRevenue.fn(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"q19's OR-of-ANDs broke the equi-join:\n$plan")
      // Catalyst extracts each side's envelope of the disjunction as
      // its own pushed filter — the scans must not read every row
      assert(plan.contains("In(p_brand") ||
        plan.contains("EqualTo(p_brand,Brand#1)"),
        s"brand envelope not pushed to the part scan:\n$plan")
      assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)"),
        s"quantity envelope not pushed to the lineitem scan:\n$plan")
    } finally spark.conf.set(mk, savedLen)
  }

  test("tpch_q21's double correlation plans as semi + anti probes (no row multiplication)") {
    val plan = AnalyticsQueries.tpchQ21WaitingSupplier.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"EXISTS did not plan as a left-semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS did not plan as a left-anti join:\n$plan")
  }

  test("tpch_q2's regional minimum is aggregate+rejoin, never a correlated re-scan or window") {
    val optimized = AnalyticsQueries.tpchQ2MinCost.fn(spark, sfDir)
      .queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"per-part minimum should be a grouped aggregate, not a window:\n$optimized")
  }

  test("tpch_q3/q10 plan exactly one shuffle (the aggregate exchange)") {
    // at this scale the dims broadcast, so the ONLY data movement is
    // the group-by exchange; the top-N is a TakeOrderedAndProject
    // (already pinned). A second hashpartitioning exchange appearing
    // here means a join stopped broadcasting or an aggregate lost its
    // partial phase — both silent scale regressions.
    Seq(AnalyticsQueries.tpchQ3Shipping,
        AnalyticsQueries.tpchQ10Returned).foreach { q =>
      val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 1,
        s"${q.name}: expected exactly 1 shuffle, found $shuffles:\n$plan")
    }
  }
}
