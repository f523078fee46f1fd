package graft

import org.apache.spark.sql.functions._

/** HOT-LABEL skew probe (SURVEY §2.11 leave-behind (f)): measures the
  * block-pair decomposition ([[graft.api.Similarity.labelPairs]])
  * against the naive same-label equi-join on a corpus where one label
  * dominates — the regime the decomposition exists for. The naive
  * plan routes the hot label's entire O(n²) self-join to ONE shuffle
  * key (one task computes every pair while the rest idle); the block
  * plan spreads the same pairs over blocks·(blocks+1)/2 keys. Both
  * are counted and the pair sets must agree — the probe measures the
  * skew trade, never a semantics difference.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/sfx10 SPARK_GRAFT_CPUS=32 \
  *     SPARK_GRAFT_HOT_PCT=80 sbt "runMain graft.SkewProbe"
  *
  * Prints one JSON line with both wall times and the (equal) counts.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_HOT_PCT", "80").toInt
    val tau = sys.env.getOrElse("SPARK_GRAFT_TAU", "0.8").toDouble
    // the 100 TB-regime posture: a corpus side is never
    // broadcastable, so the probe must exercise the SHUFFLE join
    // the decomposition exists for — at fixture scale the 10 MB
    // corpus would otherwise be auto-broadcast and no skew exists
    val spark = Bench.session(cpus,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.functions.VectorExpressions.register(spark)
    // hot corpus: hotPct% of rows collapse onto label 0 — the one
    // dominant language/source every real 100 TB corpus has
    val ev = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .repartition(cpus.toInt, col("vec_id"))
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(100)) < hotPct, lit(0))
          .otherwise(col("label")).as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .localCheckpoint(true)
    val n = ev.count()
    val nHot = ev.filter(col("label") === 0).count()
    import Bench.time
    // block-pair decomposition (the shipped plan)
    val (cBlocked, tBlocked) = time(
      graft.api.Similarity.labelPairs(ev, "vec_id", "v", "label", tau)
        .count())
    // naive same-label equi-join: every hot-label pair meets on the
    // single shuffle key `label = 0`
    def naive() = {
      val e = ev.withColumn("nrm", expr("vec_norm(v)"))
      val l = e.select(col("label"), col("vec_id").as("id1"),
        col("v").as("va"), col("nrm").as("na"))
      val r = e.select(col("label"), col("vec_id").as("id2"),
        col("v").as("vb"), col("nrm").as("nb"))
      l.join(r, Seq("label"))
        .filter(col("id1") < col("id2"))
        .filter(round(expr("vec_dot(va, vb)")
          / (col("na") * col("nb")), 6) >= tau)
        .count()
    }
    val (cNaive, tNaive) = time(naive())
    // the same naive join with AQE's skew-join splitting DISABLED —
    // what a static planner (or a skew shape AQE cannot see) does
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (cNaiveNoAqe, tNaiveNoAqe) = time(naive())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    require(cBlocked == cNaive && cNaive == cNaiveNoAqe,
      s"pair sets diverged: blocked $cBlocked vs naive $cNaive " +
        s"vs no-AQE $cNaiveNoAqe")
    println(s"""{"metric": "hot_label_skew", "sf": "$sfDir", """ +
      s""""cpus": $cpus, "n": $n, "n_hot": $nHot, "tau": $tau, """ +
      f""""pairs": $cBlocked, "blocked_sec": $tBlocked%.2f, """ +
      f""""naive_aqe_sec": $tNaive%.2f, """ +
      f""""naive_noaqe_sec": $tNaiveNoAqe%.2f}""")
    spark.stop()
  }
}
