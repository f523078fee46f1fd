package graft.api

import org.apache.spark.sql.functions._

import graft.{Ckpt, SparkTestBase}

/** The lineage-cut policy switch (graft.Ckpt) is pure deployment
  * policy: local blocks (default) and reliable checkpoints under
  * `spark.graft.checkpoint.dir` must produce IDENTICAL results on an
  * iterative kernel, and the reliable mode must actually write under
  * the configured directory (that's the fault-tolerance it buys). */
class CkptPolicySpec extends SparkTestBase {
  import spark.implicits._

  // a 2-component graph with a chain long enough to force several
  // CC contraction rounds (each round cuts lineage through Ckpt)
  private def pairs = (
    (1L to 9L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L))
  ).toDF("a", "b")

  private def run(): Seq[(Long, Long)] =
    Dedup.connectedComponents(pairs, "a", "b")
      .select(col("node").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

  test("local and reliable checkpoint modes produce identical results") {
    assert(spark.conf.getOption("spark.graft.checkpoint.dir").isEmpty)
    val local = run()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    try {
      spark.conf.set("spark.graft.checkpoint.dir", dir)
      val reliable = run()
      assert(reliable == local,
        s"reliable-checkpoint CC diverged from local: $reliable vs $local")
      // the reliable mode must have materialized RDDs under the dir
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(written > 0, s"no checkpoint files written under $dir")
      // expected component structure, independently of mode
      assert(local.filter(_._1 <= 10).map(_._2).distinct == Seq(1L))
      assert(local.filter(_._1 >= 100).map(_._2).distinct == Seq(100L))
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      // leave sc's checkpoint dir set — harmless; later suites in this
      // JVM still default to localCheckpoint because the CONF is unset
    }
  }

  test("lazy cut defers materialization but yields the same frame") {
    val df = spark.range(100).selectExpr("id", "id * 2 AS v")
    val eager = Ckpt.cut(df).agg(sum("v")).first().getLong(0)
    val lazyCut = Ckpt.cut(df, eager = false).agg(sum("v")).first().getLong(0)
    assert(eager == lazyCut && eager == 9900L)
  }
}
