package graft.api

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Clone-robustness of the diversified k-NN graph build (round-16
  * candidate (c)): on a clone-dense corpus the plain top-k lists are
  * pure clones — the graph decomposes into disconnected clone cliques
  * and beam-walk recall collapses to roughly the fraction of groups
  * that happen to contain an entry point. nngBuildDiverse's
  * select-neighbors rule (HNSW Algorithm 4, order-independent
  * relaxation + ascending-redundancy padding) must keep ONE
  * representative per clone group and reconnect the graph.
  *
  * The clone corpus is built from 50 fixture vectors, each duplicated
  * 9× by power-of-two rescaling (2..512 — exact in binary floating
  * point, so clone-pair cosines are exactly 1.0 at the rounded-6
  * grid, the worst case). */
class NngDiverseSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cloneCorpus = {
    val base = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 50)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val factors = Seq(2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0,
      512.0).zipWithIndex.toDF("f", "c")
    base.crossJoin(factors)
      .select(($"vec_id" + ($"c" + 1) * 1000L).as("vec_id"),
        expr("transform(v, x -> x * f)").as("v"))
      .unionByName(base)
  }

  private def group(id: Long): Long = id % 1000L

  test("plain top-k lists on a clone corpus are pure clone cliques; diverse lists span groups") {
    val dir = java.nio.file.Files
      .createTempDirectory("nng_diverse_spec").toString
    Similarity.nngBuild(cloneCorpus, "vec_id", "v", s"$dir/plain",
      k = 5, nEntries = 8)
    // kCand must EXCEED clone-multiplicity + k or the shortlist is
    // pure clones and padding has nothing diverse to surface (the
    // documented boundary: beyond it, dedup-before-index is the tool)
    Similarity.nngBuildDiverse(cloneCorpus, "vec_id", "v",
      s"$dir/diverse", k = 5, kCand = 30, nEntries = 8)
    val plain = spark.read.parquet(s"$dir/plain/edges")
      .select($"src", $"dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the failure mode is real: every plain edge stays in its clone
    // group (9 fellow clones at cosine 1.0 fill all 5 slots)
    assert(plain.nonEmpty &&
      plain.forall { case (s, d) => group(s) == group(d) },
      "plain lists must be pure clones on this corpus")
    val diverse = spark.read.parquet(s"$dir/diverse/edges")
      .select($"src", $"dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byS = diverse.groupBy(_._1)
    byS.foreach { case (s, es) =>
      assert(es.length == 5, s"node $s keeps k edges (padding fills)")
      val own = es.count { case (_, d) => group(d) == group(s) }
      assert(own <= 2, s"node $s keeps few clone representatives")
      val groups = es.map { case (_, d) => group(d) }.distinct.length
      assert(groups >= 3, s"node $s links >= 3 distinct groups")
    }
    // recall at equal beam: probes are the 50 originals, ground truth
    // their exact top-3 (fellow clones). The plain graph strands most
    // probes inside entry-less cliques; the diverse graph reconnects.
    val probes = cloneCorpus.filter($"vec_id" < 50)
    val truth = Similarity.cosineTopK(cloneCorpus, probes, "vec_id",
      "v", 3).select($"probe_id", $"neighbor_id")
    import graft.Ckpt.CkptOps
    val t = truth.ckpt()
    def recall(path: String): Double = {
      val got = Similarity.nngTopK(probes, "vec_id", "v", path,
        k = 3, beam = 10, rounds = 4)
      got.join(t, Seq("probe_id", "neighbor_id"), "left_semi")
        .count().toDouble / (50 * 3)
    }
    val rp = recall(s"$dir/plain")
    val rd = recall(s"$dir/diverse")
    assert(rd >= 0.9, s"diverse graph recall $rd must be high")
    assert(rd > rp + 0.3,
      s"diversification must reconnect the graph (plain $rp, diverse $rd)")
  }
}
