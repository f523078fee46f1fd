package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{IndexStore, SparkTestBase}

/** The saved graph-edge artifacts (round-14 VERDICT item 2): the
  * brand / part / collocation edge derivations publish once per
  * corpus generation under IndexStore (family `graph_edges_<kind>`)
  * and every session serves the parquet instead of re-running the
  * distinct self-join. These pins certify (a) saved ≡ derived edge
  * sets, (b) the artifact is a COMPLETE IndexStore publication (a
  * half-built dir can never serve), and (c) a second serve is a pure
  * read (no rebuild — the stamp is stable while the fixture is). */
class GraphEdgesArtifactSpec extends SparkTestBase {

  private def edgeSet(df: DataFrame): Set[(Any, Any)] =
    df.select(col("src"), col("dst")).collect()
      .map(r => (r.get(0), r.get(1))).toSet

  test("saved brand edges == derived brand edges; artifact is complete") {
    val served = edgeSet(GraphQueries.edges(spark, sfDir))
    val derived = edgeSet(GraphQueries.brandEdgesDerived(spark, sfDir))
    assert(served == derived && served.nonEmpty)
    val path = IndexStore.stampedPath("graph_edges_brand_edges", sfDir,
      "lineitem.parquet")
    assert(IndexStore.isComplete(path),
      s"brand-edge artifact at $path must carry the completion marker")
  }

  test("saved part edges == derived part edges") {
    assert(edgeSet(GraphQueries.partEdges(spark, sfDir)) ==
      edgeSet(GraphQueries.partEdgesDerived(spark, sfDir)))
  }

  test("saved colloc edges == derived colloc edges") {
    assert(edgeSet(GraphQueries.collocEdges(spark, sfDir)) ==
      edgeSet(GraphQueries.collocEdgesDerived(spark, sfDir)))
  }

  test("saved knn4 edges == derived knn4 edges; symmetric by construction") {
    val saved = edgeSet(GraphQueries.knnEdges(spark, sfDir))
    assert(saved == edgeSet(GraphQueries.knnEdgesDerived(spark, sfDir)))
    assert(saved.forall { case (a, b) => saved.contains((b, a)) },
      "symmetrized edge set must contain both directions")
  }

  test("second serve reads the published artifact without rebuilding") {
    GraphQueries.edges(spark, sfDir).count()
    val path = IndexStore.stampedPath("graph_edges_brand_edges", sfDir,
      "lineitem.parquet")
    val mtime = new java.io.File(path).lastModified()
    // a fresh memo key forces a re-serve through IndexStore.ensure;
    // the artifact must be reused, not rewritten
    graft.PlanCache.evict(spark)
    GraphQueries.edges(spark, sfDir).count()
    assert(new java.io.File(path).lastModified() == mtime,
      "re-serving must not republish an up-to-date artifact")
  }
}
