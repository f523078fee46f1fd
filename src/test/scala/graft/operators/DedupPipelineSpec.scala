package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.{PlanCache, SparkEntry, SparkTestBase}

/** The composed dedup-before-pairing contract row (round-16 VERDICT
  * item 1) on a purpose-built CRAWL-MIRROR corpus — the regime the
  * fixtures cannot exercise and the one the row exists for: variants
  * that are near-identical but byte-DISTINCT, forming cliques that
  * make any direct pair enumeration output-quadratic.
  */
class DedupPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** One clique's base text: dominated by i-specific tokens so
    * different cliques sit far below every similarity threshold. */
  private def baseText(i: Int): String =
    s"doc$i opens w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f " +
      s"w${i}g w${i}h w${i}j w${i}k common tail closes here"

  /** Crawl-mirror corpus: `nBase` base texts; copy 0 keeps the base
    * text, copies 1..copies-1 append a distinct trailing token — every
    * doc byte-distinct, every clique pairwise near-identical. */
  private def mirrorCorpus(nBase: Int, copies: Int,
      extra: Seq[(Long, String)] = Nil): String = {
    val dir = Files.createTempDirectory("graft_dbp").toString
    val rows = (for {
      i <- 0 until nBase
      c <- 0 until copies
    } yield {
      val text =
        if (c == 0) baseText(i) else s"${baseText(i)} mirror$c"
      (i.toLong + 1000L * c, text, "en", s"src${i % 3}", text.length)
    }) ++ extra.map { case (id, t) => (id, t, "en", "srcx", t.length) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def funnel(dir: String): Map[String, (Long, Long)] =
    q("dedup_before_pairing", dir).collect()
      .map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("accounted")))).toMap

  test("crawl-mirror cliques collapse before the pair join; accounting is lossless") {
    PlanCache.clear()
    val dir = mirrorCorpus(nBase = 30, copies = 10)
    val f = funnel(dir)
    assert(f("corpus") == ((300L, 300L)))
    // every variant is byte-distinct: exact collapse keeps all 300
    assert(f("exact_reps") == ((300L, 300L)),
      "crawl mirrors are DISTINCT texts — exact dedup cannot touch them")
    // the minhash stage is what collapses the cliques: 30 survivors,
    // each accounting its 10 variants (the invariant Σmass = n_docs)
    assert(f("near_survivors") == ((30L, 300L)),
      s"each 10-variant clique must collapse to one survivor: $f")
    // any residual pair joins two mass-10 survivors, so the factored
    // accounting is exactly 100 underlying doc pairs per row
    val (nResid, accounted) = f("residual_pairs")
    assert(accounted == nResid * 100L,
      s"every residual pair must account mass1*mass2 = 100: $f")
    PlanCache.clear()
  }

  test("residual join reports the sub-threshold pair the collapse leaves behind") {
    PlanCache.clear()
    // two singleton docs sharing a 9-token run (J ~ 0.24): far below
    // the minhash collapse threshold, inside the residual join's
    // J >= 1/10 — the relation dedup must NOT erase and the pair join
    // must still report
    val shared = "november oscar papa quebec romeo sierra tango " +
      "uniform victor"
    val extra = Seq(
      (900001L, s"$shared wholly separate tail one zulu yankee xray " +
        "whiskey e1a e1b e1c e1d"),
      (900002L, s"$shared different ending entirely g2a h2b i2c j2d " +
        "k2e l2f m2g"))
    val dir = mirrorCorpus(nBase = 5, copies = 3, extra = extra)
    val f = funnel(dir)
    assert(f("corpus")._1 == 17L && f("near_survivors")._2 == 17L)
    // the related singletons survive dedup (distinct content): 5
    // clique survivors + 2 singletons
    assert(f("near_survivors")._1 == 7L,
      s"expected 5 clique survivors + 2 singletons: $f")
    // residual pairs: the planted singleton pair accounts 1x1; any
    // clique-survivor pair would account 3x3 = 9 — so accounted mod 9
    // isolates the planted pair exactly
    val (nResid, accounted) = f("residual_pairs")
    assert(nResid >= 1L, s"the planted sub-threshold pair is missing: $f")
    assert(accounted % 9L == 1L,
      s"exactly one mass-1x1 pair expected among 3x3 clique pairs: $f")
    PlanCache.clear()
  }
}
