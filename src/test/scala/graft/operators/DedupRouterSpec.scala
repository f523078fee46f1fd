package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}

/** The clone-density/corpus-size routers in front of the expensive
  * dedup sweeps (round-15 VERDICT items 1 and 6), pinned on purpose-
  * built corpora the fixtures cannot exercise:
  *
  *  - at fixture density both routers stay on the FULL arm (the
  *    DuckDB parity gate already certifies those outputs);
  *  - on a clone-dense corpus (10 exact copies per text) the stats
  *    rows flip — band sweep to `sampled` (slice_mod 4), ngram to
  *    `collapsed` — and the routed queries produce exactly their
  *    always-sampled / always-collapsed siblings' results;
  *  - on a large-but-clean corpus the band sweep's SIZE rule alone
  *    mandates the slice (slice_mod = ⌈n/20000⌉ > 1), the regime the
  *    100× probe showed matters independently of clone density (the
  *    8×1 arrangement's candidates are bucket-quadratic in sweep
  *    input).
  */
class DedupRouterSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Write a documents.parquet fixture of `texts`, each replicated
    * `copies` times under distinct doc_ids. */
  private def corpus(texts: Seq[String], copies: Int): String = {
    val dir = Files.createTempDirectory("graft_router").toString
    val rows = for {
      (t, i) <- texts.zipWithIndex
      c <- 0 until copies
    } yield (i.toLong + 1000L * c, t, "en", s"src${i % 3}", t.length)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private val baseTexts = (0 until 40).map { i =>
    s"alpha bravo charlie delta echo foxtrot golf hotel india " +
      s"unique token t$i closes sentence number $i of the tiny corpus"
  }

  test("fixture density: both routers stay on the full arm") {
    val bs = q("dedup_band_sweep_stats", sfDir).head()
    assert(bs.getAs[String]("path") == "full" &&
      bs.getAs[Int]("slice_mod") == 1)
    val ng = q("dedup_ngram_stats", sfDir).head()
    assert(ng.getAs[String]("path") != "collapsed")
  }

  test("clone-dense corpus: band sweep flips to sampled and equals its always-sampled sibling") {
    val dir = corpus(baseTexts, copies = 10)
    val st = q("dedup_band_sweep_stats", dir).head()
    assert(st.getAs[Long]("clone_mass") == 40L * 10 * 9,
      "every text group contributes c(c-1) = 90")
    assert(st.getAs[String]("path") == "sampled" &&
      st.getAs[Int]("slice_mod") == 4,
      "clone rule mandates the 1-in-4 slice on a small corpus")
    val routed = q("dedup_band_sweep", dir).collect().toSeq
    val sampled = q("dedup_band_sweep_sampled", dir).collect().toSeq
    assert(routed == sampled,
      "routed sweep must BE the sampled arm once the rule flips")
  }

  test("clone-dense corpus: ngram router flips to collapsed and equals the factored sibling") {
    val dir = corpus(baseTexts, copies = 10)
    val ng = q("dedup_ngram_stats", dir).head()
    assert(ng.getAs[String]("path") == "collapsed")
    val routed = q("dedup_ngram_jaccard", dir)
      .select($"doc1", $"doc2", $"jaccard").collect().toSeq
    val collapsed = q("dedup_ngram_jaccard_collapsed", dir)
      .select($"doc1", $"doc2", $"jaccard").collect().toSeq
    assert(routed == collapsed,
      "routed pairs must be the representative (factored) pair set")
    // the factored multiplicity accounts the full expansion: every
    // representative stands for its 10 clones, so any surviving pair
    // carries n_pairs = 100
    val np = q("dedup_ngram_jaccard_collapsed", dir)
      .select($"n_pairs").distinct().collect().map(_.getLong(0)).toSet
    assert(np.subsetOf(Set(100L)),
      s"pair multiplicity must be c1*c2 = 100, got $np")
  }

  test("large clean corpus: the size rule alone mandates the slice") {
    val dir = corpus((0 until 25000).map(i =>
      s"totally distinct document number $i with its own words w$i " +
        s"x${i * 7} y${i * 13}"), copies = 1)
    val st = q("dedup_band_sweep_stats", dir).head()
    assert(st.getAs[Long]("clone_mass") == 0L)
    assert(st.getAs[Int]("slice_mod") == 2 &&
      st.getAs[String]("path") == "sampled",
      "25k clean docs must slice at ceil(25000/20000) = 2")
  }
}
