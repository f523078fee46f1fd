package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.Multimodal

/** Streaming twin for the binary-payload tier: CONTINUOUS MEDIA
  * INGESTION against a saved perceptual-hash index — the
  * [[DedupStreams.nearDupsAgainstSavedIndex]] shape for payloads no
  * tokenizer can see. An arriving asset's signature (width read
  * from the index meta — the contract tier is 32-bit) is a pure
  * per-row expression ([[Multimodal.phashRows]] — a higher-order
  * fold over the payload's own byte windows, no aggregate), its four
  * Hamming bands equi-join the saved banded signatures, and
  * Hamming ≤ maxHamming is exact-verified from the two CARRIED
  * signatures. The first-equal-band filter keeps each colliding pair
  * exactly once WITHOUT a stateful distinct (the smallest agreeing
  * band index is computable from the signatures themselves — the
  * batch pigeonhole trick), so the whole pipeline is stateless and
  * Append-mode-safe: no watermark, no state store.
  */
object MultimodalStreams {

  /** (arrival_id, corpus_id, hamming) for every arrival within
    * `maxHamming` (≤ 3 — the 4-band pigeonhole's exactness bound) of
    * a saved corpus payload. Batch frames take the same path, plus
    * planning-time pruning of the probed band buckets (a bounded
    * collect — band×bk is at most 4×2^band_width entries).
    *
    * Both arms serve the saved band table from one
    * [[graft.PlanCache]] memo of `path`, persisted MEMORY_AND_DISK.
    * Structured Streaming re-executes the static subplan every
    * micro-batch, and this twin's measured 2.2 s p50 floor was exactly
    * that re-scan (BASELINE.md round-14 table); on batch probes the
    * bands layout fragments into one file per (bucket, build task),
    * and the partition-pruned scan opened ~165 files for 1.8k rows per
    * probe at sf0.1 (~2.5 s of the 5.9 s probe). The memo pays the
    * fragmented scan once, many short-lived streams over one index
    * share ONE pinned copy (released by PlanCache.evict/clear), and a
    * rebuild or append at `path` refreshes it (the PlanCache rule). */
  def phashAgainstSavedIndex(stream: DataFrame, path: String,
      id: String, payload: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-band pigeonhole is exact only for Hamming <= 3")
    val spark = stream.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val (bits, bw) =
      (meta.getAs[Int]("bits"), meta.getAs[Int]("band_width"))
    val mask = (1 << bw) - 1
    val corpus = graft.PlanCache.memo(spark, path, "phash_bands")(
      spark.read.parquet(s"$path/bands")
        .select(col("band"), col("bk"), col("id").as("corpus_id"),
          col("simhash").as("s2")))
    // per-row fold on a live stream (no aggregate allowed); the
    // codegen'd aggregate twin on batch backfills (spec-pinned equal)
    val arrivalSigs =
      if (stream.isStreaming) Multimodal.phashRows(stream, id, payload, bits)
      else {
        // eager cut: the banded frame feeds BOTH the pruning collect
        // and the join — without it the dominant signature scan
        // (hex + md5 per feature) runs twice
        import graft.Ckpt.CkptOps
        Multimodal.aggPhashSigs(stream, id, payload, bits).ckpt()
      }
    val arrivals = Multimodal.bandedSim(arrivalSigs, id, bw)
      .select(col("band"), col("bk"), col("id").as("arrival_id"),
        col("simhash").as("s1"))
    val prunedCorpus =
      if (stream.isStreaming) corpus
      else {
        // one flat IN-list per band (4 branches, ≤ 2^band_width ints
        // each) — a per-(band,bk) conjunction tree at the 32-bit
        // tier's 1024 possible keys overflows the planner's stack
        val bks = arrivals.select(col("band"), col("bk")).distinct()
          .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
        val byBand = bks.groupBy(_._1).toSeq.map { case (b, ks) =>
          col("band") === b && col("bk").isin(ks.map(_._2): _*)
        }
        // an empty arrival frame (all payloads < 4 bytes) must yield
        // an empty result, not an empty-reduce crash
        corpus.filter(byBand.reduceOption(_ || _).getOrElse(lit(false)))
      }
    // first-equal-band dedup: keep the collision whose band is the
    // SMALLEST band on which the two signatures agree — a pure
    // function of (s1, s2), so no distinct is needed
    val firstEq: Column = (0 to 2).foldRight(lit(3): Column) { (b, els) =>
      when(expr(s"(shiftright(s1, ${b * bw}) & $mask)" +
        s" = (shiftright(s2, ${b * bw}) & $mask)"), lit(b)).otherwise(els)
    }
    // pin the probe side's partitioning (the simhashPairsBanded
    // discipline): the join's INPUT is a few bytes per row but its
    // fan-out is quadratic in bucket occupancy on clone-dense
    // corpora — without the pin, AQE's input-byte coalescing
    // serializes the explosion onto one task (the 16-bit tier measured
    // 290 s at 10× without it). On a stream the micro-batch is small and
    // repartition is a legal stateless exchange.
    val pinned = arrivals.repartition(
      spark.sessionState.conf.numShufflePartitions)
    pinned.join(prunedCorpus, Seq("band", "bk"))
      .filter(col("arrival_id") =!= col("corpus_id"))
      .filter(col("band") === firstEq)
      .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("arrival_id"), col("corpus_id"), col("hamming"))
  }
}
