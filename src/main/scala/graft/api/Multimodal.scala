package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.MultimodalPipeline

/** Public, fixture-independent multimodal API (see [[Dedup]] for
  * conventions): opaque-binary payload columns with typed metadata,
  * parameterized on the caller's column names. The decode/featurize
  * kernels are the clearly-marked deterministic stubs of
  * [[graft.sources.MultimodalPipeline]] (no codec libs in this
  * container) — the Spark-side mechanics (schema, batched
  * per-partition decode, per-frame fan-out) are the real contract a
  * caller swaps codecs into.
  *
  * `meta` columns must be a `struct<modality string, width int,
  * height int, sample_rate int>` — the typed-metadata shape
  * [[MultimodalPipeline.mediaSchema]] pins.
  */
object Multimodal {

  /** Byte-level features of an opaque binary payload — computed from
    * the BYTES only, never assuming the payload decodes as text:
    * (<id>, n_bytes, payload_md5, first_byte, shard_key). The md5
    * doubles as a content address; shard_key (its first 4 hex chars)
    * is a uniform 65536-way partitioning key for downstream layout. */
  def byteFeatures(df: DataFrame, id: String, payload: String): DataFrame =
    df.select(col(id),
      length(col(payload)).cast("int").as("n_bytes"),
      md5(col(payload)).as("payload_md5"),
      conv(substring(hex(col(payload)), 1, 2), 16, 10).cast("int")
        .as("first_byte"),
      substring(md5(col(payload)), 1, 4).as("shard_key"))

  /** Join a text-modality table against a vector-modality table on
    * their shared id and profile the groups:
    * (<groupCols>, n_docs, sum_chars, avg_chars). `sizeCol` is the
    * per-document size column aggregated (e.g. character count). */
  def joinProfile(texts: DataFrame, vectors: DataFrame, textId: String,
      vecId: String, sizeCol: String, groupCols: Seq[Column]): DataFrame =
    texts.join(vectors, col(textId) === col(vecId))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).as("sum_chars"),
        round(sum(col(sizeCol)).cast("double") / count(lit(1)), 6)
          .as("avg_chars"))

  /** Rename a caller's media table into the canonical pipeline schema
    * (doc_id, payload, meta). */
  private def canonical(media: DataFrame, id: String, payload: String,
      meta: String): DataFrame =
    media.select(col(id).cast("long").as("doc_id"),
      col(payload).as("payload"), col(meta).as("meta"))

  /** Batched decode + featurize (one codec init per PARTITION, not
    * per row): (<id>, modality, n_bytes, features array<float>). */
  def features(media: DataFrame, id: String, payload: String,
      meta: String): DataFrame = {
    implicit val spark = media.sparkSession
    MultimodalPipeline.extractFeatures(canonical(media, id, payload, meta))
      .toDF().withColumnRenamed("doc_id", id)
  }

  /** Resize stage: payloads replaced by their w×h thumbnail, metadata
    * updated — caller's column names preserved on the way out. */
  def resize(media: DataFrame, id: String, payload: String,
      meta: String, w: Int, h: Int): DataFrame = {
    implicit val spark = media.sparkSession
    MultimodalPipeline.resize(canonical(media, id, payload, meta), w, h)
      .toDF().select(col("doc_id").as(id), col("payload").as(payload),
        col("meta").as(meta))
  }

  /** Frame-sampling stage (one row in, up to `n` typed rows out):
    * (<id>, frame_no, n_bytes, features array<float>). */
  def frames(media: DataFrame, id: String, payload: String,
      meta: String, n: Int): DataFrame = {
    implicit val spark = media.sparkSession
    MultimodalPipeline.sampleFrames(canonical(media, id, payload, meta), n)
      .toDF().withColumnRenamed("doc_id", id)
  }

  /** PER-ROW perceptual hash (16- or 32-bit) of opaque binary
    * payloads — the multimodal_phash signature computed entirely from
    * each row's OWN expressions (no cross-row aggregate), so it is
    * stateless and runs identically on batch and streaming frames:
    * features are the payload's distinct byte-aligned 4-byte windows
    * (step-2 8-grams over the hex string), hashed ONCE each, and each
    * feature's ±1 bit votes fold into one balance array via a
    * higher-order aggregate; the signature is the sign vector.
    * Returns (<id>, simhash) — bit-for-bit equal to [[aggPhashSigs]]
    * / [[Dedup.simhashSignatures]] over the same feature tokens
    * (integer ±1 sums are order-free; MultimodalStreamsSpec pins it
    * at both widths). The HOF fold is interpreted (CodegenFallback) —
    * right for a stream's micro-batches, wrong for corpus backfills:
    * use [[aggPhashSigs]] wherever an aggregate is legal. Rows with
    * payloads under 4 bytes (no windows) are dropped, as the
    * aggregate form drops them. */
  def phashRows(media: DataFrame, id: String,
      payload: String, bits: Int = 16): DataFrame = {
    require(bits == 16 || bits == 32, "phash tiers are 16 or 32 bits")
    graft.functions.TextExpressions.register(media.sparkSession)
    // the whole signature is ONE native single-pass expression
    // (functions.SimhashSig): the composable HOF spelling
    // (aggregate/transform/zip_with) evaluated interpreted lambdas
    // per feature×bit and cost ~84 ms per arrival on the ingest
    // stream; the native pass is one md5 per feature, primitive
    // balances, no boxing
    media
      .filter(length(col(payload)) >= 4)
      .select(col(id), expr(
        s"simhash_sig(array_distinct(char_ngrams(hex($payload), 8, 2))," +
          s" $bits)").as("simhash"))
  }

  /** The SAME signature via the batch aggregate path
    * ([[Dedup.simhashSignatures]]/32 over the feature-token string) —
    * codegen'd explode + grouped ±1 sums, the fast form wherever an
    * aggregate is legal (index builds, batch backfills). phashRows is
    * the higher-order per-row twin a stream needs; the two are
    * spec-pinned bit-for-bit equal, so callers mix them freely. */
  def aggPhashSigs(media: DataFrame, id: String, payload: String,
      bits: Int): DataFrame = {
    graft.functions.TextExpressions.register(media.sparkSession)
    val feats = media
      .filter(length(col(payload)) >= 4)
      .withColumn("__feats", array_join(
        call_function("char_ngrams", hex(col(payload)), lit(8),
          lit(2)), " "))
    val sigs =
      if (bits == 32) Dedup.simhashSignatures32(feats, id, "__feats")
      else Dedup.simhashSignatures(feats, id, "__feats")
    sigs.select(col(id), col("simhash"))
  }

  /** Persist a banded PERCEPTUAL-HASH index for continuous media
    * ingestion — the [[Dedup.signatureIndexBuild]] discipline applied
    * to the binary tier: each corpus payload's 16-bit signature is
    * written once under its four 4-bit Hamming-band partition keys
    * (`bands/band=?/bk=?`), so an arriving payload probes exactly its
    * 4 band buckets and exact-verifies Hamming ≤ 3 from the carried
    * signatures — the payload bytes never shuffle and the corpus is
    * never re-hashed per arrival. */
  def phashIndexBuild(media: DataFrame, id: String, payload: String,
      path: String, bits: Int = 32): Unit = {
    val spark = media.sparkSession
    import spark.implicits._
    Seq((bits, bits / 4)).toDF("bits", "band_width")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    bandedSim(aggPhashSigs(media, id, payload, bits), id, bits / 4)
      .write.mode("overwrite").partitionBy("band", "bk")
      .parquet(s"$path/bands")
  }

  /** Append new payloads' signatures to a saved [[phashIndexBuild]]
    * index — only the arrivals' band buckets gain files. Ids must be
    * new. */
  def phashIndexAppend(newMedia: DataFrame, id: String,
      payload: String, path: String): Unit = {
    val spark = newMedia.sparkSession
    val bits = spark.read.parquet(s"$path/meta").head()
      .getAs[Int]("bits")
    bandedSim(aggPhashSigs(newMedia, id, payload, bits), id, bits / 4)
      .write.mode("append").partitionBy("band", "bk")
      .parquet(s"$path/bands")
  }

  /** (id, simhash) → one row per `bw`-bit band: (band, bk, id,
    * simhash). Delegates to [[Dedup.simhashBanded]] — ONE spelling of
    * the banding invariant, so the saved index and the in-memory pair
    * joins can never desynchronize. */
  private[graft] def bandedSim(sim: DataFrame, id: String,
      bw: Int): DataFrame =
    Dedup.simhashBanded(
        sim.select(col(id).as("id"), col("simhash")), "id", bw)
      .select(col("band"), col("bk"), col("id"), col("simhash"))
}
