package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GQuery
import graft.sources.Tables

/** Multimodal columns (SURVEY.md §2.8 + builder prompt): text and
  * vectors joined into one frame, plus opaque-binary column plumbing.
  *
  * Real image/audio payloads (and their decoders) don't exist in this
  * environment, so the binary column is synthesized from text bytes —
  * but every Spark-side mechanism is the real one a 100 TB multimodal
  * pipeline needs: a `BinaryType` column with typed metadata alongside
  * it, per-row feature extraction over the bytes with codegen'd
  * expressions, and (in graft.sources.MultimodalPipeline) a batched
  * mapPartitions decode stage with an explicit output schema. The
  * deterministic byte-level features below double as the oracle
  * contract (md5/length/first-byte are engine-independent).
  */
object MultimodalQueries {

  /** documents ⋈ embeddings (doc_id = vec_id): per-(label, lang)
    * distribution — "multimodal" = text + vector in one frame. */
  val multimodalJoin: GQuery = GQuery(
    "multimodal_join",
    """SELECT CAST(label AS INT) AS label, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY label, lang
      |ORDER BY label, lang""".stripMargin) { (s, dir) =>
    // thin binding of graft.api.Multimodal.joinProfile
    graft.api.Multimodal.joinProfile(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "vec_id", "n_chars",
        Seq(col("label").cast("int").as("label"), col("lang")))
      .orderBy(col("label"), col("lang"))
  }

  /** Opaque-binary feature extraction: the payload is `CAST(text AS
    * BINARY)` and every feature is computed over the BYTES (length,
    * md5, first byte) — exactly the shape of a real image/audio
    * feature pass, with a decode stub swapped in for the codec. */
  val multimodalFeatures: GQuery = GQuery(
    "multimodal_features",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
      |  substr(md5(text), 1, 4) AS shard_key
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // thin binding of graft.api.Multimodal.byteFeatures: the API
    // computes first_byte from the BYTES (hex slice), the oracle from
    // ascii(first char) — identical on this all-ASCII fixture, and
    // the byte form is the honest one for opaque payloads
    graft.api.Multimodal.byteFeatures(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload")
      .orderBy(col("doc_id"))
  }

  /** BLOCK-level binary dedup — the content-addressable storage
    * technique (fixed-size chunking + per-chunk digest, the
    * backup/blob-store dedup shape): each opaque payload is cut into
    * fixed 100-byte blocks, blocks are grouped corpus-wide by
    * content digest, and the report is the top-20 most-replicated
    * blocks with the bytes a chunk store reclaims per group
    * ((copies−1)·size). Whole-asset dedup is the 1-block special
    * case; block granularity also catches assets that share a
    * header/prefix without being byte-identical — which is exactly
    * what the fixture's near-duplicate docs exhibit.
    *
    * Scale shape: the payload bytes never shuffle — chunking is a
    * per-row generator and each block immediately collapses to
    * (16-byte digest, length) at the scan task, so the exchange
    * carries digests, not blobs (at 100 TB of assets that projection
    * IS the operator); one map-side-combining digest aggregate +
    * TakeOrderedAndProject finish. */
  val multimodalDedup: GQuery = GQuery(
    "multimodal_dedup",
    """SELECT block_md5, CAST(n_copies AS BIGINT) AS n_copies,
      |  CAST(block_bytes AS BIGINT) AS block_bytes,
      |  CAST((n_copies - 1) * block_bytes AS BIGINT) AS reclaimed_bytes
      |FROM (
      |  SELECT md5(blk) AS block_md5, count(*) AS n_copies,
      |    max(octet_length(encode(blk))) AS block_bytes
      |  FROM (
      |    SELECT substr(text, 100 * i + 1, 100) AS blk
      |    FROM (SELECT text, unnest(generate_series(0,
      |            CAST(ceil(octet_length(encode(text)) / 100.0) AS INT) - 1))
      |            AS i
      |          FROM documents))
      |  GROUP BY md5(blk))
      |WHERE n_copies >= 2
      |ORDER BY n_copies DESC, block_md5
      |LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documentsSpread(s, dir)
      .select(col("text").cast("binary").as("payload"))
      .select(col("payload"), explode(sequence(lit(0),
        (ceil(length(col("payload")).cast("double") / 100.0) - 1)
          .cast("int"))).as("i"))
      .select(expr("substring(payload, 100 * i + 1, 100)").as("blk"))
      .select(md5(col("blk")).as("block_md5"),
        length(col("blk")).cast("bigint").as("len"))
      .groupBy(col("block_md5"))
      .agg(count(lit(1)).as("n_copies"), max(col("len")).as("block_bytes"))
      .filter(col("n_copies") >= 2)
      .select(col("block_md5"), col("n_copies"), col("block_bytes"),
        ((col("n_copies") - 1) * col("block_bytes")).as("reclaimed_bytes"))
      .orderBy(col("n_copies").desc, col("block_md5"))
      .limit(20)
  }

  /** SHARD MANIFEST — the WebDataset/tar-shard layout table a
    * distributed training loader consumes: assets bucketed into 256
    * content-addressed shards (first md5 byte), each shard row
    * carrying its asset count, total bytes, and a deterministic
    * shard CHECKSUM (md5 of the sorted member digests — the
    * integrity stamp a loader verifies before trusting a shard,
    * and the identity that makes re-shards diffable).
    *
    * Scale shape: per-row digest projection at the scan (payload
    * bytes never shuffle — the multimodal_dedup discipline), one
    * 256-key map-side-combining aggregate; the member-digest list is
    * per-shard bounded by construction (corpus/256) and sorted so
    * the checksum is order-free. */
  val multimodalShardManifest: GQuery = GQuery(
    "multimodal_shard_manifest",
    """WITH a AS (SELECT doc_id, md5(text) AS h,
      |             octet_length(encode(text)) AS b
      |           FROM documents)
      |SELECT substr(h, 1, 2) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_assets,
      |  CAST(sum(b) AS BIGINT) AS total_bytes,
      |  md5(string_agg(h, ',' ORDER BY h)) AS manifest_md5
      |FROM a GROUP BY substr(h, 1, 2)
      |ORDER BY shard""".stripMargin) { (s, dir) =>
    Tables.documentsSpread(s, dir)
      .select(md5(col("text").cast("binary")).as("h"),
        length(col("text").cast("binary")).cast("bigint").as("b"))
      .groupBy(substring(col("h"), 1, 2).as("shard"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("b")).as("total_bytes"),
        md5(concat_ws(",", sort_array(collect_list(col("h"))))
          .cast("binary")).as("manifest_md5"))
      .orderBy(col("shard"))
  }

  /** PERCEPTUAL-HASH near-dup for opaque binary assets — the
    * pHash/SimHash pass a blob store runs where no tokenizer exists:
    * each payload's features are its byte-aligned sliding 4-byte
    * windows (hex 8-grams — shift-robust where [[multimodalDedup]]'s
    * fixed blocks are alignment-bound), folded into the SAME 16-bit
    * portable SimHash the text tier uses (graft.api.Dedup
    * .simhashSignatures over a feature string), then paired by the
    * exact 4×4-bit Hamming-band pigeonhole join (≤ 3 bits apart). A
    * real image pipeline swaps the byte windows for decoded-pixel
    * features (MultimodalPipeline.decodeStub's seam) and keeps this
    * entire signature/banding plan unchanged.
    *
    * Scale shape: feature extraction is a per-row projection (the
    * payload bytes never shuffle — each row collapses to one 16-bit
    * signature at the scan task); the pair search is the banded
    * equi-join, never all-pairs. */
  /** The perceptual-hash candidate pair list (doc1 < doc2, Hamming ≤
    * 3), memoized per (session, dir) — shared by the near-dup report
    * and cluster formation (the minhashPairsSpark pattern). */
  private[operators] def phashPairsSpark(s: SparkSession,
      dir: String): DataFrame =
    graft.PlanCache.memo(s, dir, "phash_pairs") {
      graft.functions.TextExpressions.register(s)
      // byte-aligned 4-byte windows = step-2 8-grams over the hex
      // string, via the native single-pass char_ngrams expression (an
      // interpreted transform lambda here cost 3× the whole query)
      val feats = Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("features", array_join(
          call_function("char_ngrams", hex(col("payload")), lit(8),
            lit(2)), " "))
      val sim = graft.api.Dedup.simhashSignatures(
        feats, "doc_id", "features")
      graft.api.Dedup.simhashPairs(sim, "doc_id", maxHamming = 3)
    }

  /** DuckDB CTE chain ending in `sim(doc_id, simhash)` — the shared
    * signature replay (byte windows → portable hash → bit balances →
    * sign vector) the in-memory pair reports and the saved-index
    * ingest row build on, width-parameterized so the 16-bit recall
    * tier and the 32-bit precision tier share one spelling. */
  private[operators] def phashSimCteBits(bits: Int): String =
    s"""WITH pay AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS nb
       |  FROM documents),
       |tok AS (
       |  SELECT DISTINCT doc_id,
       |    unnest([substr(hx, 2 * i + 1, 8)
       |            for i in generate_series(0, nb - 4)])
       |      AS term
       |  FROM pay),
       |th AS (SELECT doc_id, term,
       |         ${DedupQueries.duckHash("term")} AS h FROM tok),
       |bits AS (SELECT doc_id,
       |  ${(0 until bits).map(j =>
           s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS bal$j")
           .mkString(", ")}
       |  FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id,
       |  ${(0 until bits).map(j =>
           s"CASE WHEN bal$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
           .mkString(" + ")} AS simhash
       |  FROM bits)""".stripMargin

  private[operators] val phashSimCte: String = phashSimCteBits(16)

  /** DuckDB CTE chain ending in `pairs(doc1, doc2, hamming)` — the
    * oracle twin of [[phashPairsSpark]]. */
  private[operators] val phashPairsCte: String =
    s"""$phashSimCte,
       |pairs AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)""".stripMargin

  val multimodalPhashNeardup: GQuery = GQuery(
    "multimodal_phash_neardup",
    s"""$phashPairsCte
       |SELECT doc1, doc2, hamming FROM pairs
       |ORDER BY doc1, doc2""".stripMargin) { (s, dir) =>
    phashPairsSpark(s, dir).orderBy(col("doc1"), col("doc2"))
  }

  /** HAMMING-RADIUS SIZING SWEEP for the binary near-dup tier (the
    * eighth one-pass sweep): candidate pairs and documents touched at
    * maxHamming 0/1/2/3 — the strictness knob of perceptual-hash
    * dedup (0 = byte-level near-exact, 3 = the 4-band pigeonhole's
    * exactness bound). The banded pair generation is
    * RADIUS-INDEPENDENT for every h ≤ 3 (any pair within Hamming 3
    * shares a band, so the one memoized banded pass already carries
    * all of them with their exact distances); the sweep is four
    * predicate aggregates over the carried `hamming` column. A media
    * pipeline reads the curve to pick the radius whose pair volume
    * its review/rewrite stage can absorb.
    *
    * Scale shape: the pairs frame is the banded bucket join (payload
    * bytes never shuffle, the phash_neardup plan, memoized); the
    * sweep adds a ×4 explode over PAIRS (already collision-sparse),
    * a 4-row rollup, and a pair-bounded distinct for the doc count. */
  val multimodalPhashSweep: GQuery = GQuery(
    "multimodal_phash_sweep",
    s"""$phashPairsCte,
       |sweep AS (SELECT unnest([0, 1, 2, 3]) AS max_hamming),
       |f AS (SELECT sweep.max_hamming, pairs.doc1, pairs.doc2
       |      FROM pairs, sweep
       |      WHERE pairs.hamming <= sweep.max_hamming),
       |p AS (SELECT max_hamming, count(*) AS n_pairs FROM f
       |      GROUP BY 1),
       |d AS (SELECT max_hamming, count(DISTINCT doc_id) AS n_docs
       |      FROM (SELECT max_hamming, doc1 AS doc_id FROM f
       |            UNION ALL SELECT max_hamming, doc2 FROM f)
       |      GROUP BY 1)
       |SELECT CAST(sweep.max_hamming AS INT) AS max_hamming,
       |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs
       |FROM sweep
       |LEFT JOIN p ON sweep.max_hamming = p.max_hamming
       |LEFT JOIN d ON sweep.max_hamming = d.max_hamming
       |ORDER BY max_hamming""".stripMargin) { (s, dir) =>
    val f = phashPairsSpark(s, dir)
      .withColumn("max_hamming",
        explode(array((0 to 3).map(h => lit(h)): _*)))
      .filter(col("hamming") <= col("max_hamming"))
      .select(col("max_hamming"), col("doc1"), col("doc2"))
    val p = f.groupBy(col("max_hamming"))
      .agg(count(lit(1)).as("n_pairs"))
    val d = f.select(col("max_hamming"), col("doc1").as("doc_id"))
      .unionByName(f.select(col("max_hamming"),
        col("doc2").as("doc_id")))
      .groupBy(col("max_hamming"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    s.range(1)
      .select(explode(array((0 to 3).map(h => lit(h)): _*))
        .as("max_hamming"))
      .join(p, Seq("max_hamming"), "left")
      .join(d, Seq("max_hamming"), "left")
      .select(col("max_hamming"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("max_hamming"))
  }

  /** CONTINUOUS MEDIA INGESTION against the SAVED perceptual-hash
    * index — the ingest-family pattern (dedup / containment / lex /
    * nng / ivf) finally applied to the binary tier: the corpus's
    * 32-bit signatures persist once under their 8-bit Hamming-band
    * partition keys (`Multimodal.phashIndexBuild` via IndexStore),
    * and each arriving payload (doc_id % 10 = 3, the held-out slice)
    * computes its signature as a pure per-row higher-order fold
    * (`Multimodal.phashRows` — no aggregate, so the SAME probe runs
    * stateless and Append-safe on a stream), joins only its 4 band
    * buckets, and exact-verifies Hamming ≤ 3 from the carried
    * signatures. Output: (arrival_id, corpus_id, hamming). The oracle
    * replays signatures for BOTH sides from the shared sim chain and
    * cross-joins the slices directly — index path vs direct
    * computation, hash-certified equal.
    *
    * The tier is the WIDE 32-bit signature (multimodal_phash_wide's),
    * not the 16-bit one, and that choice is measured, not aesthetic:
    * at 10× the template-heavy corpus collapses 16-bit signatures so
    * badly that band buckets go quadratic (279 s); the 256-way bands
    * cut candidate fan-in ~16× (same probe, 26 s — BASELINE.md).
    * Continuous ingestion is a precision workload: an arrival should
    * match its near-copies, not a third of the corpus.
    *
    * Scale shape: payload bytes never shuffle (each row collapses to
    * one signature at the scan task); candidate fan-in is banded
    * (4 of 1024 bucket directories per arrival, pruned at planning
    * time on the batch path via a bounded collect); the
    * first-equal-band filter replaces a stateful distinct; the probe
    * side's partitioning is pinned so AQE cannot serialize a
    * clone-dense bucket's fan-out onto one task. */
  val multimodalPhashIngest: GQuery = GQuery(
    "multimodal_phash_ingest",
    s"""${phashSimCteBits(32)}
       |SELECT a.doc_id AS arrival_id, c.doc_id AS corpus_id,
       |  CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
       |FROM sim a JOIN sim c
       |  ON a.doc_id % 10 = 3 AND c.doc_id % 10 <> 3
       |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
       |ORDER BY arrival_id, corpus_id""".stripMargin) { (s, dir) =>
    graft.streaming.MultimodalStreams.phashAgainstSavedIndex(
        phashMedia(s, dir).filter(col("doc_id") % 10 === 3),
        ensurePhashB32(s, dir), "doc_id", "payload")
      .orderBy(col("arrival_id"), col("corpus_id"))
  }

  /** Documents as binary media: (doc_id, payload = text bytes). */
  private def phashMedia(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** phash_b32: the saved 32-bit banded phash index over the corpus
    * slice (doc_id % 10 != 3) — multimodal_phash_ingest's and
    * StreamBench's phash twin's one build. */
  private[graft] def ensurePhashB32(s: SparkSession, dir: String): String =
    graft.IndexStore.ensure(
      graft.IndexStore.stampedPath("phash_b32", dir, "documents.parquet")) {
      tmp => graft.api.Multimodal.phashIndexBuild(
        phashMedia(s, dir).filter(col("doc_id") % 10 =!= 3), "doc_id",
        "payload", tmp, bits = 32)
    }

  /** CLUSTER-COMPOSITION profile — the SemDeDup-style QA readout over
    * the SAVED IVF index's cells joined back to the TEXT modality: per
    * quantizer cell, the language mix (doc counts + within-cell
    * share). This is the table a curation pass reads to see whether
    * embedding clusters align with metadata (a cell dominated by one
    * language means the quantizer is partly encoding language — the
    * known SemDeDup caveat), and a fifth consumer of the one ivf_c8
    * build (top-k, range, semantic dedup, recall eval, now QA).
    *
    * Scale shape: the cells scan carries (cid, vec_id) only (columns
    * pruned from the cid-partitioned layout), the text join is
    * id-keyed, and the rollup collapses to ≤ k·|langs| rows map-side;
    * the per-cell total join runs on ≤ k rows. */
  val multimodalClusterProfile: GQuery = GQuery(
    "multimodal_cluster_profile",
    s"""${MiningQueries.kmeansOracleCte(8, 2)},
       |cl AS (
       |  SELECT f.cid, d.lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM fin f JOIN documents d ON d.doc_id = f.vec_id
       |  GROUP BY f.cid, d.lang),
       |tot AS (SELECT cid, sum(n_docs) AS ct FROM cl GROUP BY cid)
       |SELECT c.cid, c.lang, c.n_docs,
       |  round(CAST(c.n_docs AS DOUBLE) / t.ct, 6) AS cell_share
       |FROM cl c JOIN tot t USING (cid)
       |ORDER BY cid, lang""".stripMargin) { (s, dir) =>
    val cells = s.read.parquet(s"${SimQueries.ensureIvfC8(s, dir)}/cells")
      .select(col("cid"), col("vec_id"))
    val cl = cells
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
      .groupBy(col("cid"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cl.groupBy(col("cid")).agg(sum(col("n_docs")).as("ct"))
    cl.join(tot, Seq("cid"))
      .select(col("cid"), col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("ct"), 6)
          .as("cell_share"))
      .orderBy(col("cid"), col("lang"))
  }

  /** FRAME SAMPLING over an opaque video-like payload — the temporal
    * subsampling step every video pipeline runs before decode (keep
    * 1 of every k frames, hand ONLY those to the expensive codec
    * stage): the payload is modeled as consecutive 32-byte frames and
    * every 4th frame (stride 128 bytes) is sampled, emitting the
    * manifest a downstream mapInPandas decode stage consumes —
    * (doc_id, frame_idx, byte offset, frame digest, total frame
    * count). Digests are md5 over the frame bytes, so the manifest is
    * engine-independent; the real-codec decode of the SAMPLED frames
    * is the clearly-marked stub in sources.MultimodalPipeline (the
    * container has no codecs — the Spark-side plumbing is real).
    *
    * Scale shape: a pure per-row `sequence`+`transform` projection
    * followed by posexplode — no shuffle, no state, streaming-safe;
    * output is corpus × (frames/4) rows, the point of sampling. */
  val multimodalFrameSample: GQuery = GQuery(
    "multimodal_frame_sample",
    """WITH f AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |    unnest([{'idx': CAST((o - 1) // 128 AS INT),
      |             'off': CAST(o AS INT),
      |             'h': md5(substring(text, o, 32))}
      |            for o in generate_series(1,
      |              greatest(octet_length(encode(text)) - 31, 1), 128)])
      |      AS fr
      |  FROM documents)
      |SELECT doc_id, fr.idx AS frame_idx, fr.off AS frame_off,
      |  fr.h AS frame_md5,
      |  CAST((n_bytes + 31) // 32 AS INT) AS n_frames_total
      |FROM f
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        explode(expr(
          """transform(
            |  sequence(1, greatest(octet_length(cast(text AS binary))
            |    - 31, 1), 128),
            |  o -> named_struct(
            |    'idx', CAST((o - 1) DIV 128 AS INT),
            |    'off', CAST(o AS INT),
            |    'h', md5(cast(substr(text, o, 32) AS binary))))"""
            .stripMargin)).as("fr"))
      .select(col("doc_id"), col("fr.idx").as("frame_idx"),
        col("fr.off").as("frame_off"), col("fr.h").as("frame_md5"),
        ((col("n_bytes") + 31).cast("int") / 32).cast("int")
          .as("n_frames_total"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** 32-BIT perceptual-hash near-dup — the PRECISION tier above
    * [[multimodalPhashNeardup]]: same byte-window features, same
    * Hamming ≤ 3 contract, but the signature doubles to 32 bits and
    * the pigeonhole join moves to 4×8-bit bands. On a template-heavy
    * corpus the 16-bit tier pairs ~28% of all C(n,2) pairs (34,488 at
    * 500 docs — every pair of same-template docs collides in a 16-bit
    * sketch); 32 bits separates template from content, and the
    * 256-way band keys cut candidate fan-in ~16× — this is the tier a
    * real blob store runs, with the 16-bit one as the cheap recall
    * screen.
    *
    * Scale shape: identical to the 16-bit tier (per-row signature at
    * the scan, banded equi-join, never all-pairs) with strictly
    * smaller candidate sets. */
  val multimodalPhashWide: GQuery = {
    val sparkImpl = (s: SparkSession, dir: String) => {
      graft.functions.TextExpressions.register(s)
      val feats = Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("features", array_join(
          call_function("char_ngrams", hex(col("payload")), lit(8),
            lit(2)), " "))
      val sim = graft.api.Dedup.simhashSignatures32(
        feats, "doc_id", "features")
      graft.api.Dedup.simhashPairs32(sim, "doc_id", maxHamming = 3)
        .orderBy(col("doc1"), col("doc2"))
    }
    GQuery("multimodal_phash_wide",
      s"""WITH pay AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |    octet_length(encode(text)) AS nb
         |  FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([substr(hx, 2 * i + 1, 8)
         |            for i in generate_series(0, nb - 4)])
         |      AS term
         |  FROM pay),
         |th AS (SELECT doc_id, term,
         |         ${DedupQueries.duckHash("term")} AS h FROM tok),
         |bits AS (SELECT doc_id,
         |  ${(0 to 31).map(j =>
             s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS bal$j")
             .mkString(", ")}
         |  FROM th GROUP BY doc_id),
         |sim AS (SELECT doc_id,
         |  ${(0 to 31).map(j =>
             s"CASE WHEN bal$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
             .mkString(" + ")} AS simhash
         |  FROM bits)
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc1, doc2""".stripMargin)(sparkImpl)
  }

  val all: Seq[GQuery] = Seq(multimodalJoin, multimodalFeatures,
    multimodalDedup, multimodalShardManifest, multimodalPhashNeardup,
    multimodalPhashIngest, multimodalClusterProfile,
    multimodalFrameSample, multimodalPhashWide,
    multimodalPhashSweep)
}
