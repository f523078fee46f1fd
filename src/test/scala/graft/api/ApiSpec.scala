package graft.api

import org.apache.spark.sql.functions._

import graft.{PlanCache, SparkTestBase}
import graft.operators.{DedupQueries, SimQueries}
import graft.sources.Tables

/** The public graft.api surface must (a) accept arbitrary column
  * names and (b) produce exactly what the oracle-verified contract
  * queries produce — the contract queries are thin bindings of the
  * API, so this pins the binding. */
class ApiSpec extends SparkTestBase {

  // fixture docs under USER column names
  private def myDocs = Tables.documents(spark, sfDir)
    .select(col("doc_id").as("post_id"), col("text").as("body"))

  private def myVecs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("item"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  test("minhash pipeline on renamed columns matches the contract query") {
    val sh = Dedup.wordShingles(myDocs, "post_id", "body")
    val sig = Dedup.minhashSignatures(sh, "post_id")
    val pairs = Dedup.minhashBandPairs(sig, "post_id")
      .orderBy(col("doc1"), col("doc2"))
    val want = DedupQueries.dedupNearMinhash.fn(spark, sfDir)
    assert(pairs.collect().toSeq == want.collect().toSeq)
  }

  test("simhash pipeline on renamed columns matches the contract query") {
    val sim = Dedup.simhashSignatures(myDocs, "post_id", "body")
    val pairs = Dedup.simhashPairs(sim, "post_id")
      .orderBy(col("doc1"), col("doc2"))
    val want = DedupQueries.dedupSimhash.fn(spark, sfDir)
    assert(pairs.collect().toSeq == want.collect().toSeq)
  }

  test("jaccard strategy paths on renamed columns match the contract query") {
    val sh = Dedup.wordShingles(myDocs, "post_id", "body")
    val inv = Dedup.jaccardPairsInverted(sh, "post_id", 1, 2)
      .orderBy(col("doc1"), col("doc2"))
    val pp = Dedup.jaccardPairsPPJoin(sh, "post_id", 1, 2)
      .orderBy(col("doc1"), col("doc2"))
    val want = DedupQueries.dedupNgramJaccard.fn(spark, sfDir)
    assert(inv.collect().toSeq == want.collect().toSeq)
    assert(pp.collect().toSeq == want.collect().toSeq)
    // the stats-driven chooser itself, under a renamed shingle column
    val chosen = Dedup.jaccardPairs(
      sh.withColumnRenamed("shingle", "gram"), "post_id",
      num = 1, den = 2, shingle = "gram")
      .orderBy(col("doc1"), col("doc2"))
    assert(chosen.collect().toSeq == want.collect().toSeq)
  }

  test("cosine pair + topk APIs on renamed columns match the contract queries") {
    val pairs = Dedup.cosinePairs(myVecs, "item", "emb", tau = 0.4)
      .orderBy(col("v1"), col("v2"))
    val wantPairs = DedupQueries.dedupEmbedCosine.fn(spark, sfDir)
    assert(pairs.collect().toSeq == wantPairs.collect().toSeq)

    val topk = Similarity.cosineTopK(myVecs,
      myVecs.filter(col("item") < 5), "item", "emb", k = 5)
      .orderBy(col("probe_id"), col("rk"))
    val wantTopk = SimQueries.simCosineTopk.fn(spark, sfDir)
    assert(topk.collect().toSeq == wantTopk.collect().toSeq)

    // the hot-label-safe block-pair join equals the contract's plain
    // label-blocked join on the fixture
    val myLabeledVecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("item"), col("label").as("tag"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val lp = Similarity.labelPairs(myLabeledVecs, "item", "emb", "tag",
        tau = 0.3, blocks = 16)
      .select(col("tag").cast("int").as("label"), col("v1"), col("v2"),
        col("cosine"))
      .orderBy(col("label"), col("v1"), col("v2"))
    val wantLp = SimQueries.simPairThreshold.fn(spark, sfDir)
    assert(lp.collect().toSeq == wantLp.collect().toSeq)
  }

  test("text APIs on renamed columns match the contract queries") {
    import graft.operators.TextQueries
    val q = Text.qualityScore(myDocs, "post_id", "body")
      .orderBy(col("post_id"))
    val wantQ = TextQueries.textQualityScore.fn(spark, sfDir)
    assert(q.collect().toSeq == wantQ.collect().toSeq)

    val fp = Text.fingerprint(myDocs, "post_id", "body")
      .orderBy(col("post_id"))
    val wantFp = TextQueries.textFingerprint.fn(spark, sfDir)
    assert(fp.collect().toSeq == wantFp.collect().toSeq)

    val tfidf = Text.tfidfTopTerm(myDocs, "post_id", "body")
      .orderBy(col("post_id"))
    val wantTfidf = TextQueries.textTfidfTopterm.fn(spark, sfDir)
    assert(tfidf.collect().toSeq == wantTfidf.collect().toSeq)

    val myLabeled = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("post_id"), col("text").as("body"),
        col("lang").as("language"))
    val lid = Text.langId(myLabeled, "post_id", "body", "language")
      .orderBy(col("post_id"))
    val wantLid = TextQueries.textLangId.fn(spark, sfDir)
      .select(col("doc_id"), col("pred_lang"))
    assert(lid.collect().toSeq == wantLid.collect().toSeq)

    val ng = Text.ngrams(myDocs, "post_id", "body", n = 2)
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(20)
    val wantNg = TextQueries.textNgrams.fn(spark, sfDir)
    assert(ng.collect().toSeq == wantNg.collect().toSeq)

    val tc = Text.tokenCounts(myDocs, "post_id", "body")
      .orderBy(col("post_id"))
    val wantTc = TextQueries.textTokenCount.fn(spark, sfDir)
    assert(tc.collect().map(_.toSeq.drop(1)).toSeq
      == wantTc.collect().map(_.toSeq.drop(1)).toSeq)

    val myLabeled2 = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("post_id"), col("text").as("body"),
        col("lang").as("language"))
    val div = Text.langDivergence(myLabeled2, "post_id", "body",
        "language")
      .orderBy(col("lang1"), col("lang2"))
    val wantDiv = TextQueries.textLangDivergence.fn(spark, sfDir)
    assert(div.collect().map(_.toSeq).toSeq
      == wantDiv.collect().map(_.toSeq).toSeq)
  }

  test("round-7c kernels on renamed columns match the contract queries") {
    import graft.operators.TextQueries
    // sequence packing: renamed id/text, same integers
    val pack = Text.packSequences(myDocs, "post_id", "body",
        seqLen = 2048, ranges = 8)
      .orderBy(col("post_id"))
    val wantPack = TextQueries.textPackSequences.fn(spark, sfDir)
    assert(pack.collect().map(_.toSeq).toSeq
      == wantPack.collect().map(_.toSeq).toSeq)

    // heavy hitters from a renamed token column
    val hh = Text.heavyHittersFromTokens(
        Text.tokenize(myDocs, "post_id", "body")
          .withColumnRenamed("token", "word"), token = "word", k = 100)
      .orderBy(col("cnt").desc, col("token"))
    val wantHh = TextQueries.textHeavyHitters.fn(spark, sfDir)
    assert(hh.collect().map(_.toSeq).toSeq
      == wantHh.collect().map(_.toSeq).toSeq)

    // MMR re-rank on renamed vector columns
    val mmr = Similarity.mmrTopK(myVecs, myVecs.filter(col("item") < 5),
        "item", "emb", shortlist = 8, k = 3, lambda = 0.7)
      .orderBy(col("probe_id"), col("rnk"))
    val wantMmr = SimQueries.simTopkMmr.fn(spark, sfDir)
    assert(mmr.collect().toSeq == wantMmr.collect().toSeq)
  }

  test("packFromCounts: null token counts flow through, all-null buckets contribute zero") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("tok", LongType, true)))
    // ids 0..15 in two quantile buckets (ranges = 2); ids 4 and 5
    // carry null counts — their own offsets stay defined, their
    // end_seq is null, and later offsets skip them (oracle semantics)
    val rows = (0L until 16L).map { i =>
      Row(i, if (i == 4L || i == 5L) null else java.lang.Long.valueOf(10L))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val got = Text.packFromCounts(df, "id", "tok", seqLen = 64,
        ranges = 2)
      .orderBy(col("id")).collect()
    // running offset skips the null rows: id 6 starts at 4 * 10
    val off6 = got.find(_.getLong(0) == 6L).get.getLong(2)
    assert(off6 == 40L, s"null counts leaked into the prefix sum: $off6")
    val r4 = got.find(_.getLong(0) == 4L).get
    assert(!r4.isNullAt(2), "a null count must keep its own offset")
    assert(r4.isNullAt(4), "a null count cannot have an end_seq")
    assert(got.length == 16)
  }

  test("keepList on renamed columns matches the contract decision query") {
    val got = Dedup.keepList(myDocs, "post_id", "body")
      .orderBy(col("post_id"))
    val want = DedupQueries.dedupKeepList.fn(spark, sfDir)
    assert(got.collect().map(_.toSeq).toSeq
      == want.collect().map(_.toSeq).toSeq)
    PlanCache.clear()
  }

  test("containment + mixture-sampling APIs on renamed columns match the contract queries") {
    import graft.operators.SampleQueries
    val sh = Dedup.wordShingles(myDocs, "post_id", "body")
    val cont = Dedup.containmentPairs(sh, "post_id",
        col("post_id") % 10 === 7)
      .orderBy(col("eval_id"), col("train_id"))
    val wantCont = DedupQueries.dedupContainment.fn(spark, sfDir)
    assert(cont.collect().map(_.toSeq).toSeq
      == wantCont.collect().map(_.toSeq).toSeq)

    val mySources = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("post_id"), col("source").as("origin"))
    val mix = Sampling.mixtureWeighted(mySources, "post_id", "origin",
        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0),
        defaultRate = 0.125)
      .orderBy(col("post_id"))
    val wantMix = SampleQueries.sampleMixture.fn(spark, sfDir)
    assert(mix.collect().map(_.toSeq).toSeq
      == wantMix.collect().map(_.toSeq).toSeq)

    // replication on renamed columns matches the upsampling contract
    // query...
    val rep = Sampling.mixtureReplicated(mySources, "post_id", "origin",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0),
        defaultRate = 1.0)
      .orderBy(col("post_id"), col("copy"))
    val wantRep = SampleQueries.sampleMixtureUpsampled.fn(spark, sfDir)
    assert(rep.collect().map(_.toSeq).toSeq
      == wantRep.collect().map(_.toSeq).toSeq)
    // ...and with all-sub-1 rates its copy-0 set IS mixtureWeighted's
    // kept set under the same salt (the samplers share one decision)
    val subRates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0)
    val repSub = Sampling.mixtureReplicated(mySources, "post_id",
        "origin", subRates, defaultRate = 0.125)
      .select(col("post_id"), col("origin"), col("copy"))
    assert(repSub.filter(col("copy") =!= 0).count() == 0)
    val keptSub = Sampling.mixtureWeighted(mySources, "post_id",
      "origin", subRates, defaultRate = 0.125)
    assert(repSub.drop("copy").except(keptSub).count() == 0
      && keptSub.except(repSub.drop("copy")).count() == 0)
    PlanCache.clear()
  }

  test("multimodal APIs on renamed columns match the contract queries") {
    import graft.operators.MultimodalQueries
    // binary payload under USER column names
    val myMedia = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("asset"),
        col("text").cast("binary").as("blob"))
    val feats = Multimodal.byteFeatures(myMedia, "asset", "blob")
      .orderBy(col("asset"))
    val wantFeats = MultimodalQueries.multimodalFeatures.fn(spark, sfDir)
    assert(feats.collect().map(_.toSeq).toSeq
      == wantFeats.collect().map(_.toSeq).toSeq)

    val myTexts = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("post_id"), col("lang").as("language"),
        col("n_chars").as("chars"))
    val myVecs2 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("item"), col("label").as("tag"))
    val prof = Multimodal.joinProfile(myTexts, myVecs2, "post_id",
        "item", "chars",
        Seq(col("tag").cast("int").as("label"),
          col("language").as("lang")))
      .orderBy(col("label"), col("lang"))
    val wantProf = MultimodalQueries.multimodalJoin.fn(spark, sfDir)
    assert(prof.collect().map(_.toSeq).toSeq
      == wantProf.collect().map(_.toSeq).toSeq)

    // pipeline stages under caller names: same rows as the pipeline
    // internals on the canonical schema
    val media = graft.sources.MultimodalPipeline
      .syntheticMedia(spark, sfDir)
      .select(col("doc_id").as("asset"), col("payload").as("blob"),
        col("meta").as("info"))
    val f = Multimodal.features(media, "asset", "blob", "info")
    assert(f.columns.toSeq ==
      Seq("asset", "modality", "n_bytes", "features"))
    assert(f.count() == media.count())
    val rz = Multimodal.resize(media, "asset", "blob", "info", 8, 8)
    assert(rz.columns.toSeq == Seq("asset", "blob", "info"))
    assert(rz.select(max(length(col("blob")))).head().getInt(0) <= 64)
    val fr = Multimodal.frames(media, "asset", "blob", "info", n = 4)
    assert(fr.columns.toSeq ==
      Seq("asset", "frame_no", "n_bytes", "features"))
    assert(fr.groupBy(col("asset")).count()
      .agg(max(col("count"))).head().getLong(0) <= 4)
  }

  test("corpus-prep pipeline on renamed columns, no donations, matches the contract query") {
    // the composed API computes its own shingles and near-dup pairs
    // here (the contract query donates session memos): filtering
    // full-corpus pairs to gated endpoints must equal recomputing on
    // the gated subset, and the stages must agree on keys end to end
    val docs = Tables.documents(spark, sfDir).select(
      col("doc_id").as("post_id"), col("text").as("body"),
      col("source").as("origin"), col("lang"))
    val got = Pipeline.corpusPrep(
      docs, "post_id", "body", "origin",
      isEval = col("post_id") % 10 === 7, minQuality = 0.61,
      rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0),
      defaultRate = 0.125)
      .select(col("post_id"), col("origin"), col("lang"), col("quality"))
      .orderBy(col("post_id"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3)))
    val want = graft.operators.PipelineQueries.pipelineCorpusPrep
      .fn(spark, sfDir)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3)))
    assert(got.nonEmpty && got == want)
  }

  test("connected components labels every paired node with its component min") {
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 4L)))
      .toDF("x", "y")
    val lab = Dedup.connectedComponents(pairs, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    PlanCache.clear()
  }

  test("unimaxAlloc water-filling: caps bind smallest-first, surplus flows up, budget conserved") {
    // skewed counts at cap 2, budget 100: lo (n=10) caps at 20, its
    // surplus flows to mid and hi; mid (n=30) takes min(60, 40)=40,
    // hi takes the remaining 40
    val a = Sampling.unimaxAlloc(
      Seq("hi" -> 200L, "lo" -> 10L, "mid" -> 30L), budget = 100L,
      cap = 2)
    assert(a == Seq(("lo", 10L, 20L), ("mid", 30L, 40L),
      ("hi", 200L, 40L)))
    assert(a.map(_._3).sum == 100L)
    // nothing exceeds its epoch cap
    a.foreach { case (_, n, al) => assert(al <= 2 * n) }
    // abundant budget: everyone caps, leftover unspent
    val b = Sampling.unimaxAlloc(
      Seq("a" -> 5L, "b" -> 7L), budget = 1000L, cap = 2)
    assert(b == Seq(("a", 5L, 10L), ("b", 7L, 14L)))
    // uniform when no cap binds (the fixture regime)
    val c = Sampling.unimaxAlloc(
      Seq("a" -> 100L, "b" -> 100L), budget = 100L, cap = 2)
    assert(c.map(_._3) == Seq(50L, 50L))
    // ties walk in group order (deterministic)
    assert(c.map(_._1) == Seq("a", "b"))
  }
}
