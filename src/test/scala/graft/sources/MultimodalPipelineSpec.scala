package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The multimodal plumbing is real even though the codec is stubbed:
  * schema, batched mapPartitions decode, feature shape, partitioning
  * behavior. */
class MultimodalPipelineSpec extends SparkTestBase {
  import MultimodalPipeline._

  test("synthetic media table matches the declared schema") {
    val media = syntheticMedia(spark, sfDir)
    def shape(t: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
      t.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    assert(shape(media.schema) == shape(mediaSchema))
    assert(media.count() == 500)
  }

  test("batched decode emits one fixed-width feature row per payload") {
    implicit val s = spark
    val feats = extractFeatures(syntheticMedia(spark, sfDir))
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.features.length == 8))
    // histogram is normalized: sums to ~1 for non-empty payloads
    assert(rows.forall(r => math.abs(r.features.sum - 1f) < 1e-3))
    assert(rows.map(_.modality).toSet == Set("image", "audio", "video"))
  }

  test("decode stub is deterministic (same bytes -> same features)") {
    val b = "hello multimodal".getBytes("UTF-8")
    val m = MediaMeta("image", 2, 2, 0)
    assert(decodeStub(b, m).toSeq == decodeStub(b, m).toSeq)
  }

  test("n_bytes matches documents.n_chars (ascii corpus)") {
    implicit val s = spark
    val feats = extractFeatures(syntheticMedia(spark, sfDir))
      .toDF().select(col("doc_id"), col("n_bytes"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val mismatches = feats.join(docs, "doc_id")
      .filter(col("n_bytes") =!= col("n_chars")).count()
    assert(mismatches == 0)
  }

  test("resize produces w*h-byte thumbnails with updated metadata") {
    implicit val s = spark
    val small = MultimodalPipeline.resize(syntheticMedia(spark, sfDir), 4, 4)
    val rows = small.collect()
    assert(rows.forall(r => r.payload.length <= 16))
    assert(rows.forall(r => r.meta.width == 4 && r.meta.height == 4))
    // deterministic: same input, same thumbnail
    val again = MultimodalPipeline.resize(syntheticMedia(spark, sfDir), 4, 4)
      .collect()
    assert(rows.sortBy(_.doc_id).map(_.payload.toSeq).toSeq
      == again.sortBy(_.doc_id).map(_.payload.toSeq).toSeq)
  }

  test("frame sampling fans each payload into n featurized frames") {
    implicit val s = spark
    val frames = MultimodalPipeline.sampleFrames(
      syntheticMedia(spark, sfDir), 4)
    val byDoc = frames.collect().groupBy(_.doc_id)
    assert(byDoc.size == 500)
    assert(byDoc.values.forall(f => f.length >= 1 && f.length <= 4))
    assert(byDoc.values.flatten.forall(_.features.length == 8))
    // frame numbering is dense from 0
    byDoc.values.foreach { fs =>
      assert(fs.map(_.frame_no).sorted.toSeq == (0 until fs.length))
    }
  }

  test("decode preserves partitioning (no shuffle in the stage)") {
    implicit val s = spark
    val media = syntheticMedia(spark, sfDir).repartition(4)
    val feats = extractFeatures(media)
    assert(feats.rdd.getNumPartitions == 4)
  }
}
