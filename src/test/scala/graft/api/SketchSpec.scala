package graft.api

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** The mergeable quantile-sketch tier's two guarantees (Sketch
  * scaladoc), pinned on the real events fixture:
  *
  *  - MERGE EXACTNESS: sketch(whole corpus) ≡
  *    merge(per-day sketches), bucket-for-bucket — DDSketch's merge
  *    is bucket-count addition, so it is exact at any merge depth
  *    (the property KLL/t-digest cannot give); this is what makes
  *    the saved per-slice frames a lossless serving tier.
  *  - RELATIVE-ERROR BOUND AFTER MERGE: every quantile estimate read
  *    from the MERGED saved sketches is within α of the exact
  *    rank-⌈q·n⌉ value (the DDSketch guarantee — bucket midpoints
  *    are within α of every value in their bucket).
  */
class SketchSpec extends SparkTestBase {

  private val alpha = 0.02
  private lazy val ev = Tables.events(spark, sfDir)
    .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))

  private def sketchRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSet

  test("merge(per-day sketches) == sketch(whole corpus), bucket-for-bucket") {
    val whole = Sketch.ddSketch(ev, Seq("event_type"), "value", alpha)
    val perDay = Sketch.ddSketch(ev, Seq("day", "event_type"), "value",
      alpha)
    val merged = Sketch.ddMerge(perDay, Seq("event_type"))
    assert(sketchRows(merged.select(col("event_type"), col("bkt"),
      col("cnt").cast("long"))) ==
      sketchRows(whole.select(col("event_type"), col("bkt"),
        col("cnt").cast("long"))))
    // and merging a re-split (odd/even days) agrees too: merge is
    // associative because bucket counts add
    val odd = Sketch.ddSketch(ev.filter(dayofmonth(col("ts")) % 2 === 1),
      Seq("event_type"), "value", alpha)
    val even = Sketch.ddSketch(ev.filter(dayofmonth(col("ts")) % 2 === 0),
      Seq("event_type"), "value", alpha)
    val m2 = Sketch.ddMerge(odd.unionByName(even), Seq("event_type"))
    assert(sketchRows(m2.select(col("event_type"), col("bkt"),
      col("cnt").cast("long"))) ==
      sketchRows(whole.select(col("event_type"), col("bkt"),
        col("cnt").cast("long"))))
  }

  test("quantile estimates from merged sketches are within alpha of the exact ranked value") {
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val perDay = Sketch.ddSketch(ev, Seq("day", "event_type"), "value",
      alpha)
    val merged = Sketch.ddMerge(perDay, Seq("event_type"))
    val est = Sketch.ddQuantiles(merged, Seq("event_type"), qs, alpha)
      .collect()
      .map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2)))
      .toMap
    // exact rank-⌈q·n⌉ values per type, computed straight off the rows
    val byType = ev.filter(col("value") > 0)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    assert(est.nonEmpty && byType.nonEmpty)
    for (((t, q), e) <- est) {
      val vs = byType(t)
      val exact = vs(math.ceil(q * vs.length).toInt - 1)
      val relErr = math.abs(e - exact) / exact
      assert(relErr <= alpha + 1e-9,
        s"type $t q=$q: estimate $e vs exact $exact, relErr $relErr")
    }
    // every (type, q) pair must be present
    assert(est.size == byType.size * qs.size)
  }
}
