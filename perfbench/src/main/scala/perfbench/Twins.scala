package perfbench

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{IndexStore, api, sources, streaming}

/** A saved index a twin serves from, built through `IndexStore.ensure`
  * under whatever IndexStore base is current when [[Twin.prepare]] runs. */
final case class SavedIndex(family: String, source: String,
    build: String => Unit)

/** One `graft.streaming` twin fed through a `MemoryStream` into a memory
  * sink, as `graft.StreamBench` drives it.
  *
  * A twin stays started across passes. Each pass (an epoch) feeds the
  * input once more, shifted by `shift(row, epoch)` so that stateful
  * twins see new keys at later event times (stateless twins feed the
  * same rows again). */
final class Twin[T: Encoder](val name: String, cols: Seq[String],
    input: => Seq[T], index: Option[SavedIndex],
    plan: (DataFrame, String) => DataFrame,
    shift: (T, Int) => T = (t: T, _: Int) => t,
    batchForm: Option[DataFrame => DataFrame] = None) {
  private lazy val rows = input
  private var indexPath = ""
  private var mem: MemoryStream[T] = _
  private var query: StreamingQuery = _
  private var table = ""
  /** Rows sent per epoch since the query started. */
  private val sent = scala.collection.mutable.ArrayBuffer.empty[Int]

  def inputRows: Int = rows.size

  /** Builds (or finds) the saved index under the current IndexStore
    * base; returns the seconds it took. */
  def prepare(dir: String): Double = {
    val t0 = System.nanoTime()
    indexPath = index.map { ix =>
      IndexStore.ensure(IndexStore.stampedPath(ix.family, dir, ix.source))(
        ix.build)
    }.getOrElse("")
    (System.nanoTime() - t0) / 1e9
  }

  def start(spark: SparkSession, tag: String): Unit = {
    mem = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    table = s"pb_${name}_$tag"
    query = plan(mem.toDF().toDF(cols: _*), indexPath)
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    sent.clear()
  }

  /** The next pass of input, split into `batches` micro-batches to send
    * in order, of which the first `upTo` are returned. */
  def nextPass(batches: Int, upTo: Int): Seq[() => Unit] = {
    val data = rows.map(shift(_, sent.size))
    val size = math.max(1, math.ceil(data.size.toDouble / batches).toInt)
    sent += 0
    data.grouped(size).take(upTo).map { slice => () =>
      mem.addData(slice)
      query.processAllAvailable()
      sent(sent.size - 1) += slice.size
    }.toSeq
  }

  /** Stops the query and returns (rows out, rows expected).
    * Epochs share no keys or event times, and the shift preserves
    * everything the plan looks at, so the expected output is the sum
    * over epochs of the batch form on the rows that epoch sent. */
  def finish(spark: SparkSession): (Long, Long) = {
    query.stop()
    val out = spark.table(table).count()
    val expected = sent.groupBy(identity).map { case (n, epochs) =>
      val static = spark.createDataset(rows.take(n)).toDF(cols: _*)
      epochs.size *
        batchForm.map(_(static)).getOrElse(plan(static, indexPath)).count()
    }.sum
    (out, expected)
  }

  def stop(): Unit = if (query != null && query.isActive) query.stop()
}

/** Two of the twins `graft.StreamBench` drives, over the same inputs and
  * saved index: one stateless twin serving from a saved IndexStore
  * artifact and one stateful twin. */
object Twins {
  def all(spark: SparkSession, dir: String): Map[String, Twin[_]] = {
    import spark.implicits._
    lazy val docs = sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    // the feeds of graft.StreamBench: the arrival documents, and every
    // event in time order
    lazy val arrivals = docs.as[(Long, String)].collect().toSeq
      .filter(_._1 % 10 == 3)
    lazy val evRows = sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts").orderBy($"ts", $"event_id")
      .as[(Long, Long, java.sql.Timestamp)].collect().toSeq
    // each epoch of events starts two days after the previous one ends
    // and uses fresh ids, so watermarks move on and no state is shared
    lazy val idSpan = evRows.map(_._1).max + 1
    lazy val tsSpan = evRows.last._3.getTime - evRows.head._3.getTime +
      2L * 24 * 3600 * 1000

    Seq[Twin[_]](
      new Twin[(Long, String)]("decontaminate_index", Seq("doc_id", "text"),
        arrivals, Some(SavedIndex("dcn_eval_g4", "documents.parquet",
          api.Text.evalGramIndexBuild(docs.filter(pmod(
            api.Sampling.portableHash($"doc_id", "eval:"), lit(50L)) === 0L),
            "doc_id", "text", _))),
        (df, p) => streaming.TextStreams.decontaminateAgainstSavedIndex(
          df, p, "doc_id", "text")),
      new Twin[(Long, Long, java.sql.Timestamp)]("dedup_state",
        Seq("event_id", "user_id", "ts"), evRows, None,
        (df, _) => streaming.EventStreams.dedup(df),
        (r, e) => (r._1 + e * idSpan, r._2,
          new java.sql.Timestamp(r._3.getTime + e * tsSpan)),
        // dropDuplicatesWithinWatermark is streaming-only; on in-order
        // input with unique ids its batch form is dropDuplicates
        batchForm = Some(_.dropDuplicates("event_id")))
    ).map(t => t.name -> t).toMap
  }
}
