package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Every contract query runs without throwing and returns rows on the
  * smoke fixture — the same invariant the driver's Verify pass needs
  * (a throwing query silently zeroes its correctness score).
  *
  * Since r13 the same pass also scans every float/double cell
  * (including nested arrays/structs) for NEGATIVE-ZERO bit patterns:
  * -0.0 == +0.0 as a value but not as bytes, so an engine disagreement
  * on the sign of zero fails the driver's hash gate while passing
  * every value-level check (the graph_modularity r12 lesson — DuckDB
  * round(-4.5e-07, 6) → -0.0, Spark → +0.0). No fleet query is
  * allowed to EMIT -0.0: normalize with `+ 0.0` or emit exact
  * integers instead. */
class QuerySmokeSpec extends SparkTestBase {

  private def negZeros(v: Any, dt: DataType, col: String): Seq[String] =
    (v, dt) match {
      case (null, _) => Nil
      case (d: Double, _) if d == 0.0 &&
          java.lang.Double.doubleToRawLongBits(d) != 0L => Seq(col)
      case (f: Float, _) if f == 0.0f &&
          java.lang.Float.floatToRawIntBits(f) != 0 => Seq(col)
      case (a: scala.collection.Seq[_], ArrayType(et, _)) =>
        a.flatMap(x => negZeros(x, et, s"$col[]")).toSeq
      case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
        m.values.flatMap(x => negZeros(x, vt, s"$col{}")).toSeq
      case (r: Row, st: StructType) =>
        st.fields.toSeq.flatMap(f =>
          negZeros(r.get(st.fieldIndex(f.name)), f.dataType,
            s"$col.${f.name}"))
      case _ => Nil
    }

  Registry.all.foreach { q =>
    test(s"${q.name} runs, returns rows, emits no -0.0 at sf0.001") {
      val df = q.fn(spark, sfDir)
      val schema = df.schema
      val rows = df.collect()
      assert(rows.nonEmpty, s"${q.name} returned 0 rows")
      val hits = rows.iterator.flatMap { r =>
        schema.fields.iterator.zipWithIndex.flatMap { case (f, i) =>
          negZeros(r.get(i), f.dataType, f.name)
        }
      }.take(3).toSeq
      assert(hits.isEmpty,
        s"${q.name} emitted -0.0 in column(s) ${hits.mkString(", ")} — " +
          "a latent hash-gate hazard; normalize with + 0.0 or emit " +
          "exact integers")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle name exists in queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
