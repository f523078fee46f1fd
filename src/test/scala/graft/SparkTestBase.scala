package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One UTC local[4] session per suite, built by the mains' shared
  * [[Bench.session]] with Verify's config. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    Bench.session("4", "spark.sql.session.timeZone" -> "UTC")

  val sfDir = "/root/testdata/sf0.001"
}
