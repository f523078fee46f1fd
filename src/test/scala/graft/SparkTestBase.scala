package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** One UTC local[4] session per suite, built by the mains' shared
  * [[Bench.session]] with Verify's config. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    Bench.session("4", "spark.sql.session.timeZone" -> "UTC")

  val sfDir = "/root/testdata/sf0.001"

  /** the Spark jobs `body` runs: the listener bus delivers in order,
    * so once a sentinel job is seen every job of `body` is counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobsof-body", "body")
      body
      sc.setJobGroup("jobsof-sentinel", "sentinel")
      spark.range(4).count()
      sc.clearJobGroup()
      eventually(timeout(30.seconds)) {
        assert(groups.contains("jobsof-sentinel"))
      }
    } finally sc.removeSparkListener(listener)
    groups.asScala.count(_ == "jobsof-body")
  }
}
