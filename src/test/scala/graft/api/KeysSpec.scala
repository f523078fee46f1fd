package graft.api

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The fixed-width sort-key range guard (VERDICT r12 item 5:
  * win_pareto_share's %016d revenue field and sample_token_budget's
  * 8-digit doc_id field silently corrupt their lexicographic order
  * when a value outruns the padded width — must fail fast instead). */
class KeysSpec extends SparkTestBase {
  import spark.implicits._

  test("in-range values pass through unchanged") {
    val got = Seq(0L, 42L, 999L).toDF("v")
      .select(Keys.checkedRange(col("v"), 0L, 1000L, "t").as("v"))
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(0L, 42L, 999L))
  }

  test("a value past the field width fails fast with the range") {
    val e = intercept[Exception] {
      Seq(5L, 1000L).toDF("v")
        .select(Keys.checkedRange(col("v"), 0L, 1000L,
          "spec: demo field").as("v"))
        .collect()
    }
    val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
    assert(msg.contains("spec: demo field") && msg.contains("1000"),
      s"guard message should name the field and range: $msg")
  }

  test("negative values fail fast too") {
    assertThrows[Exception] {
      Seq(-1L).toDF("v")
        .select(Keys.checkedRange(col("v"), 0L, 1000L, "t").as("v"))
        .collect()
    }
  }
}
