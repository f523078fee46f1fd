package graft

/** The in-artifact host-noise telemetry (round-16 VERDICT item 2):
  * the fixed-work calibration probe and the /proc/stat steal counter
  * that make every bench artifact self-adjudicating — loadavg alone
  * provably cannot (four sub-2-loadavg round-16 captures, all ~1.67×
  * uniformly inflated by hypervisor noise invisible to the guest
  * average). */
class BenchNoiseSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("calibration probe: deterministic work, positive stable time, scales with iters") {
    Bench.calibrateWarmup()
    val t1 = Bench.calibrate(50000000L)
    val t2 = Bench.calibrate(200000000L)
    assert(t1 > 0 && t2 > 0)
    // 4x the work takes materially more time (JIT'd, allocation-free
    // loop — the ratio is ~4 on a quiet host; we only pin >2 so the
    // assertion is noise-proof)
    assert(t2 > 2 * t1, f"4x work must cost >2x time: $t1%.3f vs $t2%.3f")
  }

  test("steal totals read /proc/stat: totals positive and monotone") {
    val (s0, j0) = Bench.stealTotals()
    assert(j0 > 0, "aggregate cpu jiffies must be readable on Linux")
    assert(s0 >= 0, "steal column exists (0 when hypervisor hides it)")
    Bench.calibrate(50000000L)
    val (s1, j1) = Bench.stealTotals()
    assert(j1 >= j0 && s1 >= s0, "cumulative counters are monotone")
  }

  test("shared noise fragment: calibration triple, integer jiffy deltas, " +
      "loadavg bookends, in the order Bench's driver lines carry them") {
    val noise = new Bench.Noise
    noise.mid()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"{${noise.end()}}")
    val keys = Seq.newBuilder[String]
    json.fieldNames().forEachRemaining(k => keys += k)
    assert(keys.result() == Seq("cal_sec", "steal_jiffies_delta",
      "cpu_jiffies_delta", "loadavg_start", "loadavg_end"))
    val cal = json.get("cal_sec")
    assert(cal.isArray && cal.size == 3)
    (0 until 3).foreach { i =>
      assert(cal.get(i).isDouble && cal.get(i).asDouble > 0,
        s"cal_sec($i) must be a measured time, got ${cal.get(i)}")
    }
    for (k <- Seq("steal_jiffies_delta", "cpu_jiffies_delta"))
      assert(json.get(k).isIntegralNumber && json.get(k).asLong >= 0, k)
    for (k <- Seq("loadavg_start", "loadavg_end"))
      assert(json.get(k).isDouble, k)
  }
}
