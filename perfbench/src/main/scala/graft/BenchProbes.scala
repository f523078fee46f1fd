package graft

/** The host-noise probes `graft.Bench` stamps into its artifacts, opened
  * to the benchmark harness (they are `private[graft]` in [[Bench]]), so
  * that both report the same probes over the same fixed work: the
  * 1-minute loadavg, the cumulative steal and total jiffies of
  * /proc/stat's `cpu` line, and the single-thread calibration. */
object BenchProbes {
  def loadavg1m(): Double = Bench.loadavg1m()
  def stealTotals(): (Long, Long) = Bench.stealTotals()
  def calibrateWarmup(): Unit = Bench.calibrateWarmup()
  def calibrate(): Double = Bench.calibrate()
}
