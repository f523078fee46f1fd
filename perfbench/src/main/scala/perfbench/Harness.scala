package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{BenchProbes, IndexStore, PlanCache, SparkEntry}

/** One benchmark run in one JVM: one client thread on `local[cores]`.
  *
  * Arguments are `key=value` pairs, written by `perfbench/run.py`:
  * `workload seed passes trace fixture run_dir out setup_reps
  * queries twins batches intervals`. A query listed k times in
  * `queries` runs k times per timed pass. The harness
  *
  *  1. starts the session with `graft.Bench`'s settings;
  *  2. sets up `setup_reps` times, each time with an empty IndexStore
  *     base (a fresh `java.io.tmpdir`) and an empty PlanCache: one
  *     untimed pass over every op builds the artifacts and memos;
  *  3. runs one untimed warm pass that writes every query's result for
  *     the full-value parity check;
  *  4. times `passes` passes, each over the ops in a seeded order;
  *  5. checks the stream twins' output against their batch forms;
  *  6. writes everything it measured to `out` as JSON.
  *
  * A query op is timed from the `fn(spark, dir)` call through
  * `.count()`. A stream op is one micro-batch, sent on an open-loop
  * schedule (one batch of twin `t` due every `intervals(t)` seconds)
  * and timed from when it was due. With `trace=1` the listeners of [[Tracer]] are registered
  * and every op runs under its own job group. */
object Harness {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis()
  /** Wall-clock milliseconds, on the same clock as listener events. */
  private def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    def list(k: String) = a(k).split(",").filter(_.nonEmpty).toSeq
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val traced = a("trace") == "1"
    val dir = a("fixture")
    val runDir = new File(a("run_dir")).getAbsoluteFile
    val queries = list("queries")
    val twinNames = list("twins")
    val batches = a("batches").toInt
    val intervalMs = list("intervals").map { kv =>
      val Array(t, s) = kv.split(":")
      t -> s.toDouble * 1000
    }.toMap

    def delta(a: Long, b: Long) = if (a >= 0 && b >= 0) b - a else -1L
    val load0 = BenchProbes.loadavg1m()
    val (steal0, jiffies0) = BenchProbes.stealTotals()
    BenchProbes.calibrateWarmup()
    val cal0 = BenchProbes.calibrate()

    val cores = Runtime.getRuntime.availableProcessors
    val tSession = nowMs
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tracer = if (traced) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
      Some(t)
    } else None
    val sessionStartS = (nowMs - tSession) / 1000

    val fns = SparkEntry.queries
    val twins = {
      val all = Twins.all(spark, dir)
      twinNames.map(all)
    }
    val tInputs = nowMs
    val inputRows = twins.map(t => t.name -> t.inputRows).toMap
    val inputsS = (nowMs - tInputs) / 1000

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rng = new scala.util.Random(seed)

    def runQuery(name: String, phase: String, pass: Int, slot: Int): Unit = {
      val id = s"$phase/$pass/$slot/$name"
      val artifacts0 = if (phase == "timed") 0L else Artifacts.scan()("count")
      val t0 = nowMs
      var t1 = t0
      val rec = mutable.Map[String, Any]("id" -> id, "op" -> name,
        "kind" -> "query", "phase" -> phase, "pass" -> pass, "start_ms" -> t0)
      try {
        if (traced) sc.setJobGroup(s"$id#build", name)
        val df = fns(name)(spark, dir)
        t1 = nowMs
        if (traced) sc.setJobGroup(s"$id#action", name)
        rec("rows") = df.count()
        rec("ok") = true
      } catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally if (traced) sc.clearJobGroup()
      rec("build_end_ms") = t1
      rec("end_ms") = nowMs
      if (phase != "timed")
        rec("new_artifacts") = Artifacts.scan()("count") - artifacts0
      ops += rec.toMap
    }

    /** Sends one pass of a twin's input, its micro-batches due
      * `intervalMs(t.name)` apart; a set-up pass sends only the first one. */
    def runTwin(t: Twin[_], phase: String, pass: Int): Unit = {
      val sends = t.nextPass(batches,
        upTo = if (phase.startsWith("setup")) 1 else batches)
      val first = nowMs
      sends.zipWithIndex.foreach { case (send, i) =>
        val due = first + i * intervalMs(t.name)
        while (nowMs < due) Thread.sleep(math.max(1L, (due - nowMs).toLong))
        val sent = nowMs
        val id = s"$phase/$pass/${t.name}/$i"
        val rec = mutable.Map[String, Any]("id" -> id, "op" -> t.name,
          "kind" -> "batch",
          "phase" -> phase, "pass" -> pass, "due_ms" -> due, "start_ms" -> sent,
          "build_end_ms" -> sent)
        try {
          if (traced) sc.setJobGroup(s"$id#action", t.name)
          send()
          rec("ok") = true
        } catch {
          case e: Throwable =>
            rec("ok") = false
            rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        } finally if (traced) sc.clearJobGroup()
        rec("end_ms") = nowMs
        ops += rec.toMap
      }
    }

    val opNames = queries ++ twinNames
    val twinByName = twins.map(t => t.name -> t).toMap
    def runPass(names: Seq[String], phase: String, pass: Int): Unit =
      rng.shuffle(names).zipWithIndex.foreach { case (name, slot) =>
        twinByName.get(name) match {
          case Some(t) => runTwin(t, phase, pass)
          case None => runQuery(name, phase, pass, slot)
        }
      }

    // -- set-up, several times over, each from empty artifacts and memos
    val setups = (1 to a("setup_reps").toInt).map { r =>
      val tmp = new File(runDir, s"tmp/setup$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getPath)
      twins.foreach(_.stop())
      PlanCache.clear()
      spark.catalog.clearCache()
      val t0 = nowMs
      val indexS = twins.map(_.prepare(dir)).sum
      twins.foreach(_.start(spark, s"s$r"))
      runPass(opNames.distinct, s"setup$r", 0)
      Map("setup_s" -> (nowMs - t0) / 1000, "twin_index_s" -> indexS,
        "artifacts" -> Artifacts.scan())
    }

    // -- warm pass, writing each query's result for the parity check
    val parityDir = new File(runDir, "parity")
    val parityWrites = rng.shuffle(queries.distinct).map { q =>
      try {
        fns(q)(spark, dir).write.parquet(new File(parityDir, q).getPath)
        q -> "written"
      } catch { case e: Throwable => q -> s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    }.toMap

    // -- timed section
    val calMid = BenchProbes.calibrate()
    val before = Map("plancache_frames" -> PlanCache.size,
      "plancache_scalars" -> PlanCache.scalarSize,
      "artifacts" -> Artifacts.scan())
    val sectionStart = nowMs
    (1 to passes).foreach { p =>
      runPass(opNames, "timed", p)
    }
    val sectionEnd = nowMs
    val after = Map("plancache_frames" -> PlanCache.size,
      "plancache_scalars" -> PlanCache.scalarSize,
      "artifacts" -> Artifacts.scan(),
      "storage_cached_bytes" ->
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    val cal1 = BenchProbes.calibrate()
    val load1 = BenchProbes.loadavg1m()
    val (steal1, jiffies1) = BenchProbes.stealTotals()

    // -- output checks (untimed)
    val tChecks = nowMs
    val twinChecks = twins.map { t =>
      val (out, expected) = try t.finish(spark) catch {
        case e: Throwable =>
          System.err.println(s"twin ${t.name} check failed: $e")
          (-1L, 0L)
      }
      Map("twin" -> t.name, "rows_out" -> out, "expected" -> expected)
    }
    val checksS = (nowMs - tChecks) / 1000
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    parityDir.mkdirs()
    mapper.writeValue(new File(parityDir, "oracle_sql.json"), oracle)

    tracer.foreach { t =>
      val deadline = nowMs + 10000
      while (!t.settled && nowMs < deadline) Thread.sleep(50)
      Thread.sleep(200)
    }
    val result = Map[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "fixture" -> dir, "traced" -> traced,
      "session_start_s" -> sessionStartS, "inputs_s" -> inputsS,
      "input_rows" -> inputRows,
      "setups" -> setups, "section_start_ms" -> sectionStart,
      "section_end_ms" -> sectionEnd, "passes" -> passes,
      "before" -> before, "after" -> after, "ops" -> ops.toSeq,
      "twin_checks" -> twinChecks, "parity_writes" -> parityWrites,
      "checks_s" -> checksS,
      "oracle_sql" -> oracle,
      "noise" -> Map("cal_sec" -> Seq(cal0, calMid, cal1),
        "steal_jiffies_delta" -> delta(steal0, steal1),
        "cpu_jiffies_delta" -> delta(jiffies0, jiffies1),
        "loadavg_start" -> load0, "loadavg_end" -> load1),
      "spans" -> tracer.map(_.spans).getOrElse(Map.empty),
      "jvm_start_ms" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    mapper.writeValue(new File(a("out")), result)
    PlanCache.clear()
    spark.stop()
  }
}

/** Saved artifacts under the current IndexStore base: how many complete
  * ones there are, and the bytes of every file there. */
object Artifacts {
  def scan(): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    val all = walk(IndexStore.baseDir)
    Map("count" -> all.count(f =>
        f.isDirectory && IndexStore.isComplete(f.getPath)).toLong,
      "bytes" -> all.filter(_.isFile).map(_.length).sum)
  }
}
