package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}

/** The benchmark's JVM side. `perfbench/run.py` builds and launches it;
  * it writes one raw result record (samples, spans, jobs, end state) that
  * run.py turns into metrics.
  *
  * Modes: `bench` (one workload, one closed loop), `selftest` (checkers
  * must fail on a model that is off by one), `digest` (hash of the
  * generated inputs, for the determinism test). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a.getOrElse("mode", "bench")
    val work = new File(a("work")).getAbsoluteFile
    val seed = a("seed").toLong
    val out = new PrintWriter(new File(a("out")), "UTF-8")
    try {
      if (mode == "digest")
        Workload.Names.foreach(n => out.println(
          Json(Map("workload" -> n, "digest" -> Workload(n, null, work, seed, small = true).digest()))))
      else {
        val cores = a("cores").toInt
        val spark = session(cores, work)
        try {
          if (mode == "selftest") selftest(spark, work, seed, out)
          else out.println(bench(spark, a("workload"), seed, a("seconds").toDouble,
            a("trace") == "1", cores, a("t0-ms").toLong, work))
        } finally spark.stop()
      }
    } finally out.close()
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def bench(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, t0Ms: Long, work: File): String = {
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    val run = new Run(spark, tracer)
    // warm-up first, on a self-test-size copy, so the staging below is
    // warm too; the loop's own table fills its caches in prime()
    val tw = System.nanoTime()
    val warmDir = new File(work, "warm")
    Files.rm(warmDir)
    warmDir.mkdirs()
    val warm = Workload(name, run, warmDir, seed, small = true)
    warm.stage()
    warm.warmUp()
    Files.rm(warmDir)
    val warmS = (System.nanoTime() - tw) / 1e9
    var w: Workload = null
    val stageS = Iterator.from(0).takeWhile(r => w == null || r < w.stageReps).map { r =>
      val t = System.nanoTime()
      if (w != null) Files.rm(w.dir)
      val d = new File(work, s"tables-$r")
      Files.rm(d)
      d.mkdirs()
      w = Workload(name, run, d, seed, small = false)
      w.stage()
      (System.nanoTime() - t) / 1e9
    }.toVector
    val tp = System.nanoTime()
    w.prime()
    val primeS = (System.nanoTime() - tp) / 1e9
    val listener = new SpanListener
    if (trace) { spark.sparkContext.addSparkListener(listener); tracer.on = true }
    run.phase = "loop"
    val loadStart = Files.loadavg()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // table state after the first full round: a fixed op count, so a
    // faster engine that runs more ops does not move the space figures
    var space = Map.empty[String, Double]
    var i = 0
    while (i < w.minSteps || System.nanoTime() < deadline) {
      run.step = i
      w.step(i)
      i += 1
      if (i == w.minSteps) space = Files.logCounts(w.table) ++ Map(
        "stored_bytes" -> Files.du(w.table).toDouble,
        "live_rows" -> w.liveRows.toDouble,
        "data_files" -> Files.dataFiles(w.table).toDouble)
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val loadEnd = Files.loadavg()
    tracer.on = false
    if (trace) org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    val heapMb = Files.retainedHeapMb()
    val end = space + ("heap_mb" -> heapMb)
    Json(Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "spark_version" -> spark.version,
      "loadavg_loop_start" -> loadStart, "loadavg_loop_end" -> loadEnd,
      "session_s" -> sessionS, "stage_reps_s" -> stageS, "warmup_s" -> warmS,
      "prime_s" -> primeS, "loop_s" -> loopS, "steps" -> i,
      "samples" -> run.samples,
      "errors" -> run.errors, "end" -> end, "counters" -> w.counters,
      "mix" -> w.mix, "reads" -> w.reads, "writes" -> w.writes,
      "spans" -> tracer.rows, "jobs" -> listener.jobRows, "stages" -> listener.stageRows,
      "stage_cols" -> SpanListener.StageCols))
  }

  /** Each workload at self-test scale: a clean round must pass, and after
    * the model is made wrong by one row the next round must fail. */
  def selftest(spark: SparkSession, work: File, seed: Long, out: PrintWriter): Unit =
    Workload.Names.foreach { n =>
      val run = new Run(spark, new Tracer(spark.sparkContext))
      val d = new File(work, s"selftest-$n")
      Files.rm(d)
      d.mkdirs()
      val w = Workload(n, run, d, seed, small = true)
      w.stage()
      w.round()
      run.tr.on = true
      w.round()
      val clean = run.failed
      w.corrupt()
      w.round()
      out.println(Json(Map("workload" -> n, "clean_failed" -> clean,
        "corrupt_failed" -> (run.failed - clean), "errors" -> run.errors)))
      Files.rm(d)
    }
}
