package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One op's wall and process CPU, the heap live when it returned, and in
  * traced runs the engine counters over it. */
final case class OpStat(op: Int, wall: Double, cpu: Double, heapMb: Double,
    counters: Map[String, Double])

/** One benchmark run: one JVM, one workload, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --sf <scale> --ops <max ops, 0 = no cap> --work <dir> --trace-file <path>
  * }}}
  *
  * Set-up starts the session, writes the seeded inputs `PrepareRuns` times
  * and keeps the last, then runs `WarmupOps` JIT-cold ops. The timed phase
  * issues ops back to back for `--seconds`, and at least `MinTimedOps`. The
  * last stdout line is the result as one JSON object.
  */
object Main {
  private val PrepareRuns = 3
  private val WarmupOps = 1
  private val MinTimedOps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: Double, maxOps: Int, work: String, traceFile: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("sf").toDouble, m.getOrElse("ops", "0").toInt, need("work"), need("trace-file"))
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.Names.contains(o.workload), s"unknown workload ${o.workload}")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // one op compiles more distinct classes than the default 100-entry
      // codegen cache holds; at the default every op recompiles them all
      // and op time never settles
      .config("spark.sql.codegen.cache.maxEntries", 10000L)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Jvm.uptimeS()
    val engine = if (o.trace) Some(new Engine(spark)) else None
    val w = Workloads(o.workload, spark, o.sf, o.seed)

    val prepareS = (0 until PrepareRuns).map { k =>
      if (k > 0) Workloads.deleteTree(s"${o.work}/inputs${k - 1}")
      val t0 = System.nanoTime()
      w.prepare(s"${o.work}/inputs$k")
      (System.nanoTime() - t0) / 1e9
    }

    // ---- ops, each checked outside its timed region
    val digests = scala.collection.mutable.Map[Int, String]()
    val planted = ArrayBuffer[Double]()
    val cacheMb = ArrayBuffer[Double]()
    var attempted, failed = 0
    var next = 0

    /** Runs op `next`; its figures if it passed every check. */
    def once(tracer: Option[Tracer]): Option[OpStat] = {
      val op = next
      next += 1
      attempted += 1
      val before = engine.map(_.snap())
      val fromMs = System.currentTimeMillis()
      val c0 = Jvm.cpuNs()
      val t0 = System.nanoTime()
      val result = try Right(tracer.fold(w.run(op, None))(t => t.tracedOp(op)(w.run(op, tracer))))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs() - c0) / 1e9
      val toMs = System.currentTimeMillis()
      val counters = engine.fold(Map.empty[String, Double]) { eng =>
        (eng.snap() - before.get).toMap + ("exec_idle_s" -> eng.idleMs(fromMs, toMs) / 1e3)
      }
      val problems = result match {
        case Left(e) => Seq(s"threw $e")
        case Right(r) =>
          val c = w.check(op, r)
          c.planted.foreach(planted += _)
          val first = digests.getOrElseUpdate(c.slot, c.digest)
          c.violations ++ (if (c.digest != first) Seq(s"digest ${c.digest} differs from $first") else Nil)
      }
      // what the op left behind: its cached frames and everything else live
      if (o.trace) cacheMb += spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      val heapMb = Jvm.liveHeapMb()
      spark.catalog.clearCache()
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => println(s"op $op failed: $p"))
        None
      } else Some(OpStat(op, wall, cpu, heapMb, counters))
    }

    // ---- warm-up: the JIT-cold first op
    val warmOps = if (o.maxOps > 0) 0 else WarmupOps
    val warmT0 = System.nanoTime()
    val warm = (0 until warmOps).map(_ => once(None).map(_.wall).getOrElse(Double.NaN))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + median(prepareS) + warmS
    println(f"setup: session $sessionS%.2f s, inputs ${median(prepareS)}%.2f s (median of $PrepareRuns), " +
      f"warm-up $warmS%.2f s over ${warm.size} ops: ${warm.map(x => f"$x%.2f").mkString(" ")}")

    // ---- timed phase
    val t0 = System.nanoTime()
    val timedFrom = attempted
    def more(min: Int) = if (o.maxOps > 0) attempted < o.maxOps
      else attempted - timedFrom < min || (System.nanoTime() - t0) / 1e9 < o.seconds
    val metrics: Seq[(String, Double, String)] = engine match {
      case None =>
        val ok = ArrayBuffer[OpStat]()
        while (more(MinTimedOps)) once(None).foreach(ok += _)
        require(ok.nonEmpty, "every timed op failed")
        println(s"timed ops: ${ok.size} passed, walls ${ok.map(x => f"${x.wall}%.3f").mkString(" ")}, " +
          s"cpu ${ok.map(x => f"${x.cpu}%.2f").mkString(" ")}")
        // the least of the timed ops: other load on the host only adds time
        Seq(("setup_s", setupS, "s"), ("op_s", ok.map(_.wall).min, "s"),
          ("cpu_s", ok.map(_.cpu).min, "s"), ("peak_heap_mb", ok.map(_.heapMb).max, "MB"))
      case Some(eng) =>
        val tracer = new Tracer(eng)
        // each traced op sits between two untraced ones, so JIT warming
        // over the run does not read as tracing overhead
        val plain, traced = ArrayBuffer[OpStat]()
        once(None).foreach(plain += _)
        while (more(3)) {
          once(Some(tracer)).foreach(traced += _)
          once(None).foreach(plain += _)
        }
        require(plain.nonEmpty && traced.nonEmpty, "every traced-run op failed")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.traceFile).getParent)
        Workloads.writeFile(o.traceFile, tracer.json)
        layerMetrics(tracer, plain.toSeq, traced.toSeq, cacheMb.toSeq, cores)
    }
    // each workload scores its own planted outcome; the other one reads 0
    val plantedMetrics = Seq("planted_drift_flagged" -> "count", "planted_dup_recall" -> "ratio")
      .map { case (k, u) => (k, if (k == w.plantedMetric && planted.nonEmpty) planted.min else 0.0, u) }
    val all = if (o.trace) metrics ++ plantedMetrics else metrics

    val errorRate = failed.toDouble / attempted
    (all :+ (("error_rate", errorRate, "ratio"))).foreach { case (k, v, u) => println(f"$k%-22s $v%.6f $u") }
    val body = all.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(f"run ended at ${Jvm.uptimeS()}%.2f s of JVM uptime")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** Per-layer metrics of the traced run, where untraced and traced ops
    * alternate. Untraced ops give op wall and the engine counters over the
    * op (medians); traced ops give each layer's self time. */
  private def layerMetrics(tracer: Tracer, plain: Seq[OpStat], traced: Seq[OpStat],
      cacheMb: Seq[Double], cores: Int): Seq[(String, Double, String)] = {
    def med(f: OpStat => Double) = median(plain.map(f))
    val opS = med(_.wall)
    val engineMetric = Seq("jobs" -> "count", "tasks" -> "count", "plan_s" -> "s",
      "exec_idle_s" -> "s", "exec_cpu_s" -> "s", "exec_run_s" -> "s", "gc_s" -> "s",
      "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "input_mb" -> "MB")
      .map { case (k, u) => (s"spark.$k", med(_.counters(k)), u) }
    val derived = Seq(
      ("spark.tasks_per_job", med(p => p.counters("tasks") / math.max(1.0, p.counters("jobs"))), "count"),
      ("spark.core_util", med(p => p.counters("exec_run_s") / (p.wall * cores)), "ratio"),
      ("spark.cache_mb", median(cacheMb), "MB"))
    val layers = Seq("snapshot_commit_s", "snapshot_load_s", "type_inference_s", "numeric_drift_s",
      "categorical_drift_s", "correlation_s", "group_drift_s", "results_write_s", "corpus_funnel_s",
      "neardup_s", "leakage_audit_s", "containment_s", "ppl_buckets_s")
      .map(m => (m, median(traced.map(t => tracer.selfSeconds(t.op).getOrElse(m, 0.0))), "s"))
    val tracedS = median(traced.map(_.wall))
    val spanned = median(traced.map(t => tracer.spannedSeconds(t.op)))
    val overall = Seq(("traced_op_s", tracedS, "s"),
      ("tracing_overhead_s", tracedS - opS, "s"), ("unattributed_s", opS - spanned, "s"))
    // where an op's wall goes: idle wall is planning plus other driver
    // work; busy wall is executor CPU and GC spread over the cores, plus
    // the remainder (waiting on I/O, shuffle and unused cores)
    val m = (engineMetric ++ derived).map(t => t._1 -> t._2).toMap
    val idle = m("spark.exec_idle_s")
    val busy = opS - idle
    println(s"wall split of one op (median of ${plain.size} untraced ops, $cores cores):")
    Seq("op wall" -> opS, "  idle: spark.plan_s" -> m("spark.plan_s"),
      "  idle: other driver work" -> (idle - m("spark.plan_s")), "  busy: spark.exec_cpu_s / cores" ->
        m("spark.exec_cpu_s") / cores, "  busy: spark.gc_s / cores" -> m("spark.gc_s") / cores,
      "  busy: remainder" -> (busy - (m("spark.exec_cpu_s") + m("spark.gc_s")) / cores))
      .foreach { case (k, v) => println(f"$k%-34s $v%8.3f s") }
    overall ++ layers ++ engineMetric ++ derived
  }
}
