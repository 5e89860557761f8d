package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the Spark engine counters at one instant. Differences of two
  * snapshots give the counters of the interval between them. */
final case class EngineSnap(jobs: Long, tasks: Long, planMs: Long,
    execCpuNs: Long, execRunMs: Long, shuffleWriteB: Long, shuffleReadB: Long,
    spillB: Long, inputB: Long, gcMs: Long) {
  def -(o: EngineSnap): EngineSnap = EngineSnap(jobs - o.jobs, tasks - o.tasks,
    planMs - o.planMs, execCpuNs - o.execCpuNs, execRunMs - o.execRunMs,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    spillB - o.spillB, inputB - o.inputB, gcMs - o.gcMs)

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "plan_s" -> planMs / 1e3,
    "exec_cpu_s" -> execCpuNs / 1e9, "exec_run_s" -> execRunMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteB / Mb, "shuffle_read_mb" -> shuffleReadB / Mb,
    "spill_mb" -> spillB / Mb, "input_mb" -> inputB / Mb, "gc_s" -> gcMs / 1e3)

  private def Mb = 1024.0 * 1024.0
}

/** Scheduler, planner and task counters of one SparkSession, plus the task
  * run intervals needed to find the wall time during which no task ran.
  * Registered only in traced runs. */
final class Engine(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var jobs, tasks, planMs, cpuNs, runMs, shufW, shufR, spill, input = 0L
  private val intervals = ArrayBuffer[(Long, Long)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shufW += m.shuffleWriteMetrics.bytesWritten
      shufR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  // analysis + optimization + physical planning of every executed query
  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  /** Counters after every event posted so far has been delivered. */
  def snap(): EngineSnap = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      EngineSnap(jobs, tasks, planMs, cpuNs, runMs, shufW, shufR, spill, input, Jvm.gcMs())
    }
  }

  /** Milliseconds of [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    var busy = 0L
    var end = fromMs
    for ((s, e) <- intervals.sortBy(_._1)) {
      val lo = math.max(s, end)
      val hi = math.min(e, toMs)
      if (hi > lo) { busy += hi - lo; end = hi }
    }
    intervals.clear()
    (toMs - fromMs) - busy
  }
}

/** One traced call: `metric` names the per-layer metric its self time adds
  * to, `name` the public function called. */
final case class Span(id: Int, parent: Int, op: Int, metric: String, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of the traced run, kept in memory and written out at the end.
  * Each span also records the engine counters over its interval. */
final class Tracer(engine: Engine) {
  val spans = ArrayBuffer[Span]()
  private var open = List(-1)
  private var op = -1

  def span[T](metric: String, name: String)(body: => T): T = {
    val before = engine.snap()
    val id = spans.size
    val parent = open.head
    spans += null // reserve the id so children number after their parent
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans(id) = Span(id, parent, op, metric, name, t0, t1, (engine.snap() - before).toMap)
    }
  }

  /** Runs one traced op under a root span named `op`. */
  def tracedOp[T](opId: Int)(body: => T): T = { op = opId; span("op", "op")(body) }

  /** Self time of each span: its duration minus its direct children's. */
  def selfSeconds(opId: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == opId)
    val childSum = mine.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    mine.filter(_.metric != "op").groupBy(_.metric).view
      .mapValues(_.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
  }

  /** Wall of the op's top-level spans, summed. */
  def spannedSeconds(opId: Int): Double = {
    val root = spans.find(s => s.op == opId && s.metric == "op").map(_.id)
    spans.filter(s => s.op == opId && root.contains(s.parent)).map(_.seconds).sum
  }

  def json: String = spans.map { s =>
    val c = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "metric": "${s.metric}", """ +
      s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counters": {$c}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Process-wide JVM readings: CPU, GC time and live heap. In local mode
  * the driver and the executors share this JVM. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Heap still live after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
