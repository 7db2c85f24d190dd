package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkContext, Success => TaskSucceeded}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark makes into the program. Times are epoch
  * milliseconds (fractional), the clock Spark stamps its job events with. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

/** Spans kept in memory for the whole run. Entering a span sets the
  * SparkContext job group to `perfbench-span-<id>`, so every job the call
  * starts carries the span id in its properties. */
final class Tracer(sc: SparkContext) {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  val spans = mutable.ArrayBuffer[Span]()

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    sc.setJobGroup(Tracer.groupOf(id), name, interruptOnCancel = false)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.pop()
      spans += Span(id, name, parent, start, end)
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(Tracer.groupOf(stack.head), "", interruptOnCancel = false)
    }
  }

  /** `id` and all spans below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(s => walk(s.id))
    walk(id)
  }

  /** Duration minus the part of the interval its child spans cover. */
  def selfMs(s: Span): Double =
    s.durationMs - Intervals.covered(spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq)

  def lastNamed(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def toJsonLines: Seq[String] = spans.sortBy(_.startMs).map { s =>
    f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_ms": ${selfMs(s)}%.3f}"""
  }.toSeq
}

object Tracer {
  def groupOf(id: Int): String = s"perfbench-span-$id"
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith("perfbench-span-")) group.stripPrefix("perfbench-span-").toIntOption
    else None
}

object Intervals {
  /** Total length of the union of closed intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Engine counters of the jobs attributed to one span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var executorRunMs, executorCpuNs, taskWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var peakTaskMem = 0L
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
}

/** Task, stage and job events, attributed to spans through the job group
  * property each job carries. Events arrive on the listener-bus thread;
  * readers drain the bus first ([[Recorder.drain]]). */
final class EngineListener extends SparkListener {
  val perSpan = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobStartMs = mutable.Map[Int, Long]()

  private def counters(span: Int) = perSpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(group).foreach { s =>
      jobSpan(e.jobId) = s
      jobStartMs(e.jobId) = e.time
      counters(s).jobs += 1
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.get(e.jobId).foreach { s =>
      counters(s).jobIntervals += ((jobStartMs(e.jobId).toDouble, e.time.toDouble))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(s => counters(s).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      if (e.reason != TaskSucceeded) c.failedTasks += 1
      stageSubmitMs.get(e.stageId).foreach(sub => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub))
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      }
    }
}

/** Driver-side planning time: the QueryExecution tracker phases
  * (analysis, optimization, planning) of every action that completed. */
final class PlanningListener extends QueryExecutionListener {
  @volatile var planningMs = 0.0
  private def add(qe: QueryExecution): Unit =
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  def reset(): Unit = planningMs = 0.0
}

/** JVM-wide counters read before and after a window. */
final case class JvmSnapshot(gcMs: Long, gcCount: Long, codegenCompiles: Long)

object JvmSnapshot {
  def take(): JvmSnapshot = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmSnapshot(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}

/** Installs the benchmark's listeners for the traced part of a run and
  * turns what they saw into the `spark.*` and `jvm.*` metrics. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  private val engine = new EngineListener
  private val planning = new PlanningListener

  def drain(): Unit = PerfbenchBridge.drainListenerBus(sc)

  def attach(): Unit = { drain(); sc.addSparkListener(engine); spark.listenerManager.register(planning) }

  def detach(): Unit = { drain(); sc.removeSparkListener(engine); spark.listenerManager.unregister(planning) }

  /** Run `body` as span `name` and measure the engine and JVM over it:
    * only jobs started inside the span (or its children) count. Returns
    * the result, the span's seconds and the metrics. */
  def measured[T](name: String)(body: => T): (T, Double, Map[String, Double]) = {
    drain()
    planning.reset()
    val before = JvmSnapshot.take()
    val out = tracer.span(name)(body)
    val after = JvmSnapshot.take()
    drain()
    val root = tracer.lastNamed(name).get
    val ids = tracer.subtree(root.id)
    val cs = ids.toSeq.flatMap(engine.perSpan.get)
    def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    val jobCover = Intervals.covered(cs.flatMap(_.jobIntervals))
    val m = Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.failed_tasks" -> sum(_.failedTasks),
      "spark.planning_ms" -> planning.planningMs,
      "spark.codegen_compiles" -> (after.codegenCompiles - before.codegenCompiles).toDouble,
      "spark.driver_only_ms" -> math.max(0.0, root.durationMs - jobCover),
      "spark.executor_run_ms" -> sum(_.executorRunMs),
      "spark.executor_cpu_ms" -> sum(_.executorCpuNs) / 1e6,
      "spark.task_wait_ms" -> sum(_.taskWaitMs),
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "spark.spill_mb" -> sum(_.spill) / mb,
      "spark.input_mb" -> sum(_.input) / mb,
      "spark.output_mb" -> sum(_.output) / mb,
      "spark.peak_task_mem_mb" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakTaskMem).max / mb),
      "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
      "jvm.gc_count" -> (after.gcCount - before.gcCount).toDouble)
    (out, root.durationMs / 1000.0, m)
  }
}

/** Blocks and heap still held after an execution, read outside the timed
  * window after a forced GC (the ContextCleaner releases blocks whose
  * DataFrames became unreachable only after a GC). */
final case class Residue(rdds: Int, rddMb: Double, heapMb: Double)

object Residue {
  def take(spark: SparkSession): Residue = {
    val sc = spark.sparkContext
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mb = 1024.0 * 1024.0
    val rddBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Residue(sc.getPersistentRDDs.size, rddBytes / mb, heap / mb)
  }
}
