package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-request spans and layer counters for the traced run.
  *
  * Spans are kept in memory and written out when the run ends. Spark
  * work is tied to its request through the job group the benchmark sets
  * around each layer call (`<request>/<layer>`); the listener below is
  * registered only in the traced half of a traced run, so timed runs
  * carry no listener at all.
  */
final class Trace {
  final case class Span(request: String, name: String, parent: String,
      startNs: Long, endNs: Long)

  val spans = mutable.ArrayBuffer[Span]()
  /** Counters of the request in flight, keyed by metric name. */
  val counters = mutable.LinkedHashMap[String, Double]()
  @volatile var enabled = false
  private var request = ""

  def begin(id: String): Unit = { request = id; counters.clear() }

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  private var stack: List[String] = Nil

  /** Runs `f` as one layer call: a span when tracing, and always a job
    * group, so the Spark work it starts can be attributed. */
  def span[A](spark: org.apache.spark.sql.SparkSession, name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"$request/$name", name, interruptOnCancel = false)
    val parent = stack.headOption.getOrElse("request")
    stack = name :: stack
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (enabled) {
        spans += Span(request, name, parent, t0, t1)
        add(s"$name.ms", (t1 - t0) / 1e6)
      }
      if (outer == null) sc.clearJobGroup()
      else sc.setJobGroup(outer, outer.drop(request.length + 1), interruptOnCancel = false)
    }
  }

  def requestSpan(startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(request, "request", "", startNs, endNs)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"request":"${s.request}","name":"${s.name}","parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Scheduler, executor and shuffle counters per job group, plus the
  * Catalyst phase times of every query execution in the session. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks, tasksFailed, scanTasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var rowsRead, bytesRead, rowsWritten, bytesWritten = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val leafStages = ConcurrentHashMap.newKeySet[Int]()
  /** Catalyst phases arrive without a job group; the benchmark drains
    * the listener bus before it moves on to the next request, so the
    * request in flight owns every query execution reported meanwhile. */
  @volatile var currentRequest = ""

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    acc(g).synchronized { acc(g).jobs += 1 }
    e.stageInfos.foreach { si =>
      stageGroup.put(si.stageId, g)
      if (si.parentIds.isEmpty) leafStages.add(si.stageId)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "none")
    acc(g).synchronized { acc(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.tasksFailed += 1
      if (leafStages.contains(e.stageId)) a.scanTasks += 1
      a.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.rowsRead += m.inputMetrics.recordsRead
        a.bytesRead += m.inputMetrics.bytesRead
        if (e.reason == Success) {
          a.rowsWritten += m.outputMetrics.recordsWritten
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val a = acc(s"$currentRequest/catalyst")
    a.synchronized {
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Removes and returns the accumulators of every group of `request`. */
  def take(request: String): Map[String, Acc] = {
    val out = mutable.Map[String, Acc]()
    byGroup.keySet().toArray(Array.empty[String]).foreach { g =>
      if (g.startsWith(request + "/")) out(g.stripPrefix(request + "/")) = byGroup.remove(g)
    }
    out.toMap
  }
}
