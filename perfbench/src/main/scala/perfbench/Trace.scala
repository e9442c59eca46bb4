package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: ids are unique per run, `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
    startNs: Long, endNs: Long)

/** Spans kept in memory and written when the run ends. A disabled tracer
  * only runs the body, so untraced runs pay nothing for the calls. Each
  * open span also tags the Spark jobs its thread submits through the
  * `perfbench.span` local property, so listener counts attach to it.
  */
final class Tracer(var enabled: Boolean, spark: () => SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  var pass = -1

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val sc = Option(spark()).map(_.sparkContext)
    sc.foreach(_.setLocalProperty(Tracer.Key, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, pass, t0, System.nanoTime())
      stack = stack.tail
      sc.foreach(_.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull))
    }
  }
}

object Tracer { val Key = "perfbench.span" }

/** Task, stage and job counters from a SparkListener, kept per span tag
  * and as running totals, so a pass's share is a difference of two
  * snapshots. */
final class ExecListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shWrite, shRead, fetchMs, spill = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shWrite += o.shWrite; shRead += o.shRead
      fetchMs += o.fetchMs; spill += o.spill
    }
  }
  val total = new Acc
  val bySpan = new ConcurrentHashMap[String, Acc]()
  /** (job id, start ms, end ms); end is -1 while running. */
  val jobTimes = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  /** stage id -> (span tag, completion ms, number of tasks, task durations). */
  val stageInfo = mutable.LinkedHashMap.empty[Int, (String, Long, Int, mutable.ArrayBuffer[Long])]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, String]
  /** Marker jobs seen: all events posted before a marker have been
    * delivered once it is counted (one listener queue, in order). */
  @volatile var markers = 0

  private def acc(tag: String): Acc =
    bySpan.computeIfAbsent(if (tag == null) "-" else tag, _ => new Acc)
  private def both(tag: String)(f: Acc => Unit): Unit = synchronized {
    if (tag != ExecListener.Marker) f(total)
    f(acc(tag))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
    synchronized {
      jobSpan(e.jobId) = tag
      if (tag != ExecListener.Marker) jobTimes(e.jobId) = (e.time, -1L)
      e.stageIds.foreach(s => stageSpan(s) = tag)
    }
    both(tag)(_.jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    synchronized {
      jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
      if (jobSpan.get(e.jobId).contains(ExecListener.Marker)) markers += 1
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val tag = synchronized(stageSpan.getOrElse(id, null))
    both(tag)(_.stages += 1)
    synchronized {
      val durs = stageInfo.get(id).map(_._4).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (tag == ExecListener.Marker) stageInfo.remove(id)
      else stageInfo(id) = (tag, e.stageInfo.completionTime.getOrElse(0L), e.stageInfo.numTasks, durs)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = synchronized {
      stageInfo.getOrElseUpdate(e.stageId, (null, 0L, 0, mutable.ArrayBuffer.empty[Long]))
        ._4 += e.taskInfo.duration
      stageSpan.getOrElse(e.stageId, null)
    }
    val m = e.taskMetrics
    both(tag) { a =>
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Acc = synchronized { val a = new Acc; a.add(total); a }

  /** Wall time inside [from, to] (epoch ms) covered by no running job. */
  def jobGapMs(from: Long, to: Long): Long = synchronized {
    val iv = jobTimes.values.map { case (s, e) => (math.max(s, from), math.min(if (e < 0) to else e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { covered += curE - curS; curS = s; curE = e }
    }
    if (open) covered += curE - curS
    (to - from) - covered
  }

  /** Max over stages completed in [from, to] of slowest ÷ median task. */
  def stageSkew(from: Long, to: Long): Double = synchronized {
    val r = stageInfo.values.collect {
      case (_, done, _, d) if done >= from && done <= to && d.size >= 2 =>
        val s = d.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.max
  }

  /** Task count of the last stage that completed under `tag`. */
  def lastStageTasks(tag: String): Int = synchronized {
    stageInfo.values.filter(_._1 == tag).toSeq.sortBy(_._2).lastOption.map(_._3).getOrElse(0)
  }

}

object ExecListener { val Marker = "marker" }

/** SQL metrics of every successful query's AQE-final plan, summed by
  * layer: the plan is walked the way `ShuffleAudit.allNodes` walks it. */
final class PlanListener extends QueryExecutionListener {
  val totals = new ConcurrentHashMap[String, java.lang.Double]()
  /** GenerateExec output rows, i.e. tokens out of `explode(tokens(...))`. */
  @volatile var generatedRows = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(nodes)
    }
    here ++ p.subqueries.flatMap(nodes)
  }

  private def add(k: String, v: Double): Unit =
    if (v != 0) totals.merge(k, v, (a, b) => a + b)

  /** Largest single-operator peak memory of the queries seen since the
    * last call. */
  @volatile private var peakBytes = 0L
  def takePeakMb(): Double = { val p = peakBytes; peakBytes = 0L; p / 1048576.0 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    nodes(qe.executedPlan).foreach { n =>
      val cls = n.getClass.getSimpleName
      n.metrics.foreach { case (k, m) =>
        val secs = m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => 0.0
        }
        if (secs > 0) {
          if (cls.contains("Scan")) add("plan.scan_s", secs)
          else if (cls.contains("Aggregate") && k == "aggTime") add("plan.agg_build_s", secs)
          else if (cls.startsWith("Sort") && k == "sortTime") add("plan.sort_s", secs)
          else if (k == "buildTime") add("plan.join_build_s", secs)
          else if (k == "shuffleWriteTime") add("plan.shuffle_write_s", secs)
        }
        if (k == "peakMemory") peakBytes = math.max(peakBytes, m.value)
        if (cls == "GenerateExec" && k == "numOutputRows") generatedRows += m.value
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Double] = totals.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

/** JVM-wide readings from the MXBeans. */
object Jvm {
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  /** Whole-stage and expression classes Spark compiled with Janino: each
    * is new bytecode the JIT starts over on. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Waits until no JIT compilation finished for 300 ms, or `maxS`;
    * returns the seconds waited. */
  def awaitJitQuiet(maxS: Double = 5.0): Double = {
    val t0 = System.nanoTime()
    var last = jitMs
    var quiet = 0
    while (quiet < 3 && System.nanoTime() - t0 < maxS * 1e9) {
      Thread.sleep(100)
      val now = jitMs
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.NON_HEAP &&
      (p.getName.contains("CodeHeap") || p.getName.contains("Code Cache")))
    .map(_.getUsage.getUsed).sum / 1048576.0
  /** (all, steal) CPU ticks of the host from /proc/stat, (0, 0) where it
    * is absent: steal is time a hypervisor gave this VM's CPUs to others,
    * the co-tenant load no probe inside the VM can tell apart. */
  def cpuTicks: (Long, Long) = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }.getOrElse((0L, 0L))

  /** Least used heap over three explicit full collections: one reading
    * can land while a background thread (listener bus, context cleaner)
    * still holds garbage it has not released. */
  def usedHeapMbAfterGc: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
