package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one Spark job group (one traced span name). */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, shuffleRecords, spill = 0L
  var peakExec = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var shuffleRecordsPerStage = Vector.empty[Long]
}

/** A finished span: the layer call's name, the round it ran in, its
  * wall interval, and the span that enclosed it. */
final case class Span(name: String, round: Int, startMs: Long, endMs: Long,
    durS: Double, parent: String)

/** Measurement for one benchmark run.
  *
  * Always on: one listener that counts jobs and tasks and sums shuffle
  * bytes written and task CPU time. With tracing on, every call into a
  * layer runs under `span(name)`, which makes `name` the Spark job group
  * of the calling thread; the listener then attributes each stage's task
  * metrics to that group, and a QueryExecutionListener attributes each
  * action's Catalyst phase times to the span whose interval holds the
  * action's planning phase. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  val shuffleWritten = new AtomicLong()
  val taskCpuNs = new AtomicLong()
  val jobsRun = new AtomicLong()
  val tasksRun = new AtomicLong()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  @volatile var round = -1

  private def group(g: String): GroupStats =
    groups.computeIfAbsent(Option(g).getOrElse("(none)"), _ => new GroupStats)

  private val stageListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobsRun.incrementAndGet()
      if (tracing) jobGroup(j)
    }
    private def jobGroup(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      j.stageIds.foreach(stageGroup.put(_, Option(g).getOrElse("(none)")))
      val s = group(g)
      s.synchronized { s.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        taskCpuNs.addAndGet(m.executorCpuTime)
        tasksRun.addAndGet(e.stageInfo.numTasks)
        if (tracing) {
          val s = group(stageGroup.getOrDefault(e.stageInfo.stageId, "(none)"))
          s.synchronized {
            s.stages += 1
            s.tasks += e.stageInfo.numTasks
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
            s.shuffleRecordsPerStage :+= m.shuffleWriteMetrics.recordsWritten
          }
        }
      }
    }
  }
  sc.addSparkListener(stageListener)

  // (planning start ms, analysis, optimization, planning ms), attributed
  // to spans once the run is over
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def dur(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val at = p.get("planning").orElse(p.get("analysis")).map(_.startTimeMs).getOrElse(0L)
      phases.add((at, dur("analysis"), dur("optimization"), dur("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }
  if (tracing) spark.listenerManager.register(qeListener)

  /** Run `f` as layer call `name`. Without tracing this is just `f`. */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val stack = open.get()
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(name, name, interruptOnCancel = false)
      open.set(name :: stack)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try f
      finally {
        val d = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        open.set(stack)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
        spans.synchronized {
          spans += Span(name, round, t0, t1, d, stack.headOption.getOrElse(""))
        }
      }
    }

  /** Forget engine counters gathered so far (set-up and warm-up). */
  def resetEngine(): Unit = {
    drain()
    groups.clear()
    phases.clear()
  }

  /** Block until every listener event posted so far has been handled. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def durations(name: String): Seq[Double] = allSpans.filter(_.name == name).map(_.durS)

  /** Median over timed rounds of the time spent in span `name` per round. */
  def perRound(name: String): Double = {
    val byRound = allSpans.filter(s => s.name == name && s.round >= 0).groupBy(_.round)
      .values.map(_.map(_.durS).sum)
    Recorder.median(byRound.toSeq)
  }

  def stats(name: String): GroupStats = groups.getOrDefault(name, new GroupStats)

  /** Attribute every recorded Catalyst phase triple to the innermost span
    * open at its planning start. Concurrent sibling spans (pipeline
    * children) that all hold the instant get the phases charged to their
    * common parent. */
  def attributePhases(): Unit = {
    drain()
    val ss = allSpans
    phases.asScala.foreach { case (at, a, o, p) =>
      val holding = ss.filter(s => s.startMs <= at && at <= s.endMs)
      val target =
        if (holding.isEmpty) "(none)"
        else {
          val innermost = holding.filterNot(h => holding.exists(_.parent == h.name))
          if (innermost.map(_.name).distinct.size == 1) innermost.head.name
          else innermost.head.parent
        }
      val s = group(target)
      s.synchronized { s.analysisMs += a; s.optimizationMs += o; s.planningMs += p }
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(stageListener)
    if (tracing) spark.listenerManager.unregister(qeListener)
  }
}

object Recorder {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
