package org.apache.spark.sql.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. A round is a fixed set of operations
  * over the workload's fixed inputs, starting from empty output dirs, so
  * every round does the same work. */
trait Workload {
  /** Items one round processes (docs, fact rows). */
  def items: Long
  /** Register the inputs: read and count every input table. */
  def setup(): Unit
  /** Untimed housekeeping before round `i`: clear the previous round's
    * dirs. Round -1 is the warm-up. */
  def prepare(i: Int): Unit
  /** Run round `i`; returns the seconds it spent on traced-run extras,
    * which the round's wall time must not count. */
  def round(i: Int): Double
  /** Bytes on disk the round's outputs occupy. */
  def diskBytes(i: Int): Long
  /** After the timed phase: write what the checkers read and return the
    * workload's per-layer metrics (traced runs only). */
  def finish(lastRound: Int): Map[String, Double]
}

/** Benchmark process: builds a local Spark session, runs one workload for
  * a fixed time in whole rounds, and writes `result.json` to the output
  * directory. Usage:
  * {{{
  * Main --workload W --inputs DIR --out DIR --seconds S --trace 0|1
  *      --t0 EPOCH_SECONDS --cores N
  * }}}
  * `t0` is when the caller launched this JVM, so `setup_s` covers JVM
  * start, session start, input registration and warm-up. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val inputs = new File(a("inputs")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val t0 = a("t0").toDouble
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.graft.store.commitLog", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def log(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${System.currentTimeMillis() / 1000.0 - t0}%.2f s")
    log("session ready")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoints")
    val rec = new Recorder(spark, tracing)

    val w: Workload = workload match {
      case "curate" => new Curate(spark, rec, inputs, out)
      case "etl" => new Etl(spark, rec, inputs, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    // warm-up: one whole round, so the timed rounds run warm code
    w.prepare(-1)
    w.round(-1)
    val setupS = System.currentTimeMillis() / 1000.0 - t0
    val setupCpu = cpuSeconds()
    log("setup done")
    rec.resetEngine()

    val roundS = mutable.ArrayBuffer.empty[Double]
    val shuffle = mutable.ArrayBuffer.empty[Double]
    val disk = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val taskCpu = mutable.ArrayBuffer.empty[Double]
    val jobs = mutable.ArrayBuffer.empty[Double]
    val tasks = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      w.prepare(i)
      // each round starts from released caches and a collected heap
      spark.catalog.clearCache()
      System.gc()
      rec.drain()
      rec.round = i
      val sh0 = rec.shuffleWritten.get()
      val tc0 = rec.taskCpuNs.get()
      val j0 = rec.jobsRun.get()
      val k0 = rec.tasksRun.get()
      val n0 = System.nanoTime()
      val c0 = cpuSeconds()
      val extra = w.round(i)
      cpu += cpuSeconds() - c0
      roundS += (System.nanoTime() - n0) / 1e9 - extra
      rec.drain()
      shuffle += (rec.shuffleWritten.get() - sh0).toDouble
      taskCpu += (rec.taskCpuNs.get() - tc0) / 1e9
      jobs += (rec.jobsRun.get() - j0).toDouble
      tasks += (rec.tasksRun.get() - k0).toDouble
      disk += w.diskBytes(i).toDouble
      log(s"round $i done")
      i += 1
    }
    val layers = w.finish(i - 1)
    if (tracing) rec.attributePhases()
    rec.close()

    val j = new Json
    j.num("setup_s", setupS)
    j.num("setup_cpu_s", setupCpu)
    j.num("peak_rss_mb", peakRssKb() / 1024.0)
    j.num("items", w.items.toDouble)
    j.arr("round_s", roundS.toSeq)
    j.arr("shuffle_bytes", shuffle.toSeq)
    j.arr("disk_bytes", disk.toSeq)
    j.arr("cpu_s", cpu.toSeq)
    j.arr("task_cpu_s", taskCpu.toSeq)
    j.arr("jobs", jobs.toSeq)
    j.arr("tasks", tasks.toSeq)
    j.obj("layers", layers ++ (if (tracing) engineTotals(rec) else Map.empty))
    if (tracing) j.raw("groups", groupsJson(rec))
    Files.write(new File(out, "result.json").toPath,
      j.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** CPU time this JVM has used so far, all threads: task, driver, JIT
    * and GC. Unlike wall time it does not grow when the host steals the
    * machine's CPUs. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM, from its own /proc status. */
  def peakRssKb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  private def engineFields(s: GroupStats): Seq[(String, Double)] = Seq(
    "catalyst.analysis_s" -> s.analysisMs / 1e3,
    "catalyst.optimization_s" -> s.optimizationMs / 1e3,
    "catalyst.planning_s" -> s.planningMs / 1e3,
    "spark.jobs" -> s.jobs.toDouble,
    "spark.stages" -> s.stages.toDouble,
    "spark.tasks" -> s.tasks.toDouble,
    "spark.executor_run_s" -> s.runMs / 1e3,
    "spark.executor_cpu_s" -> s.cpuNs / 1e9,
    "spark.gc_s" -> s.gcMs / 1e3,
    "spark.shuffle_read_mb" -> s.shuffleRead / 1048576.0,
    "spark.shuffle_write_mb" -> s.shuffleWrite / 1048576.0,
    "spark.shuffle_records" -> s.shuffleRecords.toDouble,
    "spark.spill_mb" -> s.spill / 1048576.0,
    "spark.peak_exec_mb" -> s.peakExec / 1048576.0)

  /** Whole-run engine metrics: sums over groups (peak: max). */
  private def engineTotals(rec: Recorder): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = rec.groups.values().asScala.toSeq.map(engineFields)
    if (all.isEmpty) Map.empty
    else all.head.map(_._1).map { k =>
      val vs = all.map(_.find(_._1 == k).get._2)
      k -> (if (k == "spark.peak_exec_mb") vs.max else vs.sum)
    }.toMap
  }

  private def groupsJson(rec: Recorder): String = {
    import scala.jdk.CollectionConverters._
    rec.groups.asScala.toSeq.sortBy(_._1).map { case (g, s) =>
      val j = new Json
      engineFields(s).foreach { case (k, v) => j.num(k, v) }
      Json.str(g) + ":" + j.render
    }.mkString("{", ",", "}")
  }
}

/** Minimal JSON object writer (numbers, number arrays, nested maps). */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  private def fmt(v: Double) =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(k: String, v: Double): Unit = parts += Json.str(k) + ":" + fmt(v)
  def arr(k: String, vs: Seq[Double]): Unit =
    parts += Json.str(k) + ":" + vs.map(fmt).mkString("[", ",", "]")
  def obj(k: String, m: Map[String, Double]): Unit =
    parts += Json.str(k) + ":" + m.toSeq.sortBy(_._1)
      .map { case (kk, v) => Json.str(kk) + ":" + fmt(v) }.mkString("{", ",", "}")
  def raw(k: String, json: String): Unit = parts += Json.str(k) + ":" + json
  def render: String = parts.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
