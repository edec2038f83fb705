package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task and job counters, summed over the whole run. The runner reads
  * them before and after a pass (after draining the listener bus), so
  * a pass's share is the difference. */
final class Counters extends SparkListener {
  @volatile var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  /** (job id, job group, start ms, end ms) of every job, for spans. */
  val jobLog = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart(e.jobId) = (group, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => jobLog += ((e.jobId, g, t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  def snapshot: Array[Long] =
    Array(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill)
}

/** Catalyst phase time of every query execution that finishes, which
  * covers the eager actions a query builder runs before it returns
  * its DataFrame (checkpoints, counts). */
final class PhaseListener extends QueryExecutionListener {
  @volatile var analysisMs, optimizationMs, planningMs = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe)
  def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }
}

/** Spans recorded by the runner around its calls into each layer.
  * Written as JSON lines when the run ends; a layer's self time is the
  * time of its spans minus that of their direct children. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Double, var end: Double)

final class Spans(runId: String, t0: Long) {
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  var enabled = false

  def current: Int = if (stack.isEmpty) -1 else stack.top
  private def ms(ns: Long): Double = (ns - t0) / 1e6

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, name, layer, current, ms(System.nanoTime()), 0.0)
      all += s
      stack.push(s.id)
      try body finally { stack.pop(); s.end = ms(System.nanoTime()) }
    }

  /** A span whose times were measured elsewhere (Catalyst phases, Spark
    * jobs), given in epoch milliseconds. */
  def add(name: String, layer: String, parent: Int, startEpochMs: Long, endEpochMs: Long,
          epochAtT0: Long): Unit =
    if (enabled)
      all += Span(all.size, name, layer, parent,
        (startEpochMs - epochAtT0).toDouble, (endEpochMs - epochAtT0).toDouble)

  /** Self time per layer. Spark job spans are not subtracted from their
    * call: jobs of one call can run concurrently. */
  def selfSeconds: Map[String, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    all.foreach(s => if (s.parent >= 0 && s.layer != "job") child(s.parent) += s.end - s.start)
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => math.max(0.0, s.end - s.start - child(s.id))).sum / 1e3
    }
  }

  def writeJsonLines(path: String): Unit = {
    val lines = all.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""parent":${if (s.parent < 0) "null" else s.parent.toString},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Copies stderr through while scanning it: the engine reports the
  * near-duplicate quotient graph size only in a log line. */
final class StderrScan(out: java.io.PrintStream, onLine: String => Unit)
    extends java.io.OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  override def write(b: Int): Unit = synchronized {
    out.write(b)
    if (b == '\n') { onLine(buf.toString("UTF-8")); buf.reset() } else buf.write(b)
  }
  override def flush(): Unit = out.flush()
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
