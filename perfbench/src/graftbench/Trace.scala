package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (name, start, end, parent, pass id);
  * spans stay in memory and are written out once, at the end of the run.
  * When disabled, `span` is a plain call with no clock reads. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0
  var pass: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, name, t0, t1, parent, pass)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Total inclusive seconds of every span called `name`. */
  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self seconds of every span called `name`: its duration minus the part
    * of it that its direct children cover (children never overlap — spans
    * are recorded on one thread). */
  def self(name: String): Double = {
    val childNs = mutable.HashMap.empty[Int, Long]
    spans.foreach(s => if (s.parent >= 0)
      childNs(s.parent) = childNs.getOrElse(s.parent, 0L) + (s.endNs - s.startNs))
    spans.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
  }

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    sb.append("id\tname\tstart_ns\tend_ns\tparent\tpass\n")
    spans.sortBy(_.id).foreach { s =>
      sb.append(s"${s.id}\t${s.name}\t${s.startNs}\t${s.endNs}\t${s.parent}\t${s.pass}\n")
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, pass: Int)
}

/** Engine counters for the traced run: jobs, stages, tasks, executor time,
  * GC, shuffle and spill, plus per-stage task durations for the skew ratio.
  * Registered only when tracing; the untraced run never installs it. */
final class EngineListener extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var runNs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runNs += m.executorRunTime * 1000000L
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  /** Max ÷ median task time in the stage with the largest summed task time. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val longest = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, longest(longest.length / 2))
      longest.last.toDouble / med
    }
  }

  /** The `spark.*` per-layer metrics of a pass that took `wall` seconds. */
  def metrics(wall: Double, cores: Int): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.executor_run_s" -> runNs / 1e9,
      "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.core_busy_share" -> (if (wall > 0) runNs / 1e9 / (wall * cores) else 0.0),
      "spark.task_skew" -> taskSkew)
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runNs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; stageTaskMs.clear()
  }
}
