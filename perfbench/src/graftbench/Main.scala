package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.DedupSim

/** One benchmark run of one workload, in one JVM:
  *
  *   1. generate the seeded inputs and their expected outputs (untimed);
  *   2. set up: create the Spark session and run the warm-up passes;
  *      `setup_s` is this one interval;
  *   3. time passes for `--seconds`, each preceded by cache eviction and
  *      fresh output directories and followed by an output check;
  *   4. with `--trace 1`, add traced passes (spans around every call into a
  *      layer, an engine listener, stage-by-stage materialisation and the
  *      serial kernel replay) and report per-layer metrics.
  *
  * Writes its result as JSON to `--out`; `perfbench/run.py` prints it. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, out: Path)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("cores").toInt, Paths.get(m("out")))
    val w: Workload = a.workload match {
      case "audio-longform" => new Longform(a)
      case "text-curation" => new Curation(a)
      case other => sys.error(s"unknown workload $other")
    }
    val res = new Result
    try Runner.run(a, w, res)
    catch { case e: Throwable => res.failures += s"run aborted: $e"; e.printStackTrace() }
    finally Files.write(a.out, res.json.getBytes(StandardCharsets.UTF_8))
  }
}

/** What a run reports. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\t", "\\t") + "\""
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
  def json: String = {
    def obj(kv: Iterable[String]) = kv.mkString("{", ", ", "}")
    obj(Seq(
      s""""attempted": $attempted""", s""""failed": $failed""",
      s""""failures": ${failures.take(20).map(q).mkString("[", ", ", "]")}""",
      s""""e2e": ${obj(e2e.map { case (k, (v, u, n)) =>
        s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}, "n": $n}""" })}""",
      s""""per_layer": ${obj(layer.map { case (k, (v, u)) =>
        s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" })}""",
      s""""inputs": ${obj(inputs.map { case (k, v) => s"${q(k)}: ${num(v)}" })}""",
      s""""extra": ${obj(extra.map { case (k, v) => s"${q(k)}: ${q(v)}" })}"""))
  }
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A workload: its inputs, one timed pass, the
  * check of a pass's output, and its traced cycle. */
abstract class Workload(val a: Main.Args) {
  val in: Path = a.work.resolve("in")
  val outRoot: Path = a.work.resolve("out")
  /** Generate inputs and expected outputs; record input properties. */
  def generate(res: Result): Unit
  /** Write inputs that need the Spark session. */
  def prepare(spark: SparkSession, res: Result): Unit = ()
  /** One pass over the full input; the runner times it. */
  def pass(spark: SparkSession, k: Int): Unit
  /** Output check of pass `k`; returns mismatch descriptions (empty = ok). */
  def check(spark: SparkSession, k: Int): Seq[String]
  /** Input units per pass (audio seconds or documents). */
  def units: Double
  /** Evict session memos and drop earlier passes' outputs. */
  def isolate(spark: SparkSession, k: Int): Unit = {
    DedupSim.invalidateSessionCaches(spark, in.toString)
    if (k > 0) Io.deleteTree(outRoot.resolve(s"p${k - 1}"))
  }
  /** Traced cycle `k`: the pass under the engine listener and spans, plus
    * the layer breakdown (stages, counts, kernel replay). Returns the
    * traced pass wall time. */
  def traced(spark: SparkSession, k: Int, tr: Tracer, lis: EngineListener): Double
  /** Engine counters summed over the traced passes. */
  val engine = mutable.HashMap.empty[String, Double]
  /** The plain pass `body` under the listener, in a "pass" span; adds its
    * engine counters to `engine` and returns its wall time. */
  def plain(spark: SparkSession, tr: Tracer, lis: EngineListener)(body: => Unit): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    lis.reset()
    val t0 = System.nanoTime()
    tr.span("gc")(Io.collect())
    tr.span("pass")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    lis.metrics(wall, a.cores).foreach { case (k, v) => engine(k) = engine.getOrElse(k, 0.0) + v }
    wall
  }
  /** Add workload-specific results once the passes are done. */
  def finish(res: Result): Unit = ()
}

object Io {
  /** CPU time of the whole JVM (task, driver, JIT and GC threads). Unlike
    * wall time it does not count time the host takes the CPUs away. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** A full collection, run at the start of every timed pass and charged to
    * it (wall and CPU time). It lets Spark's cleaner release the previous
    * pass's checkpoint blocks: without it the program retains them, and
    * q372 passes grew from 5.8 s to 9.6 s over one run. */
  def collect(): Unit = System.gc()
  def deleteTree(p: Path): Unit = graft.io.FsUtil.deleteRecursively(p.toFile)
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Runner {
  /** Warm-up passes, on a fixed schedule so every run reaches its timed
    * passes in the same state. */
  val WarmupPasses = 3
  val MinTimed = 3

  def session(a: Main.Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private val born = now
  /** Progress line in the JVM log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(born)}%7.2f s] $msg")

  def run(a: Main.Args, w: Workload, res: Result): Unit = {
    Files.createDirectories(a.work)
    val t0 = now
    w.generate(res)
    res.extra("generate_s") = f"${secs(t0)}%.3f"
    log(s"inputs ready after ${res.extra("generate_s")} s")
    // set-up: one interval from the session builder to the end of the last
    // warm-up pass. It pays the context boot, the extension registration,
    // the cold first pass and the JIT warm-up. Writing the inputs that need
    // the session (`prepare`) is input generation and is left out.
    val t1 = now
    val spark = session(a)
    res.extra("boot_s") = f"${secs(t1)}%.3f"
    val t2 = now
    w.prepare(spark, res)
    val prepared = secs(t2)
    var k = 0
    val cpuPerPass = mutable.ArrayBuffer.empty[Double]
    def timedPass(): Double = {
      w.isolate(spark, k)
      val c0 = Io.cpuNs
      val t = now
      Io.collect()
      w.pass(spark, k)
      val wall = secs(t)
      cpuPerPass += (Io.cpuNs - c0) / 1e9
      log(f"pass $k: $wall%.3f s, cpu ${cpuPerPass.last}%.3f s")
      k += 1
      wall
    }
    val warm = (0 until WarmupPasses).map(_ => timedPass())
    val setup = secs(t1) - prepared
    log(f"set-up done: $setup%.3f s")
    res.extra("warmup_pass_s") = warm.map(x => f"$x%.3f").mkString(",")

    // timed passes
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val firstTimed = cpuPerPass.size
    val tEnd = now + (a.seconds * 1e9).toLong
    val timedBudget = if (a.trace) 2 else MinTimed
    while (passTimes.size < timedBudget || (!a.trace && now < tEnd)) {
      val wall = timedPass()
      res.attempted += 1
      val bad = try w.check(spark, k - 1) catch { case e: Exception => Seq(s"check threw: $e") }
      if (bad.nonEmpty) { res.failed += 1; res.failures ++= bad.map(b => s"pass ${k - 1}: $b") }
      passTimes += wall
    }
    val wall = Stats.median(passTimes.toSeq)

    if (!a.trace) {
      val n = passTimes.size
      res.e2e("setup_s") = (setup, "s", 1)
      res.e2e("wall_s") = (wall, "s", n)
      res.e2e("cpu_s") = (Stats.median(cpuPerPass.drop(firstTimed).toSeq), "s", n)
      res.e2e("input_per_s") = (w.units / wall, "1/s", n)
      res.e2e("peak_rss_mb") = (Io.vmHwmMb, "MB", 1)
    } else {
      // traced cycles: listener on, spans on
      val tr = new Tracer(true)
      val lis = new EngineListener
      spark.sparkContext.addSparkListener(lis)
      val tracedWalls = mutable.ArrayBuffer.empty[Double]
      var cycle = 0
      while (cycle < 1 || now < tEnd) {
        tr.pass = k
        w.isolate(spark, k)
        tracedWalls += w.traced(spark, k, tr, lis)
        log(f"traced cycle $cycle: pass ${tracedWalls.last}%.3f s")
        k += 1
        cycle += 1
      }
      spark.sparkContext.removeSparkListener(lis)
      Layers.report(tr, w.engine, cycle, res)
      val tw = Stats.median(tracedWalls.toSeq)
      res.layer("trace.wall_s") = (tw, "s")
      res.layer("trace.untraced_wall_s") = (wall, "s")
      res.layer("trace.overhead_s") = (tw - wall, "s")
      res.layer("trace.cycles") = (cycle.toDouble, "count")
      tr.write(a.work.resolve("spans.tsv"))
      res.extra("spans") = a.work.resolve("spans.tsv").toString
    }
    w.finish(res)
    res.extra("pass_s") = passTimes.map(x => f"$x%.4f").mkString(",")
    spark.stop()
  }
}
