package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Pipeline
import graft.fixtures.AudioSynth
import graft.io.Sinks
import graft.queries.{DedupSim, PipelineQueries, TextOps}

/** Per-layer metric catalogue: every traced run reports all of them, with 0
  * for a layer that does no work on the workload. Values are per pass. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "wavcodec.decode_s" -> "s", "wavcodec.decode_bytes" -> "bytes",
    "wavcodec.decode_failed" -> "count", "wavcodec.encode_s" -> "s",
    "wavcodec.encode_bytes" -> "bytes",
    "dsp.resample_s" -> "s", "dsp.samples_resampled" -> "count",
    "dsp.music_ratio_s" -> "s", "dsp.music_ratio_calls" -> "count",
    "segmentation.segment_s" -> "s", "segmentation.audio_ms" -> "ms",
    "segmentation.segments" -> "count",
    "inference.calls" -> "count", "inference.inputs" -> "count",
    "inference.batch_fill" -> "inputs/slot", "inference.text_pass_ratio" -> "pass/input",
    "kernel.busy_s" -> "s",
    "pipeline.decode_s" -> "s", "pipeline.segment_s" -> "s", "pipeline.audio_quality_s" -> "s",
    "pipeline.transcribe_s" -> "s", "pipeline.text_overlap_s" -> "s",
    "pipeline.export_s" -> "s", "pipeline.metadata_s" -> "s",
    "pipeline.segments" -> "count", "pipeline.audio_pass" -> "count",
    "pipeline.text_pass" -> "count", "pipeline.metadata_rows" -> "count",
    "pipeline.audio_pass_ratio" -> "pass/segment", "pipeline.kernel_share" -> "kern_s/exec_s",
    "sinks.write_s" -> "s", "sinks.rows_in" -> "count", "sinks.table_files" -> "count",
    "curation.decisions_s" -> "s", "curation.decontam_s" -> "s",
    "curation.sampling_s" -> "s", "curation.total_s" -> "s",
    "curation.train_docs" -> "count", "curation.keep_docs" -> "count",
    "curation.survivor_docs" -> "count", "curation.n_sequences" -> "count",
    "curation.total_tokens" -> "count", "curation.survivor_ratio" -> "surv/train",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.core_busy_share" -> "run_s/core_s",
    "spark.task_skew" -> "max/median")

  /** Kernel spans of the serial replay. RMS and clipping are not among
    * them: the pipeline computes both as Catalyst expressions, outside the
    * kernels, so their time is in `pipeline.audio_quality_s`. */
  val Kernels = Seq("wavcodec.decode", "dsp.downmix", "dsp.normalize", "dsp.resample",
    "segmentation.segment", "dsp.music_ratio", "inference.transcribe", "wavcodec.encode")

  /** Fill `res` from the tracer: span totals and self times, counters, and
    * the engine snapshots, all divided by the number of traced cycles. */
  def report(tr: Tracer, engine: collection.Map[String, Double], cycles: Int,
             res: Result): Unit = {
    val n = cycles.toDouble
    def c(name: String) = tr.counter(name) / n
    def t(span: String) = tr.total(span) / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val v = mutable.LinkedHashMap.empty[String, Double]
    v("wavcodec.decode_s") = t("wavcodec.decode")
    v("wavcodec.decode_bytes") = c("wavcodec.decode_bytes")
    v("wavcodec.decode_failed") = c("wavcodec.decode_failed")
    v("wavcodec.encode_s") = t("wavcodec.encode")
    v("wavcodec.encode_bytes") = c("wavcodec.encode_bytes")
    v("dsp.resample_s") = t("dsp.resample")
    v("dsp.samples_resampled") = c("dsp.samples_resampled")
    v("dsp.music_ratio_s") = t("dsp.music_ratio")
    v("dsp.music_ratio_calls") = c("dsp.music_ratio_calls")
    v("segmentation.segment_s") = t("segmentation.segment")
    v("segmentation.audio_ms") = c("segmentation.audio_ms")
    v("segmentation.segments") = c("segmentation.segments")
    v("inference.calls") = c("inference.calls")
    v("inference.inputs") = c("inference.inputs")
    v("inference.batch_fill") = ratio(c("inference.inputs"), c("inference.calls") * 8)
    v("inference.text_pass_ratio") = ratio(c("inference.text_pass"), c("inference.inputs"))
    val kernel = Kernels.map(t).sum
    v("kernel.busy_s") = kernel
    Seq("decode", "segment", "audio_quality", "transcribe", "text_overlap", "export", "metadata")
      .foreach(s => v(s"pipeline.${s}_s") = tr.self(s"pipeline.$s") / n)
    Seq("segments", "audio_pass", "text_pass", "metadata_rows")
      .foreach(s => v(s"pipeline.$s") = c(s"pipeline.$s"))
    v("pipeline.audio_pass_ratio") = ratio(c("pipeline.audio_pass"), c("pipeline.segments"))
    val execRun = engine.getOrElse("spark.executor_run_s", 0.0) / n
    v("pipeline.kernel_share") = ratio(kernel, execRun)
    v("sinks.write_s") = t("sinks.write")
    v("sinks.rows_in") = c("sinks.rows_in")
    v("sinks.table_files") = c("sinks.table_files")
    v("curation.decisions_s") = t("curation.decisions")
    v("curation.decontam_s") = t("curation.decontam")
    v("curation.sampling_s") = t("curation.sampling")
    v("curation.total_s") = t("curation.total")
    Seq("train_docs", "keep_docs", "survivor_docs", "n_sequences", "total_tokens")
      .foreach(s => v(s"curation.$s") = c(s"curation.$s"))
    v("curation.survivor_ratio") = ratio(c("curation.survivor_docs"), c("curation.train_docs"))
    units.map(_._1).filter(_.startsWith("spark.")).foreach { k =>
      v(k) = engine.getOrElse(k, 0.0) / n
    }
    val unit = units.toMap
    v.foreach { case (k, x) => res.layer(k) = (x, unit(k)) }
  }
}

/** The pipeline's public stages materialised one after another (each
  * cached, then counted), so each stage's span is its own work. The
  * audio-quality stage keeps only the columns later stages read: a pass
  * never computes the AudioQc SNR columns (the metadata projection prunes
  * them), so caching them would time work no pass does. */
object Staged {
  /** Runs the stages, then `sink` on the cached metadata, so the sink's
    * span is the sink's own work. */
  def run[T](spark: SparkSession, wavDir: String, outDir: String, tr: Tracer)(
      sink: DataFrame => T): T = {
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    val held = mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def stage[T <: org.apache.spark.sql.Dataset[_]](name: String)(d: => T): T =
      tr.span(s"pipeline.$name") { val x = d; x.persist(); x.count(); held += x; x }
    val decoded = stage("decode")(Pipeline.decodeWavDir(spark, wavDir))
    val segs = stage("segment")(Pipeline.segmentFiles(decoded))
    val aq = stage("audio_quality")(
      Pipeline.audioQuality(segs).drop("noise_floor_e", "speech_e", "snr_db"))
    val tx = stage("transcribe")(Pipeline.transcribe(aq, "stub"))
    val to = stage("text_overlap")(Pipeline.textQualityAndOverlap(tx))
    val ex = stage("export")(Pipeline.exportWavs(to, outDir))
    val md = stage("metadata")(Pipeline.metadata(ex))
    try sink(md) finally held.foreach(_.unpersist())
  }
}

/** Shared audio checks. */
object AudioCheck {
  /** The frozen q30 golden rows (original, wav, text, rms_q3, clip_q3,
    * music_q3, overlap), parsed from the oracle literal. */
  lazy val fixtureRows: Vector[String] = {
    val tuple = ("""\('([^']*)', '([^']*)', '([^']*)', CAST\((\d+) AS BIGINT\), """ +
      """CAST\((\d+) AS BIGINT\), CAST\((\d+) AS BIGINT\), (TRUE|FALSE)\)""").r
    tuple.findAllMatchIn(PipelineQueries.q30Sql).map { m =>
      (1 to 6).map(m.group).mkString("\t") + "\t" + m.group(7).toLowerCase
    }.toVector.sorted
  }
  val fixtureNames: Set[String] = Set("tone_speechlike.wav", "long_utterance.wav",
    "short_utterances.wav", "whisper_quiet.wav", "clipped_square.wav",
    "bass_treble_music.wav", "silence_only.wav", "stereo_speech_441.wav", "not_a_wav.wav")

  /** A metadata table's rows as the checks compare them, with the md5 of the
    * exported WAV each row points at. */
  def tableRows(spark: SparkSession, table: String): Vector[String] =
    spark.read.parquet(table)
      .select("original_name", "wav_path", "text", "rms", "clipping_percent",
        "music_ratio", "overlap_flag")
      .collect().toVector.map { r =>
        val path = r.getString(1)
        val md5 = Replay.md5(Files.readAllBytes(java.nio.file.Paths.get(path)))
        Replay.row(r.getString(0), path.substring(path.lastIndexOf('/') + 1), r.getString(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6), md5)
      }

  /** Compare actual rows with expected ones; describe the first differences. */
  def diff(what: String, actual: Seq[String], expected: Seq[String]): Seq[String] =
    if (Replay.digest(actual) == Replay.digest(expected)) Nil
    else {
      val a = actual.toSet; val e = expected.toSet
      Seq(s"$what: ${actual.size} rows vs ${expected.size} expected; " +
        s"unexpected ${(a -- e).toSeq.sorted.take(2).mkString(" | ")}; " +
        s"missing ${(e -- a).toSeq.sorted.take(2).mkString(" | ")}")
    }

  /** Fixture rows of a table (without the export md5) against the frozen
    * q30 golden values. */
  def fixture(rows: Seq[String]): Seq[String] =
    diff("fixture rows vs q30Sql",
      rows.filter(r => fixtureNames(r.takeWhile(_ != '\t')))
        .map(r => r.split("\t", -1).take(7).mkString("\t")),
      fixtureRows)

  def props(files: Seq[Gen.AudioFile], res: Result): Unit = {
    val segs = files.flatMap(_.replay.segs)
    res.inputs("files") = files.size
    res.inputs("audio_minutes") = files.map(_.replay.audioMs).sum / 60000.0
    res.inputs("stereo441_share") = files.count(_.stereo441).toDouble / files.size
    res.inputs("undecodable_share") = files.count(!_.replay.decoded).toDouble / files.size
    res.inputs("filter_reject_share") =
      if (segs.isEmpty) 0 else segs.count(!_.audioPass).toDouble / segs.size
    res.inputs("bytes") = files.map(_.bytes.length.toDouble).sum
  }

  def fixtureFiles(dir: Path): Seq[Gen.AudioFile] = {
    AudioSynth.writeCorpus(dir.toString)
    val off = new Tracer(false)
    fixtureNames.toSeq.sorted.map { n =>
      val b = Files.readAllBytes(dir.resolve(n))
      Gen.AudioFile(n, Gen.Speech, stereo441 = false, b, Replay.file(n, b, off))
    }
  }

  def replayAll(files: Seq[(String, Path)], tr: Tracer): Unit = tr.span("replay") {
    files.foreach { case (name, p) =>
      val bytes = Files.readAllBytes(p)
      Replay.file(name, bytes, tr).segs.foreach(s => if (s.textPass) tr.count("inference.text_pass", 1))
    }
  }

  def parquetFiles(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else Files.list(dir).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
}

// ---------------------------------------------------------------- workloads

/** audio-longform: 16 seeded long files plus the 9-file fixture corpus in one
  * directory; a pass is Pipeline.run then Sinks.writeRefresh. */
final class Longform(a: Main.Args) extends Workload(a) {
  val Files16 = 16
  val FileSeconds = 40.0
  private var files: Seq[Gen.AudioFile] = Nil
  private var expected: Vector[String] = Vector.empty

  def generate(res: Result): Unit = {
    val gen = Gen.longform(a.seed, Files16, FileSeconds)
    Gen.write(in, gen)
    val fixture = AudioCheck.fixtureFiles(in)
    files = gen ++ fixture
    expected = Replay.rows(files.map(_.replay))
    AudioCheck.props(gen, res)
    res.inputs("fixture_files") = fixture.size
    res.inputs("expected_rows") = expected.size
  }
  def units: Double = files.map(_.replay.audioMs).sum / 1000.0

  private def dirs(k: Int) = (outRoot.resolve(s"p$k/wavs").toString, outRoot.resolve(s"p$k/meta").toString)

  def pass(spark: SparkSession, k: Int): Unit = {
    val (wavs, meta) = dirs(k)
    Sinks.writeRefresh(Pipeline.run(spark, in.toString, wavs), meta)
  }

  def check(spark: SparkSession, k: Int): Seq[String] = {
    val rows = AudioCheck.tableRows(spark, dirs(k)._2)
    AudioCheck.fixture(rows) ++ AudioCheck.diff("rows vs serial replay", rows, expected)
  }

  def traced(spark: SparkSession, k: Int, tr: Tracer, lis: EngineListener): Double = {
    val (wavs, meta) = dirs(k)
    val wall = plain(spark, tr, lis) {
      val df = tr.span("pipeline.run")(Pipeline.run(spark, in.toString, wavs))
      tr.span("pass.write")(Sinks.writeRefresh(df, meta))
    }
    val written = spark.read.parquet(meta).count()
    tr.count("sinks.rows_in", written)
    tr.count("sinks.table_files", AudioCheck.parquetFiles(java.nio.file.Paths.get(meta)))
    Staged.run(spark, in.toString, outRoot.resolve(s"p$k/staged").toString, tr) { md =>
      tr.span("sinks.write")(Sinks.writeRefresh(md, outRoot.resolve(s"p$k/staged-meta").toString))
    }
    val (_, counters) = tr.span("pipeline.run_counted")(
      Pipeline.runCounted(spark, in.toString, outRoot.resolve(s"p$k/counted").toString))
    Seq("segments", "audio_pass", "text_pass", "metadata_rows")
      .foreach(c => tr.count(s"pipeline.$c", counters(c).toDouble))
    AudioCheck.replayAll(files.map(f => f.name -> in.resolve(f.name)), tr)
    wall
  }
}

/** text-curation: a seeded documents corpus; a pass is q372 (decisions,
  * sampling, decontamination and sequence packing), collected. The result
  * hash of every pass is checked against the DuckDB oracle by run.py. */
final class Curation(a: Main.Args) extends Workload(a) {
  val Docs = 500
  private val hashes = mutable.ArrayBuffer.empty[String]
  private var lastRows: Array[Row] = Array.empty

  /** Write the corpus as `parts` parquet files, one per input slice (no
    * shuffle, so each file's rows are fixed by the seed), renamed by slice:
    * equal seeds give byte-identical files. */
  private def writeDocs(spark: SparkSession, dir: Path, docs: Seq[Gen.Doc], parts: Int): Unit = {
    import spark.implicits._
    val table = dir.resolve("documents.parquet")
    val tmp = dir.resolve("tmp")
    spark.sparkContext.parallelize(docs, parts).toDS().write.parquet(tmp.toString)
    Files.createDirectories(table)
    Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted.foreach { f =>
        Files.move(tmp.resolve(f), table.resolve(f.substring(0, "part-00000".length) + ".parquet"))
      }
    Io.deleteTree(tmp)
  }

  private var docs: Seq[Gen.Doc] = Nil

  def generate(res: Result): Unit = {
    docs = Gen.documents(a.seed, Docs)
    Files.createDirectories(a.work)
    Files.write(a.work.resolve("q372.sql"), TextOps.q372Sql.getBytes("UTF-8"))
    res.inputs("docs") = Docs
    res.inputs("near_dup_share") = docs.count(_.text.endsWith(" dup")).toDouble / Docs
    res.inputs("words") = docs.map(_.text.count(_ == ' ') + 1).sum
    res.extra("docs_dir") = in.resolve("documents.parquet").toString
    res.extra("q372_sql") = a.work.resolve("q372.sql").toString
  }

  override def prepare(spark: SparkSession, res: Result): Unit = {
    writeDocs(spark, in, docs, 4)
  }
  def units: Double = Docs

  def pass(spark: SparkSession, k: Int): Unit =
    lastRows = TextOps.q372(spark, in.toString).collect()

  def check(spark: SparkSession, k: Int): Seq[String] = {
    hashes += Curation.canonical(lastRows.toSeq)
    Nil // compared with the DuckDB oracle in run.py
  }

  def traced(spark: SparkSession, k: Int, tr: Tracer, lis: EngineListener): Double = {
    val d = in.toString
    var rows: Array[Row] = Array.empty
    val wall = plain(spark, tr, lis) {
      rows = tr.span("curation.total")(TextOps.q372(spark, d).collect())
    }
    val funnel = rows.filter(_.getLong(0) == 0L).map(r => r.getString(1) -> r.getLong(2)).toMap
    Seq("train_docs", "keep_docs", "survivor_docs", "n_sequences", "total_tokens")
      .foreach(m => tr.count(s"curation.$m", funnel(m).toDouble))
    def entry(name: String)(body: => Unit): Unit = {
      DedupSim.invalidateSessionCaches(spark, d)
      tr.span(name)(body)
    }
    entry("curation.decisions")(TextOps.q360(spark, d).collect())
    entry("curation.decontam")(TextOps.q364(spark, d).collect())
    entry("curation.sampling")(TextOps.q365(spark, d).collect())
    wall
  }

  /** Per-pass hashes, for the oracle comparison in run.py. */
  override def finish(res: Result): Unit = res.extra("q372_hashes") = hashes.mkString(",")
}

object Curation {
  /** Canonical result hash: each row's cells tab-joined (\\N for null),
    * rows sorted, SHA-256 — the same canonical form run.py applies to the
    * DuckDB oracle's rows. */
  def canonical(rows: Seq[Row]): String = Replay.digest(rows.map(r =>
    (0 until r.length).map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString("\t")))
}
