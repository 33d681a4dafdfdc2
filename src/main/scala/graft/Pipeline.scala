package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.WavCodec
import graft.ops.{Dsp, Inference, Segmentation}

/** The reference pipeline (pa.py:393-426) as a single declarative Spark
  * dataflow: binaryFile scan → decode/normalize/resample → silence
  * segmentation → per-segment audio metrics → audio-quality filter →
  * batched ASR → text-quality filter → wav export → post-filter overlap
  * window → metadata table with first-writer-wins dedup.
  *
  * Scale design (SURVEY §3.1): parallelism is per-file for decode/segment
  * (files are independent), per-segment afterwards. The only shuffles are the
  * overlap window's partition on `originalName` and the metadata dedup's
  * partition on `wav_path`. The export runs before the first of them and the
  * sample arrays are dropped right after it, so neither exchange carries
  * audio. Audio filters run BEFORE inference (README.md:33) — Catalyst cannot
  * reorder across the opaque model call, so the composition order here is
  * the optimization.
  */
object Pipeline {

  final case class DecodedFile(originalName: String, samples: Array[Float], frameRate: Int)
  final case class SegmentRow(
      originalName: String, startMs: Long, endMs: Long,
      padStartMs: Long, padEndMs: Long,
      samples: Array[Float], frameRate: Int)
  final case class AsrRow(
      originalName: String, startMs: Long, endMs: Long,
      padStartMs: Long, padEndMs: Long,
      samples: Array[Float], frameRate: Int,
      rms: Double, clippingPercent: Double, musicRatio: Double,
      text: String)

  /** A segment with its three reference metrics; the metric fields carry
    * audioQuality's output column names. rms and clipping_percent are None
    * for an empty slice outside ANSI mode, where SQL's division by zero
    * gives NULL. */
  private[graft] final case class MeasuredSegment(
      originalName: String, startMs: Long, endMs: Long,
      padStartMs: Long, padEndMs: Long,
      samples: Array[Float], frameRate: Int,
      rms: Option[Double], clipping_percent: Option[Double], music_ratio: Double)

  val TargetRate = 16000        // pa.py:89
  val MinRms = 250.0            // pa.py:25
  val MaxClippingPercent = 1.0  // pa.py:26
  val MusicEnergyRatio = 2.0    // pa.py:31
  val MaxAsrInputMs = 29500L    // pa.py:34

  /** O1-O5: scan a directory of WAVs and decode each to normalized mono
    * 16 kHz float PCM (pa.py:79-92). Decode failures are skipped per file,
    * not fatal (pa.py:91-92). */
  def decodeWavDir(spark: SparkSession, wavDir: String,
                   glob: String = "*.wav"): Dataset[DecodedFile] =
    decodeWavRows(
      spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(wavDir)
        .select(col("path"), col("content")))

  /** O2-O5: decode (path, content) rows → downmix → peak-normalize →
    * resample to 16 kHz, named by the path's basename. Decode failures skip
    * the file (pa.py:91-92). Shared by the batch binaryFile scan and the
    * streaming ingest mode (Streaming.audioIngest). */
  def decodeWavRows(rows: DataFrame): Dataset[DecodedFile] = {
    import rows.sparkSession.implicits._
    rows
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        try {
          val dec = WavCodec.decode(bytes)
          val mono = Dsp.downmixMono(dec.samples, dec.channels)
          val norm = Dsp.peakNormalize(mono)
          val res = Dsp.resampleLinear(norm, dec.sampleRate, TargetRate)
          Some(DecodedFile(path.substring(path.lastIndexOf('/') + 1), res, TargetRate))
        } catch { case _: Exception => None }
      }
  }

  /** O6-O9: per-file VAD + split + merge + pad, exploding to segment rows
    * with the padded sample slice attached. */
  def segmentFiles(files: Dataset[DecodedFile]): Dataset[SegmentRow] = {
    import files.sparkSession.implicits._
    files.flatMap { f =>
      val spms = f.frameRate / 1000
      val durationMs = (f.samples.length / spms).toLong
      Segmentation.segment(f.samples, f.frameRate).map { iv =>
        val p = Segmentation.pad(iv, durationMs)
        val slice = java.util.Arrays.copyOfRange(
          f.samples, (p.startMs * spms).toInt,
          math.min((p.endMs * spms).toInt, f.samples.length))
        SegmentRow(f.originalName, iv.startMs, iv.endMs, p.startMs, p.endMs,
          slice, f.frameRate)
      }
    }
  }

  /** O10-O12: RMS, clipping and music ratio of every segment (pa.py:179-210)
    * in one typed pass over its primitive sample array. The arithmetic order
    * is that of the SQL forms rms = sqrt(Σ(x·32767)² / n) and clipping =
    * 100.0 · count(|x| ≥ 0.98) / n, so the doubles are bit-identical to
    * them. An empty slice divides by zero: under ANSI mode that raises
    * DIVIDE_BY_ZERO, as the SQL division does; otherwise both are None.
    * The music-ratio DSP keeps the reference's -1.0 error sentinel. */
  private[graft] def measure(segments: Dataset[SegmentRow]): Dataset[MeasuredSegment] = {
    val spark = segments.sparkSession
    import spark.implicits._
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    segments.map { s =>
      val x = s.samples
      val n = x.length
      var sumSq = 0.0
      var clipped = 0
      var i = 0
      while (i < n) {
        val v = x(i).toDouble * 32767.0
        sumSq += v * v
        if (math.abs(x(i).toDouble) >= 0.98) clipped += 1
        i += 1
      }
      val (rms, clip) =
        if (n > 0) (Some(math.sqrt(sumSq / n)), Some(100.0 * clipped / n))
        else if (ansi) throw org.apache.spark.sql.graftbridge.ColumnBridge.divideByZeroError()
        else (None, None)
      val music =
        try Dsp.musicRatio(x, s.frameRate)
        catch { case _: Exception => -1.0 } // pa.py:208-210
      MeasuredSegment(s.originalName, s.startMs, s.endMs, s.padStartMs, s.padEndMs,
        x, s.frameRate, rms, clip, music)
    }
  }

  /** O10-O13: the audio metrics of [[measure]], then the 4-predicate
    * quality filter (pa.py:212-229). */
  def audioQuality(segments: Dataset[SegmentRow]): DataFrame =
    measure(segments).toDF()
      .filter(col("rms") >= MinRms &&
              col("clipping_percent") <= MaxClippingPercent &&
              col("music_ratio") <= MusicEnergyRatio &&
              col("music_ratio") =!= -1.0)

  /** O14+O16-O17: over-length guard BEFORE inference (fixing the reference's
    * index-misalignment bug by construction, SURVEY §2.7), then batched
    * transcription via the per-executor model singleton. */
  def transcribe(audioFiltered: DataFrame, transcriberName: String): Dataset[AsrRow] = {
    import audioFiltered.sparkSession.implicits._
    audioFiltered
      .filter(col("padEndMs") - col("padStartMs") <= MaxAsrInputMs) // pa.py:252-254
      .withColumn("text", lit(""))
      .selectExpr("originalName", "startMs", "endMs", "padStartMs", "padEndMs",
        "samples", "frameRate", "rms", "clipping_percent as clippingPercent",
        "music_ratio as musicRatio", "text")
      .as[AsrRow]
      .mapPartitions {
        // resolve the factory on the DRIVER so runtime-registered
        // transcribers reach executor JVMs via the task closure
        val factory = Inference.Transcribers.factoryFor(transcriberName)
        rows =>
          Inference.transcribePartition[AsrRow](
            rows,
            r => Inference.AsrInput(r.samples, r.frameRate),
            (r, t) => r.copy(text = t),
            transcriberName, factory = factory)
      }
  }

  /** O18-O21: text-quality filters (pa.py:296-309) then the adjacent-overlap
    * flag over the POST-FILTER sequence (pa.py:311-330) — order matters:
    * segments dropped by the text filters are not compared, so survivors
    * separated by a dropped segment ARE adjacent. Both neighbors get the
    * flag (lag and lead). */
  def textQualityAndOverlap(transcribed: Dataset[AsrRow]): DataFrame =
    overlapFlag(textFilter(transcribed.toDF()))

  private def textFilter(transcribed: DataFrame): DataFrame =
    transcribed.filter(length(col("text")) > 0 &&
                       size(split(col("text"), "\\s+")) > 2 &&
                       col("text").rlike("[a-zA-Z]") &&
                       !graft.queries.TextOps.hallucinationMatch(lower(col("text"))))

  private def overlapFlag(filtered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("originalName")).orderBy(col("startMs"))
    val words = split(lower(col("text")), "\\s+")
    val firstWord = element_at(words, 1)
    val lastWord = element_at(words, -1)
    filtered
      .withColumn("overlap_flag",
        coalesce(lag(lastWord, 1).over(w) === firstWord, lit(false)) ||
        coalesce(lead(firstWord, 1).over(w) === lastWord, lit(false)))
  }

  /** O22: wav export sink. Deterministic name from the UNPADDED boundaries in
    * integer seconds (pa.py:339-343) — colliding names overwrite on disk and
    * dedup in the metadata, replicating the reference quirk (SURVEY §2.1).
    * Export failures null the path and the row is dropped (pa.py:348-352). */
  def exportWavs(flagged: DataFrame, outDir: String): DataFrame =
    flagged.withColumn("wav_path", wavPath(outDir)).filter(col("wav_path").isNotNull)

  /** Writes each row's segment WAV into `outDir`; the file's path, or null
    * when the write fails. */
  private def wavPath(outDir: String): Column =
    ColumnBridge.column(WavExport(outDir, Seq(col("originalName"), col("startMs"),
      col("endMs"), col("samples"), col("frameRate")).map(ColumnBridge.expression)))

  /** The export of [[wavPath]] as one Catalyst expression over (name,
    * startMs, endMs, samples, rate). A Scala UDF would deserialize the
    * ARRAY<FLOAT> argument element by element, boxing every sample; this
    * copies it out of the row as one primitive array. It is not
    * deterministic, which stops Catalyst from pushing the isNotNull filter
    * below the projection and evaluating the write twice per row. A null
    * time or rate gives null. */
  private[graft] final case class WavExport(outDir: String, children: Seq[Expression])
      extends Expression {
    override lazy val deterministic: Boolean = false
    override def nullable: Boolean = true
    override def dataType: DataType = StringType

    def write(name: UTF8String, startMs: Long, endMs: Long, samples: ArrayData,
              rate: Int): UTF8String = {
      val n = name.toString
      val stem = n.lastIndexOf('.') match {
        case -1 => n
        case i  => n.substring(0, i)
      }
      val fileName = f"${stem}_${startMs / 1000}%04ds_${endMs / 1000}%04ds.wav"
      try {
        val p = Paths.get(outDir, fileName)
        Files.write(p, WavCodec.encodeMono16(samples.toFloatArray(), rate))
        UTF8String.fromString(p.toString)
      } catch { case _: Exception => null }
    }

    override def eval(input: InternalRow): Any = {
      val Seq(name, start, end, samples, rate) = children.map(_.eval(input))
      if (start == null || end == null || rate == null) null
      else write(name.asInstanceOf[UTF8String], start.asInstanceOf[Long],
        end.asInstanceOf[Long], samples.asInstanceOf[ArrayData], rate.asInstanceOf[Int])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("wavExport", this)
      val Seq(name, start, end, samples, rate) = children.map(_.genCode(ctx))
      def orNull(e: ExprCode) = s"${e.isNull} ? null : ${e.value}"
      ev.copy(code = code"""
        |${name.code}
        |${start.code}
        |${end.code}
        |${samples.code}
        |${rate.code}
        |UTF8String ${ev.value} = ${start.isNull} || ${end.isNull} || ${rate.isNull} ? null :
        |  $self.write(${orNull(name)}, ${start.value}, ${end.value}, ${orNull(samples)},
        |    ${rate.value});
        |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): WavExport = copy(children = newChildren)
  }

  /** O23-O24: the metadata table — project the 7 reference columns plus a
    * surrogate id, with INSERT-OR-IGNORE semantics as first-writer-wins
    * dedup on wav_path (insertion order = segment order within a file). */
  def metadata(exported: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("wav_path")).orderBy(col("originalName"), col("startMs"))
    exported
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        monotonically_increasing_id().as("id"),
        col("originalName").as("original_name"),
        col("wav_path"),
        col("text"),
        col("rms"),
        col("clippingPercent").as("clipping_percent"),
        col("musicRatio").as("music_ratio"),
        col("overlap_flag"))
  }

  /** The stage chain `run`, `runCounted` and Streaming.audioIngest share,
    * from decoded files to metadata rows. The export runs right after the
    * text filters and the sample arrays are dropped before the overlap
    * window, so no shuffle carries them; a failed export (null `wav_path`)
    * still counts as a neighbour in the window and is dropped after it.
    * `tap` sees the rows of each counted stage (segments, audio_pass,
    * text_pass, exported) by name and returns them, e.g. observed. */
  private[graft] def fromDecoded(decoded: Dataset[DecodedFile], outDir: String,
      transcriberName: String,
      tap: (String, DataFrame) => DataFrame = (_, df) => df): DataFrame = {
    import decoded.sparkSession.implicits._
    Files.createDirectories(Paths.get(outDir))
    val segments = tap("segments", segmentFiles(decoded).toDF()).as[SegmentRow]
    val audioOk = tap("audio_pass", audioQuality(segments))
    val kept = tap("text_pass", textFilter(transcribe(audioOk, transcriberName).toDF()))
    val exported = kept.withColumn("wav_path", wavPath(outDir)).drop("samples")
    metadata(tap("exported", overlapFlag(exported).filter(col("wav_path").isNotNull)))
  }

  /** run_pipeline equivalent (O25, pa.py:393-426). Returns the metadata
    * DataFrame; callers persist it (refresh semantics = overwrite mode,
    * pa.py:401). */
  def run(spark: SparkSession, wavDir: String, outDir: String,
          transcriberName: String = "stub",
          glob: String = "*.wav"): DataFrame =
    fromDecoded(decodeWavDir(spark, wavDir, glob), outDir, transcriberName)

  /** O25's per-stage counters + end-of-run summary (pa.py:163, 237, 332,
    * 421-426) the Spark-native way: `observe()` metrics accumulate during the
    * single action that materializes the pipeline — no extra passes, unlike
    * per-stage count() calls. Runs the pipeline to completion and returns
    * (metadata rows, stage counters). */
  def runCounted(spark: SparkSession, wavDir: String, outDir: String,
                 transcriberName: String = "stub"): (Array[org.apache.spark.sql.Row], Map[String, Long]) = {
    val observed = Seq("segments", "audio_pass", "text_pass", "exported")
      .map(k => k -> Observation(k)).toMap
    val rows = fromDecoded(decodeWavDir(spark, wavDir), outDir, transcriberName,
      (k, df) => df.observe(observed(k), count(lit(1)).as("n"))).collect()
    val counters = observed.map { case (k, o) => k -> o.get("n").asInstanceOf[Long] }
    (rows, counters + ("metadata_rows" -> rows.length.toLong))
  }
}
