package graftbench

import java.security.MessageDigest

import graft.Pipeline
import graft.io.WavCodec
import graft.ops.{Dsp, Inference, Segmentation}
import graft.queries.TextOps

/** Serial replay of the pipeline through its public kernels, one file at a
  * time on one thread: decode → downmix → normalise → resample → segment →
  * RMS / clipping / music ratio → audio filter → stub ASR in batches of 8 →
  * text filter → overlap flag → WAV encode. Its metadata rows are the
  * expected output of every generated-audio pass; with tracing on, each
  * kernel call is a span, and the spans' busy time is the kernel work. */
object Replay {

  final case class Seg(startMs: Long, endMs: Long, rms: Double, clip: Double,
                       music: Double, audioPass: Boolean, text: String,
                       textPass: Boolean, wavName: String, wavMd5: String)
  final case class FileOut(name: String, decoded: Boolean, audioMs: Long, segs: Vector[Seg])

  private val AsrBatch = 8
  private val Letter = "[a-zA-Z]".r
  private val Hallucination = TextOps.HallucinationRegex.r

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
  def md5(b: Array[Byte]): String = hex(MessageDigest.getInstance("MD5").digest(b))
  def q3(v: Double): Long = math.round(v * 1000)

  def textPass(t: String): Boolean =
    t.nonEmpty && t.split("\\s+", -1).length > 2 && Letter.findFirstIn(t).nonEmpty &&
      Hallucination.findFirstIn(t.toLowerCase).isEmpty

  /** The export name of a segment (the pipeline's naming rule). */
  def wavName(original: String, startMs: Long, endMs: Long): String = {
    val stem = original.lastIndexOf('.') match { case -1 => original; case i => original.substring(0, i) }
    f"${stem}_${startMs / 1000}%04ds_${endMs / 1000}%04ds.wav"
  }

  private lazy val stub = Inference.Transcribers.getOrCreate("stub",
    Inference.Transcribers.factoryFor("stub"))

  def file(name: String, bytes: Array[Byte], tr: Tracer): FileOut = {
    val pcm: Option[Array[Float]] =
      try {
        val dec = tr.span("wavcodec.decode")(WavCodec.decode(bytes))
        tr.count("wavcodec.decode_bytes", bytes.length)
        val mono = tr.span("dsp.downmix")(Dsp.downmixMono(dec.samples, dec.channels))
        val norm = tr.span("dsp.normalize")(Dsp.peakNormalize(mono))
        tr.count("dsp.samples_resampled", norm.length)
        Some(tr.span("dsp.resample")(Dsp.resampleLinear(norm, dec.sampleRate, Pipeline.TargetRate)))
      } catch {
        case _: Exception => tr.count("wavcodec.decode_failed", 1); None
      }
    pcm match {
      case None => FileOut(name, decoded = false, 0L, Vector.empty)
      case Some(x) =>
        val spms = Pipeline.TargetRate / 1000
        val durMs = (x.length / spms).toLong
        tr.count("segmentation.audio_ms", durMs)
        val ivs = tr.span("segmentation.segment")(Segmentation.segment(x, Pipeline.TargetRate))
        tr.count("segmentation.segments", ivs.size)
        val measured = ivs.toVector.map { iv =>
          val p = Segmentation.pad(iv, durMs)
          val slice = java.util.Arrays.copyOfRange(x, (p.startMs * spms).toInt,
            math.min((p.endMs * spms).toInt, x.length))
          // the pipeline computes these two in Catalyst, so they are not
          // kernel spans
          val rms = Dsp.rmsInt16(slice)
          val clip = Dsp.clippingPercent(slice)
          tr.count("dsp.music_ratio_calls", 1)
          val music = tr.span("dsp.music_ratio")(
            try Dsp.musicRatio(slice, Pipeline.TargetRate) catch { case _: Exception => -1.0 })
          val pass = rms >= Pipeline.MinRms && clip <= Pipeline.MaxClippingPercent &&
            music <= Pipeline.MusicEnergyRatio && music != -1.0 &&
            p.endMs - p.startMs <= Pipeline.MaxAsrInputMs
          (iv, slice, rms, clip, music, pass)
        }
        val toAsr = measured.filter(_._6)
        val texts = toAsr.grouped(AsrBatch).flatMap { g =>
          tr.count("inference.calls", 1)
          tr.count("inference.inputs", g.size)
          tr.span("inference.transcribe")(
            stub.transcribe(g.map(m => Inference.AsrInput(m._2, Pipeline.TargetRate))))
        }.map(_.trim).toVector
        val textOf = toAsr.map(_._1).zip(texts).toMap
        val segs = measured.map { case (iv, slice, rms, clip, music, pass) =>
          val t = textOf.getOrElse(iv, "")
          val tp = pass && textPass(t)
          val wn = wavName(name, iv.startMs, iv.endMs)
          val m = if (tp) {
            val enc = tr.span("wavcodec.encode")(WavCodec.encodeMono16(slice, Pipeline.TargetRate))
            tr.count("wavcodec.encode_bytes", enc.length)
            md5(enc)
          } else ""
          Seg(iv.startMs, iv.endMs, rms, clip, music, pass, t, tp, wn, m)
        }
        FileOut(name, decoded = true, durMs, segs)
    }
  }

  /** Every segment keeps the filter margin (see [[Gen.segmentClear]]). */
  def marginsClear(f: FileOut): Boolean =
    f.decoded && f.segs.forall(s => Gen.segmentClear(s.rms, s.clip, s.music))

  /** One metadata row as the checks compare it. */
  def row(original: String, wav: String, text: String, rms: Double, clip: Double,
          music: Double, overlap: Boolean, wavMd5: String): String =
    s"$original\t$wav\t$text\t${q3(rms)}\t${q3(clip)}\t${q3(music)}\t$overlap\t$wavMd5"

  /** Expected metadata rows of a set of files: text-passing segments with
    * the overlap flag over each file's post-filter sequence, first writer
    * wins per export name. */
  def rows(files: Seq[FileOut]): Vector[String] = {
    val out = Vector.newBuilder[(String, String)]
    files.sortBy(_.name).foreach { f =>
      val kept = f.segs.filter(_.textPass).sortBy(_.startMs)
      def words(t: String) = t.toLowerCase.split("\\s+", -1)
      kept.indices.foreach { i =>
        val s = kept(i)
        val w = words(s.text)
        val flag = (i > 0 && words(kept(i - 1).text).last == w.head) ||
          (i + 1 < kept.size && words(kept(i + 1).text).head == w.last)
        out += s.wavName -> row(f.name, s.wavName, s.text, s.rms, s.clip, s.music, flag, s.wavMd5)
      }
    }
    // files are visited in name order and segments in time order, which is
    // the (original_name, startMs) first-writer order
    out.result().groupBy(_._1).values.map(_.head._2).toVector.sorted
  }

  def digest(rows: Seq[String]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(rows.sorted.mkString("\n").getBytes("UTF-8")))
}
