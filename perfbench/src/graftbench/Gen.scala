package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.Pipeline
import graft.io.WavCodec

/** Seeded input generators. Every input is a pure function of the seed: the
  * same seed writes byte-identical WAV files and document rows. */
object Gen {

  // ------------------------------------------------------------------ audio

  /** What a generated audio file contains. */
  sealed trait Kind
  case object Speech extends Kind     // speech-like bursts only
  case object Music extends Kind      // plus bass+treble stretches (music filter)
  case object Quiet extends Kind      // plus diluted quiet stretches (RMS filter)
  case object Clipped extends Kind    // plus full-scale square stretches (clipping filter)
  case object Garbage extends Kind    // undecodable bytes under a .wav name

  /** A generated file with its serial replay (the expected pipeline output). */
  final case class AudioFile(name: String, kind: Kind, stereo441: Boolean,
                             bytes: Array[Byte], replay: Replay.FileOut)

  /** Filter thresholds every generated segment keeps a 5 % margin from, so a
    * reordering of floating-point operations cannot flip a decision. */
  val Margin = 0.05
  private def clear(v: Double, threshold: Double): Boolean =
    math.abs(v - threshold) >= Margin * threshold
  def segmentClear(rms: Double, clip: Double, music: Double): Boolean =
    clear(rms, Pipeline.MinRms) && clear(clip, Pipeline.MaxClippingPercent) &&
      clear(music, Pipeline.MusicEnergyRatio)

  private val HalfPi = math.Pi / 2

  /** Speech-like burst: two partials under a slow |sin| envelope, as the
    * fixture corpus's bursts, with seeded pitch and level. */
  private def speech(rnd: Random, rate: Int, sec: Double, level: Double): Array[Float] = {
    val n = (rate * sec).toInt
    val f1 = 180 + rnd.nextDouble() * 140
    val f2 = 900 + rnd.nextDouble() * 600
    val ph = rnd.nextDouble() * HalfPi
    Array.tabulate(n) { i =>
      val t = i.toDouble / rate
      val env = 0.2 + 0.8 * math.abs(math.sin(math.Pi * i.toDouble / n))
      (level * env * (0.55 * math.sin(2 * math.Pi * f1 * t + ph) +
        0.3 * math.sin(2 * math.Pi * f2 * t))).toFloat
    }
  }

  /** Bass + treble dominated stretch: fails the music-ratio filter. */
  private def music(rnd: Random, rate: Int, sec: Double): Array[Float] = {
    val n = (rate * sec).toInt
    val fb = 40 + rnd.nextDouble() * 30
    val ft = 7600 + rnd.nextDouble() * 300
    Array.tabulate(n) { i =>
      val t = i.toDouble / rate
      val env = 0.2 + 0.8 * math.abs(math.sin(math.Pi * i.toDouble / n))
      (0.8 * env * (0.5 * math.sin(2 * math.Pi * fb * t) +
        0.5 * math.sin(2 * math.Pi * ft * t))).toFloat
    }
  }

  /** Full-scale square stretch: fails the clipping filter. */
  private def square(rnd: Random, rate: Int, sec: Double): Array[Float] = {
    val n = (rate * sec).toInt
    val f = 150 + rnd.nextDouble() * 200
    Array.tabulate(n)(i => if ((f * i / rate) % 1.0 < 0.5) 1.0f else -1.0f)
  }

  /** Two short bursts just above the VAD floor with a long gap between them:
    * they merge into one segment whose RMS, diluted by the gap, fails the
    * RMS filter. Level is relative to the file peak, which normalisation
    * maps to full scale. */
  private def quiet(rate: Int): Array[Float] = {
    val burst = Array.tabulate(rate * 6 / 10) { i =>
      (0.0224 * math.sqrt(2) / 0.9886 * math.sin(2 * math.Pi * 500 * i / rate)).toFloat
    }
    burst ++ new Array[Float](rate * 12) ++ burst
  }

  private def silence(rate: Int, sec: Double) = new Array[Float]((rate * sec).toInt)

  /** One file's samples at `rate`, exactly `seconds` long: for a special
    * kind, one stretch of that kind first (the quiet stretch spans 13.2 s, so
    * the greedy merge, which spans at most 15 s, never joins it to speech),
    * then speech bursts of 2–14 s separated by 150–1050 ms gaps. Peak is
    * scaled to `peak`. */
  private def longformSignal(rnd: Random, rate: Int, seconds: Double, kind: Kind,
                             peak: Double): Array[Float] = {
    val parts = mutable.ArrayBuffer[Array[Float]](silence(rate, 0.3 + rnd.nextDouble() * 0.5))
    kind match {
      case Music => parts += music(rnd, rate, 4 + rnd.nextDouble() * 4)
      case Quiet => parts += quiet(rate)
      case Clipped => parts += square(rnd, rate, 3 + rnd.nextDouble() * 3)
      case _ =>
    }
    val target = (rate * seconds).toInt
    var len = parts.map(_.length).sum
    while (len < target) {
      val gap = silence(rate, 0.15 + rnd.nextDouble() * 0.9)
      val burst = speech(rnd, rate, 2 + rnd.nextDouble() * 12, 0.45 + rnd.nextDouble() * 0.4)
      parts += gap += burst
      len += gap.length + burst.length
    }
    scaleTo(java.util.Arrays.copyOf(concat(parts.toSeq), target), peak)
  }

  private def concat(parts: Seq[Array[Float]]): Array[Float] = {
    val out = new Array[Float](parts.map(_.length).sum)
    var o = 0
    parts.foreach { p => System.arraycopy(p, 0, out, o, p.length); o += p.length }
    out
  }

  private def scaleTo(x: Array[Float], peak: Double): Array[Float] = {
    val m = x.foldLeft(0f)((a, v) => math.max(a, math.abs(v)))
    if (m == 0f) x else { val g = (peak / m).toFloat; x.map(_ * g) }
  }

  private def encode(mono: Array[Float], stereo441: Boolean): Array[Byte] =
    if (!stereo441) WavCodec.encodeMono16(mono, 16000)
    else {
      val inter = new Array[Float](mono.length * 2)
      var i = 0
      while (i < mono.length) { inter(2 * i) = mono(i); inter(2 * i + 1) = mono(i) * 0.8f; i += 1 }
      WavCodec.encodePcm16(inter, 2, 44100)
    }

  private def garbage(rnd: Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rnd.nextBytes(b); b(0) = 'X'; b
  }

  /** Draw a file, re-drawing (with the next sub-seed) until every segment
    * keeps the filter margin; the kernels decide, exactly as the pipeline
    * will. */
  private def drawFile(seed: Long, name: String, kind: Kind, stereo441: Boolean,
                       build: Random => Array[Float]): AudioFile = {
    val off = new Tracer(false)
    if (kind == Garbage) {
      val rnd = new Random(seed)
      val bytes = garbage(rnd, 65536)
      return AudioFile(name, kind, stereo441, bytes, Replay.file(name, bytes, off))
    }
    var attempt = 0
    while (attempt < 50) {
      val bytes = encode(build(new Random(seed * 1000003L + attempt)), stereo441)
      val replay = Replay.file(name, bytes, off)
      if (Replay.marginsClear(replay)) return AudioFile(name, kind, stereo441, bytes, replay)
      attempt += 1
    }
    sys.error(s"no draw of $name keeps the filter margin")
  }

  /** Kinds for `n` files: fixed counts per kind, seeded placement. */
  private def kinds(rnd: Random, counts: Seq[(Kind, Int)], n: Int): Vector[Kind] = {
    val fixed = counts.flatMap { case (k, c) => Seq.fill(c)(k) }
    rnd.shuffle((fixed ++ Seq.fill(n - fixed.size)(Speech)).toVector)
  }

  /** The long-form corpus: `files` files of exactly `fileSeconds` each, so
    * every seed gives the same file sizes (and the same scan partitioning).
    * Exactly a quarter are 44.1 kHz stereo; fixed counts carry music, quiet
    * or clipped stretches, and one is undecodable. */
  def longform(seed: Long, files: Int, fileSeconds: Double): Seq[AudioFile] = {
    val rnd = new Random(seed)
    val ks = kinds(rnd, Seq(Music -> 3, Quiet -> 3, Clipped -> 3, Garbage -> 1), files)
    val stereo = rnd.shuffle((0 until files).toVector).take(files / 4).toSet
    (0 until files).map { i =>
      val peak = 0.5 + 0.45 * rnd.nextDouble()
      val fseed = rnd.nextLong()
      val rate = if (stereo(i)) 44100 else 16000
      drawFile(fseed, f"long_$i%02d.wav", ks(i), stereo(i),
        r => longformSignal(r, rate, fileSeconds, ks(i), peak))
    }
  }

  def write(dir: Path, files: Seq[AudioFile]): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
  }

  // ------------------------------------------------------------------ text

  /** The documents corpus vocabulary and shape follow the sf0.1 documents
    * table: 30 query-engine words, 10–100 words a document, five languages
    * (en about 41 %), 20 sources, and 5 % near-duplicates that repeat another
    * document's text with a trailing " dup" token. */
  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh",
    "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  val NearDupShare = 0.05

  def documents(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new Random(seed)
    // lengths spread evenly over 10..100 words in seeded order, so every
    // seed has the same total word count
    val lengths = rnd.shuffle((0 until n).map(i => 10 + i * 91 / n).toVector)
    val base = lengths.map { len =>
      Array.fill(len)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    val dups = rnd.shuffle((0 until n).toVector).take((n * NearDupShare).round.toInt).toSet
    val originals = (0 until n).filterNot(dups).toVector
    (0 until n).map { i =>
      val text =
        if (dups(i)) base(originals(rnd.nextInt(originals.size))) + " dup" else base(i)
      Doc(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }
}
