package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dsp
import graft.io.WavCodec

class DspSpec extends AnyFunSuite {
  import DspSpec._

  private def sine(freq: Double, ms: Int, rate: Int, amp: Double): Array[Float] =
    Array.tabulate(rate * ms / 1000)(i => (amp * math.sin(2 * math.Pi * freq * i / rate)).toFloat)

  test("peakNormalize brings peak to ~0.9886 (0.1 dB headroom) and keeps silence") {
    val s = sine(440, 100, 16000, 0.25)
    val n = Dsp.peakNormalize(s)
    val peak = n.map(math.abs).max
    assert(math.abs(peak - math.pow(10, -0.1 / 20)) < 1e-3)
    val z = new Array[Float](100)
    assert(Dsp.peakNormalize(z).forall(_ == 0f))
  }

  test("downmixMono averages channels") {
    val interleaved = Array(1f, 0f, 0.5f, -0.5f, -1f, 1f)
    assert(Dsp.downmixMono(interleaved, 2).toSeq == Seq(0.5f, 0f, 0f))
    assert(Dsp.downmixMono(interleaved, 1) eq interleaved)
  }

  test("resampleLinear halves/keeps sample counts and preserves a DC signal") {
    val dc = Array.fill(4410)(0.3f)
    val out = Dsp.resampleLinear(dc, 44100, 16000)
    assert(out.length == 4410L * 16000 / 44100)
    assert(out.forall(v => math.abs(v - 0.3f) < 1e-6))
    assert(Dsp.resampleLinear(dc, 16000, 16000) eq dc)
  }

  test("rmsInt16 of a full-scale square is ~32767, of silence 0") {
    val sq = Array.fill(1600)(1.0f)
    assert(math.abs(Dsp.rmsInt16(sq) - 32767.0) < 1e-6)
    assert(Dsp.rmsInt16(new Array[Float](100)) == 0.0)
    // sine rms = amp/sqrt(2)
    val s = sine(100, 1000, 16000, 0.5)
    assert(math.abs(Dsp.rmsInt16(s) - 0.5 * 32767 / math.sqrt(2)) < 40)
  }

  test("clippingPercent counts |x| >= 0.98") {
    val s = Array(0.99f, -0.99f, 0.5f, 0.979f)
    assert(Dsp.clippingPercent(s) == 50.0)
  }

  test("low/high pass split energy by band") {
    val rate = 16000
    val lo = sine(50, 500, rate, 0.5)
    val hi = sine(6000, 500, rate, 0.5)
    // low-pass at 80 Hz keeps most of the 50 Hz tone, kills the 6 kHz tone
    assert(Dsp.rmsInt16(DspSpec.lowPass(lo, 80, rate)) > 0.3 * Dsp.rmsInt16(lo))
    assert(Dsp.rmsInt16(DspSpec.lowPass(hi, 80, rate)) < 0.1 * Dsp.rmsInt16(hi))
    // high-pass at 8 kHz: suppresses 50 Hz
    assert(Dsp.rmsInt16(DspSpec.highPass(lo, 8000, rate)) < 0.2 * Dsp.rmsInt16(lo))
  }

  test("musicRatio: speech-band content low, band-extreme content high") {
    val rate = 16000
    val speech = sine(300, 1000, rate, 0.4).lazyZip(sine(1200, 1000, rate, 0.3)).map(_ + _).toArray
    val music = sine(50, 1000, rate, 0.45).lazyZip(sine(7900, 1000, rate, 0.45)).map(_ + _).toArray
    assert(Dsp.musicRatio(speech, rate) < 2.0)
    assert(Dsp.musicRatio(music, rate) > 2.0)
  }

  test("wav codec roundtrip PCM16 mono") {
    val s = sine(440, 200, 16000, 0.5)
    val bytes = WavCodec.encodeMono16(s, 16000)
    val dec = WavCodec.decode(bytes)
    assert(dec.channels == 1 && dec.sampleRate == 16000)
    assert(dec.samples.length == s.length)
    dec.samples.zip(s).foreach { case (a, b) => assert(math.abs(a - b) < 1.0 / 32000) }
  }

  test("wav codec rejects garbage and truncated input") {
    intercept[IllegalArgumentException](WavCodec.decode(Array.fill[Byte](10)(42)))
    intercept[IllegalArgumentException](
      WavCodec.decode(Array.tabulate[Byte](1024)(i => (i * 37 % 251).toByte)))
  }

  test("wav codec clamps out-of-range samples on encode") {
    val s = Array(1.5f, -1.5f, 0f)
    val dec = WavCodec.decode(WavCodec.encodeMono16(s, 16000))
    assert(math.abs(dec.samples(0) - 32767f / 32768f) < 1e-4)
    assert(math.abs(dec.samples(1) + 32767f / 32768f) < 1e-4)
  }

  private def assertSameRatio(what: String, x: Array[Float], rate: Int): Unit = {
    val got = Dsp.musicRatio(x, rate)
    val want = musicRatioFourPass(x, rate)
    assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
      s"$what: one-pass $got vs four-pass $want")
  }

  test("musicRatio is bit-identical to the four-pass composition: edge inputs") {
    assertSameRatio("empty", Array.empty[Float], 16000)
    assertSameRatio("one sample", Array(0.25f), 16000)
    assertSameRatio("one zero", Array(0f), 16000)
    val s = sine(440, 200, 16000, 0.4)
    s(1000) = Float.NaN
    assertSameRatio("NaN", s, 16000)
    assertSameRatio("leading NaN", Float.NaN +: sine(440, 50, 16000, 0.4), 16000)
    assertSameRatio("infinity", Array(0.1f, Float.PositiveInfinity, 0.2f), 16000)
    assertSameRatio("silence", new Array[Float](16000), 16000)
  }

  test("musicRatio is bit-identical to the four-pass composition: subnormal silence tails") {
    // a burst that decays into long near-zero tails: the filter states pass
    // through the subnormal range, where float rounding is the least regular
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { k =>
      val burst = sine(200 + 97 * k, 300, 16000, 0.5)
      val tail = Array.fill(16000)(
        if (rnd.nextInt(4) == 0) java.lang.Float.MIN_VALUE * rnd.nextInt(1000) else 0f)
      val x = burst ++ tail ++ Array.fill(400)(rnd.nextFloat() * 1e-38f)
      assertSameRatio(s"tail $k", x, 16000)
      assert(x.exists(v => v != 0f && math.abs(v) < java.lang.Float.MIN_NORMAL))
    }
  }

  test("musicRatio is bit-identical to the four-pass composition at 8, 16 and 48 kHz") {
    val rnd = new scala.util.Random(11)
    for (rate <- Seq(8000, 16000, 48000); k <- 0 until 10) {
      val x = speechLike(rnd, rate, 3000 + 700 * k)
      assertSameRatio(s"$rate Hz #$k", x, rate)
    }
  }

  test("musicRatio's skip over repeated inputs is bit-identical to the four-pass composition") {
    // runs of one repeated sample (where the one-pass loop skips once the
    // filter states stop changing) mixed with noise, bursts and special
    // values; the last segment is often a run, so a skip can end the array
    val rnd = new scala.util.Random(13)
    val specials = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0f, java.lang.Float.MIN_VALUE, -java.lang.Float.MIN_VALUE,
      java.lang.Float.MIN_NORMAL / 3, 1e-39f)
    def segment(): Array[Float] = rnd.nextInt(8) match {
      case 0 => Array.fill(10 + rnd.nextInt(500))(rnd.nextFloat() - 0.5f)
      case 1 => new Array[Float](1 + rnd.nextInt(3000))                   // exact zeros
      case 2 => Array.tabulate(1 + rnd.nextInt(2000))(i =>                 // ±0.0
        if (i % 2 == 0) 0f else -0f)
      case 3 =>                                                            // DC run
        val v = if (rnd.nextBoolean()) rnd.nextFloat() - 0.5f else 1e-6f * rnd.nextFloat()
        Array.fill(1 + rnd.nextInt(3000))(v)
      case 4 => Array.fill(1 + rnd.nextInt(2000))(                         // subnormal run
        java.lang.Float.MIN_VALUE * (1 + rnd.nextInt(3)))
      case 5 => Array.fill(1 + rnd.nextInt(3))(specials(rnd.nextInt(specials.length)))
      case 6 => Array.fill(1 + rnd.nextInt(1500))(specials(rnd.nextInt(specials.length)))
      case _ => sine(100 + rnd.nextInt(4000), 5 + rnd.nextInt(60), 16000,
        rnd.nextDouble()) ++ new Array[Float](rnd.nextInt(8000))          // decay to silence
    }
    for (rate <- Seq(8000, 16000, 48000); k <- 0 until 300) {
      val x = Array.fill(1 + rnd.nextInt(6))(segment()).flatten
      assertSameRatio(s"$rate Hz runs #$k", x, rate)
    }
  }

  test("musicRatio is bit-identical to the four-pass composition on a 5-minute file") {
    val x = speechLike(new scala.util.Random(5), 16000, 5 * 60 * 1000)
    assertSameRatio("5 min", x, 16000)
  }
}

object DspSpec {

  /** Single-pole RC low-pass filter (pydub low_pass_filter semantics): the
    * filter `Dsp.musicRatio` runs in one pass, kept here as its reference. */
  def lowPass(samples: Array[Float], cutoffHz: Double, rate: Int): Array[Float] = {
    if (samples.isEmpty) return samples
    val rc = 1.0 / (2 * math.Pi * cutoffHz)
    val dt = 1.0 / rate
    val alpha = (dt / (rc + dt)).toFloat
    val out = new Array[Float](samples.length)
    out(0) = samples(0) // pydub seeds the recursion with the raw first sample
    var i = 1
    while (i < samples.length) {
      out(i) = out(i - 1) + alpha * (samples(i) - out(i - 1))
      i += 1
    }
    out
  }

  /** Single-pole RC high-pass filter (pydub high_pass_filter semantics). */
  def highPass(samples: Array[Float], cutoffHz: Double, rate: Int): Array[Float] = {
    if (samples.isEmpty) return samples
    val rc = 1.0 / (2 * math.Pi * cutoffHz)
    val dt = 1.0 / rate
    val alpha = (rc / (rc + dt)).toFloat
    val out = new Array[Float](samples.length)
    out(0) = samples(0)
    var i = 1
    while (i < samples.length) {
      out(i) = alpha * (out(i - 1) + samples(i) - samples(i - 1))
      i += 1
    }
    out
  }

  /** The filter-by-filter music ratio (four filter passes, four arrays,
    * three RMS passes): the reference `Dsp.musicRatio` must equal bit for bit. */
  def musicRatioFourPass(samples: Array[Float], rate: Int): Double = {
    val calc = lowPass(highPass(samples, 100.0, rate), 7500.0, rate)
    var totalRms = Dsp.rmsInt16(calc)
    if (totalRms < 1) totalRms = 1
    val bassRms = Dsp.rmsInt16(lowPass(calc, 80.0, rate))
    val trebleRms = Dsp.rmsInt16(highPass(calc, 8000.0, rate))
    val nonSpeech = bassRms + trebleRms
    val speech = math.max(1.0, totalRms - nonSpeech)
    nonSpeech / speech
  }

  /** `ms` of speech-like audio at `rate`: bursts of two partials under a
    * |sin| envelope, 0.3–3 s each, separated by 150–1050 ms gaps of
    * silence or faint noise. */
  def speechLike(rnd: scala.util.Random, rate: Int, ms: Int): Array[Float] = {
    val out = new Array[Float]((ms.toLong * rate / 1000).toInt)
    var i = 0
    while (i < out.length) {
      val burst = math.min(out.length - i, rate * (300 + rnd.nextInt(2700)) / 1000)
      val (f0, amp) = (90.0 + rnd.nextInt(200), 0.05 + 0.6 * rnd.nextDouble())
      var j = 0
      while (j < burst) {
        val t = j.toDouble / rate
        val env = math.abs(math.sin(math.Pi * j / burst))
        out(i + j) = (amp * env * (0.7 * math.sin(2 * math.Pi * f0 * t) +
          0.3 * math.sin(2 * math.Pi * 3.1 * f0 * t))).toFloat
        j += 1
      }
      i += burst
      val gap = math.min(out.length - i, rate * (150 + rnd.nextInt(900)) / 1000)
      val noise = if (rnd.nextBoolean()) 0f else 1e-4f * rnd.nextInt(10)
      j = 0
      while (j < gap) { out(i + j) = noise * (rnd.nextFloat() - 0.5f); j += 1 }
      i += gap
    }
    out
  }
}
