package graft.ops

/** Pure-Scala DSP kernels used by the audio operators. No Spark dependency —
  * these run inside expressions/UDFs on executors and are unit-tested
  * directly.
  *
  * Semantics follow the reference pipeline (process_audio.py, abbreviated
  * pa.py) via pydub's documented algorithms; values are float PCM in [-1, 1],
  * mono. Citations are to pa.py lines.
  */
object Dsp {

  /** Peak normalization (pa.py:87, pydub.effects.normalize, 0.1 dB headroom):
    * scale so the peak sits at 10^(-0.1/20) of full scale. Silent input is
    * returned unchanged. */
  def peakNormalize(samples: Array[Float], headroomDb: Double = 0.1): Array[Float] = {
    var peak = 0f
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i)); if (a > peak) peak = a; i += 1
    }
    if (peak <= 0f) return samples
    val target = math.pow(10.0, -headroomDb / 20.0)
    val gain = (target / peak).toFloat
    val out = new Array[Float](samples.length)
    i = 0
    while (i < samples.length) { out(i) = samples(i) * gain; i += 1 }
    out
  }

  /** Downmix interleaved multi-channel PCM to mono by channel average
    * (pa.py:88, pydub set_channels(1)). */
  def downmixMono(interleaved: Array[Float], channels: Int): Array[Float] = {
    if (channels <= 1) return interleaved
    val n = interleaved.length / channels
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      var acc = 0f
      var c = 0
      while (c < channels) { acc += interleaved(i * channels + c); c += 1 }
      out(i) = acc / channels
      i += 1
    }
    out
  }

  /** Linear-interpolation resample (pa.py:89, set_frame_rate(16000)). Linear
    * is deterministic and dependency-free; the operator contract (mono PCM at
    * the target rate) is what downstream stages rely on.
    *
    * Parity vs pydub (PydubParitySpec, pydub_golden.json): pydub's
    * set_frame_rate is audioop.ratecv — also linear interpolation, but with
    * a different phase accumulator; [[resampleRatecv]] mirrors it bit-exactly
    * for corpora that must match pydub sample-for-sample. Measured deviation
    * of THIS kernel vs ratecv over the AudioSynth corpus: integer-ratio
    * downsampling (16 kHz → 8 kHz) is exact (both pick every 2nd sample);
    * non-integer ratios (→ 22.05 kHz, 44.1 kHz → 16 kHz) stay within ±2
    * int16 LSB per sample and within one sample in output length — the
    * bound PydubParitySpec pins. */
  def resampleLinear(samples: Array[Float], fromRate: Int, toRate: Int): Array[Float] = {
    if (fromRate == toRate || samples.isEmpty) return samples
    val outLen = math.max(1, (samples.length.toLong * toRate / fromRate).toInt)
    val out = new Array[Float](outLen)
    val step = fromRate.toDouble / toRate
    var i = 0
    while (i < outLen) {
      val pos = i * step
      val i0 = pos.toInt
      val i1 = math.min(i0 + 1, samples.length - 1)
      val frac = (pos - i0).toFloat
      out(i) = samples(i0) * (1 - frac) + samples(i1) * frac
      i += 1
    }
    out
  }

  /** Bit-exact mirror of CPython `audioop.ratecv` (Modules/audioop.c) for
    * 16-bit mono with the default identity filter (weightA=1, weightB=0,
    * state=None) — exactly what pydub's `set_frame_rate` (pa.py:89) executes.
    * Int16-scale ints in and out. The algorithm: scale each input <<16
    * (GETSAMPLE32), run the d-accumulator loop emitting
    * (prev·d + cur·(outrate−d))/outrate truncated toward zero (C double
    * arithmetic — exact here, products < 2^53), and emit >>16 (SETSAMPLE32).
    * This is the opt-in kernel for corpora that must match a pydub port
    * sample-for-sample; the pipeline default is [[resampleLinear]] (see its
    * deviation bound). PydubParitySpec pins this against goldens from the
    * independent Python mirror (scripts/pydub_mirror.py). */
  def resampleRatecv(samples: Array[Int], fromRate: Int, toRate: Int): Array[Int] = {
    require(fromRate > 0 && toRate > 0, s"bad rates $fromRate -> $toRate")
    if (fromRate == toRate) return samples // pydub set_frame_rate returns self
    val g = java.math.BigInteger.valueOf(fromRate)
      .gcd(java.math.BigInteger.valueOf(toRate)).intValue()
    val inrate = fromRate / g
    val outrate = toRate / g
    var d = -outrate
    var prev = 0
    var cur = 0
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint((samples.length.toLong * toRate / fromRate).toInt + 2)
    var i = 0
    while (i < samples.length) {
      prev = cur
      cur = samples(i) << 16
      d += outrate
      while (d >= 0) {
        val o = ((prev.toDouble * d + cur.toDouble * (outrate - d)) / outrate).toInt
        out += (o >> 16)
        d -= inrate
      }
      i += 1
    }
    out.result()
  }

  /** Bit-exact mirror of CPython `audioop.tomono` with fac1=fac2=0.5 —
    * pydub's `set_channels(1)` (pa.py:88). Per interleaved L/R frame:
    * fbound(l·0.5 + r·0.5) = clip to [−32768, 32767] then floor (round
    * toward −inf; note C's fbound maps anything below minval+1.0 to minval).
    * The pipeline's float [[downmixMono]] averages exactly; this int form
    * exists for pydub-parity goldens (PydubParitySpec). */
  def tomonoInt16(interleaved: Array[Int]): Array[Int] = {
    val n = interleaved.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var f = interleaved(2 * i) * 0.5 + interleaved(2 * i + 1) * 0.5
      if (f > 32767.0) f = 32767.0
      else if (f < -32767.0) f = -32768.0 // C fbound: < minval + 1.0 -> minval
      out(i) = math.floor(f).toInt
      i += 1
    }
    out
  }

  /** RMS on the int16 scale (pa.py:182, pydub's `audio.rms` over int16
    * samples — MIN_RMS=250 is calibrated to that scale, SURVEY §2.4). */
  def rmsInt16(samples: Array[Float]): Double = {
    if (samples.isEmpty) return 0.0
    var acc = 0.0
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toDouble * 32767.0
      acc += v * v
      i += 1
    }
    math.sqrt(acc / samples.length)
  }

  /** Clipping percentage (pa.py:184-189): share of |sample| >= 0.98, in %. */
  def clippingPercent(samples: Array[Float]): Double = {
    if (samples.isEmpty) return 0.0
    var n = 0
    var i = 0
    while (i < samples.length) { if (math.abs(samples(i)) >= 0.98f) n += 1; i += 1 }
    n.toDouble / samples.length * 100.0
  }

  /** Music-ratio heuristic (O12, pa.py:191-210): band-limit to speech range
    * (HP 100 Hz → LP 7.5 kHz), then compare out-of-band (bass < 80 Hz +
    * treble > 8 kHz) energy against in-band energy, with the reference's
    * numeric-stability floors preserved verbatim (total_rms >= 1,
    * speech_energy >= 1 — int16 scale). Errors map to the -1.0 sentinel at
    * the caller.
    *
    * One pass with no intermediate array. The four filters are pydub's
    * single-pole RC low_pass_filter / high_pass_filter, each seeded with
    * its input's first sample: HP 100 Hz → LP 7.5 kHz gives the
    * band-limited signal `c`, and LP 80 Hz and HP 8 kHz of `c` give bass and
    * treble. The loop carries the four filter states and the three
    * int16-scale sums of squares, and updates each with the float
    * expression, in the order, of the filter-by-filter composition, so the
    * result is bit-identical to it (DspSpec keeps that composition as the
    * reference). A run of bitwise-equal inputs is skipped once one step
    * on it changes no state bit, since every further step is then the
    * identity. */
  def musicRatio(samples: Array[Float], rate: Int): Double = {
    val n = samples.length
    if (n == 0) return 0.0 // every RMS is 0: 0 / max(1, 1 - 0)
    def rc(cutoffHz: Double) = 1.0 / (2 * math.Pi * cutoffHz)
    val dt = 1.0 / rate
    def lowAlpha(cutoffHz: Double) = (dt / (rc(cutoffHz) + dt)).toFloat
    def highAlpha(cutoffHz: Double) = (rc(cutoffHz) / (rc(cutoffHz) + dt)).toFloat
    val aBand = highAlpha(100.0)
    val aSpeech = lowAlpha(7500.0)
    val aBass = lowAlpha(80.0)
    val aTreble = highAlpha(8000.0)
    var x = samples(0) // previous input sample
    var h = x          // HP 100 Hz of the input
    var c = h          // LP 7.5 kHz of h
    var bass = c       // LP 80 Hz of c
    var treble = c     // HP 8 kHz of c
    def sq(v: Float) = { val d = v.toDouble * 32767.0; d * d }
    var cAcc = sq(c)
    var bassAcc = cAcc
    var trebleAcc = cAcc
    import java.lang.Float.{floatToRawIntBits => fb}
    import java.lang.Double.{doubleToRawLongBits => db}
    var i = 1
    while (i < n) {
      val xi = samples(i)
      val hi = aBand * (h + xi - x)
      val ci = c + aSpeech * (hi - c)
      val bi = bass + aBass * (ci - bass)
      val ti = aTreble * (treble + ci - c)
      val cA = cAcc + sq(ci)
      val bA = bassAcc + sq(bi)
      val tA = trebleAcc + sq(ti)
      // a repeated input that leaves every state bit for bit as it was
      // (a decayed filter in digital silence, often stuck on subnormals)
      // makes each further step on that input the identity: skip the run
      val fixed = fb(xi) == fb(x) && fb(hi) == fb(h) && fb(ci) == fb(c) &&
        fb(bi) == fb(bass) && fb(ti) == fb(treble) &&
        db(cA) == db(cAcc) && db(bA) == db(bassAcc) && db(tA) == db(trebleAcc)
      h = hi
      c = ci
      bass = bi
      treble = ti
      x = xi
      cAcc = cA
      bassAcc = bA
      trebleAcc = tA
      i += 1
      if (fixed) while (i < n && fb(samples(i)) == fb(xi)) i += 1
    }
    val totalRms = math.max(1.0, math.sqrt(cAcc / n))
    val nonSpeech = math.sqrt(bassAcc / n) + math.sqrt(trebleAcc / n)
    val speech = math.max(1.0, totalRms - nonSpeech)
    nonSpeech / speech
  }

  /** dBFS of a window, pydub-style: 20*log10(rms / fullScale); -inf for
    * silence. Operates on the int16 scale for parity with `rmsInt16`. */
  def dbfs(rms: Double): Double =
    if (rms <= 0) Double.NegativeInfinity else 20.0 * math.log10(rms / 32767.0)
}
