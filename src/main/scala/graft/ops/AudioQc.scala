package graft.ops

/** Energy-percentile audio QC — the noise-floor / speech-level / SNR
  * estimator corpus curation actually runs before a clip is allowed
  * into a TTS/ASR training set (the reference's quality gate stops at
  * RMS + clipping, pa.py:97-101; a low-SNR clip passes both and still
  * poisons a voice model). The classic estimator: frame the clip into
  * non-overlapping windows, per-frame energy = Σ v², noise floor = a
  * low-percentile frame energy (the quietest frames are inter-word
  * noise), speech level = a high percentile; SNR ≈ speech/noise.
  *
  * Plain functions over primitive arrays, called once per row from a
  * typed map (q328): one pass for the energies, one sort, two indexed
  * reads. All arithmetic is INTEGER (int16 sample domain, long
  * energies) — exactly restatable cross-engine with zero float drift,
  * which is what lets q328 gate it against a fully relational DuckDB
  * oracle. */
object AudioQc {

  /** Per-frame energies Σ v² over non-overlapping `frameLen`-sample
    * windows; a trailing partial frame is dropped (the windowing
    * convention — a 5 ms tail is not a frame). */
  def frameEnergies(samples: Array[Int], frameLen: Int): Array[Long] = {
    require(frameLen > 0, s"frameLen must be positive: $frameLen")
    val out = new Array[Long](samples.length / frameLen)
    var f = 0
    while (f < out.length) {
      var acc = 0L
      var i = f * frameLen
      val end = i + frameLen
      while (i < end) { val v = samples(i).toLong; acc += v * v; i += 1 }
      out(f) = acc
      f += 1
    }
    out
  }

  /** Discrete percentile over a SORTED array: element at index
    * floor((n−1) · num/den), 0-based (the exact-selection rule both
    * engines state identically — no interpolation, no float percentile
    * semantics to disagree on). An EMPTY array (a clip shorter than one
    * frame) has no percentile: None, a NULL metric for the caller. */
  def percentileDisc(sorted: Array[Long], num: Int, den: Int): Option[Long] =
    if (sorted.isEmpty) None
    else Some(sorted(((sorted.length - 1).toLong * num / den).toInt))

  /** (noise_e, speech_e): the lo/hi percentile frame energies of the
    * clip. Defaults: p10 noise floor, p90 speech level. The caller forms
    * the ratio with INTEGER division (`speech_e * 1000 div noise_e`), as
    * q328 does. */
  def snrStats(samples: Array[Int], frameLen: Int,
               loNum: Int = 1, loDen: Int = 10,
               hiNum: Int = 9, hiDen: Int = 10): (Option[Long], Option[Long]) = {
    val sorted = frameEnergies(samples, frameLen)
    java.util.Arrays.sort(sorted)
    (percentileDisc(sorted, loNum, loDen), percentileDisc(sorted, hiNum, hiDen))
  }
}
