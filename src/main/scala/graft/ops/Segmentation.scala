package graft.ops

/** Interval algebra for silence-based segmentation (O6-O9, pa.py:96-161).
  * Pure functions over ms intervals — unit/property-tested directly, then
  * lifted into the Spark pipeline per file (each file's interval list is
  * small and bounded, so the per-file fold is cheap; parallelism is across
  * files, which is where 100 TB scale lives — SURVEY §7.4 HARD #1).
  */
object Segmentation {

  val MinDurationMs = 3000L        // pa.py:17
  val MaxDurationMs = 15000L       // pa.py:18
  val SilenceThresholdDb = -35.0   // pa.py:19
  val MinSilenceLenMs = 300        // pa.py:20
  val SegmentPaddingMs = 200L      // pa.py:21

  final case class Interval(startMs: Long, endMs: Long)

  /** Per-ms int16-scale energies (left-to-right sum of squares within each
    * ms; a final partial ms covers the tail). This is the CANONICAL energy
    * unit for VAD: window energies are left-to-right sums of these per-ms
    * energies, never global prefix-sum differences, so a window's decision
    * depends only on the samples it covers, in one fixed summation order.
    * PydubParitySpec pins the resulting intervals against pydub's. */
  private def msEnergies(samples: Array[Float], spms: Int): Array[Double] = {
    val nMs = (samples.length + spms - 1) / spms
    val out = new Array[Double](nMs)
    var m = 0
    while (m < nMs) {
      val a = m * spms
      val b = math.min(a + spms, samples.length)
      var acc = 0.0
      var i = a
      while (i < b) { val v = samples(i).toDouble * 32767.0; acc += v * v; i += 1 }
      out(m) = acc
      m += 1
    }
    out
  }

  /** Runs of consecutive silent window starts for start positions
    * [0, untilMs), as inclusive (first, last) pairs. `e` holds the file's
    * per-ms energies ([[msEnergies]]); `totalLen` is the sample count,
    * clamping the final windows.
    *
    * A window is silent when its left-to-right energy sum ([[windowSum]])
    * is quiet; that sum is the only definition. Quietness is monotone in
    * the sum, so a full window is decided in O(1) from a sliding sum
    * (`+ e(s + w - 1) - e(s - 1)`) whenever the sliding sum's error bound
    * cannot flip the decision: `quiet(sum + slack)` proves silent,
    * `!quiet(sum - slack)` proves loud. The bound covers both the sliding
    * updates (two roundings each) and the exact sum's own summation error,
    * each with a factor-2 margin, and the sum is recomputed exactly every
    * [[ResyncSteps]] steps, so the slack stays near 1e-12 of the energies
    * seen since. An undecided window, a clamped tail window, and one where
    * the sliding sum is not finite (NaN or infinite energies) are summed
    * exactly. */
  private def silentStartRuns(e: Array[Double], spms: Int, totalLen: Long, untilMs: Int,
                              minSilenceLenMs: Int,
                              silenceThreshDb: Double): Seq[(Int, Int)] = {
    val w = minSilenceLenMs
    val full = w.toLong * spms // samples in an unclamped window
    def quiet(acc: Double, n: Long): Boolean = Dsp.dbfs(math.sqrt(acc / n)) < silenceThreshDb
    def exactSilent(s: Int): Boolean = {
      val a = s.toLong * spms
      val b = math.min((s + w).toLong * spms, totalLen)
      b - a <= 0 || quiet(windowSum(e, s, math.min(((b + spms - 1) / spms).toInt, e.length)), b - a)
    }
    val gamma = w * RoundOff // bounds the relative error of a w-term exact sum
    var sum = 0.0   // sliding sum of window s - 1, unless a resync is due
    var err = 0.0   // bound on |sum - the real sum of its window's energies|
    var sinceSync = ResyncSteps // steps since sum was exact; ResyncSteps = resync now
    val runs = Seq.newBuilder[(Int, Int)]
    var runStart = -1
    var prev = -2
    var s = 0
    while (s < untilMs) {
      val silent =
        if (w <= 0 || (s + w).toLong * spms > totalLen) { sinceSync = ResyncSteps; exactSilent(s) }
        else {
          if (sinceSync < ResyncSteps) {
            val t = sum + e(s + w - 1)
            sum = t - e(s - 1)
            err += RoundOff * (math.abs(t) + math.abs(sum))
            sinceSync += 1
          } else {
            sum = windowSum(e, s, s + w)
            err = gamma * sum
            sinceSync = 0
          }
          val slack = err + gamma * (math.abs(sum) + err)
          val hi = sum + slack
          if (!(hi < Double.PositiveInfinity)) { sinceSync = ResyncSteps; exactSilent(s) }
          else if (quiet(hi, full)) true
          else if (!quiet(math.max(sum - slack, 0.0), full)) false
          else exactSilent(s)
        }
      if (silent) {
        if (runStart < 0) { runStart = s; prev = s }
        else if (s == prev + 1) prev = s
        else { runs += ((runStart, prev)); runStart = s; prev = s }
      }
      s += 1
    }
    if (runStart >= 0) runs += ((runStart, prev))
    runs.result()
  }

  /** Twice the unit roundoff of a double: the error bounds above carry a
    * factor-2 margin over the textbook ones. */
  private val RoundOff = math.pow(2, -52)
  private val ResyncSteps = 1024

  /** e(from) + … + e(until - 1), left to right: the window energy. */
  private def windowSum(e: Array[Double], from: Int, until: Int): Double = {
    var acc = 0.0
    var m = from
    while (m < until) { acc += e(m); m += 1 }
    acc
  }

  /** Non-silent complement of silent ranges within [0, durationMs). */
  def complement(silent: Seq[Interval], durationMs: Long): Seq[Interval] = {
    val nonsilent = Seq.newBuilder[Interval]
    var cursor = 0L
    silent.foreach { r =>
      if (r.startMs > cursor) nonsilent += Interval(cursor, r.startMs)
      cursor = r.endMs
    }
    if (cursor < durationMs) nonsilent += Interval(cursor, durationMs)
    nonsilent.result()
  }

  /** pydub detect_nonsilent equivalent (pa.py:104-106): slide a
    * MinSilenceLenMs window in 1 ms steps; a window is silent when its dBFS
    * is strictly below the threshold; contiguous silent window starts merge
    * into silent ranges ([start, lastStart + window]); non-silent = the
    * complement within [0, durationMs]. Window energies come from the
    * canonical per-ms energies (see msEnergies); the scan slides one
    * window sum along them, so it is O(durationMs) plus an exact re-sum of
    * a window every 1024 steps and wherever the sliding sum is too close to
    * the threshold to decide (see silentStartRuns). */
  def detectNonSilent(samples: Array[Float], rate: Int,
                      minSilenceLenMs: Int = MinSilenceLenMs,
                      silenceThreshDb: Double = SilenceThresholdDb): Seq[Interval] = {
    // ms-indexed scan requires an integral samples-per-ms; the pipeline
    // canonicalizes to 16 kHz before VAD (pa.py:89), so this is a contract,
    // not a limitation — fail fast rather than drift on e.g. 44.1 kHz input
    require(rate >= 1000 && rate % 1000 == 0, s"VAD requires rate divisible by 1000, got $rate")
    val spms = rate / 1000 // samples per ms
    val durationMs = (samples.length / spms).toInt
    if (durationMs < minSilenceLenMs) {
      // pydub returns no silent ranges for audio shorter than the window,
      // so the whole clip is non-silent (if non-empty).
      return if (durationMs > 0) Seq(Interval(0, durationMs.toLong)) else Nil
    }
    val e = msEnergies(samples, spms)
    val runs = silentStartRuns(e, spms, samples.length.toLong,
      durationMs - minSilenceLenMs + 1, minSilenceLenMs, silenceThreshDb)
    val silent = runs.map { case (f, l) => Interval(f.toLong, (l + minSilenceLenMs).toLong) }
    complement(silent, durationMs.toLong)
  }

  /** Pass 1 (O7, pa.py:111-122): split any interval longer than
    * MaxDurationMs into MaxDurationMs chunks (last chunk = remainder). */
  def splitLong(intervals: Seq[Interval], maxMs: Long = MaxDurationMs): Seq[Interval] =
    intervals.flatMap { iv =>
      val dur = iv.endMs - iv.startMs
      if (dur > maxMs) {
        (0L until dur by maxMs).map { off =>
          Interval(iv.startMs + off, math.min(iv.startMs + off + maxMs, iv.endMs))
        }
      } else Seq(iv)
    }

  /** Pass 2 (O8, pa.py:124-147): greedy merge of adjacent intervals while the
    * SPAN (next.end - mergedStart, gaps included — pa.py:140) stays within
    * MaxDurationMs; emit merged runs, dropping any shorter than
    * MinDurationMs (pa.py:128-131). Inherently a sequential fold per file. */
  def mergeGreedy(intervals: Seq[Interval],
                  minMs: Long = MinDurationMs,
                  maxMs: Long = MaxDurationMs): Seq[Interval] = {
    if (intervals.isEmpty) return Nil
    val out = Seq.newBuilder[Interval]
    var start = intervals.head.startMs
    var end = intervals.head.endMs
    def saveIfValid(): Unit = if (end - start >= minMs) out += Interval(start, end)
    intervals.tail.foreach { next =>
      if (next.endMs - start <= maxMs) {
        end = next.endMs
      } else {
        saveIfValid()
        start = next.startMs
        end = next.endMs
      }
    }
    saveIfValid()
    out.result()
  }

  /** Padding (O9, pa.py:149-161): ±SegmentPaddingMs clamped to [0, len].
    * Returns (paddedStart, paddedEnd); the unpadded interval remains the
    * segment's identity (naming, DB row — pa.py:339-343). */
  def pad(iv: Interval, durationMs: Long, padMs: Long = SegmentPaddingMs): Interval =
    Interval(math.max(0L, iv.startMs - padMs), math.min(durationMs, iv.endMs + padMs))

  /** Full per-file segmentation: VAD → split → merge. */
  def segment(samples: Array[Float], rate: Int): Seq[Interval] =
    mergeGreedy(splitLong(detectNonSilent(samples, rate)))
}
