package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Energy-percentile audio QC — the noise-floor / speech-level / SNR
  * estimator corpus curation actually runs before a clip is allowed
  * into a TTS/ASR training set (the reference's quality gate stops at
  * RMS + clipping, pa.py:97-101; a low-SNR clip passes both and still
  * poisons a voice model). The classic estimator: frame the clip into
  * non-overlapping windows, per-frame energy = Σ v², noise floor = a
  * low-percentile frame energy (the quietest frames are inter-word
  * noise), speech level = a high percentile; SNR ≈ speech/noise.
  *
  * Built ENTIRELY from Catalyst HOFs (`sequence`/`transform`/`slice`/
  * `aggregate`/`array_sort`) — no UDFs, per-row and shuffle-free, so it
  * never adds an Exchange. It is not codegen'd: the lambda HOFs
  * (ArrayTransform, ArrayAggregate) are CodegenFallback in Spark 4.1.2,
  * interpreted element by element, and the hosting Project sits outside
  * a WholeStage span. All arithmetic is INTEGER (int16 sample domain,
  * BIGINT energies, integer-division ratio) — exactly restatable
  * cross-engine with zero float drift, which is what lets q328 gate it
  * against a fully relational DuckDB oracle. */
object AudioQc {

  /** Per-frame energies Σ v² (array<bigint>) over non-overlapping
    * `frameLen`-sample windows; a trailing partial frame is dropped
    * (the windowing convention — a 5 ms tail is not a frame). */
  def frameEnergies(samples: Column, frameLen: Int): Column = {
    require(frameLen > 0, s"frameLen must be positive: $frameLen")
    val nFrames = (size(samples) / frameLen).cast("int")
    // sequence(0, -1) would generate a DESCENDING [0, -1] — a clip
    // shorter than one frame must yield zero frames instead
    val idx = when(nFrames > 0, sequence(lit(0), nFrames - 1))
      .otherwise(slice(sequence(lit(0), lit(0)), 1, 0))
    transform(idx, j =>
      aggregate(slice(samples, j * frameLen + 1, lit(frameLen)), lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")))
  }

  /** Discrete percentile over a SORTED array: element at index
    * floor((n−1) · num/den), 0-based (the exact-selection rule both
    * engines state identically — no interpolation, no float percentile
    * semantics to disagree on). An EMPTY array (a clip shorter than one
    * frame) yields NULL instead of the opaque element_at(…, 0) runtime
    * error — callers filter `isNull` like any missing metric. */
  def percentileDisc(sorted: Column, num: Int, den: Int): Column =
    when(size(sorted) > 0,
      element_at(sorted,
        floor((size(sorted) - 1) * num / den).cast("int") + 1))

  /** struct(noise_e, speech_e): the lo/hi percentile frame energies of
    * the clip. Defaults: p10 noise floor, p90 speech level. The caller
    * forms the ratio with INTEGER division (`speech_e * 1000 div
    * noise_e`) or [[snrDb]] for the human-facing decibel view. */
  def snrStats(samples: Column, frameLen: Int,
               loNum: Int = 1, loDen: Int = 10,
               hiNum: Int = 9, hiDen: Int = 10): Column = {
    val sorted = array_sort(frameEnergies(samples, frameLen))
    struct(
      percentileDisc(sorted, loNum, loDen).as("noise_e"),
      percentileDisc(sorted, hiNum, hiDen).as("speech_e"))
  }

  /** Human-facing decibel view: 10·log10(speech/noise). Float — for
    * reports and filters (`snr_db > 20`), not for hash gates. */
  def snrDb(speechE: Column, noiseE: Column): Column =
    lit(10.0) * log10(speechE.cast("double") / noiseE.cast("double"))
}
