package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AudioQc

/** AudioQc (SNR / noise-floor estimation): frame-energy arithmetic,
  * partial-frame drop, the discrete percentile rule, whole-clip edge
  * cases, the no-UDF shuffle-free plan of a typed per-row map, and
  * agreement with a real decoded clip's known structure. */
class AudioQcSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def energiesOf(samples: Seq[Int], frameLen: Int): Seq[Long] =
    AudioQc.frameEnergies(samples.toArray, frameLen).toSeq

  test("frameEnergies: exact Σv² per frame; trailing partial frame dropped") {
    // 2 full frames of 3 + a 2-sample tail that must be dropped
    val e = energiesOf(Seq(1, -2, 3, 0, 5, -1, 7, 7), frameLen = 3)
    assert(e == Seq(1L + 4 + 9, 0L + 25 + 1))
    // exactly-full clip keeps every frame
    assert(energiesOf(Seq(2, 2, -2, -2), 2) == Seq(8L, 8L))
    // clip shorter than one frame → zero frames
    assert(energiesOf(Seq(9), 4) == Seq.empty[Long])
  }

  test("percentileDisc: floor((n-1)*p) selection, both ends, ties") {
    def pick(sorted: Seq[Long], num: Int, den: Int): Long =
      AudioQc.percentileDisc(sorted.toArray, num, den).get
    val ten = (1L to 10L).toSeq
    assert(pick(ten, 1, 10) == 1L) // floor(9*0.1)=0
    assert(pick(ten, 9, 10) == 9L) // floor(9*0.9)=8
    assert(pick(ten, 0, 10) == 1L)
    assert(pick(ten, 10, 10) == 10L)
    assert(pick(Seq(5L), 9, 10) == 5L) // single frame: both ends = it
    assert(pick(Seq(3L, 3L, 3L, 9L), 1, 10) == 3L) // ties are value-stable
  }

  test("sub-frame clip: snrStats yields NULL metrics, not a runtime error") {
    // shorter than one 160-frame
    val (noise, speech) = AudioQc.snrStats(Array(1, 2, 3), frameLen = 160)
    assert(noise.isEmpty && speech.isEmpty)
  }

  test("snrStats + ratio: bursty signal → speech/noise percentiles exact") {
    // 10 frames of 4: two loud frames (amp 100 → e=40000), eight quiet
    // (amp 2 → e=16). p10 = sorted[0] = 16, p90 = sorted[8] = 16? No —
    // sorted: eight 16s then two 40000s; index floor(9*0.9)=8 → 40000.
    val clip: Seq[Int] = (0 until 10).flatMap { j =>
      val a = if (j == 3 || j == 7) 100 else 2
      Seq(a, -a, a, -a)
    }
    val (Some(noise), Some(speech)) = AudioQc.snrStats(clip.toArray, frameLen = 4)
    assert(noise == 16L)
    assert(speech == 40000L)
    assert(speech * 1000 / noise == 40000L * 1000 / 16)
  }

  test("plan is UDF-free, shuffle-free, single-stage (scan-speed at 100 TB)") {
    import spark.implicits._
    // the q328 shape: a typed per-row map over a non-literal source, so
    // constant folding can't collapse the operator
    val df = spark.range(4).as[Long]
      .map(id => AudioQc.snrStats(Array.tabulate(8)(i => (i + id).toInt), 2))
      .toDF("noise_e", "speech_e")
    val plan = df.queryExecution.executedPlan.toString
    // no UDF sinks, and — the scale claim — no Exchange anywhere
    // (per-row operator, never a shuffle)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    assert(!plan.contains("Exchange"))
    assert(df.select("speech_e").head().getLong(0) > 0L)
  }

  test("real decoded audio: silence-padded tone clip has the expected gap") {
    // 16 frames: 12 near-silent + 4 tone frames from a real WAV round trip
    val rate = 16000
    val tone = Array.tabulate(rate / 10)(i =>
      (0.5 * math.sin(2 * math.Pi * 440 * i / rate)).toFloat)
    val pad = new Array[Float](3 * rate / 10)
    val wav = graft.io.WavCodec.encodeMono16(pad ++ tone, rate)
    val dec = graft.io.WavCodec.decode(wav)
    val ints = dec.samples.map(f => math.round(f * 32768f))
    val (Some(noise), Some(speech)) = AudioQc.snrStats(ints, frameLen = rate / 40)
    assert(noise == 0L)          // digital-silence noise floor
    assert(speech > 1000000L)    // tone frames carry real energy
  }
}
