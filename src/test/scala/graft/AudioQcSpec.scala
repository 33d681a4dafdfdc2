package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AudioQc

/** AudioQc (SNR / noise-floor estimation): frame-energy arithmetic,
  * partial-frame drop, the discrete percentile rule, whole-clip edge
  * cases, the codegen'd no-UDF plan shape, and agreement with a real
  * decoded clip's known structure. */
class AudioQcSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def energiesOf(samples: Seq[Int], frameLen: Int): Seq[Long] = {
    import spark.implicits._
    Seq(samples).toDF("s")
      .select(AudioQc.frameEnergies(col("s"), frameLen).as("e"))
      .head().getSeq[Long](0)
  }

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
    import spark.implicits._
    def pick(sorted: Seq[Long], num: Int, den: Int): Long =
      Seq(sorted).toDF("e")
        .select(AudioQc.percentileDisc(col("e"), num, den).as("v"))
        .head().getLong(0)
    val ten = (1L to 10L).toSeq
    assert(pick(ten, 1, 10) == 1L) // floor(9*0.1)=0
    assert(pick(ten, 9, 10) == 9L) // floor(9*0.9)=8
    assert(pick(ten, 0, 10) == 1L)
    assert(pick(ten, 10, 10) == 10L)
    assert(pick(Seq(5L), 9, 10) == 5L) // single frame: both ends = it
    assert(pick(Seq(3L, 3L, 3L, 9L), 1, 10) == 3L) // ties are value-stable
  }

  test("sub-frame clip: snrStats yields NULL metrics, not a runtime error") {
    import spark.implicits._
    val row = Seq(Seq(1, 2, 3)).toDF("s") // shorter than one 160-frame
      .select(AudioQc.snrStats(col("s"), frameLen = 160).as("st"))
      .selectExpr("st.noise_e", "st.speech_e").head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("snrStats + ratio: bursty signal → speech/noise percentiles exact") {
    import spark.implicits._
    // 10 frames of 4: two loud frames (amp 100 → e=40000), eight quiet
    // (amp 2 → e=16). p10 = sorted[0] = 16, p90 = sorted[8] = 16? No —
    // sorted: eight 16s then two 40000s; index floor(9*0.9)=8 → 40000.
    val clip: Seq[Int] = (0 until 10).flatMap { j =>
      val a = if (j == 3 || j == 7) 100 else 2
      Seq(a, -a, a, -a)
    }
    val row = Seq(clip).toDF("s")
      .select(AudioQc.snrStats(col("s"), frameLen = 4).as("st"))
      .selectExpr("st.noise_e", "st.speech_e",
                  "(st.speech_e * 1000) div st.noise_e as ppk")
      .head()
    assert(row.getLong(0) == 16L)
    assert(row.getLong(1) == 40000L)
    assert(row.getLong(2) == 40000L * 1000 / 16)
  }

  test("plan is UDF-free, shuffle-free, single-stage (scan-speed at 100 TB)") {
    // non-literal source so constant folding can't collapse the operator
    val df = spark.range(4)
      .select(transform(sequence(lit(0), lit(7)),
        i => (i + col("id")).cast("int")).as("s"))
      .select(AudioQc.snrStats(col("s"), 2).as("st"))
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst expressions only: no UDF sinks, and — the scale claim —
    // no Exchange anywhere (per-row operator, never a shuffle). HOF
    // lambdas are expression-codegen'd but keep their Project outside a
    // WholeStageCodegen span; that's Spark's design, not a regression.
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    assert(!plan.contains("Exchange"))
    assert(df.selectExpr("st.speech_e").head().getLong(0) > 0L)
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
    import spark.implicits._
    val row = Seq(ints.toSeq).toDF("s")
      .select(AudioQc.snrStats(col("s"), frameLen = rate / 40).as("st"))
      .selectExpr("st.noise_e", "st.speech_e").head()
    assert(row.getLong(0) == 0L)       // digital-silence noise floor
    assert(row.getLong(1) > 1000000L)  // tone frames carry real energy
  }
}
