package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Segmentation
import graft.ops.Segmentation.Interval

/** Boundary + property tests for the interval algebra (SURVEY §5.1-5.2).
  * Properties use raw ScalaCheck generators with a fixed seed walk (the
  * scalatest-scalacheck bridge artifact is not among the pinned deps). */
class SegmentationSpec extends AnyFunSuite {
  import SegmentationSpec.detectNonSilentExact

  /** Deterministic 200-case property driver. */
  private def forAllSampled[A](gen: Gen[A])(check: A => Unit): Unit =
    (0 until 200).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  test("splitLong: exactly 15 s is NOT split") {
    assert(Segmentation.splitLong(Seq(Interval(0, 15000))) == Seq(Interval(0, 15000)))
  }

  test("splitLong: 15 s + 1 ms splits into 15 s + 1 ms chunks") {
    assert(Segmentation.splitLong(Seq(Interval(0, 15001))) ==
      Seq(Interval(0, 15000), Interval(15000, 15001)))
  }

  test("splitLong: 40 s splits into 15/15/10") {
    assert(Segmentation.splitLong(Seq(Interval(500, 40500))) ==
      Seq(Interval(500, 15500), Interval(15500, 30500), Interval(30500, 40500)))
  }

  test("mergeGreedy: gap counts toward the 15 s span budget (pa.py:140)") {
    // two 7 s intervals with a 2 s gap: span 16 s > 15 s => NOT merged
    val r = Segmentation.mergeGreedy(Seq(Interval(0, 7000), Interval(9000, 16000)))
    assert(r == Seq(Interval(0, 7000), Interval(9000, 16000)))
    // with a 1 s gap: span 15 s => merged
    val m = Segmentation.mergeGreedy(Seq(Interval(0, 7000), Interval(8000, 15000)))
    assert(m == Seq(Interval(0, 15000)))
  }

  test("mergeGreedy: trailing short segment dropped (pa.py:131)") {
    val r = Segmentation.mergeGreedy(Seq(Interval(0, 5000), Interval(20000, 21000)))
    assert(r == Seq(Interval(0, 5000)))
  }

  test("mergeGreedy: single short interval dropped, single long kept") {
    assert(Segmentation.mergeGreedy(Seq(Interval(0, 2999))).isEmpty)
    assert(Segmentation.mergeGreedy(Seq(Interval(0, 3000))) == Seq(Interval(0, 3000)))
    assert(Segmentation.mergeGreedy(Nil).isEmpty)
  }

  test("mergeGreedy: merged run of shorts that individually fail the minimum") {
    // 1 s intervals every 2 s: all merge within 15 s span, total span >= 3 s
    val in = (0 until 5).map(i => Interval(i * 2000L, i * 2000L + 1000))
    assert(Segmentation.mergeGreedy(in) == Seq(Interval(0, 9000)))
  }

  test("pad: clamps to [0, len]") {
    assert(Segmentation.pad(Interval(100, 14900), 15000) == Interval(0, 15000))
    assert(Segmentation.pad(Interval(500, 1000), 20000) == Interval(300, 1200))
  }

  private val intervalsGen: Gen[List[Interval]] = for {
    n <- Gen.choose(0, 30)
    starts <- Gen.listOfN(n, Gen.choose(0L, 100000L))
    durs <- Gen.listOfN(n, Gen.choose(1L, 20000L))
  } yield {
    // strictly ordered, non-overlapping, as VAD guarantees
    var cursor = 0L
    starts.sorted.zip(durs).map { case (s, d) =>
      val st = math.max(s, cursor + 1)
      cursor = st + d
      Interval(st, st + d)
    }
  }

  test("property: merged output intervals have span in [3000, +inf) and respect ordering") {
    forAllSampled(intervalsGen) { in =>
      val out = Segmentation.mergeGreedy(Segmentation.splitLong(in))
      out.foreach { iv => assert(iv.endMs - iv.startMs >= 3000) }
      out.sliding(2).foreach {
        case Seq(a, b) => assert(a.endMs <= b.startMs || a.startMs < b.startMs)
        case _ =>
      }
      // outputs are clipped unions of inputs: bounds come from input endpoints
      val starts = in.flatMap(iv => Segmentation.splitLong(Seq(iv))).map(_.startMs).toSet
      out.foreach(iv => assert(starts.contains(iv.startMs)))
    }
  }

  test("property: splitLong output durations never exceed 15 s and cover the input") {
    forAllSampled(intervalsGen) { in =>
      val out = Segmentation.splitLong(in)
      out.foreach(iv => assert(iv.endMs - iv.startMs <= 15000 && iv.endMs > iv.startMs))
      assert(out.map(iv => iv.endMs - iv.startMs).sum == in.map(iv => iv.endMs - iv.startMs).sum)
    }
  }

  test("detectNonSilent: silence-only returns empty; all-loud returns whole") {
    val rate = 16000
    val silence = new Array[Float](rate * 2)
    assert(Segmentation.detectNonSilent(silence, rate).isEmpty)
    val loud = Array.fill(rate * 2)(0.5f)
    assert(Segmentation.detectNonSilent(loud, rate) == Seq(Interval(0, 2000)))
  }

  test("detectNonSilent: clip shorter than the window is wholly non-silent") {
    val rate = 16000
    val short = Array.fill(rate / 10)(0.5f) // 100 ms
    assert(Segmentation.detectNonSilent(short, rate) == Seq(Interval(0, 100)))
  }

  test("detectNonSilent: finds a loud burst inside silence") {
    val rate = 16000
    val n = rate * 3
    val s = new Array[Float](n)
    // 1 s burst at t=1 s
    (rate until 2 * rate).foreach(i => s(i) = (0.5 * math.sin(2 * math.Pi * 440 * i / rate)).toFloat)
    val r = Segmentation.detectNonSilent(s, rate)
    assert(r.size == 1)
    val iv = r.head
    // pydub-style boundaries land within one window of the true burst edges
    assert(math.abs(iv.startMs - 1000) <= 300 && math.abs(iv.endMs - 2000) <= 300)
  }

  private def assertSameVad(what: String, x: Array[Float], rate: Int,
                            minSilenceLenMs: Int = Segmentation.MinSilenceLenMs,
                            threshDb: Double = Segmentation.SilenceThresholdDb): Unit = {
    val got = Segmentation.detectNonSilent(x, rate, minSilenceLenMs, threshDb)
    val want = detectNonSilentExact(x, rate, minSilenceLenMs, threshDb)
    assert(got == want, s"$what: sliding $got vs exact $want")
  }

  /** The float RMS of a window at -35 dBFS (energies and dbfs share the
    * 32767 scale). */
  private val thresholdAmp = math.pow(10, -35.0 / 20)

  test("detectNonSilent equals the exact per-window scan: edge inputs") {
    assertSameVad("empty", Array.empty[Float], 16000)
    assertSameVad("one sample", Array(0.5f), 16000)
    val s = DspSpec.speechLike(new scala.util.Random(3), 16000, 6000)
    s(20000) = Float.NaN
    assertSameVad("NaN", s, 16000)
    val inf = s.clone(); inf(30000) = Float.PositiveInfinity
    assertSameVad("infinity", inf, 16000)
    assertSameVad("NaN at both ends", Float.NaN +: s.drop(1).dropRight(1) :+ Float.NaN, 16000)
    (0 to 3).foreach(w => assertSameVad(s"window $w ms", s, 16000, minSilenceLenMs = w))
  }

  test("detectNonSilent equals the exact scan on subnormal-heavy silence tails") {
    val rnd = new scala.util.Random(17)
    (0 until 10).foreach { k =>
      val burst = DspSpec.speechLike(rnd, 16000, 1500)
      val tail = Array.fill(16000 * 3)(
        if (rnd.nextInt(3) == 0) java.lang.Float.MIN_VALUE * rnd.nextInt(100000) else 0f)
      assertSameVad(s"tail $k", burst ++ tail ++ burst, 16000)
    }
  }

  test("detectNonSilent equals the exact scan where windows straddle -35 dBFS") {
    // tones at -35 dBFS x (1 +- r) for r from 1e-6 to 1, cut by loud bursts,
    // so window sums after a burst sit within the sliding sum's slack
    val rnd = new scala.util.Random(23)
    for (e <- -6 to 0; sign <- Seq(-1, 1); k <- 0 until 4) {
      val amp = thresholdAmp * (1 + sign * math.pow(10, e) * (0.5 + rnd.nextDouble()))
      val x = Array.tabulate(16000 * 4) { i =>
        val tone = (amp * math.sqrt(2) * math.sin(2 * math.Pi * 1000 * i / 16000)).toFloat
        if (i % 16000 < 200 * (k + 1)) 0.9f * math.signum(tone) else tone
      }
      assertSameVad(s"r=${sign}e$e #$k", x, 16000)
    }
  }

  test("detectNonSilent equals the exact scan when the threshold is a window's own energy") {
    // a constant stretch after a loud burst: every window there has one
    // exact sum S; thresholds at dbfs(S) and its float neighbours leave the
    // sliding sum undecided, so the decision falls back to the exact sum
    val x = Array.fill(16000)(0.9f) ++ Array.fill(16000 * 2)(0.0177f) ++ Array.fill(8000)(0.5f)
    val v = 0.0177f.toDouble * 32767.0
    val perMs = (0 until 16).foldLeft(0.0)((acc, _) => acc + v * v)
    val window = (0 until 300).foldLeft(0.0)((acc, _) => acc + perMs)
    val db = graft.ops.Dsp.dbfs(math.sqrt(window / (300 * 16)))
    Seq(db, math.nextUp(db), math.nextDown(db)).foreach { t =>
      assertSameVad(s"threshold $t", x, 16000, threshDb = t)
    }
    assert(detectNonSilentExact(x, 16000, 300, db) !=
      detectNonSilentExact(x, 16000, 300, math.nextUp(db)))
  }

  test("detectNonSilent equals the exact scan on the clamped tail windows") {
    // lengths that end in a partial ms and in every offset of the last window
    val rnd = new scala.util.Random(29)
    (0 until 40).foreach { k =>
      val len = 16000 * 2 + rnd.nextInt(16000)
      val x = DspSpec.speechLike(rnd, 16000, 3000).take(len)
      assertSameVad(s"len $len", x, 16000)
    }
  }

  test("detectNonSilent equals the exact scan at 8, 16 and 48 kHz") {
    val rnd = new scala.util.Random(31)
    for (rate <- Seq(8000, 16000, 48000); k <- 0 until 5)
      assertSameVad(s"$rate Hz #$k", DspSpec.speechLike(rnd, rate, 20000), rate)
  }

  test("detectNonSilent equals the exact scan on a 5-minute file") {
    assertSameVad("5 min", DspSpec.speechLike(new scala.util.Random(37), 16000, 300000), 16000)
  }
}

object SegmentationSpec {

  /** The per-window scan `Segmentation.detectNonSilent` replaced: every
    * window start re-sums its per-ms energies left to right, O(durationMs x
    * window). Kept as the reference the sliding scan must equal. */
  def detectNonSilentExact(samples: Array[Float], rate: Int, minSilenceLenMs: Int,
                           silenceThreshDb: Double): Seq[Interval] = {
    val spms = rate / 1000
    val durationMs = samples.length / spms
    if (durationMs < minSilenceLenMs)
      return if (durationMs > 0) Seq(Interval(0, durationMs.toLong)) else Nil
    val nMs = (samples.length + spms - 1) / spms
    val e = Array.tabulate(nMs) { m =>
      var acc = 0.0
      var i = m * spms
      while (i < math.min(m * spms + spms, samples.length)) {
        val v = samples(i).toDouble * 32767.0; acc += v * v; i += 1
      }
      acc
    }
    val totalLen = samples.length.toLong
    val silentStarts = (0 until durationMs - minSilenceLenMs + 1).filter { s =>
      val a = s.toLong * spms
      val b = math.min((s + minSilenceLenMs).toLong * spms, totalLen)
      val n = (b - a).toInt
      if (n <= 0) true else {
        val mEnd = math.min(((b + spms - 1) / spms).toInt, e.length)
        var acc = 0.0
        var m = s
        while (m < mEnd) { acc += e(m); m += 1 }
        graft.ops.Dsp.dbfs(math.sqrt(acc / n)) < silenceThreshDb
      }
    }
    // contiguous silent starts merge into [first, last + window) ranges
    val silent = Seq.newBuilder[Interval]
    var i = 0
    while (i < silentStarts.length) {
      var j = i
      while (j + 1 < silentStarts.length && silentStarts(j + 1) == silentStarts(j) + 1) j += 1
      silent += Interval(silentStarts(i).toLong, (silentStarts(j) + minSilenceLenMs).toLong)
      i = j + 1
    }
    Segmentation.complement(silent.result(), durationMs.toLong)
  }
}
