package graft

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.io.WavCodec
import graft.ops.{Dsp, Segmentation}

/** The per-file audio kernels allocate their outputs and nothing per
  * sample. Each bound is read from this thread's allocation counter
  * around three warm calls; a boxed sample (16 bytes) or an extra full-size
  * array per call breaks it. */
class KernelAllocationSpec extends AnyFunSuite {

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Inside an executor, generic collection code (`Array.tabulate`,
    * `Array.map`, `ScalaRunTime.array_update`) serves every caller, so its
    * call sites are megamorphic and the JIT cannot scalar-replace a boxed
    * element. Make them megamorphic here too, or a boxing kernel would look
    * allocation-free in a quiet test JVM. */
  private lazy val genericProfiles: Unit = (0 until 50).foreach { k =>
    Array.tabulate(5000)(i => (i + k).toFloat)
    Array.tabulate(5000)(i => (i * k).toDouble)
    Array.tabulate(5000)(i => i ^ k)
    Array.tabulate(5000)(i => (i + k).toShort)
    Array.tabulate(5000)(i => i.toLong * k)
    Array.tabulate(5000)(i => if (i == k) "k" else "")
    Array.fill(5000)(k.toByte).map(b => b / 3.0f)
    Array.fill(5000)(k).map(_ * 2.0)
    Array.fill(5000)(k.toShort).map(_ + 1)
  }

  /** Bytes this thread allocates per call of `f`, averaged over three calls
    * after five warm-up calls. */
  private def allocatedPerCall(f: => Any): Long = {
    genericProfiles
    (0 until 5).foreach(_ => f)
    val id = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(id)
    (0 until 3).foreach(_ => f)
    (threads.getThreadAllocatedBytes(id) - before) / 3
  }

  private val rate = 16000
  private val file40s = DspSpec.speechLike(new scala.util.Random(41), rate, 40000)

  test("WavCodec.decode of 40 s of PCM16 allocates at most 3x its output array") {
    assume(threads.isThreadAllocatedMemorySupported)
    val bytes = WavCodec.encodeMono16(file40s, rate)
    val outBytes = 4L * WavCodec.decode(bytes).samples.length
    val got = allocatedPerCall(WavCodec.decode(bytes))
    assert(got <= 3 * outBytes, s"decode allocated $got bytes per call for a $outBytes-byte output")
  }

  test("Dsp.musicRatio of a 15 s slice allocates at most 64 KB") {
    assume(threads.isThreadAllocatedMemorySupported)
    val slice = file40s.take(15 * rate)
    val got = allocatedPerCall(Dsp.musicRatio(slice, rate))
    assert(got <= 64 * 1024, s"musicRatio allocated $got bytes per call")
  }

  test("Segmentation.segment of a 40 s file allocates at most 2x its per-ms energies") {
    assume(threads.isThreadAllocatedMemorySupported)
    val msEnergiesBytes = 8L * (file40s.length / (rate / 1000))
    val got = allocatedPerCall(Segmentation.segment(file40s, rate))
    assert(Segmentation.segment(file40s, rate).nonEmpty)
    assert(got <= 2 * msEnergiesBytes,
      s"segment allocated $got bytes per call against $msEnergiesBytes bytes of energies")
  }
}
