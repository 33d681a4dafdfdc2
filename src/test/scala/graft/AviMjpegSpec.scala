package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{AviMjpeg, JpegCodec}
import graft.io.AviMjpeg.Video
import graft.ops.ImageOps

/** MJPEG-in-AVI container: mux/demux fidelity, word alignment, header
  * cross-checks, frame sampling. */
class AviMjpegSpec extends AnyFunSuite {

  private def frames(n: Int, w: Int, h: Int): Vector[Array[Byte]] =
    Vector.tabulate(n)(f => JpegCodec.encode(ImageOps.synth(w, h, f % 4)))

  test("mux → demux reproduces every frame byte-exactly") {
    val fs = frames(7, 24, 16)
    val v = AviMjpeg.demux(AviMjpeg.mux(Video(24, 16, 30, fs)))
    assert(v.width == 24 && v.height == 16 && v.fps == 30)
    assert(v.frames.length == 7)
    v.frames.zip(fs).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    // frames are themselves decodable JPEGs after the container roundtrip
    val img = JpegCodec.decode(v.frames(3))
    assert(img.width == 24 && img.height == 16)
  }

  test("odd-length frame payloads survive RIFF word alignment") {
    // force odd lengths by appending a trailing byte after EOI (legal:
    // decoders stop at EOI; the container must pad, not corrupt)
    val base = frames(3, 16, 16)
    val odd = base.map(f => if (f.length % 2 == 0) f :+ 0x55.toByte else f)
    assert(odd.exists(_.length % 2 == 1))
    val v = AviMjpeg.demux(AviMjpeg.mux(Video(16, 16, 24, odd)))
    v.frames.zip(odd).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  test("validation: magic, frame-count cross-check, truncation") {
    val avi = AviMjpeg.mux(Video(16, 16, 24, frames(4, 16, 16)))
    val bad = avi.clone(); bad(9) = 'X'.toByte // 'AVI ' -> 'AXI '? offset 8..11
    intercept[IllegalArgumentException](AviMjpeg.demux(bad))
    intercept[Exception](
      AviMjpeg.demux(java.util.Arrays.copyOf(avi, avi.length - 10)))
    // corrupt the avih declared-frames field: find 'avih', patch count
    var p = 12
    var avih = -1
    while (avih < 0) {
      if (avi(p) == 'a' && avi(p + 1) == 'v' && avi(p + 2) == 'i' && avi(p + 3) == 'h')
        avih = p
      else p += 1
    }
    val mis = avi.clone()
    mis(avih + 8 + 16) = 99.toByte // totalframes field (4th dword of body)
    val e = intercept[IllegalArgumentException](AviMjpeg.demux(mis))
    assert(e.getMessage.contains("declares"))
  }

  test("frame sampling keeps every nth frame with its index") {
    val v = Video(16, 16, 24, frames(10, 16, 16))
    val sampled = AviMjpeg.sampleFrames(v, 4)
    assert(sampled.map(_._1) == Vector(0, 4, 8))
    sampled.foreach { case (i, f) =>
      assert(java.util.Arrays.equals(f, v.frames(i)))
    }
  }
}
