package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{AdpcmCodec, FlacCodec, G711Codec, LegacyAudio, WavCodec}

/** Every decode branch of WavCodec and LegacyAudio fills its samples through
  * one primitive loop. Each is held bit for bit (raw float bits) to the
  * boxing `Array.tabulate` / `Array.map` form it replaced, on random
  * payloads of every length class: empty, one byte, odd trailing bytes and
  * lengths that are not a multiple of the sample width. */
class SampleLaneSpec extends AnyFunSuite {

  private val LE = ByteOrder.LITTLE_ENDIAN
  private val BE = ByteOrder.BIG_ENDIAN

  private def payloads(seed: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    (Seq(0, 1, 2, 3, 4, 5, 7, 8, 1001, 4097) ++ Seq.fill(10)(rnd.nextInt(6000)))
      .map { n => val b = new Array[Byte](n); rnd.nextBytes(b); b }
  }

  private def assertBits(what: String, got: Array[Float], want: Array[Float]): Unit = {
    assert(got.length == want.length, s"$what: ${got.length} vs ${want.length} samples")
    val i = got.indices.indexWhere(i =>
      java.lang.Float.floatToRawIntBits(got(i)) != java.lang.Float.floatToRawIntBits(want(i)))
    if (i >= 0) fail(s"$what: sample $i is ${got(i)}, the old form gives ${want(i)}")
  }

  /** The old decode forms, verbatim. */
  private def pcm16(d: Array[Byte], o: ByteOrder) = {
    val db = ByteBuffer.wrap(d).order(o)
    Array.tabulate(d.length / 2)(i => db.getShort(i * 2) / 32768.0f)
  }
  private def pcm32(d: Array[Byte], o: ByteOrder) = {
    val db = ByteBuffer.wrap(d).order(o)
    Array.tabulate(d.length / 4)(i => (db.getInt(i * 4) / 2147483648.0).toFloat)
  }
  private def float32(d: Array[Byte], o: ByteOrder) = {
    val db = ByteBuffer.wrap(d).order(o)
    Array.tabulate(d.length / 4)(i => db.getFloat(i * 4))
  }
  private def muLaw(d: Array[Byte]) = d.map(b => G711Codec.muLawDecodeSample(b) / 32768.0f)
  private def aLaw(d: Array[Byte]) = d.map(b => G711Codec.aLawDecodeSample(b) / 32768.0f)

  /** A mono 16 kHz RIFF/WAVE file around a raw data chunk. */
  private def wav(fmtCode: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
    val pad = data.length & 1
    val b = ByteBuffer.allocate(44 + data.length + pad).order(LE)
    b.putInt(0x46464952).putInt(36 + data.length + pad).putInt(0x45564157)
    b.putInt(0x20746d66).putInt(16).putShort(fmtCode.toShort).putShort(1.toShort)
      .putInt(16000).putInt(16000 * bits / 8).putShort(math.max(1, bits / 8).toShort)
      .putShort(bits.toShort)
    b.putInt(0x61746164).putInt(data.length).put(data)
    b.array()
  }

  test("WAV: PCM8/16/24/32, float32 and G.711 equal their old forms") {
    payloads(1).foreach { d =>
      def dec(fmt: Int, bits: Int) = WavCodec.decode(wav(fmt, bits, d)).samples
      val n = s"${d.length} bytes"
      assertBits(s"PCM16 $n", dec(1, 16), pcm16(d, LE))
      assertBits(s"PCM8 $n", dec(1, 8),
        Array.tabulate(d.length)(i => ((d(i) & 0xff) - 128) / 128.0f))
      assertBits(s"PCM24 $n", dec(1, 24), Array.tabulate(d.length / 3) { i =>
        ((d(i * 3) & 0xff) | ((d(i * 3 + 1) & 0xff) << 8) | (d(i * 3 + 2) << 16)) / 8388608.0f
      })
      assertBits(s"PCM32 $n", dec(1, 32), pcm32(d, LE))
      assertBits(s"float32 $n", dec(3, 32), float32(d, LE))
      assertBits(s"mu-law $n", dec(7, 8), muLaw(d))
      assertBits(s"A-law $n", dec(6, 8), aLaw(d))
    }
  }

  test("WAV: ADPCM and FLAC equal their old forms") {
    val rnd = new scala.util.Random(2)
    Seq(1, 2, 505, 506, 4099).foreach { n =>
      val pcm = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val adpcm = AdpcmCodec.encodeWav(pcm, 16000)
      assertBits(s"ADPCM $n", WavCodec.decode(adpcm).samples,
        AdpcmCodec.decodeWav(adpcm)._2.map(_ / 32768.0f))
      val flac = FlacCodec.encode(pcm, 16000)
      val (info, ints) = FlacCodec.decode(flac)
      val scale = (1 << (info.bps - 1)).toFloat
      assertBits(s"FLAC $n", WavCodec.decode(flac).samples, ints.map(_ / scale))
    }
  }

  private def be16(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v >> 8); o.write(v) }
  private def be32(o: ByteArrayOutputStream, v: Int): Unit = { be16(o, v >>> 16); be16(o, v) }

  /** A mono 16 kHz AIFF (no compression type) or AIFC file around raw
    * sound data. */
  private def aiff(comp: Option[String], bits: Int, data: Array[Byte]): Array[Byte] = {
    val commLen = if (comp.isDefined) 24 else 18
    val ssndLen = 8 + data.length
    val o = new ByteArrayOutputStream()
    o.write("FORM".getBytes("US-ASCII"))
    be32(o, 4 + 8 + commLen + 8 + ssndLen + (ssndLen & 1))
    o.write((if (comp.isDefined) "AIFC" else "AIFF").getBytes("US-ASCII"))
    o.write("COMM".getBytes("US-ASCII")); be32(o, commLen)
    be16(o, 1); be32(o, data.length * 8 / math.max(8, bits)); be16(o, bits)
    LegacyAudio.Aiff.writeExtended80(o, 16000.0)
    comp.foreach { c => o.write(c.getBytes("US-ASCII")); o.write(0); o.write(0) }
    o.write("SSND".getBytes("US-ASCII")); be32(o, ssndLen); be32(o, 0); be32(o, 0)
    o.write(data)
    if ((ssndLen & 1) == 1) o.write(0)
    o.toByteArray
  }

  /** The old big-endian PCM lane AIFF and AU share. */
  private def pcmBe(d: Array[Byte], bits: Int): Array[Float] = bits match {
    case 8 => d.map(b => b / 128.0f)
    case 16 => pcm16(d, BE)
    case 24 => Array.tabulate(d.length / 3) { i =>
      ((d(i * 3) << 16) | ((d(i * 3 + 1) & 0xff) << 8) | (d(i * 3 + 2) & 0xff)) / 8388608.0f
    }
    case 32 => pcm32(d, BE)
  }

  test("AIFF/AIFC: PCM8/16/24/32, sowt, fl32 and G.711 equal their old forms") {
    payloads(3).foreach { d =>
      def dec(comp: Option[String], bits: Int) = WavCodec.decode(aiff(comp, bits, d)).samples
      val n = s"${d.length} bytes"
      Seq(8, 16, 24, 32).foreach { bits =>
        assertBits(s"AIFF PCM$bits $n", dec(None, bits), pcmBe(d, bits))
        assertBits(s"AIFC NONE PCM$bits $n", dec(Some("NONE"), bits), pcmBe(d, bits))
      }
      assertBits(s"sowt $n", dec(Some("sowt"), 16), pcm16(d, LE))
      assertBits(s"fl32 $n", dec(Some("fl32"), 32), float32(d, BE))
      assertBits(s"ulaw $n", dec(Some("ulaw"), 8), muLaw(d))
      assertBits(s"alaw $n", dec(Some("alaw"), 8), aLaw(d))
    }
  }

  test("AU: every encoding equals its old form") {
    payloads(4).foreach { d =>
      def dec(enc: Int) = {
        val b = ByteBuffer.allocate(24 + d.length).order(BE)
        b.putInt(0x2e736e64).putInt(24).putInt(d.length).putInt(enc).putInt(16000).putInt(1)
        WavCodec.decode(b.put(d).array()).samples
      }
      val n = s"${d.length} bytes"
      assertBits(s"AU 1 $n", dec(1), muLaw(d))
      Seq(2 -> 8, 3 -> 16, 4 -> 24, 5 -> 32).foreach { case (enc, bits) =>
        assertBits(s"AU $enc $n", dec(enc), pcmBe(d, bits))
      }
      assertBits(s"AU 6 $n", dec(6), float32(d, BE))
      assertBits(s"AU 27 $n", dec(27), aLaw(d))
    }
  }

  test("SPHERE: PCM16 in both orders, PCM8 and mu-law equal their old forms") {
    payloads(5).foreach { d =>
      def dec(bytes: Int, coding: String, order: String) = {
        val head = s"NIST_1A\n   1024\nchannel_count -i 1\nsample_rate -i 16000\n" +
          s"sample_n_bytes -i $bytes\nsample_byte_format -s${order.length} $order\n" +
          s"sample_coding -s${coding.length} $coding\nend_head\n"
        WavCodec.decode(head.padTo(1024, ' ').getBytes("US-ASCII") ++ d).samples
      }
      val n = s"${d.length} bytes"
      assertBits(s"SPHERE pcm 01 $n", dec(2, "pcm", "01"), pcm16(d, LE))
      assertBits(s"SPHERE pcm 10 $n", dec(2, "pcm", "10"), pcm16(d, BE))
      assertBits(s"SPHERE pcm 1 $n", dec(1, "pcm", "1"), pcmBe(d, 8))
      assertBits(s"SPHERE ulaw $n", dec(1, "ulaw", "1"), muLaw(d))
    }
  }
}
