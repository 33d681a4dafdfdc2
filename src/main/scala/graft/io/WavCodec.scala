package graft.io

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal RIFF/WAVE PCM codec — pure JVM, offline-safe, deterministic.
  * Decode accepts PCM16/PCM8/PCM24/PCM32/float32 at any channel
  * count/rate (the shapes the reference's `AudioSegment.from_wav`
  * accepts for its corpus, pa.py:85 — PCM24 is the studio-capture
  * width real voice corpora arrive in) plus the compressed WAV formats — mono IMA ADPCM (0x11,
  * dispatched to [[AdpcmCodec]]) and G.711 µ-law/A-law (7/6, dispatched
  * to [[G711Codec]]) — the transparent handling pydub/ffmpeg gives the
  * reference; encode always writes PCM16 mono (the canonical
  * post-ingest form, pa.py:88-89). Malformed input throws — callers map
  * that to the reference's per-file error-skip (pa.py:91-92).
  */
object WavCodec {

  final case class Decoded(samples: Array[Float], channels: Int, sampleRate: Int)

  def decode(bytes: Array[Byte]): Decoded = {
    // container dispatch on magic: Ogg Vorbis rides its own container
    // (the lossy-family ingest pydub/ffmpeg hands the reference
    // transparently, README.md:3); everything else is RIFF/WAVE
    if (bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'g' &&
        bytes(2) == 'g' && bytes(3) == 'S') {
      val (info, samples) = VorbisCodec.decode(bytes)
      return Decoded(samples, info.channels, info.sampleRate)
    }
    // MP3: a bare frame-sync prefix or an ID3v2 tag (the compressed class
    // real speech corpora arrive in — podcasts, audiobooks, scrapes)
    if (bytes.length >= 3 &&
        (((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xe0) == 0xe0) ||
         (bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3'))) {
      val (info, samples) = Mp3Codec.decode(bytes)
      return Decoded(samples, info.channels, info.sampleRate)
    }
    // native FLAC (the lossless archival class — completing the magic
    // front door: every format class the engine owns dispatches here)
    if (bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
        bytes(2) == 'a' && bytes(3) == 'C') {
      val (info, ints) = FlacCodec.decode(bytes)
      val scale = (1 << (info.bps - 1)).toFloat
      return Decoded(floats(ints.length)(i => ints(i) / scale), info.channels, info.sampleRate)
    }
    // the legacy speech-corpus containers (LegacyAudio): AIFF/AIFC
    // ("FORM"), Sun/NeXT AU (".snd"), NIST SPHERE ("NIST") — the
    // formats TIMIT-era ASR corpora and studio captures arrive in
    if (bytes.length >= 4 && bytes(0) == 'F' && bytes(1) == 'O' &&
        bytes(2) == 'R' && bytes(3) == 'M')
      return LegacyAudio.Aiff.decode(bytes)
    if (bytes.length >= 4 && bytes(0) == '.' && bytes(1) == 's' &&
        bytes(2) == 'n' && bytes(3) == 'd')
      return LegacyAudio.Au.decode(bytes)
    if (bytes.length >= 4 && bytes(0) == 'N' && bytes(1) == 'I' &&
        bytes(2) == 'S' && bytes(3) == 'T')
      return LegacyAudio.Sphere.decode(bytes)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44, s"too short for WAV: ${bytes.length} bytes")
    require(buf.getInt(0) == 0x46464952, "missing RIFF magic") // "RIFF"
    require(buf.getInt(8) == 0x45564157, "missing WAVE magic") // "WAVE"
    var pos = 12
    var fmtCode = -1
    var channels = 0
    var rate = 0
    var bits = 0
    var data: Array[Byte] = null
    while (pos + 8 <= bytes.length) {
      val id = buf.getInt(pos)
      val size = buf.getInt(pos + 4)
      require(size >= 0 && pos + 8 + size <= bytes.length, s"chunk overruns file at $pos")
      id match {
        case 0x20746d66 => // "fmt "
          require(size >= 16, s"fmt chunk too short: $size bytes")
          fmtCode = buf.getShort(pos + 8) & 0xffff
          channels = buf.getShort(pos + 10) & 0xffff
          rate = buf.getInt(pos + 12)
          bits = buf.getShort(pos + 22) & 0xffff
        case 0x61746164 => // "data"
          data = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size)
        case _ => ()
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(data != null, "no data chunk")
    require(channels > 0 && rate > 0, s"bad fmt: channels=$channels rate=$rate")
    val db = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val samples: Array[Float] = (fmtCode, bits) match {
      case (1, 16) => // the hot lane: one primitive loop over the LE byte pairs
        val n = data.length / 2
        val out = new Array[Float](n)
        var i = 0
        while (i < n) {
          out(i) = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort / 32768.0f
          i += 1
        }
        out
      case (1, 8) => // PCM8 is unsigned
        floats(data.length)(i => ((data(i) & 0xff) - 128) / 128.0f)
      case (1, 24) =>
        // PCM24: 3-byte little-endian signed — the studio capture width.
        // The high byte sign-extends through the shift (byte -> int)
        floats(data.length / 3) { i =>
          val v = (data(i * 3) & 0xff) | ((data(i * 3 + 1) & 0xff) << 8) |
            (data(i * 3 + 2) << 16)
          v / 8388608.0f
        }
      case (1, 32) =>
        floats(data.length / 4)(i => (db.getInt(i * 4) / 2147483648.0).toFloat)
      case (3, 32) =>
        floats(data.length / 4)(i => db.getFloat(i * 4))
      case (7, 8) => // G.711 µ-law: per-byte integer expansion
        floats(data.length)(i => G711Codec.muLawDecodeSample(data(i)) / 32768.0f)
      case (6, 8) => // G.711 A-law
        floats(data.length)(i => G711Codec.aLawDecodeSample(data(i)) / 32768.0f)
      case (0x11, 4) =>
        // IMA ADPCM rides the compressed-codec path (AdpcmCodec owns the
        // block layer; mono is its documented scope) — the transparent
        // dispatch pydub/ffmpeg gives the reference for "other formats"
        require(channels == 1, s"ADPCM decode is mono-scoped, got $channels channels")
        val pcm = AdpcmCodec.decodeWav(bytes)._2
        floats(pcm.length)(i => pcm(i) / 32768.0f)
      case other => throw new IllegalArgumentException(s"unsupported wav format $other")
    }
    Decoded(samples, channels, rate)
  }

  /** `n` decoded samples, `sample(i)` each, filled by one primitive loop:
    * the sample lane of every decode branch here and in [[LegacyAudio]].
    * `Array.tabulate` and `Array.map` would box each sample through their
    * generic element type. */
  private[io] def floats(n: Int)(sample: Int => Float): Array[Float] = {
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = sample(i); i += 1 }
    out
  }

  /** Encode mono float PCM to PCM16 WAV bytes (clamping to full scale). */
  def encodeMono16(samples: Array[Float], sampleRate: Int): Array[Byte] =
    encodePcm16(samples, 1, sampleRate)

  /** Encode interleaved float PCM (any channel count) to PCM16 WAV bytes. */
  def encodePcm16(samples: Array[Float], channels: Int, sampleRate: Int): Array[Byte] = {
    require(channels >= 1, s"channels must be >= 1, got $channels")
    val dataLen = samples.length * 2
    val out = new ByteArrayOutputStream(44 + dataLen)
    val hdr = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(0x46464952)          // RIFF
    hdr.putInt(36 + dataLen)
    hdr.putInt(0x45564157)          // WAVE
    hdr.putInt(0x20746d66)          // fmt_
    hdr.putInt(16)
    hdr.putShort(1)                 // PCM
    hdr.putShort(channels.toShort)
    hdr.putInt(sampleRate)
    hdr.putInt(sampleRate * 2 * channels)      // byte rate
    hdr.putShort((2 * channels).toShort)       // block align
    hdr.putShort(16)                // bits
    hdr.putInt(0x61746164)          // data
    hdr.putInt(dataLen)
    out.write(hdr.array())
    val body = ByteBuffer.allocate(dataLen).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < samples.length) {
      val v = math.max(-1.0f, math.min(1.0f, samples(i)))
      body.putShort(math.round(v * 32767.0f).toShort)
      i += 1
    }
    out.write(body.array())
    out.toByteArray
  }
}
