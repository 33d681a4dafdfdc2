package graft.io

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** The LEGACY SPEECH-CORPUS containers — AIFF/AIFC (Apple studio
  * captures), AU/.snd (Sun/NeXT, the original telephony-research
  * format), and NIST SPHERE (the container TIMIT / Switchboard / Fisher
  * — the canonical ASR corpora — are distributed in). A speech-ETL
  * engine whose front door stops at WAV/FLAC/Ogg/MP3 refuses exactly
  * the datasets the field trains on; the reference's pydub/ffmpeg
  * ingest handles all three transparently
  * (`/root/reference/README.md:3`).
  *
  * All three are EXACT containers: headers + raw PCM (or G.711 codes),
  * no lossy math — so unlike the MP3/Vorbis class their q-entries gate
  * against fully RELATIONAL oracles (the q243 discipline): the oracle
  * restates the sample generator arithmetically and any byte-order /
  * signedness / header-offset slip breaks the hash.
  *
  * Everything derives from the PUBLIC format documents: EA IFF 85 +
  * Apple's Audio Interchange File Format 1.3 (AIFF-C spec, 1991), the
  * Sun/NeXT .au header layout (public SunOS `audio_filehdr`), and the
  * NIST SPHERE header convention (plain-text `name -type value` lines,
  * published with the LDC corpora tooling).
  *
  * == Scope ==
  *
  *  - AIFF: COMM + SSND, big-endian PCM 8/16/24/32, the 80-bit extended
  *    sample rate parsed exactly. AIFC compression types accepted:
  *    `NONE` (BE PCM), `sowt` (little-endian PCM16 — the Mac OS X
  *    convention), `fl32`/`FL32` (BE float32), `ulaw`/`ULAW` and
  *    `alaw`/`ALAW` (G.711, reusing [[G711Codec]]). Anything else
  *    (`ima4`, `MAC3`, …) refuses BY NAME.
  *  - AU: encodings 1 (µ-law), 2 (PCM8 — SIGNED, unlike WAV's
  *    unsigned PCM8), 3 (PCM16 BE), 4 (PCM24 BE), 5 (PCM32 BE),
  *    6 (float32 BE), 27 (A-law). Data size 0xFFFFFFFF (= "unknown,
  *    read to EOF", common in piped captures) honored. Other encodings
  *    (G.721/G.723 ADPCM, float64) refuse by number and name.
  *  - SPHERE: `sample_coding` pcm (1/2-byte) and ulaw/mu-law;
  *    `sample_byte_format` 01 (LE) / 10 (BE) / 1 (single byte).
  *    Embedded Shorten / WavPack compression (the TIMIT-era
  *    distribution squeeze) refuses BY NAME — decompressors for those
  *    are their own codec class.
  *
  * Encoders emit one canonical profile per container (AIFF BE PCM16,
  * AIFC sowt PCM16, AU PCM16/PCM8/µ-law, SPHERE PCM16 either order) —
  * fixture writers for the oracle entries and a real export surface.
  */
object LegacyAudio {

  /** Big-endian signed integer PCM (8/16/24/32) → float in [−1, 1) —
    * the sample lane AIFF and AU share (one fix lands in both). */
  private def pcmBeToFloat(data: Array[Byte], bits: Int): Array[Float] = {
    val db = ByteBuffer.wrap(data).order(ByteOrder.BIG_ENDIAN)
    bits match {
      case 8 => WavCodec.floats(data.length)(i => data(i) / 128.0f) // SIGNED (unlike WAV's PCM8)
      case 16 =>
        WavCodec.floats(data.length / 2)(i => db.getShort(i * 2) / 32768.0f)
      case 24 =>
        WavCodec.floats(data.length / 3) { i =>
          val v = (data(i * 3) << 16) | ((data(i * 3 + 1) & 0xff) << 8) |
            (data(i * 3 + 2) & 0xff)
          v / 8388608.0f
        }
      case 32 =>
        WavCodec.floats(data.length / 4)(i =>
          (db.getInt(i * 4) / 2147483648.0).toFloat)
      case other =>
        throw new IllegalArgumentException(s"PCM width $other unsupported")
    }
  }

  /** G.711 byte expansion → float, shared by all three containers. */
  private def g711ToFloat(data: Array[Byte], aLaw: Boolean): Array[Float] =
    if (aLaw) WavCodec.floats(data.length)(i => G711Codec.aLawDecodeSample(data(i)) / 32768.0f)
    else WavCodec.floats(data.length)(i => G711Codec.muLawDecodeSample(data(i)) / 32768.0f)

  /** PCM16 sample bytes in either order — the shared encoder tail. */
  private def writePcm16(out: ByteArrayOutputStream, pcm: Array[Short],
                         bigEndian: Boolean): Unit =
    if (bigEndian) pcm.foreach { s => out.write((s >> 8) & 0xff); out.write(s & 0xff) }
    else pcm.foreach { s => out.write(s & 0xff); out.write((s >> 8) & 0xff) }

  // ===================================================================
  // AIFF / AIFC
  // ===================================================================

  object Aiff {

    /** Parse the 80-bit IEEE 754 extended float at `off` (the COMM
      * sample-rate field): sign(1) + exponent(15, bias 16383) +
      * mantissa(64, EXPLICIT integer bit). Sample rates are small
      * integers, so the double round trip is exact. */
    private[graft] def extended80(b: Array[Byte], off: Int): Double = {
      val se = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      val sign = if ((se & 0x8000) != 0) -1.0 else 1.0
      val exp = se & 0x7fff
      var mant = 0L
      var i = 0
      while (i < 8) { mant = (mant << 8) | (b(off + 2 + i) & 0xffL); i += 1 }
      if (exp == 0 && mant == 0L) return 0.0
      require(exp != 0x7fff, "AIFF sample rate is inf/NaN")
      // value = mantissa * 2^(exp - 16383 - 63); mantissa has the
      // integer bit explicit at bit 63. Long.MIN_VALUE-safe via the
      // unsigned split (top bit worth 2^63).
      val top = if (mant < 0) math.pow(2, 63) else 0.0
      val low = (mant & Long.MaxValue).toDouble
      sign * (top + low) * math.pow(2.0, (exp - 16383 - 63).toDouble)
    }

    private[graft] def writeExtended80(out: ByteArrayOutputStream, v: Double): Unit = {
      require(v > 0 && v.isWhole && v <= 1e9, s"rate not encodable: $v")
      var mant = v.toLong
      var exp = 16383 + 63
      while ((mant & Long.MinValue) == 0L) { mant <<= 1; exp -= 1 }
      out.write((exp >> 8) & 0x7f); out.write(exp & 0xff)
      var i = 7
      while (i >= 0) { out.write(((mant >>> (i * 8)) & 0xff).toInt); i -= 1 }
    }

    def decode(bytes: Array[Byte]): WavCodec.Decoded = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      require(bytes.length >= 12, s"too short for AIFF: ${bytes.length}")
      require(buf.getInt(0) == 0x464f524d, "missing FORM magic") // "FORM"
      val form = buf.getInt(8)
      val aifc = form == 0x41494643 // "AIFC"
      require(form == 0x41494646 || aifc, // "AIFF"
        s"FORM type 0x${form.toHexString} is not AIFF/AIFC")
      var pos = 12
      var channels = 0
      var frames = 0L
      var bits = 0
      var rate = 0.0
      var comp = "NONE"
      var data: Array[Byte] = null
      var sawComm = false
      while (pos + 8 <= bytes.length) {
        val id = buf.getInt(pos)
        val size = buf.getInt(pos + 4)
        require(size >= 0 && pos + 8 + size <= bytes.length,
          s"AIFF chunk overruns file at $pos")
        id match {
          case 0x434f4d4d => // "COMM"
            require(size >= 18, s"COMM chunk too short: $size")
            sawComm = true
            channels = buf.getShort(pos + 8) & 0xffff
            frames = buf.getInt(pos + 10) & 0xffffffffL
            bits = buf.getShort(pos + 14) & 0xffff
            rate = extended80(bytes, pos + 16)
            if (aifc) {
              require(size >= 22, s"AIFC COMM missing compression type: $size")
              comp = new String(bytes, pos + 26, 4, "US-ASCII")
            }
          case 0x53534e44 => // "SSND": u32 offset + u32 blockSize + data
            require(size >= 8, s"SSND chunk too short: $size")
            val off = buf.getInt(pos + 8)
            require(off >= 0 && off <= size - 8, s"bad SSND offset $off")
            data = java.util.Arrays.copyOfRange(
              bytes, pos + 16 + off, pos + 8 + size)
          case _ => ()
        }
        pos += 8 + size + (size & 1) // IFF chunks are word-aligned
      }
      require(sawComm, "no COMM chunk")
      require(data != null, "no SSND chunk")
      require(channels > 0, s"bad channel count $channels")
      val sr = math.round(rate).toInt
      require(sr > 0, s"bad sample rate $rate")
      val samples: Array[Float] = comp match {
        case "NONE" =>
          try pcmBeToFloat(data, bits)
          catch { case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"AIFF ${e.getMessage}") }
        case "sowt" => // byte-swapped PCM16 (little-endian), OS X native
          require(bits == 16, s"sowt requires 16-bit, got $bits")
          val ldb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
          WavCodec.floats(data.length / 2)(i => ldb.getShort(i * 2) / 32768.0f)
        case "fl32" | "FL32" =>
          require(bits == 32, s"fl32 requires 32-bit, got $bits")
          val db = ByteBuffer.wrap(data).order(ByteOrder.BIG_ENDIAN)
          WavCodec.floats(data.length / 4)(i => db.getFloat(i * 4))
        case "ulaw" | "ULAW" => g711ToFloat(data, aLaw = false)
        case "alaw" | "ALAW" => g711ToFloat(data, aLaw = true)
        case other =>
          throw new IllegalArgumentException(
            s"AIFC compression '$other' unsupported (NONE/sowt/fl32/ulaw/alaw)")
      }
      WavCodec.Decoded(samples, channels, sr)
    }

    /** Canonical AIFF writer: big-endian PCM16; `sowt = true` writes the
      * AIFC byte-swapped variant instead (the dual-order fixture). */
    def encodePcm16(pcm: Array[Short], channels: Int, sampleRate: Int,
                    sowt: Boolean = false): Array[Byte] = {
      require(channels >= 1 && pcm.length % channels == 0,
        s"bad shape: ${pcm.length} samples / $channels ch")
      val dataLen = pcm.length * 2
      val commLen = if (sowt) 24 else 18 // AIFC adds 4CC + pstring("")
      val formLen = 4 + (8 + commLen) + (if (sowt) 12 else 0) + (8 + 8 + dataLen)
      val out = new ByteArrayOutputStream(8 + formLen)
      def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      def be32(v: Int): Unit = { be16(v >>> 16); be16(v & 0xffff) }
      def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      fourcc("FORM"); be32(formLen); fourcc(if (sowt) "AIFC" else "AIFF")
      if (sowt) { // FVER chunk is mandatory in AIFC
        fourcc("FVER"); be32(4); be32(0xa2805140) // AIFCVersion1 timestamp
      }
      fourcc("COMM"); be32(commLen)
      be16(channels); be32(pcm.length / channels); be16(16)
      writeExtended80(out, sampleRate.toDouble)
      if (sowt) { fourcc("sowt"); out.write(0); out.write(0) } // pstring ""
      fourcc("SSND"); be32(8 + dataLen); be32(0); be32(0)
      writePcm16(out, pcm, bigEndian = !sowt)
      out.toByteArray
    }
  }

  // ===================================================================
  // AU / .snd
  // ===================================================================

  object Au {

    private val EncodingNames = Map(
      7 -> "float64", 8 -> "fragmented", 10 -> "DSP program",
      23 -> "G.721 ADPCM", 24 -> "G.722 ADPCM", 25 -> "G.723.3 ADPCM",
      26 -> "G.723.5 ADPCM")

    def decode(bytes: Array[Byte]): WavCodec.Decoded = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      require(bytes.length >= 24, s"too short for AU: ${bytes.length}")
      require(buf.getInt(0) == 0x2e736e64, "missing .snd magic")
      val off = buf.getInt(4)
      val declared = buf.getInt(8) & 0xffffffffL
      val enc = buf.getInt(12)
      val rate = buf.getInt(16)
      val channels = buf.getInt(20)
      require(off >= 24 && off <= bytes.length, s"bad AU data offset $off")
      require(rate > 0 && channels > 0, s"bad AU fmt: rate=$rate ch=$channels")
      // 0xFFFFFFFF = size unknown (stream captures): read to EOF
      val avail = bytes.length - off
      val len =
        if (declared == 0xffffffffL) avail
        else { require(declared <= avail, s"AU data overruns file"); declared.toInt }
      val data = java.util.Arrays.copyOfRange(bytes, off, off + len)
      val samples: Array[Float] = enc match {
        case 1 => g711ToFloat(data, aLaw = false)
        case 2 => pcmBeToFloat(data, 8)  // AU PCM8 is SIGNED
        case 3 => pcmBeToFloat(data, 16)
        case 4 => pcmBeToFloat(data, 24)
        case 5 => pcmBeToFloat(data, 32)
        case 6 =>
          val db = ByteBuffer.wrap(data).order(ByteOrder.BIG_ENDIAN)
          WavCodec.floats(len / 4)(i => db.getFloat(i * 4))
        case 27 => g711ToFloat(data, aLaw = true)
        case other => throw new IllegalArgumentException(
          s"AU encoding $other (${EncodingNames.getOrElse(other, "unknown")}) unsupported")
      }
      WavCodec.Decoded(samples, channels, rate)
    }

    /** AU writer. `encoding`: 1 = µ-law (pcm quantized through
      * [[G711Codec]]), 2 = PCM8 signed (top byte), 3 = PCM16 BE. */
    def encode(pcm: Array[Short], channels: Int, sampleRate: Int,
               encoding: Int = 3): Array[Byte] = {
      require(Set(1, 2, 3)(encoding), s"writer supports 1/2/3, got $encoding")
      val bytesPer = if (encoding == 3) 2 else 1
      val out = new ByteArrayOutputStream(28 + pcm.length * bytesPer)
      def be32(v: Int): Unit = {
        out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff)
      }
      be32(0x2e736e64); be32(28); be32(pcm.length * bytesPer)
      be32(encoding); be32(sampleRate); be32(channels)
      be32(0) // 4-byte minimal info field (part of the 28-byte offset)
      encoding match {
        case 1 => pcm.foreach(s => out.write(G711Codec.muLawEncodeSample(s) & 0xff))
        case 2 => pcm.foreach(s => out.write((s >> 8) & 0xff))
        case 3 => writePcm16(out, pcm, bigEndian = true)
      }
      out.toByteArray
    }
  }

  // ===================================================================
  // NIST SPHERE
  // ===================================================================

  object Sphere {

    def decode(bytes: Array[Byte]): WavCodec.Decoded = {
      require(bytes.length >= 16, s"too short for SPHERE: ${bytes.length}")
      val l1 = new String(bytes, 0, 8, "US-ASCII")
      require(l1 == "NIST_1A\n", s"missing NIST_1A magic, got '$l1'")
      val hdrLen = new String(bytes, 8, 8, "US-ASCII").trim.toInt
      require(hdrLen >= 16 && hdrLen <= bytes.length,
        s"bad SPHERE header length $hdrLen")
      val header = new String(bytes, 16, hdrLen - 16, "US-ASCII")
      // `name -type value` lines; -i integer, -sN string of N chars
      val fields: Map[String, String] = header.linesIterator
        .map(_.trim).takeWhile(_ != "end_head")
        .filter(l => l.nonEmpty && !l.startsWith(";"))
        .flatMap { line =>
          val parts = line.split("\\s+", 3)
          if (parts.length == 3 && parts(1).startsWith("-"))
            Some(parts(0) -> parts(2))
          else None
        }.toMap
      def int(k: String): Int = fields.getOrElse(k,
        throw new IllegalArgumentException(s"SPHERE header missing $k")).toInt
      val channels = int("channel_count")
      val rate = int("sample_rate")
      val nBytes = fields.get("sample_n_bytes").map(_.toInt).getOrElse(2)
      val coding = fields.getOrElse("sample_coding", "pcm")
      val byteFmt = fields.getOrElse("sample_byte_format",
        if (nBytes == 1) "1" else "01")
      require(channels > 0 && rate > 0, s"bad SPHERE fmt: ch=$channels rate=$rate")
      // the compressed distributions refuse by name, never mis-read
      if (coding.contains("shorten"))
        throw new IllegalArgumentException(
          "SPHERE embedded-shorten compression unsupported (decompress with " +
          "the corpus tooling first)")
      if (coding.contains("wavpack"))
        throw new IllegalArgumentException(
          "SPHERE embedded-wavpack compression unsupported")
      val declared = fields.get("sample_count").map(_.toLong)
      val data = java.util.Arrays.copyOfRange(bytes, hdrLen, bytes.length)
      val samples: Array[Float] = (coding, nBytes) match {
        case (c, 2) if c.startsWith("pcm") =>
          val order = byteFmt match {
            case "01" => ByteOrder.LITTLE_ENDIAN
            case "10" => ByteOrder.BIG_ENDIAN
            case other => throw new IllegalArgumentException(
              s"SPHERE sample_byte_format '$other' unsupported for 2-byte pcm")
          }
          val db = ByteBuffer.wrap(data).order(order)
          WavCodec.floats(data.length / 2)(i => db.getShort(i * 2) / 32768.0f)
        case (c, 1) if c.startsWith("ulaw") || c.startsWith("mu-law") =>
          g711ToFloat(data, aLaw = false)
        case (c, 1) if c.startsWith("pcm") => // 1-byte pcm is signed
          pcmBeToFloat(data, 8)
        case (c, nb) => throw new IllegalArgumentException(
          s"SPHERE coding '$c' at $nb bytes/sample unsupported")
      }
      declared.foreach { n =>
        require(samples.length / channels >= n,
          s"SPHERE data truncated: header says $n frames, file holds " +
          s"${samples.length / channels}")
      }
      val trimmed = declared match {
        case Some(n) if samples.length > n * channels =>
          java.util.Arrays.copyOfRange(samples, 0, (n * channels).toInt)
        case _ => samples
      }
      WavCodec.Decoded(trimmed, channels, rate)
    }

    /** SPHERE PCM16 writer, either byte order (the corpora ship both). */
    def encodePcm16(pcm: Array[Short], channels: Int, sampleRate: Int,
                    bigEndian: Boolean = false): Array[Byte] = {
      val head = new StringBuilder
      head ++= s"channel_count -i $channels\n"
      head ++= s"sample_count -i ${pcm.length / channels}\n"
      head ++= s"sample_rate -i $sampleRate\n"
      head ++= "sample_n_bytes -i 2\n"
      head ++= s"sample_byte_format -s2 ${if (bigEndian) "10" else "01"}\n"
      head ++= "sample_coding -s3 pcm\n"
      head ++= "end_head\n"
      val hdrLen = 1024 // the universal SPHERE header size
      require(16 + head.length <= hdrLen, "header overflow")
      val out = new ByteArrayOutputStream(hdrLen + pcm.length * 2)
      out.write("NIST_1A\n".getBytes("US-ASCII"))
      out.write(f"$hdrLen%7d\n".getBytes("US-ASCII"))
      out.write(head.toString.getBytes("US-ASCII"))
      var pad = hdrLen - 16 - head.length
      while (pad > 0) { out.write(' '); pad -= 1 }
      writePcm16(out, pcm, bigEndian)
      out.toByteArray
    }
  }
}
