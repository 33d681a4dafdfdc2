package graft.io

/** Minimal-but-real MJPEG-in-AVI container codec — the VIDEO leg of the
  * multimodal family: video at rest is a container of per-frame images,
  * and the pipeline ops that matter at 100 TB are DEMUX and FRAME
  * SAMPLING (decode only the frames you keep). RIFF/AVI is a public
  * Microsoft format: little-endian FOURCC chunks
  * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
  * 00dc*) idx1)`. Frames are whole baseline JPEGs ([[JpegCodec]]), so
  * the video path reuses the image machinery end to end.
  *
  * Scope: one video stream, '00dc' MJPG frames, no audio, no OpenDML
  * extensions; the demuxer validates the RIFF/AVI magic, walks chunk
  * sizes exactly (word-aligned as the format requires), and
  * cross-checks avih's frame count and dimensions against the stream. */
object AviMjpeg {

  final case class Video(width: Int, height: Int, fps: Int,
                         frames: Vector[Array[Byte]])

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def rdLe32(a: Array[Byte], off: Int): Int =
    (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
      ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)
  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def isFourcc(a: Array[Byte], off: Int, s: String): Boolean =
    s.indices.forall(i => a(off + i) == s.charAt(i).toByte)

  // ------------------------------------------------------------------
  // mux
  // ------------------------------------------------------------------

  def mux(v: Video): Array[Byte] = {
    require(v.frames.nonEmpty && v.fps > 0)
    val out = new java.io.ByteArrayOutputStream()
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc(id)); b.write(le32(body.length)); b.write(body)
      if (body.length % 2 == 1) b.write(0) // RIFF word alignment
      b.toByteArray
    }
    def list(typ: String, bodies: Array[Byte]*): Array[Byte] = {
      val inner = new java.io.ByteArrayOutputStream()
      inner.write(fourcc(typ)); bodies.foreach(inner.write)
      chunk("LIST", inner.toByteArray)
    }
    // avih: us/frame, maxbytes/s, pad, flags, totalframes, initial,
    // streams, bufsize, w, h, reserved[4]
    val avih = new java.io.ByteArrayOutputStream()
    avih.write(le32(1000000 / v.fps)); avih.write(le32(0)); avih.write(le32(0))
    avih.write(le32(0)) // flags: no index chunk is written
    avih.write(le32(v.frames.length)); avih.write(le32(0)); avih.write(le32(1))
    avih.write(le32(0)); avih.write(le32(v.width)); avih.write(le32(v.height))
    (0 until 4).foreach(_ => avih.write(le32(0)))
    // strh: fccType 'vids', handler 'MJPG', flags, prio, lang, frames...
    val strh = new java.io.ByteArrayOutputStream()
    strh.write(fourcc("vids")); strh.write(fourcc("MJPG"))
    strh.write(le32(0)); strh.write(le32(0)); strh.write(le32(0))
    strh.write(le32(1)); strh.write(le32(v.fps)) // scale=1, rate=fps
    strh.write(le32(0)); strh.write(le32(v.frames.length)); strh.write(le32(0))
    strh.write(le32(-1)); strh.write(le32(0)); strh.write(le32(0)); strh.write(le32(0))
    // strf = BITMAPINFOHEADER
    val strf = new java.io.ByteArrayOutputStream()
    strf.write(le32(40)); strf.write(le32(v.width)); strf.write(le32(v.height))
    strf.write(Array[Byte](1, 0)); strf.write(Array[Byte](24, 0)) // planes, bpp
    strf.write(fourcc("MJPG")); strf.write(le32(v.width * v.height * 3))
    (0 until 4).foreach(_ => strf.write(le32(0)))
    val hdrl = list("hdrl", chunk("avih", avih.toByteArray),
      list("strl", chunk("strh", strh.toByteArray), chunk("strf", strf.toByteArray)))
    val movi = list("movi", v.frames.map(f => chunk("00dc", f)): _*)
    val riffBody = new java.io.ByteArrayOutputStream()
    riffBody.write(fourcc("AVI ")); riffBody.write(hdrl); riffBody.write(movi)
    out.write(fourcc("RIFF")); out.write(le32(riffBody.size()))
    out.write(riffBody.toByteArray)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // demux
  // ------------------------------------------------------------------

  def demux(bytes: Array[Byte]): Video = {
    require(bytes.length > 12 && isFourcc(bytes, 0, "RIFF") &&
      isFourcc(bytes, 8, "AVI "), "not an AVI: bad RIFF/AVI magic")
    val riffLen = rdLe32(bytes, 4)
    require(riffLen + 8 <= bytes.length, "truncated RIFF payload")
    var width = 0; var height = 0; var fps = 0; var declared = -1
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val len = rdLe32(bytes, pos + 4)
        require(len >= 0 && pos + 8 + len <= to, s"truncated chunk $id")
        id match {
          case "LIST" =>
            val typ = new String(bytes, pos + 8, 4, "US-ASCII")
            if (typ == "hdrl" || typ == "movi" || typ == "strl")
              walk(pos + 12, pos + 8 + len)
          case "avih" =>
            val usPerFrame = rdLe32(bytes, pos + 8)
            require(usPerFrame > 0, "bad avih: zero frame duration")
            fps = 1000000 / usPerFrame
            declared = rdLe32(bytes, pos + 24)
            width = rdLe32(bytes, pos + 40)
            height = rdLe32(bytes, pos + 44)
          case "00dc" =>
            frames += java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
          case _ => () // strh/strf consumed via avih cross-check; idx1 skipped
        }
        pos += 8 + len + (len % 2) // word alignment
      }
    }
    walk(12, 8 + riffLen)
    val fs = frames.result()
    require(declared >= 0, "missing avih header")
    require(fs.nonEmpty, "no video frames ('00dc') in movi")
    require(declared == fs.length,
      s"avih declares $declared frames, movi carries ${fs.length}")
    Video(width, height, fps, fs)
  }

  /** THE scale op for video corpora: decode only every `nth` frame —
    * the demux walks metadata-sized chunk headers; JPEG decode cost is
    * paid solely for sampled frames. */
  def sampleFrames(v: Video, nth: Int): Vector[(Int, Array[Byte])] = {
    require(nth >= 1, s"sampleFrames stride must be >= 1, got $nth")
    v.frames.zipWithIndex.collect {
      case (f, i) if i % nth == 0 => (i, f)
    }
  }
}
