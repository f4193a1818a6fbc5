package graft.codec

/** FLAC container labeling (the free-lossless audio population beside
  * [[Mp3]]/[[Ogg]]/[[Wav]]): STREAMINFO gives exact sample rate /
  * channels / bit depth / total samples (so exact duration), and the
  * VORBIS_COMMENT block carries the tag harvest (TITLE/ARTIST/ALBUM/
  * DATE) — the FLAC-side sibling of the ID3v2 harvest (T224). Frame
  * (audio) decode is fenced: no independent FLAC implementation exists
  * in this environment to pin a decoder against, and labeling+tags are
  * what curation needs. Format per the public FLAC specification
  * (RFC 9639): "fLaC" magic, 4-byte metadata block headers
  * (last-flag/type/24-bit length), big-endian STREAMINFO packing,
  * little-endian Vorbis comments.
  */
object Flac {

  final case class Info(
      sampleRate: Int,
      channels: Int,
      bitsPerSample: Int,
      totalSamples: Long, // 0 = unknown
      durationMs: Long,
      title: String, artist: String, album: String, date: String)

  def isFlac(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'

  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"flac: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (!isFlac(b)) return Left("flac: bad magic")
    var p = 4
    var rate = 0; var chn = 0; var bits = 0; var total = 0L
    var sawStreamInfo = false
    var title = ""; var artist = ""; var album = ""; var date = ""
    var last = false
    var blocks = 0
    while (!last) {
      if (p + 4 > b.length) return Left("flac: truncated block header")
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      p += 4
      if (len > b.length - p) return Left("flac: block overruns file")
      typ match {
        case 0 => // STREAMINFO
          if (len < 34) return Left("flac: short STREAMINFO")
          // 10 bytes in: 20-bit rate | 3-bit chn-1 | 5-bit bits-1 | 36-bit total
          val o = p + 10
          rate = ((b(o) & 0xff) << 12) | ((b(o + 1) & 0xff) << 4) | ((b(o + 2) & 0xff) >> 4)
          chn = (((b(o + 2) & 0xff) >> 1) & 7) + 1
          bits = ((((b(o + 2) & 1) << 4) | ((b(o + 3) & 0xff) >> 4)) & 0x1f) + 1
          total = ((b(o + 3) & 0x0fL) << 32) | ((b(o + 4) & 0xffL) << 24) |
            ((b(o + 5) & 0xffL) << 16) | ((b(o + 6) & 0xffL) << 8) | (b(o + 7) & 0xffL)
          if (rate <= 0) return Left("flac: zero sample rate")
          sawStreamInfo = true
        case 4 => // VORBIS_COMMENT
          VorbisComment.parse(b, p, p + len) match {
            case Right(tags) =>
              title = tags.getOrElse("TITLE", title)
              artist = tags.getOrElse("ARTIST", artist)
              album = tags.getOrElse("ALBUM", album)
              date = tags.getOrElse("DATE", date)
            case Left(e) => return Left(s"flac: $e")
          }
        case 127 => return Left("flac: invalid block type")
        case _ => () // padding / seektable / cuesheet / picture: skip
      }
      p += len
      blocks += 1
      if (blocks > 4096) return Left("flac: implausible block count")
    }
    if (!sawStreamInfo) return Left("flac: no STREAMINFO")
    Right(Info(rate, chn, bits, total, total * 1000L / rate, title, artist, album, date))
  }

  /** Synthesis twin: fLaC + STREAMINFO + optional VORBIS_COMMENT (+ a
    * padding block so the walk is exercised). No audio frames — the
    * labeling read never touches them. */
  def synthesize(rate: Int, channels: Int, bits: Int, totalSamples: Long,
      tags: Seq[(String, String)]): Array[Byte] = {
    require(rate > 0 && rate < (1 << 20) && channels >= 1 && channels <= 8 &&
      bits >= 4 && bits <= 32 && totalSamples >= 0 && totalSamples < (1L << 36))
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO
    val si = new Array[Byte](34)
    si(0) = 0x10; si(1) = 0; si(2) = 0x10; si(3) = 0 // min/max blocksize 4096
    si(10) = ((rate >> 12) & 0xff).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | (((channels - 1) & 7) << 1) | (((bits - 1) >> 4) & 1)).toByte
    si(13) = ((((bits - 1) & 0xf) << 4) | ((totalSamples >> 32) & 0xf).toInt).toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    val hasTags = tags.nonEmpty
    out.write(0); out.write(0); out.write(0); out.write(34)
    out.write(si, 0, 34)
    if (hasTags) {
      val vc = VorbisComment.build("graft", tags)
      out.write(4)
      out.write((vc.length >> 16) & 0xff); out.write((vc.length >> 8) & 0xff)
      out.write(vc.length & 0xff)
      out.write(vc, 0, vc.length)
    }
    out.write(0x81.toByte) // last block: padding
    out.write(0); out.write(0); out.write(4)
    out.write(new Array[Byte](4), 0, 4)
    out.toByteArray
  }
}

/** The Vorbis comment structure (shared by FLAC's block 4, Ogg Vorbis'
  * comment header and Opus' OpusTags): LE vendor length + vendor, LE
  * count, then count x (LE length, "KEY=value" UTF-8). Keys are
  * case-insensitive per spec — normalized to upper case here. */
object VorbisComment {
  import Bytes.{le, le32}

  def parse(b: Array[Byte], off: Int, end: Int): Either[String, Map[String, String]] = {
    if (off + 4 > end) return Left("vorbis comment: truncated vendor length")
    val vlen = le32(b, off).toInt
    if (vlen < 0 || vlen > end - off - 4) return Left("vorbis comment: bad vendor length")
    var p = off + 4 + vlen
    if (p + 4 > end) return Left("vorbis comment: truncated count")
    val n = le32(b, p).toInt
    p += 4
    if (n < 0 || n > 65536) return Left("vorbis comment: implausible count")
    val tags = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < n) {
      if (p + 4 > end) return Left("vorbis comment: truncated entry length")
      val len = le32(b, p).toInt
      p += 4
      if (len < 0 || len > end - p) return Left("vorbis comment: entry overruns")
      val s = new String(b, p, len, "UTF-8")
      val eq = s.indexOf('=')
      if (eq > 0) {
        val k = s.substring(0, eq).toUpperCase(java.util.Locale.ROOT)
        if (!tags.contains(k)) tags(k) = s.substring(eq + 1)
      }
      p += len
      i += 1
    }
    Right(tags.toMap)
  }

  def build(vendor: String, tags: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val vb = vendor.getBytes("UTF-8")
    le(out, vb.length, 4); out.write(vb, 0, vb.length)
    le(out, tags.length, 4)
    tags.foreach { case (k, v) =>
      val e = (k + "=" + v).getBytes("UTF-8")
      le(out, e.length, 4); out.write(e, 0, e.length)
    }
    out.toByteArray
  }
}
