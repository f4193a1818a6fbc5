package graft.codec

/** OGG container labeling (RFC 3533) with Opus (RFC 7845) and Vorbis
  * identification headers — the second audio-container read beside
  * [[Mp3.info]]: codec, channels, rate, exact duration from the final
  * granule position. No audio decode (fenced).
  */
object Ogg {
  import Bytes.{le, le16, le32, le64}

  final case class Info(
      codec: String, // "opus" | "vorbis" | "unknown"
      channels: Int,
      sampleRate: Int, // Opus: the 48000 granule clock
      nPages: Int, // pages of the tracked (first-BOS) stream only
      durationMs: Long)

  def isOgg(b: Array[Byte]): Boolean =
    b != null && b.length >= 5 &&
      b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S' && b(4) == 0

  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"ogg: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (!isOgg(b)) return Left("ogg: bad capture pattern")
    var p = 0
    var codec = "unknown"
    var channels = 0
    var rate = 0
    var preSkip = 0
    var granuleRate = 0L
    var lastGranule = -1L
    var nPages = 0   // pages of the tracked (first-BOS) stream only
    var nScanned = 0 // all pages, any serial — loop bound
    var serial = -1L
    while (p + 27 <= b.length) {
      if (!(b(p) == 'O' && b(p + 1) == 'g' && b(p + 2) == 'g' && b(p + 3) == 'S' && b(p + 4) == 0)) {
        if (nPages == 0) return Left("ogg: bad page header")
        else return finish(codec, channels, rate, nPages, lastGranule, preSkip, granuleRate)
      }
      val headerType = b(p + 5) & 0xff
      val granule = le64(b, p + 6)
      val pageSerial = le32(b, p + 14)
      val nSegs = b(p + 26) & 0xff
      if (p + 27 + nSegs > b.length) return Left("ogg: truncated segment table")
      var bodyLen = 0
      var k = 0
      while (k < nSegs) { bodyLen += b(p + 27 + k) & 0xff; k += 1 }
      val body = p + 27 + nSegs
      if (body + bodyLen > b.length) return Left("ogg: truncated page body")
      if ((headerType & 2) != 0 && serial == -1L) { // BOS of the first stream
        serial = pageSerial
        if (bodyLen >= 19 && new String(b, body, 8, "US-ASCII") == "OpusHead") {
          codec = "opus"
          channels = b(body + 9) & 0xff
          preSkip = le16(b, body + 10)
          rate = le32(b, body + 12).toInt // original input rate (informative)
          granuleRate = 48000L // Opus granules always tick at 48 kHz
        } else if (bodyLen >= 30 && (b(body) & 0xff) == 1 &&
          new String(b, body + 1, 6, "US-ASCII") == "vorbis") {
          codec = "vorbis"
          channels = b(body + 11) & 0xff
          rate = le32(b, body + 12).toInt
          granuleRate = rate.toLong
        }
      }
      // nPages counts only the TRACKED stream's pages so a multiplexed
      // (grouped audio+video) container doesn't report the combined page
      // count against one stream's duration; nScanned bounds the walk.
      if (pageSerial == serial) {
        if (granule >= 0) lastGranule = granule
        nPages += 1
      }
      nScanned += 1
      if (nScanned > 1000000) return Left("ogg: implausible page count")
      p = body + bodyLen
    }
    if (nScanned == 0) return Left("ogg: no pages")
    finish(codec, channels, rate, nPages, lastGranule, preSkip, granuleRate)
  }

  /** Tag harvest from the comment header (Opus "OpusTags" / Vorbis
    * type-3 packet) of the FIRST (BOS-tracked) stream — the Ogg-side
    * sibling of the ID3v2 harvest, sharing [[VorbisComment]] with FLAC.
    * Single-page comment headers only (the near-universal real shape;
    * a multi-page tag packet returns a typed error, not a wrong read).
    * Returns the normalized key->value map. */
  def tags(b: Array[Byte]): Either[String, Map[String, String]] =
    try tagsImpl(b)
    catch { case e: Exception => Left(s"ogg: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def tagsImpl(b: Array[Byte]): Either[String, Map[String, String]] = {
    if (!isOgg(b)) return Left("ogg: bad capture pattern")
    var p = 0
    var serial = -1L
    var scanned = 0
    while (p + 27 <= b.length) {
      if (!(b(p) == 'O' && b(p + 1) == 'g' && b(p + 2) == 'g' && b(p + 3) == 'S' && b(p + 4) == 0))
        return Left("ogg: no comment header")
      val headerType = b(p + 5) & 0xff
      val pageSerial = le32(b, p + 14)
      val nSegs = b(p + 26) & 0xff
      if (p + 27 + nSegs > b.length) return Left("ogg: truncated segment table")
      var bodyLen = 0
      var k = 0
      while (k < nSegs) { bodyLen += b(p + 27 + k) & 0xff; k += 1 }
      val body = p + 27 + nSegs
      if (body + bodyLen > b.length) return Left("ogg: truncated page body")
      if ((headerType & 2) != 0 && serial == -1L) serial = pageSerial
      else if (pageSerial == serial && bodyLen >= 8) {
        if (new String(b, body, 8, "US-ASCII") == "OpusTags") {
          if (nSegs > 0 && (b(p + 27 + nSegs - 1) & 0xff) == 255)
            return Left("ogg: multi-page comment header unsupported")
          return VorbisComment.parse(b, body + 8, body + bodyLen).left.map("ogg: " + _)
        }
        if ((b(body) & 0xff) == 3 && bodyLen >= 7 &&
          new String(b, body + 1, 6, "US-ASCII") == "vorbis") {
          if (nSegs > 0 && (b(p + 27 + nSegs - 1) & 0xff) == 255)
            return Left("ogg: multi-page comment header unsupported")
          return VorbisComment.parse(b, body + 7, body + bodyLen).left.map("ogg: " + _)
        }
      }
      p = body + bodyLen
      scanned += 1
      if (scanned > 1024) return Left("ogg: no comment header")
    }
    Left("ogg: no comment header")
  }

  private def finish(codec: String, channels: Int, rate: Int, nPages: Int,
      lastGranule: Long, preSkip: Int, granuleRate: Long): Either[String, Info] = {
    val dur =
      if (granuleRate <= 0 || lastGranule < 0) 0L
      else math.max(0L, lastGranule - preSkip) * 1000L / granuleRate
    Right(Info(codec, channels, rate, nPages, dur))
  }

  /** Synthesis twin: a BOS identification page plus `nPages` data pages
    * whose final granule is `finalGranule`; with `tags`, a comment
    * header page (OpusTags / Vorbis type-3) follows the BOS. */
  def synthesize(codec: String, channels: Int, rate: Int, preSkip: Int,
      nDataPages: Int, finalGranule: Long,
      tags: Seq[(String, String)] = Nil): Array[Byte] = {
    require(codec == "opus" || codec == "vorbis")
    val out = new java.io.ByteArrayOutputStream()
    def page(headerType: Int, granule: Long, seq: Int, body: Array[Byte]): Unit = {
      out.write("OggS".getBytes("US-ASCII")); out.write(0)
      out.write(headerType)
      le(out, granule, 8); le(out, 77L, 4); le(out, seq.toLong, 4); le(out, 0L, 4) // serial 77, crc 0
      val nSegs = body.length / 255 + 1
      require(nSegs <= 255, "body too large for one page")
      out.write(nSegs)
      var rem = body.length
      while (rem >= 255) { out.write(255); rem -= 255 }
      out.write(rem) // final short (or zero) lacing value ends the packet
      out.write(body, 0, body.length)
    }
    val head = new java.io.ByteArrayOutputStream()
    if (codec == "opus") {
      head.write("OpusHead".getBytes("US-ASCII"))
      head.write(1); head.write(channels)
      head.write(preSkip & 0xff); head.write((preSkip >> 8) & 0xff)
      (0 until 4).foreach(i => head.write((rate >> (8 * i)) & 0xff))
      head.write(0); head.write(0); head.write(0)
    } else {
      head.write(1); head.write("vorbis".getBytes("US-ASCII"))
      (0 until 4).foreach(_ => head.write(0)) // version
      head.write(channels)
      (0 until 4).foreach(i => head.write((rate >> (8 * i)) & 0xff))
      (0 until 14).foreach(_ => head.write(0)) // bitrates(12) + blocksizes + framing
    }
    page(2, 0L, 0, head.toByteArray) // BOS
    var seq = 1
    if (tags.nonEmpty) {
      val cb = new java.io.ByteArrayOutputStream()
      if (codec == "opus") cb.write("OpusTags".getBytes("US-ASCII"))
      else { cb.write(3); cb.write("vorbis".getBytes("US-ASCII")) }
      val vc = VorbisComment.build("graft", tags)
      cb.write(vc, 0, vc.length)
      if (codec != "opus") cb.write(1) // vorbis framing bit
      page(0, if (codec == "opus") 0L else -1L, seq, cb.toByteArray)
      seq += 1
    }
    var k = 0
    while (k < nDataPages) {
      val g = if (k == nDataPages - 1) finalGranule else finalGranule * (k + 1) / nDataPages
      val eos = if (k == nDataPages - 1) 4 else 0
      page(eos, g, seq + k, Array[Byte](0, 1, 2))
      k += 1
    }
    out.toByteArray
  }
}
