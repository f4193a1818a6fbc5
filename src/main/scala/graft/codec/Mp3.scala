package graft.codec

/** MPEG audio (MP3) HEADER parsing for crawl labeling — the audio
  * sibling of [[WebpVp8l.info]]: bitrate / sample rate / channel mode /
  * frame count / duration WITHOUT decoding any audio (full MP3 synthesis
  * stays fenced; there is no independent MP3 implementation in this
  * environment to differential-test a decoder against, and labeling is
  * what the curation pipeline actually needs).
  *
  * Implements the public MPEG-1/MPEG-2 audio frame-header layout
  * (ISO/IEC 11172-3 / 13818-3): 11-bit sync, version, layer, bitrate
  * and sample-rate tables, padding, channel mode; ID3v2 prefixes are
  * skipped via their syncsafe length. Free-format bitrate (index 0)
  * and reserved fields are typed errors. VBR streams are labeled by
  * WALKING every frame header (so the duration is exact per the spec's
  * per-frame sample counts), not by trusting the first frame.
  */
object Mp3 {
  import Bytes.{be, be32}

  final case class Info(
      version: String, // "MPEG1" | "MPEG2" | "MPEG2.5"
      layer: Int, // 1..3
      bitrateKbps: Int, // first frame's
      sampleRate: Int,
      channels: Int, // 1 or 2
      nFrames: Int,
      durationMs: Long)

  // bitrate tables [kbps], index 1..14 (0 = free → fenced, 15 = bad)
  private val BitrateV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val BitrateV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val BitrateV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BitrateV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val BitrateV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  private val SampleRateV1 = Array(44100, 48000, 32000)
  private val SampleRateV2 = Array(22050, 24000, 16000)
  private val SampleRateV25 = Array(11025, 12000, 8000)

  def isMp3(b: Array[Byte]): Boolean =
    b != null && b.length >= 3 &&
      ((b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
        (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0))

  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"mp3: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (b == null || b.length < 4) return Left("mp3: too short")
    var p = 0
    // ID3v2: "ID3" vv f ssss (syncsafe)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      p = 10 + size
      if (p >= b.length) return Left("mp3: only an ID3 tag")
    }
    var first: Info = null
    var nFrames = 0
    // Σ per-frame duration in exact ticks at 14,112,000 Hz — the LCM of
    // every MPEG sample rate (8000..48000 incl. the 11025 family) — so a
    // stream whose frames CHANGE sample rate (concatenated/corrupt VBR)
    // still gets an exact total, not samples/firstFrameRate.
    var ticks = 0L // Σ frameSamples * (TickHz / rate); TickHz/rate is exact
    val TickHz = 14112000L
    var done = false
    while (!done && p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xe0) != 0xe0) {
        // not a frame header: stop at the first non-frame byte after
        // frames were seen; before any frame, it is junk → error
        if (nFrames > 0) done = true
        else return Left("mp3: no frame sync")
      } else {
        val h1 = b(p + 1) & 0xff
        val h2 = b(p + 2) & 0xff
        val h3 = b(p + 3) & 0xff
        val versionBits = (h1 >> 3) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        val layerBits = (h1 >> 1) & 3 // 1=III, 2=II, 3=I
        if (versionBits == 1 || layerBits == 0) return Left("mp3: reserved version/layer")
        val layer = 4 - layerBits // 1..3
        val brIdx = (h2 >> 4) & 0xf
        val srIdx = (h2 >> 2) & 3
        if (brIdx == 0) return Left("mp3: free-format bitrate unsupported")
        if (brIdx == 15 || srIdx == 3) return Left("mp3: bad bitrate/samplerate index")
        val (verName, rates) = versionBits match {
          case 3 => ("MPEG1", SampleRateV1)
          case 2 => ("MPEG2", SampleRateV2)
          case _ => ("MPEG2.5", SampleRateV25)
        }
        val bitrate = (versionBits, layer) match {
          case (3, 1) => BitrateV1L1(brIdx)
          case (3, 2) => BitrateV1L2(brIdx)
          case (3, 3) => BitrateV1L3(brIdx)
          case (_, 1) => BitrateV2L1(brIdx)
          case _ => BitrateV2L23(brIdx)
        }
        val rate = rates(srIdx)
        val padding = (h2 >> 1) & 1
        val channels = if (((h3 >> 6) & 3) == 3) 1 else 2
        val frameSamples =
          if (layer == 1) 384
          else if (layer == 2) 1152
          else if (versionBits == 3) 1152 else 576 // layer III
        val frameLen =
          if (layer == 1) (12 * bitrate * 1000 / rate + padding) * 4
          else frameSamples / 8 * bitrate * 1000 / rate + padding
        if (frameLen <= 4) return Left("mp3: implausible frame length")
        if (first == null)
          first = Info(verName, layer, bitrate, rate, channels, 0, 0L)
        nFrames += 1
        ticks += frameSamples.toLong * (TickHz / rate)
        if (nFrames > 1000000) return Left("mp3: implausible frame count")
        p += frameLen
      }
    }
    if (first == null || nFrames == 0) return Left("mp3: no frames")
    Right(first.copy(nFrames = nFrames, durationMs = ticks * 1000L / TickHz))
  }

  /** Header-only frame synthesis (the encoder twin for labeling tests):
    * `n` frames of the given version/layer/bitrate-index/samplerate-
    * index with zeroed payloads, optionally behind an ID3v2 tag. */
  def synthesize(n: Int, versionBits: Int, layer: Int, brIdx: Int, srIdx: Int,
      mono: Boolean, id3Size: Int = 0): Array[Byte] = {
    require(n >= 1 && (versionBits == 3 || versionBits == 2) &&
      layer >= 1 && layer <= 3 && brIdx >= 1 && brIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Size > 0) {
      out.write('I'); out.write('D'); out.write('3'); out.write(3); out.write(0); out.write(0)
      out.write((id3Size >> 21) & 0x7f); out.write((id3Size >> 14) & 0x7f)
      out.write((id3Size >> 7) & 0x7f); out.write(id3Size & 0x7f)
      (0 until id3Size).foreach(_ => out.write(0))
    }
    val rates = if (versionBits == 3) SampleRateV1 else SampleRateV2
    val bitrate = (versionBits, layer) match {
      case (3, 1) => BitrateV1L1(brIdx)
      case (3, 2) => BitrateV1L2(brIdx)
      case (3, 3) => BitrateV1L3(brIdx)
      case (_, 1) => BitrateV2L1(brIdx)
      case _ => BitrateV2L23(brIdx)
    }
    val rate = rates(srIdx)
    val frameSamples =
      if (layer == 1) 384 else if (layer == 2) 1152
      else if (versionBits == 3) 1152 else 576
    val frameLen =
      if (layer == 1) (12 * bitrate * 1000 / rate) * 4
      else frameSamples / 8 * bitrate * 1000 / rate
    val h0 = 0xff
    val h1 = 0xe0 | (versionBits << 3) | ((4 - layer) << 1) | 1 // CRC off
    val h2 = (brIdx << 4) | (srIdx << 2) // no padding
    val h3 = if (mono) 0xc0 else 0x00
    (0 until n).foreach { _ =>
      out.write(h0); out.write(h1); out.write(h2); out.write(h3)
      (4 until frameLen).foreach(_ => out.write(0))
    }
    out.toByteArray
  }

  // ------------------------------------------------ ID3v2 text frames

  final case class Id3Tags(title: String, artist: String, album: String, year: String)

  /** Harvest the standard ID3v2.3/2.4 text frames (TIT2/TPE1/TALB/
    * TYER-or-TDRC) — the audio-corpus sibling of the HTML head-metadata
    * harvest: the textual metadata a curation pipeline keys on. Handles
    * the v2.4 syncsafe frame sizes, latin-1 / UTF-8 / UTF-16(+BOM)
    * encodings, and stops at padding. Absent frames read "". */
  def id3Tags(b: Array[Byte]): Either[String, Id3Tags] =
    try id3Impl(b)
    catch { case e: Exception => Left(s"id3: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def id3Impl(b: Array[Byte]): Either[String, Id3Tags] = {
    if (b == null || b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      return Left("id3: no ID3v2 header")
    val major = b(3) & 0xff
    if (major < 3 || major > 4) return Left(s"id3: unsupported version 2.$major")
    val tagSize = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
      ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
    val end = math.min(10 + tagSize, b.length)
    var p = 10
    var title = ""; var artist = ""; var album = ""; var year = ""
    while (p + 10 <= end) {
      val id = new String(b, p, 4, "US-ASCII")
      if (id.charAt(0) == 0) p = end // padding: stop
      else {
        val size =
          if (major == 4)
            ((b(p + 4) & 0x7f) << 21) | ((b(p + 5) & 0x7f) << 14) |
              ((b(p + 6) & 0x7f) << 7) | (b(p + 7) & 0x7f)
          else
            be32(b, p + 4).toInt
        // subtraction form: p + 10 + size overflows Int for a forged
        // 0x7fffffff size and would slip past an addition-form bound
        if (size < 0 || size > end - p - 10) return Left("id3: bad frame size")
        if (id.startsWith("T") && size >= 1) {
          val enc = b(p + 10) & 0xff
          val raw = java.util.Arrays.copyOfRange(b, p + 11, p + 10 + size)
          val text = (enc match {
            case 0 => new String(raw, "ISO-8859-1")
            case 1 => new String(raw, "UTF-16") // BOM-carrying
            case 2 => new String(raw, "UTF-16BE")
            case 3 => new String(raw, "UTF-8")
            case _ => ""
          }).takeWhile(_ != 0)
          id match {
            case "TIT2" => if (title.isEmpty) title = text
            case "TPE1" => if (artist.isEmpty) artist = text
            case "TALB" => if (album.isEmpty) album = text
            case "TYER" | "TDRC" => if (year.isEmpty) year = text
            case _ => ()
          }
        }
        p += 10 + size
      }
    }
    Right(Id3Tags(title, artist, album, year))
  }

  /** Synthesis twin: an ID3v2 tag with the given text frames. */
  def synthesizeId3(major: Int, frames: Seq[(String, String, Int)]): Array[Byte] = {
    require(major == 3 || major == 4)
    val body = new java.io.ByteArrayOutputStream()
    frames.foreach { case (id, text, enc) =>
      require(id.length == 4)
      val payload = enc match {
        case 0 => text.getBytes("ISO-8859-1")
        case 1 => Array[Byte](0xfe.toByte, 0xff.toByte) ++ text.getBytes("UTF-16BE")
        case 3 => text.getBytes("UTF-8")
        case _ => throw new IllegalArgumentException("enc")
      }
      val size = 1 + payload.length
      body.write(id.getBytes("US-ASCII"))
      if (major == 4) {
        body.write((size >> 21) & 0x7f); body.write((size >> 14) & 0x7f)
        body.write((size >> 7) & 0x7f); body.write(size & 0x7f)
      } else {
        be(body, size, 4)
      }
      body.write(0); body.write(0)
      body.write(enc)
      body.write(payload, 0, payload.length)
    }
    val frameBytes = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('D'); out.write('3'); out.write(major); out.write(0); out.write(0)
    val ts = frameBytes.length
    out.write((ts >> 21) & 0x7f); out.write((ts >> 14) & 0x7f)
    out.write((ts >> 7) & 0x7f); out.write(ts & 0x7f)
    out.write(frameBytes, 0, frameBytes.length)
    out.toByteArray
  }
}
