package graft.codec

/** Matroska/WebM container labeling — the EBML sibling of [[Mp4]] for
  * the modern web-video population: DocType, duration, track count,
  * video codec + dims, audio codec + rate/channels, no sample decode
  * (VP8/VP9/AV1/Opus frame decode stays fenced; a labeler needs the
  * metadata). Implements the public EBML/Matroska structure: variable-
  * length IDs (marker bit kept) and sizes (marker stripped, all-ones =
  * unknown → parse children to the parent's end), the element IDs from
  * the public WebM/Matroska specification (EBML 0x1A45DFA3, Segment
  * 0x18538067, Info/TimestampScale/Duration, Tracks/TrackEntry/
  * TrackType/CodecID, Video PixelWidth/Height, Audio
  * SamplingFrequency/Channels). Verification posture: synthesis-twin
  * round-trip + fuzz (no independent Matroska implementation exists in
  * this environment); the IDs are transcribed from the public spec and
  * the twin shares them, so the posture is documented honestly like
  * the JBIG2 MQ leg.
  */
object Mkv {
  import Bytes.{be32, be64}

  final case class Info(
      docType: String,
      durationMs: Long,
      nTracks: Int,
      videoCodec: String, videoW: Int, videoH: Int,
      audioCodec: String, audioRate: Int, audioChannels: Int)

  def isMkv(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      (b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
      (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3

  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"mkv: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  // vint: returns (value, bytesUsed); keepMarker for IDs
  private def vint(b: Array[Byte], p: Int, end: Int, keepMarker: Boolean): (Long, Int) = {
    if (p >= end) return (-1L, 0)
    val first = b(p) & 0xff
    if (first == 0) return (-1L, 0)
    val len = java.lang.Integer.numberOfLeadingZeros(first) - 23 // 1..8
    if (p + len > end) return (-1L, 0)
    var v = if (keepMarker) first.toLong else (first & ((1 << (8 - len)) - 1)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    (v, len)
  }

  private def unknownSize(v: Long, len: Int): Boolean =
    v == (1L << (7 * len)) - 1

  private def beFloat(b: Array[Byte], p: Int, len: Int): Double =
    if (len == 4) java.lang.Float.intBitsToFloat(be32(b, p).toInt)
    else if (len == 8) java.lang.Double.longBitsToDouble(be64(b, p))
    else 0.0

  private def beUint(b: Array[Byte], p: Int, len: Int): Long =
    (0 until len).foldLeft(0L)((a, i) => (a << 8) | (b(p + i) & 0xffL))

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (!isMkv(b)) return Left("mkv: bad EBML magic")
    var docType = ""
    var timestampScale = 1000000L // ns per tick, spec default
    var duration = -1.0
    var nTracks = 0
    var videoCodec = ""; var videoW = 0; var videoH = 0
    var audioCodec = ""; var audioRate = 0; var audioChannels = 0
    var elements = 0

    // walk one level [p, end); `depth`-bounded; returns Left on malformed
    def walk(from: Int, to: Int, depth: Int)(f: (Long, Int, Int) => Either[String, Unit]): Either[String, Unit] = {
      if (depth > 8) return Left("mkv: nesting too deep")
      var p = from
      while (p < to) {
        val (id, idLen) = vint(b, p, to, keepMarker = true)
        if (idLen == 0) return Left("mkv: bad element id")
        val (size, szLen) = vint(b, p + idLen, to, keepMarker = false)
        if (szLen == 0) return Left("mkv: bad element size")
        val body = p + idLen + szLen
        val bodyEnd =
          if (unknownSize(size, szLen)) to // unknown size: children to parent end
          else if (size > to - body) return Left("mkv: element overruns parent")
          else body + size.toInt
        elements += 1
        if (elements > 100000) return Left("mkv: implausible element count")
        f(id, body, bodyEnd) match {
          case Left(e) => return Left(e)
          case _ => ()
        }
        p = bodyEnd
      }
      Right(())
    }

    val top = walk(0, b.length, 0) {
      case (0x1a45dfa3L, s0, e0) => // EBML header
        walk(s0, e0, 1) {
          case (0x4282L, s, e) => docType = new String(b, s, e - s, "US-ASCII"); Right(())
          case _ => Right(())
        }
      case (0x18538067L, s0, e0) => // Segment
        walk(s0, e0, 1) {
          case (0x1549a966L, s1, e1) => // Info
            walk(s1, e1, 2) {
              case (0x2ad7b1L, s, e) => timestampScale = beUint(b, s, e - s); Right(())
              case (0x4489L, s, e) => duration = beFloat(b, s, e - s); Right(())
              case _ => Right(())
            }
          case (0x1654ae6bL, s1, e1) => // Tracks
            walk(s1, e1, 2) {
              case (0xaeL, ts, te) => // TrackEntry
                nTracks += 1
                var trackType = 0
                var codec = ""
                var w = 0; var h = 0; var rate = 0; var chn = 0
                val r = walk(ts, te, 3) {
                  case (0x83L, s, e) => trackType = beUint(b, s, e - s).toInt; Right(())
                  case (0x86L, s, e) => codec = new String(b, s, e - s, "US-ASCII"); Right(())
                  case (0xe0L, vs, ve) => walk(vs, ve, 4) {
                    case (0xb0L, s, e) => w = beUint(b, s, e - s).toInt; Right(())
                    case (0xbaL, s, e) => h = beUint(b, s, e - s).toInt; Right(())
                    case _ => Right(())
                  }
                  case (0xe1L, as0, ae0) => walk(as0, ae0, 4) {
                    case (0xb5L, s, e) => rate = beFloat(b, s, e - s).toInt; Right(())
                    case (0x9fL, s, e) => chn = beUint(b, s, e - s).toInt; Right(())
                    case _ => Right(())
                  }
                  case _ => Right(())
                }
                if (r.isLeft) r
                else {
                  if (trackType == 1 && videoCodec.isEmpty) {
                    videoCodec = codec; videoW = w; videoH = h
                  } else if (trackType == 2 && audioCodec.isEmpty) {
                    audioCodec = codec; audioRate = rate; audioChannels = chn
                  }
                  Right(())
                }
              case _ => Right(())
            }
          case _ => Right(()) // Cluster / SeekHead / Cues etc: skip
        }
      case _ => Right(())
    }
    top match {
      case Left(e) => Left(e)
      case _ =>
        if (docType.isEmpty) return Left("mkv: no DocType")
        if (timestampScale <= 0) return Left("mkv: bad timestamp scale")
        val durMs = if (duration < 0) 0L
          else (duration * timestampScale / 1e6).toLong
        Right(Info(docType, durMs, nTracks, videoCodec, videoW, videoH,
          audioCodec, audioRate, audioChannels))
    }
  }

  /** Synthesis twin: EBML header + Segment(Info + Tracks). */
  def synthesize(docType: String, timestampScaleNs: Long, durationTicks: Double,
      video: Option[(String, Int, Int)], audio: Option[(String, Int, Int)]): Array[Byte] = {
    def el(id: Long, payload: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      // id bytes (marker kept): minimal big-endian representation
      val idLen = (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8
      (idLen - 1 to 0 by -1).foreach(i => out.write(((id >> (8 * i)) & 0xff).toInt))
      // size as a 2-byte vint (ample for the twin)
      require(payload.length < (1 << 14) - 1)
      out.write(0x40 | (payload.length >> 8)); out.write(payload.length & 0xff)
      out.write(payload, 0, payload.length)
      out.toByteArray
    }
    def uintEl(id: Long, v: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && (v >> (8 * len)) != 0) len += 1
      el(id, Array.tabulate[Byte](len)(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte))
    }
    def floatEl(id: Long, v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      el(id, Array.tabulate[Byte](8)(i => ((bits >> (8 * (7 - i))) & 0xff).toByte))
    }
    def strEl(id: Long, s: String): Array[Byte] = el(id, s.getBytes("US-ASCII"))

    val ebml = el(0x1a45dfa3L, strEl(0x4282L, docType))
    val info = el(0x1549a966L,
      uintEl(0x2ad7b1L, timestampScaleNs) ++ floatEl(0x4489L, durationTicks))
    val tracks = new java.io.ByteArrayOutputStream()
    video.foreach { case (codec, w, h) =>
      tracks.write(el(0xaeL, uintEl(0x83L, 1) ++ strEl(0x86L, codec) ++
        el(0xe0L, uintEl(0xb0L, w) ++ uintEl(0xbaL, h))))
    }
    audio.foreach { case (codec, rate, chn) =>
      tracks.write(el(0xaeL, uintEl(0x83L, 2) ++ strEl(0x86L, codec) ++
        el(0xe1L, floatEl(0xb5L, rate.toDouble) ++ uintEl(0x9fL, chn))))
    }
    val segment = el(0x18538067L, info ++ el(0x1654ae6bL, tracks.toByteArray))
    ebml ++ segment
  }
}
