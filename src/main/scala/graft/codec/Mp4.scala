package graft.codec

/** ISO base-media (MP4/MOV) BOX-LEVEL parsing for crawl labeling — the
  * video sibling of [[WebpVp8l.info]] and [[Mp3.info]]: brand, duration
  * and track dimensions WITHOUT touching any coded samples (H.264/H.265
  * decode is fenced; a labeler needs the metadata, not the pixels).
  *
  * Implements the public ISO/IEC 14496-12 box structure: size+type
  * headers (including 64-bit largesize and version-1 headers), `ftyp`
  * major brand, `moov/mvhd` timescale+duration, `trak/tkhd` 16.16
  * fixed-point width/height, `hdlr` handler type per track. Unknown
  * boxes are skipped by size; malformed sizes are typed errors before
  * any allocation. HEIF-family still images (AVIF/HEIC — the
  * fastest-growing crawl image population) carry no `moov`: their
  * dimensions live in `meta/iprp/ipco/ispe` (ISO/IEC 23008-12), which
  * the same walker reads; the LARGEST ispe is reported (a file carries
  * one per item — primary image, thumbnail, alpha plane — and without a
  * full pitm/ipma association walk the largest is the primary for every
  * real encoder output).
  */
object Mp4 {
  import Bytes.{be, be32, be64}

  final case class Track(handler: String, width: Int, height: Int)
  final case class Info(
      brand: String,
      durationMs: Long,
      nTracks: Int,
      videoW: Int, // 0 when no video track; HEIF still: largest ispe dims
      videoH: Int)

  /** ftyp major brands that mark a HEIF-family STILL image container
    * (no moov; dims from meta/iprp/ipco/ispe). */
  val ImageBrands: Set[String] =
    Set("avif", "avis", "heic", "heix", "heim", "heis", "hevc", "hevx", "mif1", "msf1")

  def isMp4(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p' &&
      b(0) == 0 && b(1) == 0 && (b(2) & 0xff) < 0x10

  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"mp4: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (b == null || b.length < 16) return Left("mp4: too short")
    var brand = ""
    var timescale = 0L
    var duration = -1L
    var nTracks = 0
    var videoW = 0
    var videoH = 0
    var ispeW = 0
    var ispeH = 0

    // walk one box level [from, to); returns false on malformed sizes
    def walk(from: Int, to: Int, depth: Int)(f: (String, Int, Int) => Either[String, Unit]): Either[String, Unit] = {
      if (depth > 8) return Left("mp4: box nesting too deep")
      var p = from
      while (p + 8 <= to) {
        var size = be32(b, p)
        val tag = new String(b, p + 4, 4, "US-ASCII")
        var hdr = 8
        if (size == 1) {
          if (p + 16 > to) return Left("mp4: truncated largesize")
          size = be64(b, p + 8); hdr = 16
        } else if (size == 0) size = (to - p).toLong // box extends to end
        if (size < hdr || p + size > to) return Left("mp4: bad box size")
        f(tag, p + hdr, (p + size).toInt) match {
          case Left(e) => return Left(e)
          case _ => ()
        }
        p += size.toInt
      }
      Right(())
    }

    val top = walk(0, b.length, 0) {
      case ("ftyp", s, e) =>
        if (e - s < 4) Left("mp4: short ftyp") else { brand = new String(b, s, 4, "US-ASCII").trim; Right(()) }
      case ("moov", ms, me) =>
        walk(ms, me, 1) {
          case ("mvhd", s, e) =>
            val v = b(s) & 0xff
            if (v == 1) {
              if (e - s < 4 + 8 + 8 + 4 + 8) Left("mp4: short mvhd")
              else { timescale = be32(b, s + 20); duration = be64(b, s + 24); Right(()) }
            } else {
              if (e - s < 4 + 4 + 4 + 4 + 4) Left("mp4: short mvhd")
              else { timescale = be32(b, s + 12); duration = be32(b, s + 16); Right(()) }
            }
          case ("trak", ts, te) =>
            nTracks += 1
            var handler = ""
            var tw = 0
            var th = 0
            val r = walk(ts, te, 2) {
              case ("tkhd", s, e) =>
                val v = b(s) & 0xff
                val base = if (v == 1) s + 4 + 8 + 8 + 4 + 4 + 8 else s + 4 + 4 + 4 + 4 + 4 + 4
                // base points at reserved(8) + matrix... width is at
                // fixed offset from the END: last 8 bytes are
                // width(4) + height(4) in 16.16
                if (e - 8 < s) Left("mp4: short tkhd")
                else {
                  tw = (be32(b, e - 8) >> 16).toInt
                  th = (be32(b, e - 4) >> 16).toInt
                  Right(())
                }
              case ("mdia", mds, mde) =>
                walk(mds, mde, 3) {
                  case ("hdlr", s, e) =>
                    if (e - s < 12) Left("mp4: short hdlr")
                    else { handler = new String(b, s + 8, 4, "US-ASCII"); Right(()) }
                  case _ => Right(())
                }
              case _ => Right(())
            }
            if (r.isLeft) r
            else {
              if (handler == "vide" && tw > 0 && th > 0 && videoW == 0) {
                videoW = tw; videoH = th
              }
              Right(())
            }
          case _ => Right(())
        }
      case ("meta", s0, e0) =>
        // meta is a FullBox: 4 bytes version/flags before the children
        if (e0 - s0 < 4) Right(())
        else walk(s0 + 4, e0, 1) {
          case ("iprp", is, ie) => walk(is, ie, 2) {
            case ("ipco", cs, ce) => walk(cs, ce, 3) {
              case ("ispe", ps, pe) =>
                // FullBox(4) + width(4) + height(4)
                if (pe - ps >= 12) {
                  val w = be32(b, ps + 4).toInt
                  val h = be32(b, ps + 8).toInt
                  if (w > 0 && h > 0 && w.toLong * h > ispeW.toLong * ispeH) {
                    ispeW = w; ispeH = h
                  }
                }
                Right(())
              case _ => Right(())
            }
            case _ => Right(())
          }
          case _ => Right(())
        }
      case _ => Right(()) // mdat / free / skip...
    }
    top match {
      case Left(e) => Left(e)
      case _ =>
        if (brand.isEmpty) Left("mp4: no ftyp")
        else if (duration < 0 || timescale <= 0) {
          // HEIF still image: no movie header is the NORMAL shape
          if (ispeW > 0 && ImageBrands.contains(brand))
            Right(Info(brand, 0L, 0, ispeW, ispeH))
          else Left("mp4: no mvhd")
        }
        else Right(Info(brand, duration * 1000L / timescale, nTracks, videoW, videoH))
    }
  }

  private def box(tag: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    be(out, 8 + payload.length, 4)
    out.write(tag.getBytes("US-ASCII"))
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** Big-endian 32-bit fields, in order. */
  private def words(vs: Long*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    vs.foreach(be(out, _, 4))
    out.toByteArray
  }

  /** Synthesis twin for labeling tests: minimal ftyp + moov(mvhd +
    * video trak(tkhd + mdia/hdlr)) + empty mdat. */
  def synthesize(brand: String, timescale: Int, duration: Long,
      videoW: Int, videoH: Int, extraAudioTrack: Boolean = false): Array[Byte] = {
    require(brand.length == 4 && timescale > 0 && duration >= 0)
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ words(0) ++ "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", words(0, 0, 0, timescale, duration) ++ new Array[Byte](80))
    def trak(handler: String, w: Int, h: Int): Array[Byte] = {
      val tkhd = box("tkhd", words(0, 0, 0, 1) ++
        new Array[Byte](4 + 4 + 8 + 8 + 36) ++ words(w.toLong << 16, h.toLong << 16))
      val hdlr = box("hdlr", words(0, 0) ++ handler.getBytes("US-ASCII") ++
        new Array[Byte](12) ++ Array[Byte](0))
      val mdia = box("mdia", hdlr)
      box("trak", tkhd ++ mdia)
    }
    val traks = trak("vide", videoW, videoH) ++
      (if (extraAudioTrack) trak("soun", 0, 0) else Array.emptyByteArray)
    val moov = box("moov", mvhd ++ traks)
    val mdat = box("mdat", Array.emptyByteArray)
    ftyp ++ moov ++ mdat
  }

  /** Synthesis twin for HEIF-family stills: ftyp + meta(hdlr pict +
    * iprp/ipco with one ispe per (w,h) pair) + empty mdat. The real
    * coded payload (av01/hvc1 items) is irrelevant to labeling. */
  def synthesizeHeif(brand: String, dims: Seq[(Int, Int)]): Array[Byte] = {
    require(brand.length == 4 && dims.nonEmpty)
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ words(0) ++ "mif1".getBytes("US-ASCII"))
    val hdlr = box("hdlr", words(0, 0) ++ "pict".getBytes("US-ASCII") ++ new Array[Byte](12))
    val ispes = dims.map { case (w, h) =>
      box("ispe", words(0, w, h))
    }.reduce(_ ++ _)
    val iprp = box("iprp", box("ipco", ispes))
    val meta = box("meta", words(0) ++ hdlr ++ iprp)
    ftyp ++ meta ++ box("mdat", Array.emptyByteArray)
  }
}
