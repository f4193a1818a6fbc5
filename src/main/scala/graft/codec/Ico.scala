package graft.codec

/** ICO/CUR (favicon) container — a real crawl population every site
  * carries. Directory walk per the public ICONDIR layout; the LARGEST
  * entry is the canonical read. PNG-compressed entries (the modern
  * favicon shape) decode fully through the from-scratch [[Png]]
  * decoder; classic DIB (headerless BMP) entries are labeled with
  * their directory dimensions but stay decode-fenced (the AND-mask /
  * doubled-height DIB layout adds little over the BMP support and
  * modern favicons are PNG). */
object Ico {
  import Bytes.{be32, le, le16, le32}

  final case class Entry(width: Int, height: Int, bpp: Int, isPng: Boolean,
      offset: Int, size: Int)
  final case class Info(kind: String, // "icon" | "cursor"
      nEntries: Int, entries: Vector[Entry])

  def isIco(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 &&
      b(0) == 0 && b(1) == 0 && (b(2) == 1 || b(2) == 2) && b(3) == 0 &&
      le16(b, 4) > 0 && le16(b, 4) <= 64


  def info(b: Array[Byte]): Either[String, Info] =
    try infoImpl(b)
    catch { case e: Exception => Left(s"ico: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def infoImpl(b: Array[Byte]): Either[String, Info] = {
    if (!isIco(b)) return Left("ico: bad header")
    val kind = if (b(2) == 1) "icon" else "cursor"
    val n = le16(b, 4)
    if (6 + 16 * n > b.length) return Left("ico: directory overruns file")
    val entries = Vector.newBuilder[Entry]
    var i = 0
    while (i < n) {
      val e = 6 + 16 * i
      val w0 = b(e) & 0xff; val h0 = b(e + 1) & 0xff
      val bpp = le16(b, e + 6)
      val size = le32(b, e + 8)
      val off = le32(b, e + 12)
      if (size < 0 || off < 0 || size > b.length - off)
        return Left("ico: entry overruns file")
      val o = off.toInt
      val isPng = size >= 8 && Png.isPng(java.util.Arrays.copyOfRange(b, o, o + 8))
      // PNG entries carry authoritative dims in IHDR (directory bytes
      // cap at 255 and use 0-means-256); DIB entries use the directory
      val (w, h) =
        if (isPng && size >= 24)
          (be32(b, o + 16).toInt, be32(b, o + 20).toInt)
        else (if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0)
      entries += Entry(w, h, bpp, isPng, o, size.toInt)
      i += 1
    }
    Right(Info(kind, n, entries.result()))
  }

  /** Decode the largest entry: full pixels for PNG entries, typed fence
    * for classic DIB. */
  def decodeLargest(b: Array[Byte]): Either[String, Jpeg.Image] =
    info(b).flatMap { ic =>
      if (ic.entries.isEmpty) Left("ico: no entries")
      else {
        val best = ic.entries.maxBy(e => e.width.toLong * e.height)
        if (!best.isPng) Left("ico: classic DIB entry decode unsupported (PNG entries only)")
        else Png.decode(java.util.Arrays.copyOfRange(b, best.offset, best.offset + best.size))
      }
    }

  /** Synthesis twin: an icon whose entries are real PNG payloads. */
  def synthesize(kind: String, frames: Seq[(Array[Byte], Int, Int, Int)]): Array[Byte] = {
    // frames: (pngBytes, width, height, bpp)
    require(frames.nonEmpty && frames.length <= 64)
    val out = new java.io.ByteArrayOutputStream()
    le(out, 0, 2); le(out, if (kind == "cursor") 2 else 1, 2); le(out, frames.length, 2)
    var off = 6 + 16 * frames.length
    frames.foreach { case (png, w, h, bpp) =>
      out.write(if (w >= 256) 0 else w); out.write(if (h >= 256) 0 else h)
      out.write(0); out.write(0)
      le(out, 1, 2); le(out, bpp, 2)
      le(out, png.length, 4); le(out, off, 4)
      off += png.length
    }
    frames.foreach { case (png, _, _, _) => out.write(png, 0, png.length) }
    out.toByteArray
  }
}
