package graft.codec

/** Minimal RIFF/WAVE PCM codec — the audio leg of the multimodal ops made
  * real (the image leg is [[Jpeg]]/[[CcittG4]]): a crawl's audio payloads
  * are dominated by PCM WAV wherever they aren't lossy-compressed, and
  * parsing it needs no external library. 8-bit (unsigned offset-binary),
  * 16-bit, and 24-bit little-endian PCM, mono or stereo — every depth
  * normalizes to signed 16-bit samples (8-bit shifts up, 24-bit keeps
  * its top 16 bits via arithmetic shift, i.e. floor division, so SQL
  * oracles replay it), and 32-bit IEEE-float (format 3, round 5) scales
  * by 32767 with round-half-even (Math.rint — what the JDK float
  * converter does, so the javax.sound differential is exact) and clamps
  * to the signed-16 range; any other format code / bit depth returns
  * `Left` (error-as-data) — the honest fence where MP3/AAC/Opus would
  * need real entropy decoders.
  *
  * The chunk walk honors the RIFF rules a naive header cast gets wrong:
  * chunks are word-aligned (odd sizes pad a byte), `fmt ` and `data` may
  * appear after unknown chunks (LIST, fact, ...), and a WAVE_FORMAT_EXTENSIBLE
  * (0xFFFE) wrapper with a PCM sub-format GUID is accepted as PCM.
  */
object Wav {
  import Bytes.{le, le16, le32}

  final case class Audio(channels: Int, sampleRate: Int, bitsPerSample: Int,
      samples: Array[Short]) { // normalized signed 16-bit, interleaved if stereo
    def nFrames: Int = samples.length / channels
  }

  def isWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'


  /** Parse a PCM WAV file. Never throws on malformed input. */
  def decode(b: Array[Byte]): Either[String, Audio] =
    try decodeImpl(b)
    catch { case e: Exception => Left(s"wav: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def decodeImpl(b: Array[Byte]): Either[String, Audio] = {
    if (!isWav(b)) return Left("wav: not RIFF/WAVE")
    var p = 12
    var fmtCode = -1; var channels = -1; var rate = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (p + 8 <= b.length && (dataOff < 0 || fmtCode < 0)) {
      val id = new String(b, p, 4, "US-ASCII")
      val size = le32(b, p + 4)
      if (size < 0 || size > Int.MaxValue || p + 8 + size > b.length)
        return Left(s"wav: chunk '$id' overruns file")
      val sz = size.toInt
      id match {
        case "fmt " =>
          if (sz < 16) return Left("wav: fmt chunk too short")
          fmtCode = le16(b, p + 8)
          channels = le16(b, p + 10)
          rate = le32(b, p + 12).toInt
          bits = le16(b, p + 22)
          if (fmtCode == 0xfffe) { // WAVE_FORMAT_EXTENSIBLE: sub-format GUID
            if (sz < 40) return Left("wav: extensible fmt too short")
            fmtCode = le16(b, p + 8 + 24)
          }
        case "data" =>
          dataOff = p + 8; dataLen = sz
        case _ => () // LIST, fact, cue, ...: skip
      }
      p += 8 + sz + (sz & 1) // word alignment
    }
    if (fmtCode < 0) return Left("wav: no fmt chunk")
    if (dataOff < 0) return Left("wav: no data chunk")
    if (fmtCode != 1 && fmtCode != 3)
      return Left(s"wav: format $fmtCode unsupported (PCM/float only)")
    if (fmtCode == 3 && bits != 32)
      return Left("wav: float format requires 32-bit samples")
    if (fmtCode == 1 && bits != 8 && bits != 16 && bits != 24)
      return Left(s"wav: $bits-bit samples unsupported (8/16/24 only)")
    if (channels != 1 && channels != 2) return Left(s"wav: $channels channels unsupported")
    if (rate <= 0) return Left("wav: bad sample rate")
    // normalize every depth to signed 16-bit: 8-bit PCM is UNSIGNED
    // (offset-binary, per the format), 24-bit keeps its top 16 bits
    // (arithmetic shift = floor division, so SQL oracles replay it)
    val n = dataLen / (bits / 8)
    val samples = new Array[Short](n)
    var i = 0
    bits match {
      case 8 =>
        while (i < n) {
          samples(i) = ((((b(dataOff + i) & 0xff)) - 128) << 8).toShort
          i += 1
        }
      case 16 =>
        while (i < n) {
          samples(i) = ((b(dataOff + 2 * i) & 0xff) | (b(dataOff + 2 * i + 1) << 8)).toShort
          i += 1
        }
      case 24 =>
        while (i < n) {
          val v = (b(dataOff + 3 * i) & 0xff) | ((b(dataOff + 3 * i + 1) & 0xff) << 8) |
            (b(dataOff + 3 * i + 2) << 16) // sign-extends
          samples(i) = (v >> 8).toShort
          i += 1
        }
      case _ => // 32-bit IEEE float
        while (i < n) {
          val bits32 = le32(b, dataOff + 4 * i).toInt
          val f = java.lang.Float.intBitsToFloat(bits32)
          val scaled =
            if (f.isNaN) 0L
            else Math.rint(f.toDouble * 32767.0).toLong
          samples(i) = (if (scaled > 32767L) 32767 else if (scaled < -32768L) -32768
            else scaled.toInt).toShort
          i += 1
        }
    }
    Right(Audio(channels, rate, bits, samples))
  }

  /** Encode 32-bit IEEE-float WAV (format 3) — the float twin for the
    * javax.sound differential and oracle fixtures. */
  def encodeFloat(samples: Array[Float], channels: Int, sampleRate: Int): Array[Byte] = {
    require(channels == 1 || channels == 2)
    val dataLen = samples.length * 4
    val out = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(3).putShort(channels.toShort).putInt(sampleRate)
    out.putInt(sampleRate * channels * 4).putShort((channels * 4).toShort).putShort(32)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(f => out.putInt(java.lang.Float.floatToIntBits(f)))
    out.array()
  }

  /** Encode 16-bit PCM (interleaved if stereo) as a canonical WAV file. */
  def encode(samples: Array[Short], channels: Int, sampleRate: Int): Array[Byte] = {
    require(channels == 1 || channels == 2, "mono or stereo only")
    require(samples.length % channels == 0, "sample count not a channel multiple")
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def put4(p: Int, s: String): Unit = { var i = 0; while (i < 4) { out(p + i) = s.charAt(i).toByte; i += 1 } }
    put4(0, "RIFF"); le(out, 4, 36 + dataLen, 4); put4(8, "WAVE")
    put4(12, "fmt "); le(out, 16, 16, 4)
    le(out, 20, 1, 2) // PCM
    le(out, 22, channels, 2)
    le(out, 24, sampleRate, 4)
    le(out, 28, sampleRate * channels * 2, 4) // byte rate
    le(out, 32, channels * 2, 2) // block align
    le(out, 34, 16, 2) // bits
    put4(36, "data"); le(out, 40, dataLen, 4)
    var i = 0
    while (i < samples.length) {
      le(out, 44 + 2 * i, samples(i) & 0xffff, 2)
      i += 1
    }
    out
  }

  /** Encode a raw PCM payload (already little-endian at the given depth)
    * under a canonical WAV header — the fixture writer for the 8/24-bit
    * decode paths ([[encode]] is the 16-bit sample-level twin). */
  def encodePcm(payload: Array[Byte], bits: Int, channels: Int, sampleRate: Int): Array[Byte] = {
    require(bits == 8 || bits == 16 || bits == 24, "8/16/24-bit only")
    require(channels == 1 || channels == 2, "mono or stereo only")
    val out = new Array[Byte](44 + payload.length)
    def put4(p: Int, s: String): Unit = { var i = 0; while (i < 4) { out(p + i) = s.charAt(i).toByte; i += 1 } }
    put4(0, "RIFF"); le(out, 4, 36 + payload.length, 4); put4(8, "WAVE")
    put4(12, "fmt "); le(out, 16, 16, 4); le(out, 20, 1, 2); le(out, 22, channels, 2)
    le(out, 24, sampleRate, 4); le(out, 28, sampleRate * channels * bits / 8, 4)
    le(out, 32, channels * bits / 8, 2); le(out, 34, bits, 2)
    put4(36, "data"); le(out, 40, payload.length, 4)
    payload.copyToArray(out, 44)
    out
  }

  /** Integer box decimation — the sample-rate normalization every audio
    * training pipeline runs before feature extraction (writ large:
    * 44.1k/48k crawl audio down to a 16k model rate). Each output sample
    * is the FLOOR MEAN of `factor` consecutive input samples (the
    * anti-aliasing box filter; a trailing partial window averages what
    * remains), and the rate divides by the factor. Exact integer math,
    * so SQL oracles replay it with a group-by on i / factor. Mono only —
    * stereo callers split channels first. */
  def decimate(a: Audio, factor: Int): Audio = {
    require(factor >= 1, "positive decimation factor")
    require(a.channels == 1, "decimate is mono-only; split channels first")
    if (factor == 1) return a
    val n = (a.samples.length + factor - 1) / factor
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      var sum = 0L
      val from = i * factor
      val to = math.min(from + factor, a.samples.length)
      var j = from
      while (j < to) { sum += a.samples(j); j += 1 }
      // floorDiv: negative sums round toward negative infinity, the same
      // integer map DuckDB's floor(x / n) replays
      out(i) = math.floorDiv(sum, (to - from).toLong).toShort
      i += 1
    }
    Audio(1, a.sampleRate / factor, a.bitsPerSample, out)
  }

  /** Signal-quality features beyond [[features]]'s energy triple — the
    * audio-curation gates (dead-air detection, clipping damage, voicing
    * proxy), all exact integers so SQL oracles replay them:
    *   - zero crossings: transitions of the sample sign bit (>= 0 vs < 0)
    *     between consecutive samples — the classic spectral-centroid
    *     proxy separating tones/speech from noise;
    *   - longest silence run: max consecutive samples with
    *     |s| <= silenceThresh (dead-air / truncated-recording signal);
    *   - clipped count: samples with |s| >= clipThresh (recording-chain
    *     damage).
    * Interleaved stereo is analyzed as the sample stream (channel
    * handling is the caller's split). */
  def analysis(a: Audio, silenceThresh: Int = 100, clipThresh: Int = 990): (Long, Long, Long) = {
    var zc = 0L
    var maxRun = 0L; var run = 0L
    var clipped = 0L
    var i = 0
    val n = a.samples.length
    while (i < n) {
      val s = a.samples(i).toInt
      if (i > 0 && ((s >= 0) != (a.samples(i - 1) >= 0))) zc += 1
      if (math.abs(s) <= silenceThresh) { run += 1; if (run > maxRun) maxRun = run }
      else run = 0
      if (math.abs(s) >= clipThresh) clipped += 1
      i += 1
    }
    (zc, maxRun, clipped)
  }

  /** The feature triple the curation queries pin: exact integer energy
    * (sum of squared samples), peak magnitude, and floor-division
    * duration in microseconds. */
  def features(a: Audio): (Long, Long, Long) = {
    var energy = 0L; var peak = 0L
    var i = 0
    while (i < a.samples.length) {
      val s = a.samples(i).toLong
      energy += s * s
      val m = math.abs(s)
      if (m > peak) peak = m
      i += 1
    }
    (energy, peak, a.nFrames.toLong * 1000000L / a.sampleRate)
  }
}
