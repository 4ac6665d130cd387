package graft.operators

/** Pure-JVM media codecs for the multimodal pipeline — REAL decoders for
  * the library-free formats (the container ships no image/audio codecs,
  * but netpbm, uncompressed BMP and PCM WAV are plain byte layouts):
  *
  *  - PGM (P5) / PPM (P6): binary netpbm, maxval <= 255
  *  - PNG: non-interlaced 8-bit gray/RGB (chunk walk + CRC32 + JDK
  *    Inflater + the five scanline filters)
  *  - BMP: uncompressed 24-bit BI_RGB, bottom-up rows, 4-byte row padding
  *  - WAV: RIFF/WAVE, PCM (format 1), 16-bit little-endian
  *
  * Codec-library formats (JPEG/MP3/H.264...) remain out of scope — the
  * pipeline routes unknown magics through the deterministic fallback
  * kernel (MultimodalOps) with a `decoded=false` flag instead of failing
  * the job on a poison blob.
  */
object MediaCodecs {

  final case class Image(width: Int, height: Int, channels: Int,
                         pixels: Array[Int]) { // row-major, channel-interleaved, 0..255
    def meanPixel: Double = {
      var s = 0L
      var i = 0
      while (i < pixels.length) { s += pixels(i); i += 1 }
      s.toDouble / math.max(pixels.length, 1)
    }
  }

  final case class Audio(sampleRate: Int, channels: Int,
                         samples: Array[Short]) // interleaved PCM16

  // ---- netpbm (PGM P5 / PPM P6) -----------------------------------------

  def encodePgm(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(pixels.length == width * height, "pixel count != w*h")
    val header = s"P5\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < pixels.length) {
      out(header.length + i) = (pixels(i) & 0xff).toByte
      i += 1
    }
    out
  }

  def isNetpbm(bytes: Array[Byte]): Boolean =
    bytes.length > 2 && bytes(0) == 'P' && (bytes(1) == '5' || bytes(1) == '6')

  /** Decode binary PGM/PPM. Throws IllegalArgumentException on malformed
    * input (callers decide whether to fall back). */
  def decodeNetpbm(bytes: Array[Byte]): Image = {
    require(isNetpbm(bytes), "not a P5/P6 netpbm payload")
    val channels = if (bytes(1) == '5') 1 else 3
    var pos = 2
    def skipWs(): Unit = {
      var done = false
      while (!done && pos < bytes.length) {
        val c = bytes(pos).toChar
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else done = true
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0L
      var any = false
      while (pos < bytes.length && (bytes(pos) >= '0' && bytes(pos) <= '9')) {
        v = v * 10 + (bytes(pos) - '0'); pos += 1; any = true
        // fail fast on absurd header values instead of wrapping
        require(v <= Int.MaxValue, s"netpbm header value overflows at byte $pos")
      }
      require(any, s"malformed netpbm header at byte $pos")
      v.toInt
    }
    val w = int(); val h = int(); val maxval = int()
    require(w > 0 && h > 0 && maxval > 0 && maxval <= 255,
      s"unsupported netpbm dims/maxval w=$w h=$h maxval=$maxval")
    pos += 1 // single whitespace after maxval
    // Long arithmetic: w*h*channels in Int could wrap negative for crafted
    // headers and slip past the truncation check into the allocation
    val nL = w.toLong * h * channels
    require(bytes.length - pos >= nL,
      s"truncated netpbm payload: need $nL raster bytes, have ${bytes.length - pos}")
    val n = nL.toInt
    val px = new Array[Int](n)
    var i = 0
    while (i < n) { px(i) = bytes(pos + i) & 0xff; i += 1 }
    Image(w, h, channels, px)
  }

  /** Nearest-neighbour resize — a REAL image transform (no libraries):
    * the scale path for thumbnailing before embedding. */
  def resizeNearest(img: Image, w2: Int, h2: Int): Image = {
    require(w2 > 0 && h2 > 0)
    val out = new Array[Int](w2 * h2 * img.channels)
    var y = 0
    while (y < h2) {
      val sy = math.min((y.toLong * img.height / h2).toInt, img.height - 1)
      var x = 0
      while (x < w2) {
        val sx = math.min((x.toLong * img.width / w2).toInt, img.width - 1)
        var c = 0
        while (c < img.channels) {
          out((y * w2 + x) * img.channels + c) =
            img.pixels((sy * img.width + sx) * img.channels + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Image(w2, h2, img.channels, out)
  }

  // ---- BMP (uncompressed 24-bit BI_RGB) ---------------------------------

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
  }
  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  def isBmp(bytes: Array[Byte]): Boolean =
    bytes.length > 54 && bytes(0) == 'B' && bytes(1) == 'M'

  def encodeBmp24(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == width * height * 3)
    val rowBytes = (width * 3 + 3) & ~3
    val dataSize = rowBytes * height
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'; out(1) = 'M'
    putLe32(out, 2, out.length); putLe32(out, 10, 54)
    putLe32(out, 14, 40); putLe32(out, 18, width); putLe32(out, 22, height)
    putLe16(out, 26, 1); putLe16(out, 28, 24)
    putLe32(out, 30, 0); putLe32(out, 34, dataSize)
    var y = 0
    while (y < height) {
      val srcRow = height - 1 - y // bottom-up
      var x = 0
      while (x < width) {
        val p = (srcRow * width + x) * 3
        val o = 54 + y * rowBytes + x * 3
        out(o) = (rgb(p + 2) & 0xff).toByte     // B
        out(o + 1) = (rgb(p + 1) & 0xff).toByte // G
        out(o + 2) = (rgb(p) & 0xff).toByte     // R
        x += 1
      }
      y += 1
    }
    out
  }

  def decodeBmp24(bytes: Array[Byte]): Image = {
    require(isBmp(bytes), "not a BMP payload")
    val dataOff = le32(bytes, 10)
    val w = le32(bytes, 18)
    val hRaw = le32(bytes, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    require(bpp == 24 && compression == 0,
      s"only uncompressed 24-bit BMP supported (bpp=$bpp compression=$compression)")
    require(w > 0 && h > 0, s"bad BMP dims ${w}x$hRaw")
    // dataOff comes from the payload: reject pointers outside the buffer
    // (a negative or huge offset made the Long bound below pass); row
    // stride in Long so w near 2^30 can't wrap the bound check either
    require(dataOff >= 54 && dataOff <= bytes.length,
      s"bad BMP data offset $dataOff")
    val rowBytes = (w.toLong * 3 + 3) & ~3L
    require(bytes.length >= dataOff + rowBytes * h, "truncated BMP")
    val px = new Array[Int](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val o = (dataOff + srcRow * rowBytes + x * 3).toInt
        val p = (y * w + x) * 3
        px(p) = bytes(o + 2) & 0xff     // R
        px(p + 1) = bytes(o + 1) & 0xff // G
        px(p + 2) = bytes(o) & 0xff     // B
        x += 1
      }
      y += 1
    }
    Image(w, h, 3, px)
  }

  // ---- PNG (non-interlaced 8-bit gray / RGB) ----------------------------
  // PNG is length-prefixed chunks + DEFLATE (java.util.zip ships in the
  // JDK) + per-scanline byte filters — no codec library needed for the
  // common non-interlaced 8-bit gray/truecolor case. Layout per the PNG
  // spec (RFC 2083): 8-byte signature; chunks of len(4,BE) + type(4) +
  // data + CRC32(type+data); IHDR w/h/depth/color/interlace; IDAT =
  // concatenated zlib stream of [filter byte + scanline] rows; IEND.

  private val PngSig: Array[Int] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (0 until 8).forall(i => (bytes(i) & 0xff) == PngSig(i))

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  // decoded raster cap: IHDR dims are attacker-controlled and decoupled
  // from the compressed payload size (zip bomb), so bound the allocation
  // explicitly instead of trusting the header. The cap bounds the
  // FILTERED buffer; total decode allocation is ~6x it (raw buffer +
  // 4-byte-int pixel array + inflate input copy), so 16 MiB caps a
  // poison row at ~100 MiB instead of letting an in-cap header drive an
  // uncatchable OutOfMemoryError (NonFatal does not catch OOM — the
  // poison-blob contract must fail the REQUIRE, not the allocator).
  private val MaxPngRasterBytes = 1L << 24 // 16 MiB filtered bytes

  /** Encode 8-bit gray (channels=1) or RGB (channels=3) as a minimal
    * non-interlaced PNG: filter-0 scanlines, one IDAT. */
  def encodePng(width: Int, height: Int, channels: Int,
                pixels: Array[Int]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels=$channels")
    require(pixels.length == width * height * channels, "pixel count != w*h*ch")
    val stride = width * channels
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) {
      val base = y * (stride + 1)
      raw(base) = 0 // filter: None
      var i = 0
      while (i < stride) {
        raw(base + 1 + i) = (pixels(y * stride + i) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) buf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val idat = buf.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    PngSig.foreach(out.write)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def wbe32(v: Int): Unit = {
        out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff)
      }
      wbe32(data.length)
      val t = typ.getBytes("US-ASCII")
      out.write(t, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(t, 0, 4); crc.update(data, 0, data.length)
      wbe32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    def pbe32(off: Int, v: Int): Unit = {
      ihdr(off) = ((v >>> 24) & 0xff).toByte; ihdr(off + 1) = ((v >>> 16) & 0xff).toByte
      ihdr(off + 2) = ((v >>> 8) & 0xff).toByte; ihdr(off + 3) = (v & 0xff).toByte
    }
    pbe32(0, width); pbe32(4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = (if (channels == 1) 0 else 2).toByte // gray / truecolor
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0 // deflate, adaptive, no interlace
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode a non-interlaced 8-bit gray/RGB PNG: chunk walk with CRC
    * verification, single Inflater pass into the exact expected raster
    * size, then the five scanline filters (None/Sub/Up/Average/Paeth).
    * Throws IllegalArgumentException on anything malformed, truncated,
    * oversized, or out of scope (callers degrade to the fallback row). */
  def decodePng(bytes: Array[Byte]): Image = {
    require(isPng(bytes), "not a PNG payload")
    var pos = 8
    var w = -1; var h = -1; var channels = -1
    var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      // 12L: length is attacker-controlled — Int addition could wrap
      require(pos + 8 <= bytes.length, "truncated PNG chunk header")
      val len = be32(bytes, pos)
      require(len >= 0 && pos + 12L + len <= bytes.length,
        s"truncated PNG chunk (len=$len at byte $pos)")
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == be32(bytes, pos + 8 + len),
        s"bad CRC in PNG chunk $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, s"IHDR length $len")
          w = be32(bytes, pos + 8); h = be32(bytes, pos + 12)
          val depth = bytes(pos + 16); val color = bytes(pos + 17)
          val interlace = bytes(pos + 20)
          require(depth == 8 && (color == 0 || color == 2) && interlace == 0,
            s"unsupported PNG depth=$depth color=$color interlace=$interlace")
          channels = if (color == 0) 1 else 3
          // overflow-free bound: (w*ch+1)*h can exceed Long range for
          // in-range Int dims (w,h near 2^31, ch=3) and wrap NEGATIVE,
          // sailing under the cap — divide instead of multiplying, so
          // the comparison never leaves [0, Long.MaxValue]
          require(w > 0 && h > 0 &&
            h.toLong <= MaxPngRasterBytes / (w.toLong * channels + 1),
            s"PNG dims out of bounds ${w}x$h ch=$channels")
        case "IDAT" =>
          require(w > 0, "IDAT before IHDR")
          idat.write(bytes, pos + 8, len)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks skipped
      }
      pos += 12 + len
    }
    require(w > 0 && idat.size() > 0, "missing IHDR/IDAT")
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // n == 0 with nothing to feed = truncated or dictionary-demanding
        // stream: fail instead of spinning
        require(n > 0 || inf.finished(),
          "truncated or unsupported IDAT stream")
        off += n
      }
      // the stream must be EXHAUSTED at exactly the declared raster: a
      // payload inflating beyond it would otherwise silently decode from
      // a prefix, contradicting the malformed => throw contract. A
      // 1-byte probe settles it: more output = oversized; 0 without
      // reaching finished = missing final block, equally malformed.
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        require(inf.inflate(probe) == 0,
          "IDAT inflates beyond the declared raster")
        require(inf.finished(), "truncated IDAT stream: no final deflate block")
      }
      // ...and nothing may FOLLOW the zlib stream inside IDAT either — a
      // payload with trailing junk after the stream end is just as
      // malformed as one that inflates long
      require(inf.getRemaining == 0,
        "trailing bytes after the IDAT stream end")
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt IDAT: ${e.getMessage}")
    } finally inf.end()
    require(off == raw.length,
      s"IDAT inflated to $off bytes, expected ${raw.length}")
    // unfilter scanlines (recon in place, prior = previous recon row)
    val px = new Array[Int](w * h * channels)
    val bpp = channels
    var y = 0
    while (y < h) {
      val base = y * (stride + 1)
      val filter = raw(base) & 0xff
      var i = 0
      while (i < stride) {
        val x = raw(base + 1 + i) & 0xff
        val a = if (i >= bpp) px(y * stride + i - bpp) else 0       // left
        val b = if (y > 0) px((y - 1) * stride + i) else 0          // up
        val c = if (y > 0 && i >= bpp) px((y - 1) * stride + i - bpp) else 0
        val recon = filter match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case f => throw new IllegalArgumentException(s"bad PNG filter $f")
        }
        px(y * stride + i) = recon & 0xff
        i += 1
      }
      y += 1
    }
    Image(w, h, channels, px)
  }

  // ---- WAV (RIFF, PCM 16-bit) -------------------------------------------

  def isWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 44 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  def encodeWavPcm16(sampleRate: Int, channels: Int,
                     samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putLe32(out, 4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putLe32(out, 16, 16); putLe16(out, 20, 1); putLe16(out, 22, channels)
    putLe32(out, 24, sampleRate)
    putLe32(out, 28, sampleRate * channels * 2)
    putLe16(out, 32, channels * 2); putLe16(out, 34, 16)
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putLe32(out, 40, dataSize)
    var i = 0
    while (i < samples.length) {
      putLe16(out, 44 + i * 2, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  def decodeWavPcm16(bytes: Array[Byte]): Audio = {
    require(isWav(bytes), "not a RIFF/WAVE payload")
    // walk chunks: fmt then data (tolerate extra chunks between)
    var pos = 12
    var sampleRate = -1
    var channels = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= bytes.length && (dataOff < 0 || sampleRate < 0)) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val size = le32(bytes, pos + 4)
      // 8L: the declared size is attacker-controlled — Int addition could
      // wrap negative and sail past this bound
      require(size >= 0 && pos + 8L + size <= bytes.length,
        s"truncated WAV chunk '$id'")
      if (id == "fmt ") {
        require(size >= 16, s"fmt chunk too small ($size)")
        val fmt = le16(bytes, pos + 8)
        require(fmt == 1, s"only PCM WAV supported (format=$fmt)")
        channels = le16(bytes, pos + 10)
        sampleRate = le32(bytes, pos + 12)
        val bits = le16(bytes, pos + 22)
        require(bits == 16, s"only 16-bit PCM supported (bits=$bits)")
      } else if (id == "data") {
        dataOff = pos + 8; dataLen = size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt/data chunk")
    val n = dataLen / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((bytes(dataOff + i * 2) & 0xff) |
        (bytes(dataOff + i * 2 + 1) << 8)).toShort
      i += 1
    }
    Audio(sampleRate, channels, samples)
  }
}
