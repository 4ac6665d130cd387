package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps

class MultimodalSpec extends AnyFunSuite with SparkSpec {
  test("media pipeline: schema, batch extract, determinism, frame sampling") {
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = MultimodalOps.synthCorpus(spark, 200).persist()
    assert(corpus.count() == 200)
    // binary payload column + typed metadata
    val sch = corpus.schema
    assert(sch("bytes").dataType.typeName == "binary")
    assert(sch("sample_rate").dataType.typeName == "integer")

    val feats = MultimodalOps.extractFeatures(corpus)
    val rows = feats.collect()
    assert(rows.length == 200)
    assert(rows.forall(r => r.brightness >= 0.0 && r.brightness <= 1.0))
    // deterministic: second run bit-identical
    val again = MultimodalOps.extractFeatures(MultimodalOps.synthCorpus(spark, 200))
      .collect().map(r => r.media_id -> r.checksum).toMap
    rows.foreach(r => assert(again(r.media_id) == r.checksum))

    // frame sampling: offsets and sizes line up with the payload
    val frames = MultimodalOps.sampleFrames(corpus.toDF(), frameBytes = 512, stride = 4)
    val f = frames.withColumn("flen", length(col("frame")))
    assert(f.where(col("flen") > 512).count() == 0)
    assert(f.where(col("frame_idx") % 4 =!= 0).count() == 0)
    // every media contributes frame 0
    assert(frames.where(col("frame_idx") === 0).select("media_id").distinct.count() == 200)

    val resized = MultimodalOps.resizeMeta(corpus.toDF(), 64, 64)
    assert(resized.where(col("width") =!= 64 || col("height") =!= 64).count() == 0)
  }

  test("MediaCodecs: exact decodes on hand-built fixtures + roundtrips") {
    import graft.operators.MediaCodecs._
    // PGM: 2x2, pixels 0,64,128,255 -> mean 111.75
    val pgm = encodePgm(2, 2, Array(0, 64, 128, 255))
    val img = decodeNetpbm(pgm)
    assert(img.width == 2 && img.height == 2 && img.channels == 1)
    assert(img.pixels.toSeq == Seq(0, 64, 128, 255))
    assert(math.abs(img.meanPixel - 111.75) < 1e-12)
    // comments + arbitrary whitespace in header parse correctly
    val withComment = ("P5\n# a comment\n 2  2 \n255\n").getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4)
    assert(decodeNetpbm(withComment).pixels.toSeq == Seq(1, 2, 3, 4))
    // BMP: 3x2 RGB roundtrip (exercises bottom-up rows + padding)
    val rgb = Array.tabulate(3 * 2 * 3)(i => (i * 17) % 256)
    val bmp = encodeBmp24(3, 2, rgb)
    val back = decodeBmp24(bmp)
    assert(back.width == 3 && back.height == 2 && back.pixels.toSeq == rgb.toSeq)
    // WAV: PCM16 roundtrip incl. negative samples
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 5)
    val wav = encodeWavPcm16(16000, 1, samples)
    val au = decodeWavPcm16(wav)
    assert(au.sampleRate == 16000 && au.channels == 1)
    assert(au.samples.toSeq == samples.toSeq)
    // resize: nearest-neighbour 2x2 -> 4x4 replicates quadrant pixels
    val up = resizeNearest(Image(2, 2, 1, Array(10, 20, 30, 40)), 4, 4)
    assert(up.pixels.toSeq == Seq(10, 10, 20, 20, 10, 10, 20, 20,
      30, 30, 40, 40, 30, 30, 40, 40))
    // malformed payloads throw with informative messages
    intercept[IllegalArgumentException](decodeNetpbm("P5\n2 2\n255\nXY".getBytes))
    intercept[IllegalArgumentException](decodeWavPcm16(wav.take(30)))
  }

  test("real decode path: magic dispatch, fallback flag, audio -> kernels") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = MultimodalOps.synthCorpus(spark, 150)
    val feats = MultimodalOps.extractFeatures(corpus).collect()
    val byKind = feats.groupBy(_.kind)
    // images (real PGM) and audio (real WAV) decode; raw video falls back
    assert(byKind("image").forall(f => f.decoded && f.dec_width > 0 &&
      f.dec_height > 0))
    assert(byKind("audio").forall(f => f.decoded && f.dec_sample_rate >= 8000))
    assert(byKind("video").forall(f => !f.decoded))
    // decoded image brightness equals meanPixel/255 of the ORIGINAL pixels
    val m0 = corpus.filter(_.kind == "image").head()
    val img0 = graft.operators.MediaCodecs.decodeNetpbm(m0.bytes)
    val f0 = feats.find(_.media_id == m0.media_id).get
    assert(math.abs(f0.brightness - img0.meanPixel / 255.0) < 1e-12)
    // decoded audio feeds the univariate kernels end to end
    val sig = MultimodalOps.audioSignals(corpus)
    assert(sig.count() == byKind("audio").length)
    val ent = sig.select(col("media_id"),
      graft.functions.feature("spect_entropy", col("signal"),
        graft.functions.FeatureParams(sfreq = 16000.0)).as("e"))
      .where(col("e").isNotNull)
    assert(ent.count() == sig.count())
    // a 440 Hz tone has LOW spectral entropy vs white noise
    assert(ent.agg(avg("e")).head.getDouble(0) < 5.0)
  }

  test("PNG codec: gray/RGB roundtrip, all five scanline filters decoded, " +
    "poison PNGs (bad CRC, truncated IDAT, zip-bomb dims) degrade safely") {
    import graft.operators.MediaCodecs
    // roundtrip through our own encoder (filter-0, single IDAT)
    val gray = Array.tabulate(8 * 8)(i => (i * 31) % 256)
    val g2 = MediaCodecs.decodePng(MediaCodecs.encodePng(8, 8, 1, gray))
    assert(g2.width == 8 && g2.height == 8 && g2.channels == 1)
    assert(g2.pixels.sameElements(gray))
    val rgb = Array.tabulate(5 * 3 * 3)(i => (i * 7 + 13) % 256)
    val c2 = MediaCodecs.decodePng(MediaCodecs.encodePng(5, 3, 3, rgb))
    assert(c2.channels == 3 && c2.pixels.sameElements(rgb))

    // hand-filter a 4x5 gray image with every filter type (one per row)
    // and deflate it directly — exercises Sub/Up/Average/Paeth recon
    val w = 4; val h = 5
    val px = Array.tabulate(w * h)(i => (i * 53 + 11) % 256)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new Array[Byte]((w + 1) * h)
    for (y <- 0 until h) {
      val f = y % 5
      raw(y * (w + 1)) = f.toByte
      for (x <- 0 until w) {
        val cur = px(y * w + x)
        val a = if (x > 0) px(y * w + x - 1) else 0
        val b = if (y > 0) px((y - 1) * w + x) else 0
        val c = if (x > 0 && y > 0) px((y - 1) * w + x - 1) else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (w + 1) + 1 + x) = (filtered & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) bos.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    // splice the hand-filtered IDAT into an encoder-produced container
    val container = MediaCodecs.encodePng(w, h, 1, new Array[Int](w * h))
    def be32(v: Int) = Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes, 0, 4); crc.update(data, 0, data.length)
      be32(data.length) ++ typ.getBytes ++ data ++ be32(crc.getValue.toInt)
    }
    val ihdrEnd = 8 + 12 + 13 // sig + IHDR chunk
    val handPng = container.take(ihdrEnd) ++
      chunk("IDAT", bos.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val dec = MediaCodecs.decodePng(handPng)
    assert(dec.pixels.sameElements(px),
      "all-filter scanlines must reconstruct exactly")

    // poison variants degrade via IllegalArgumentException
    val good = MediaCodecs.encodePng(8, 8, 1, gray)
    val badCrc = good.clone(); badCrc(badCrc.length - 5) = 0x55.toByte
    intercept[IllegalArgumentException](MediaCodecs.decodePng(badCrc))
    // IHDR declaring 65535x65535 with a VALID CRC: must die on the
    // raster cap, not the checksum
    val bombIhdr = good.slice(16, 29)
    System.arraycopy(be32(65535), 0, bombIhdr, 0, 4)
    System.arraycopy(be32(65535), 0, bombIhdr, 4, 4)
    val bomb = good.take(8) ++ chunk("IHDR", bombIhdr) ++ good.drop(ihdrEnd)
    intercept[IllegalArgumentException](MediaCodecs.decodePng(bomb))
    val truncated = good.take(good.length - 20)
    intercept[IllegalArgumentException](MediaCodecs.decodePng(truncated))
    // Long-overflow dims with a VALID CRC: for w=h=Int.MaxValue, color=2,
    // the multiplied bound (w*3+1)*h wraps NEGATIVE and sails under the
    // cap — the division-form bound must reject with the IAE contract,
    // not a ~2 GiB allocation attempt (ADVICE r5)
    val rgbPng = MediaCodecs.encodePng(2, 2, 3, Array.fill(12)(1))
    val wrapIhdr = rgbPng.slice(16, 29)
    System.arraycopy(be32(Int.MaxValue), 0, wrapIhdr, 0, 4)
    System.arraycopy(be32(Int.MaxValue), 0, wrapIhdr, 4, 4)
    val wrapped = rgbPng.take(8) ++ chunk("IHDR", wrapIhdr) ++ rgbPng.drop(ihdrEnd)
    intercept[IllegalArgumentException](MediaCodecs.decodePng(wrapped))
    // IDAT inflating BEYOND the declared raster must throw, not decode a
    // silent prefix (ADVICE r5): deflate raster-plus-junk under the 8x8 IHDR
    val overRaw = new Array[Byte]((8 + 1) * 8 + 32)
    val defl2 = new java.util.zip.Deflater()
    defl2.setInput(overRaw); defl2.finish()
    val bos2 = new java.io.ByteArrayOutputStream()
    while (!defl2.finished()) bos2.write(tmp, 0, defl2.deflate(tmp))
    defl2.end()
    val overPng = good.take(ihdrEnd) ++ chunk("IDAT", bos2.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val overErr = intercept[IllegalArgumentException](
      MediaCodecs.decodePng(overPng))
    assert(overErr.getMessage.contains("beyond the declared raster"))
    // junk AFTER the zlib stream end inside IDAT is equally malformed —
    // must throw, not silently decode the valid prefix
    val exactRaw = new Array[Byte]((8 + 1) * 8)
    val defl3 = new java.util.zip.Deflater()
    defl3.setInput(exactRaw); defl3.finish()
    val bos3 = new java.io.ByteArrayOutputStream()
    while (!defl3.finished()) bos3.write(tmp, 0, defl3.deflate(tmp))
    defl3.end()
    val trailPng = good.take(ihdrEnd) ++
      chunk("IDAT", bos3.toByteArray ++ Array.fill(7)(0x5a.toByte)) ++
      chunk("IEND", Array.emptyByteArray)
    val trailErr = intercept[IllegalArgumentException](
      MediaCodecs.decodePng(trailPng))
    assert(trailErr.getMessage.contains("trailing bytes"))
    // a stream that yields exactly the raster but never reaches its final
    // deflate block (sync-flushed, never finished) is truncated, not
    // oversized
    val defl4 = new java.util.zip.Deflater()
    defl4.setInput(exactRaw)
    val bos4 = new java.io.ByteArrayOutputStream()
    var flushed = tmp.length
    while (flushed == tmp.length) {
      flushed = defl4.deflate(tmp, 0, tmp.length, java.util.zip.Deflater.SYNC_FLUSH)
      bos4.write(tmp, 0, flushed)
    }
    defl4.end()
    val openPng = good.take(ihdrEnd) ++ chunk("IDAT", bos4.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val openErr = intercept[IllegalArgumentException](
      MediaCodecs.decodePng(openPng))
    assert(openErr.getMessage.contains("truncated IDAT stream"), openErr.getMessage)
    // and through the pipeline they land on the fallback row
    import spark.implicits._
    import graft.operators.MultimodalOps.Media
    val out = MultimodalOps.extractFeatures(Seq(
      Media(1L, "image", good, -1, -1, -1, "s"),
      Media(2L, "image", badCrc, -1, -1, -1, "s")).toDS()).collect()
    assert(out.find(_.media_id == 1L).get.decoded &&
      out.find(_.media_id == 1L).get.dec_width == 8)
    assert(!out.find(_.media_id == 2L).get.decoded)
  }

  test("poison payloads degrade to the fallback row, never fail the job " +
    "(crafted magic bytes driving decoder index/alloc paths)") {
    import spark.implicits._
    import graft.operators.MultimodalOps.Media
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // BMP with a hugely negative data offset (defeated the Int bound)
    val badBmp = {
      val b = new Array[Byte](60)
      b(0) = 'B'; b(1) = 'M'
      System.arraycopy(le32(-1000000000), 0, b, 10, 4)
      System.arraycopy(le32(2), 0, b, 18, 4)  // w
      System.arraycopy(le32(2), 0, b, 22, 4)  // h
      b(28) = 24                              // bpp
      b
    }
    // WAV whose first chunk declares a near-Int.Max size (Int wrap)
    val badWav = {
      val b = new Array[Byte](64)
      "RIFF".getBytes.copyToArray(b, 0)
      "WAVE".getBytes.copyToArray(b, 8)
      "junk".getBytes.copyToArray(b, 12)
      System.arraycopy(le32(0x7ffffff0), 0, b, 16, 4)
      b
    }
    // netpbm whose header dims multiply past Int.MaxValue
    val badPgm = "P5\n65536 32768\n255\n".getBytes ++ Array.fill(8)(1.toByte)
    // empty payload (division guard in the fallback stub)
    val rows = Seq(
      Media(1L, "image", badBmp, -1, -1, -1, "s"),
      Media(2L, "audio", badWav, -1, -1, -1, "s"),
      Media(3L, "image", badPgm, -1, -1, -1, "s"),
      Media(4L, "image", Array.empty[Byte], -1, -1, -1, "s")).toDS()
    val out = graft.operators.MultimodalOps.extractFeatures(rows).collect()
    assert(out.length == 4)
    out.foreach { f =>
      assert(!f.decoded, s"media ${f.media_id} must fall back")
      assert(!f.brightness.isNaN, s"media ${f.media_id} brightness NaN")
    }
  }
}
