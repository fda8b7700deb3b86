package graft.functions

import java.util.zip.CRC32

/** Complete pure-JDK PNG codec for 8-bit RGB images: zlib via
  * `java.util.zip`, all five scanline filters (None/Sub/Up/Average/Paeth,
  * PNG spec §6 / RFC 2083) on both the encode and decode path, chunk CRCs
  * verified. This makes the multimodal tier's decode stage REAL end to end
  * — payload bytes in, pixel values out — with zero external libraries;
  * only the learned-model embedding remains out of scope in this container
  * (pixel-statistics features in [[graft.operators.Multimodal]] are
  * computed from these decoded pixels).
  */
object PngCodec {

  final val Sig: Array[Int] = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
  private final val Bpp = 3 // 8-bit RGB

  final case class Image(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * Bpp, s"pixel buffer ${rgb.length} != $width x $height x $Bpp")
  }

  // ---- encode --------------------------------------------------------------

  /** Encode 8-bit RGB pixels as a spec-valid PNG. `filterMode` picks the
    * scanline filter: 0-4 force that filter for every row; -1 cycles
    * row % 5 (exercises every filter in one image — decode must undo each
    * exactly or the pixels come back wrong).
    */
  def encode(img: Image, filterMode: Int = 0): Array[Byte] = {
    require(filterMode >= -1 && filterMode <= 4, s"bad filterMode $filterMode")
    val stride = img.width * Bpp
    val raw = new Array[Byte]((stride + 1) * img.height)
    val prior = new Array[Byte](stride) // previous row, unfiltered
    var y = 0
    while (y < img.height) {
      val f = if (filterMode == -1) y % 5 else filterMode
      raw(y * (stride + 1)) = f.toByte
      var i = 0
      while (i < stride) {
        val cur = img.rgb(y * stride + i) & 0xFF
        val left = if (i >= Bpp) img.rgb(y * stride + i - Bpp) & 0xFF else 0
        val up = prior(i) & 0xFF
        val ul = if (i >= Bpp && y > 0) img.rgb((y - 1) * stride + i - Bpp) & 0xFF else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - (if (y > 0) up else 0)
          case 3 => cur - ((left + (if (y > 0) up else 0)) / 2)
          case 4 => cur - paeth(left, if (y > 0) up else 0, if (y > 0) ul else 0)
        }
        raw(y * (stride + 1) + 1 + i) = filtered.toByte
        i += 1
      }
      System.arraycopy(img.rgb, y * stride, prior, 0, stride)
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    Sig.foreach(out.write)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, img.width)
    putBe32(ihdr, 4, img.height)
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", Codecs.deflate(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ---- decode --------------------------------------------------------------

  /** Full pixel decode of a non-interlaced 8-bit RGB PNG (the format
    * [[encode]] writes). Returns None for anything else — truncated data,
    * bad CRCs, other color types — never fabricated pixels.
    */
  def decode(b: Array[Byte]): Option[Image] = {
    if (b.length < 8 + 25 + 12) return None
    var i = 0
    while (i < 8) { if ((b(i) & 0xFF) != Sig(i)) return None; i += 1 }
    var w = 0; var h = 0
    var seenIhdr = false
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8
    var done = false
    while (!done) {
      if (pos + 8 > b.length) return None
      val len = be32(b, pos)
      // Long arithmetic: a forged length near Int.MaxValue must fail the
      // bound here, not wrap negative and blow up in the CRC update
      if (len < 0 || pos.toLong + 12L + len > b.length) return None
      val ctype = new String(b, pos + 4, 4, "US-ASCII")
      val crc = new CRC32()
      crc.update(b, pos + 4, 4 + len)
      if (crc.getValue != (be32(b, pos + 8 + len).toLong & 0xFFFFFFFFL)) return None
      ctype match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(b, pos + 8); h = be32(b, pos + 12)
          val bitDepth = b(pos + 16) & 0xFF
          val colorType = b(pos + 17) & 0xFF
          val interlace = b(pos + 20) & 0xFF
          if (w <= 0 || h <= 0 || bitDepth != 8 || colorType != 2 || interlace != 0) return None
          seenIhdr = true
        // IHDR must be the first chunk (PNG spec §5.6): pixel data or
        // stream end before it is a malformed file, not a decodable one
        case "IDAT" => if (!seenIhdr) return None else idat.write(b, pos + 8, len)
        case "IEND" => if (!seenIhdr) return None else done = true
        case _      => () // ancillary chunk: skip
      }
      pos += 12 + len
    }
    if (!seenIhdr) return None
    // bound the inflate so a forged IHDR cannot allocate unbounded memory
    if (w.toLong * h.toLong * Bpp > Codecs.MaxInflatedBytes) return None
    val stride = w * Bpp
    val size = (stride + 1) * h
    // truncated, corrupt, or not the size the declared dims give: no image
    val raw = try Codecs.inflate(Codecs.zlib(idat.toByteArray, 0, idat.size), size, math.min(size, 1 << 20)) match {
      case Some(Codecs.Inflated(b, true)) if b.length == size => b
      case _                                                  => return None
    } catch { case _: java.io.IOException => return None }
    val rgb = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xFF
      if (f > 4) return None
      var x = 0
      while (x < stride) {
        val cur = raw(y * (stride + 1) + 1 + x) & 0xFF
        val left = if (x >= Bpp) rgb(y * stride + x - Bpp) & 0xFF else 0
        val up = if (y > 0) rgb((y - 1) * stride + x) & 0xFF else 0
        val ul = if (x >= Bpp && y > 0) rgb((y - 1) * stride + x - Bpp) & 0xFF else 0
        val value = f match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) / 2)
          case 4 => cur + paeth(left, up, ul)
        }
        rgb(y * stride + x) = value.toByte
        x += 1
      }
      y += 1
    }
    Some(Image(w, h, rgb))
  }

  /** Paeth predictor (PNG spec §6.6). */
  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ---- pixel features ------------------------------------------------------

  /** Integer luminance numerator per ITU-R BT.601: 299 R + 587 G + 114 B
    * (true luminance x 1000 — kept integral so oracles hash exactly).
    */
  @inline def lumNum(r: Int, g: Int, b: Int): Long = 299L * r + 587L * g + 114L * b

  /** Sum of per-pixel luminance numerators over the whole image. */
  def sumLuminance(img: Image): Long = {
    var s = 0L
    var i = 0
    while (i < img.rgb.length) {
      s += lumNum(img.rgb(i) & 0xFF, img.rgb(i + 1) & 0xFF, img.rgb(i + 2) & 0xFF)
      i += Bpp
    }
    s
  }

  /** 64-bit average-hash perceptual fingerprint: 8x8 block mean luminances,
    * bit set when the block is >= the global mean. Solid images hash to
    * all-ones; near-duplicate images land at small hamming distance, so
    * this plugs straight into the SimHash banding machinery for image-level
    * near-dup at scale.
    */
  def aHash64(img: Image): Long = {
    val blocks = blockLuminance(img, 8, 8)
    var mean = 0.0
    blocks.foreach(mean += _)
    mean /= 64.0
    var bits = 0L
    var i = 0
    while (i < 64) { if (blocks(i) >= mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** 64-bit DCT perceptual hash (the classic pHash construction): area-
    * resize the luminance plane to 32x32 (the same block-mean fold as
    * aHash), 2D orthonormal DCT-II, keep the 8x8 low-frequency corner
    * minus DC (63 coefficients), threshold each against their MEDIAN
    * (32nd smallest of 63; strict >), bit k of the hash = coefficient k
    * in (u-major, DC-skipped) order — bit 63 always 0. Where aHash
    * captures block-level brightness layout (and is blind to anything
    * mean-preserving), pHash captures the low-frequency spectral SHAPE:
    * robust to gamma-ish tone shifts and high-frequency noise, the
    * standard second opinion in image near-dup stacks. Same banding
    * machinery downstream (Dedup.hammingPairs64).
    *
    * Determinism: blockLuminance and the fixed-order double DCT are pure
    * functions of the pixels — same bits on every JVM/partitioning (no
    * reduce-order float hazard; the per-image loop is sequential).
    */
  def pHash64(img: Image): Long = {
    val g = blockLuminance(img, DctN, DctN)
    val d = dct2(g)
    val coefs = new Array[Double](63)
    var k = 0
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) { coefs(k) = d(u * DctN + v); k += 1 }
        v += 1
      }
      u += 1
    }
    val sorted = coefs.clone()
    java.util.Arrays.sort(sorted)
    val m = sorted(31)
    var bits = 0L
    k = 0
    while (k < 63) { if (coefs(k) > m) bits |= (1L << k); k += 1 }
    bits
  }

  private[graft] val DctN = 32

  /** Orthonormal DCT-II basis table: T(u)(x) = α(u)·cos((2x+1)uπ/2N). */
  private[graft] lazy val dctTable: Array[Array[Double]] = Array.tabulate(DctN, DctN) { (u, x) =>
    val a = if (u == 0) math.sqrt(1.0 / DctN) else math.sqrt(2.0 / DctN)
    a * math.cos((2 * x + 1) * u * math.Pi / (2 * DctN))
  }

  /** Forward 2D DCT-II of a row-major N×N plane (rows then columns). */
  private def dct2(g: Array[Double]): Array[Double] = {
    val n = DctN
    val t = new Array[Double](n * n) // t(y*n+v) = Σ_x g(y,x)·T(v,x)
    var y = 0
    while (y < n) {
      var v = 0
      while (v < n) {
        val tv = dctTable(v)
        var s = 0.0
        var x = 0
        while (x < n) { s += g(y * n + x) * tv(x); x += 1 }
        t(y * n + v) = s
        v += 1
      }
      y += 1
    }
    val out = new Array[Double](n * n) // out(u*n+v) = Σ_y t(y,v)·T(u,y)
    var u = 0
    while (u < n) {
      val tu = dctTable(u)
      var v = 0
      while (v < n) {
        var s = 0.0
        var yy = 0
        while (yy < n) { s += t(yy * n + v) * tu(yy); yy += 1 }
        out(u * n + v) = s
        v += 1
      }
      u += 1
    }
    out
  }

  /** Integer box-filter downsample by `factor`: output pixel (bx,by) is
    * the per-channel truncated mean of the covered factor x factor input
    * block (edge blocks shrink to the image bound — ceil-division output
    * dims, every input pixel contributes to exactly one output pixel).
    * Truncated integer division keeps the kernel bit-deterministic
    * across JVMs and partitionings, so resized-pixel statistics can be
    * oracle-hashed; on block-constant inputs the mean is exact and the
    * resize is closed-form. This is the thumbnail/pre-embedding step of
    * the multimodal pipeline — map-only per row, no shuffle.
    */
  def resizeBox(img: Image, factor: Int): Image = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    require(img.width > 0 && img.height > 0, "cannot resize an empty image")
    val ow = (img.width + factor - 1) / factor
    val oh = (img.height + factor - 1) / factor
    val out = new Array[Byte](ow * oh * Bpp)
    var by = 0
    while (by < oh) {
      val y0 = by * factor
      val y1 = math.min(img.height, y0 + factor)
      var bx = 0
      while (bx < ow) {
        val x0 = bx * factor
        val x1 = math.min(img.width, x0 + factor)
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = (y * img.width + x) * Bpp
            sr += img.rgb(i) & 0xFF
            sg += img.rgb(i + 1) & 0xFF
            sb += img.rgb(i + 2) & 0xFF
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        val o = (by * ow + bx) * Bpp
        out(o) = (sr / n).toByte
        out(o + 1) = (sg / n).toByte
        out(o + 2) = (sb / n).toByte
        bx += 1
      }
      by += 1
    }
    Image(ow, oh, out)
  }

  /** Pooled block-mean-luminance feature vector in [0,1] (gridW x gridH
    * blocks, row-major) — the real pixel-statistics replacement for the
    * former hash stub; a learned embedding would consume the same decoded
    * pixels.
    */
  def blockFeatures(img: Image, gridW: Int, gridH: Int): Array[Float] =
    blockLuminance(img, gridW, gridH).map(v => (v / 255000.0).toFloat)

  /** Mean luminance numerator per grid block (block pixel sets tile the
    * image: pixel (x,y) -> block (x*gridW/w, y*gridH/h)).
    */
  private def blockLuminance(img: Image, gridW: Int, gridH: Int): Array[Double] = {
    val sums = new Array[Double](gridW * gridH)
    val counts = new Array[Int](gridW * gridH)
    var y = 0
    while (y < img.height) {
      val by = y.toLong * gridH / img.height
      var x = 0
      while (x < img.width) {
        val bx = x.toLong * gridW / img.width
        val i = (y * img.width + x) * Bpp
        val idx = (by * gridW + bx).toInt
        sums(idx) += lumNum(img.rgb(i) & 0xFF, img.rgb(i + 1) & 0xFF, img.rgb(i + 2) & 0xFF)
        counts(idx) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Double](gridW * gridH)
    var i = 0
    while (i < out.length) {
      out(i) = if (counts(i) == 0) 0.0 else sums(i) / counts(i)
      i += 1
    }
    out
  }

  // ---- zlib + chunk helpers ------------------------------------------------

  private def writeChunk(out: java.io.ByteArrayOutputStream, ctype: String, data: Array[Byte]): Unit = {
    val len = data.length
    out.write(len >>> 24); out.write((len >>> 16) & 0xFF); out.write((len >>> 8) & 0xFF); out.write(len & 0xFF)
    val body = ctype.getBytes("US-ASCII") ++ data
    out.write(body, 0, body.length)
    val crc = new CRC32()
    crc.update(body)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xFF).toInt); out.write(((c >>> 16) & 0xFF).toInt)
    out.write(((c >>> 8) & 0xFF).toInt); out.write((c & 0xFF).toInt)
  }

  @inline private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) | ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  @inline private def putBe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }
}
