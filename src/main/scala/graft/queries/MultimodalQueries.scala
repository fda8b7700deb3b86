package graft
package queries

import graft.operators.{Dedup, Multimodal, ScanPar}
import graft.queries.Shared.pq
import org.apache.spark.sql.functions._

/** `m_*`: multimodal media decode and near-duplicate detection over
  * payloads synthesized from the scale dir's tables, with exact DuckDB
  * oracles. */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // REAL header decode (PNG IHDR / JPEG SOF), oracle = the
    // dimension arithmetic the generated headers carry. These payloads are
    // header-only (no pixel data), so featurize reports empty features —
    // the pixel paths are oracle-checked by m_media_pixels/m_jpeg_pixels.
    Query("m_media_features", (s, dir) => {
      import s.implicits._
      val mediaUdf = udf { (id: Long) =>
        val w = (id % 640).toInt + 1
        val h = ((id * 7) % 480).toInt + 1
        if (id % 2 == 0) Multimodal.makePng(w, h) else Multimodal.makeJpeg(w, h)
      }
      val media = s.read.parquet(pq(dir, "documents"))
        .select(
          $"doc_id".as("id"),
          mediaUdf($"doc_id").as("media"),
          when($"doc_id" % 2 === 0, "image/png").otherwise("image/jpeg").as("mime")
        )
        .as[Multimodal.MediaRow]
      Multimodal
        .extractFeatures(media)
        .groupBy($"codec")
        .agg(
          count(lit(1)).as("n"),
          sum($"n_bytes").as("total_bytes"),
          min($"width").as("min_w"),
          max($"width").as("max_w"),
          min($"height").as("min_h"),
          max($"height").as("max_h")
        )
        .orderBy($"codec")
    },
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec,
        |         CAST(doc_id % 640 + 1 AS INTEGER) AS w,
        |         CAST((doc_id * 7) % 480 + 1 AS INTEGER) AS h
        |  FROM documents)
        |SELECT codec, count(*) AS n,
        |  CAST(count(*) * CASE WHEN codec = 'png' THEN 45 ELSE 41 END AS BIGINT) AS total_bytes,
        |  min(w) AS min_w, max(w) AS max_w, min(h) AS min_h, max(h) AS max_h
        |FROM m GROUP BY codec ORDER BY codec""".stripMargin),
    Query("m_media_pixels", (s, dir) => {
      import s.implicits._
      // REAL pixel round trip, oracle-checked: per doc, build an actual
      // 8-bit RGB image (even ids solid, odd ids two-band; colors and dims
      // closed-form in doc_id), PNG-encode it with a DIFFERENT scanline
      // filter per row (None/Sub/Up/Average/Paeth all exercised), fully
      // decode (zlib inflate + defilter + CRCs), and sum per-pixel
      // luminance numerators. The oracle recomputes the sums as pure
      // DuckDB arithmetic — one wrong byte anywhere in the codec path
      // breaks the hash. Even ids are solid, so their aHash64 must be
      // all-ones (every 8x8 block equals the global mean; dims >= 8 keep
      // every block populated).
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val w = (id % 16 + 8).toInt
        val h = ((id * 3) % 15 + 8).toInt
        val c1 = ((id * 3 % 256).toInt, (id * 5 % 256).toInt, (id * 7 % 256).toInt)
        val c2 = ((id * 11 % 256).toInt, (id * 13 % 256).toInt, (id * 17 % 256).toInt)
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          val (r, g, b) = if (id % 2 == 0 || y < h / 2) c1 else c2
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
            x += 1
          }
          y += 1
        }
        PngCodec.encode(PngCodec.Image(w, h, rgb), filterMode = -1)
      }
      // one decode per row: luminance and aHash come from the same decoded
      // image (two separate UDFs would run the inflate+defilter twice)
      val featUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png) match {
          case Some(img) => Array(PngCodec.sumLuminance(img), PngCodec.aHash64(img))
          case None      => Array(-1L, 0L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featUdf(pngUdf($"doc_id")).as("f"))
        .select($"doc_id", $"f" (0).as("lum"), $"f" (1).as("ahash"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"lum").as("sum_lum"),
          sum(when($"lum" === -1L, 1L).otherwise(0L)).as("n_bad_decode"),
          sum(when($"doc_id" % 2 === 0 && $"ahash" =!= -1L, 1L).otherwise(0L))
            .as("n_solid_ahash_wrong")
        )
    },
      """WITH m AS (
        |  SELECT doc_id,
        |    doc_id % 16 + 8 AS w,
        |    (doc_id*3) % 15 + 8 AS h,
        |    299*((doc_id*3) % 256) + 587*((doc_id*5) % 256) + 114*((doc_id*7) % 256) AS lum1,
        |    299*((doc_id*11) % 256) + 587*((doc_id*13) % 256) + 114*((doc_id*17) % 256) AS lum2
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN w*h*lum1
        |                ELSE w*((h//2)*lum1 + (h - h//2)*lum2) END) AS BIGINT) AS sum_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode,
        |  CAST(0 AS BIGINT) AS n_solid_ahash_wrong
        |FROM m""".stripMargin),
    Query("m_image_resize", (s, dir) => {
      import s.implicits._
      // thumbnail tier of the multimodal pipeline, oracle-checked
      // through the FULL path: synthesize a w x h RGB image whose f x f
      // blocks are solid (colors closed-form in (doc_id, bx, by)),
      // PNG-encode with cycling scanline filters, fully decode,
      // box-downsample by the per-doc factor (2 or 3), and sum
      // resized-pixel luminance. Block-constant inputs make the
      // truncated-mean resize exact, so the oracle recomputes the
      // resized image as pure per-block arithmetic (an unnest(range)
      // grid in DuckDB); edge blocks (w, h not multiples of f) are
      // exercised by construction (w, h span 8..17 against f in {2,3}).
      // One wrong byte in encode, decode, or the resize kernel breaks
      // the hash. Map-only: one UDF pass, the only shuffle is the
      // final 1-row aggregate.
      import graft.functions.PngCodec
      val resUdf = udf { (id: Long) =>
        val f = (2 + id % 2).toInt
        val w = (id % 10 + 8).toInt
        val h = ((id * 3) % 10 + 8).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bx = x / f; val by = y / f
            val i = (y * w + x) * 3
            rgb(i) = ((id * 3 + bx * 7 + by * 11) % 256).toByte
            rgb(i + 1) = ((id * 5 + bx * 13 + by * 17) % 256).toByte
            rgb(i + 2) = ((id * 7 + bx * 19 + by * 23) % 256).toByte
            x += 1
          }
          y += 1
        }
        val png = PngCodec.encode(PngCodec.Image(w, h, rgb), filterMode = -1)
        PngCodec.decode(png) match {
          case Some(img) =>
            val r = PngCodec.resizeBox(img, f)
            Array(r.width.toLong, r.height.toLong, PngCodec.sumLuminance(r))
          case None => Array(-1L, -1L, -1L)
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", resUdf($"doc_id").as("r"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"r" (0)).as("sum_w"),
          sum($"r" (1)).as("sum_h"),
          sum($"r" (2)).as("sum_lum"),
          sum(when($"r" (0) === -1L, 1L).otherwise(0L)).as("n_bad")
        )
    },
      // resize replay: output dims are ceil-division block grids; each
      // resized pixel is exactly the planted per-block color (block-
      // constant input makes the truncated mean exact), so the luminance
      // sum is the same (doc, bx, by) arithmetic over an unnest(range)
      // grid
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 2 AS f, doc_id % 10 + 8 AS w,
        |         (doc_id * 3) % 10 + 8 AS h
        |  FROM documents),
        |g AS (SELECT doc_id, f, (w + f - 1) // f AS bw, (h + f - 1) // f AS bh FROM v),
        |gx AS (SELECT doc_id, bh, unnest(range(0, bw)) AS bx FROM g),
        |px AS (SELECT doc_id, bx, unnest(range(0, bh)) AS by FROM gx),
        |lm AS (
        |  SELECT 299 * ((doc_id * 3 + bx * 7 + by * 11) % 256)
        |    + 587 * ((doc_id * 5 + bx * 13 + by * 17) % 256)
        |    + 114 * ((doc_id * 7 + bx * 19 + by * 23) % 256) AS lum
        |  FROM px)
        |SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_images,
        |  CAST((SELECT sum(bw) FROM g) AS BIGINT) AS sum_w,
        |  CAST((SELECT sum(bh) FROM g) AS BIGINT) AS sum_h,
        |  CAST((SELECT sum(lum) FROM lm) AS BIGINT) AS sum_lum,
        |  CAST(0 AS BIGINT) AS n_bad""".stripMargin),
    Query("m_jpeg_pixels", (s, dir) => {
      import s.implicits._
      // REAL JPEG entropy decode, oracle-checked: per doc, (a) a grayscale
      // baseline JPEG whose 8x8 blocks carry closed-form values (bw x bh
      // grid, bw/bh/values all formulas of doc_id; every 4th doc adds a
      // restart interval so DRI/RSTn and DC-predictor resets are driven
      // from the driver surface), and (b) a solid-color YCbCr 4:4:4 JPEG.
      // Both fully decode through JpegCodec (Huffman + dequant + IDCT) and
      // reduce to luminance sums. Exactness argument: block-constant
      // blocks are DC-only and the encoder's Q(0,0)=8 makes the quantized
      // DC v-128 with zero error, so decoded gray pixels equal v exactly
      // and decoded color pixels equal the integer fixed-point YCbCr
      // transform of the planted constants — both sides pure arithmetic
      // in DuckDB. One wrong bit anywhere in marker parse, Huffman
      // tables, bit unstuffing, dequant, IDCT, or color transform breaks
      // the hash.
      import graft.functions.{JpegCodec, PngCodec}
      val grayUdf = udf { (id: Long) =>
        val bw = (id % 4 + 1).toInt; val bh = ((id * 3) % 4 + 1).toInt
        val w = bw * 8; val h = bh * 8
        val pix = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            pix(y * w + x) = ((id * 7 + (x / 8) * 13 + (y / 8) * 29) % 256).toByte
            x += 1
          }
          y += 1
        }
        JpegCodec.encodeGray(w, h, pix, restartInterval = if (id % 4 == 0) 1 else 0)
      }
      val colorUdf = udf { (id: Long) =>
        val yv = ((id * 11) % 256).toByte
        val cb = ((id * 13) % 256).toByte
        val cr = ((id * 17) % 256).toByte
        JpegCodec.encodeYcc444(16, 16,
          Array.fill(256)(yv), Array.fill(256)(cb), Array.fill(256)(cr))
      }
      val lumUdf = udf((jpg: Array[Byte]) =>
        JpegCodec.decode(jpg).map(PngCodec.sumLuminance).getOrElse(-1L))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          lumUdf(grayUdf($"doc_id")).as("glum"),
          lumUdf(colorUdf($"doc_id")).as("clum"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"glum").as("sum_gray_lum"),
          sum($"clum").as("sum_color_lum"),
          sum(when($"glum" === -1L || $"clum" === -1L, 1L).otherwise(0L))
            .as("n_bad_decode"))
    },
      """WITH g AS (
        |  SELECT doc_id, doc_id % 4 + 1 AS bw, (doc_id*3) % 4 + 1 AS bh FROM documents),
        |cells AS (
        |  SELECT g.doc_id, 64 * 1000 * ((g.doc_id*7 + i.i*13 + j.j*29) % 256) AS cell_lum
        |  FROM g, (VALUES (0),(1),(2),(3)) i(i), (VALUES (0),(1),(2),(3)) j(j)
        |  WHERE i.i < g.bw AND j.j < g.bh),
        |gray AS (SELECT doc_id, CAST(sum(cell_lum) AS BIGINT) AS glum FROM cells GROUP BY 1),
        |c AS (
        |  SELECT doc_id, (doc_id*11) % 256 AS yv,
        |         (doc_id*13) % 256 AS cbv, (doc_id*17) % 256 AS crv
        |  FROM documents),
        |crgb AS (
        |  SELECT doc_id,
        |    GREATEST(0, LEAST(255, yv + CAST(floor((91881*(crv-128)+32768)/65536.0) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, yv - CAST(floor((22554*(cbv-128)+46802*(crv-128)+32768)/65536.0) AS BIGINT))) AS gg,
        |    GREATEST(0, LEAST(255, yv + CAST(floor((116130*(cbv-128)+32768)/65536.0) AS BIGINT))) AS b
        |  FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(gray.glum) AS BIGINT) AS sum_gray_lum,
        |  CAST(sum(256 * (299*crgb.r + 587*crgb.gg + 114*crgb.b)) AS BIGINT) AS sum_color_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM documents d JOIN gray USING (doc_id) JOIN crgb USING (doc_id)""".stripMargin),
    Query("m_gif_pixels", (s, dir) => {
      import s.implicits._
      // REAL GIF LZW decode, oracle-checked INCLUDING row order: per doc,
      // a two-band palette image (band colors + dims closed-form in
      // doc_id; h spans 1..17 so interlace passes 2-4 are sometimes
      // empty), GIF-encoded INTERLACED for odd ids. The reduced statistic
      // is the ROW-WEIGHTED luminance sum sum((y+1) * lum(x,y)) — a plain
      // luminance sum is invariant under row permutation, so it cannot
      // see a broken four-pass deinterlace; the weighted sum pins every
      // row to its position. Oracle = triangular-number arithmetic over
      // the two bands in DuckDB. One wrong bit in the LZW dictionary
      // replay, code-size widening, sub-block reassembly, palette lookup,
      // or interlace row mapping breaks the hash. Map-only; the only
      // shuffle is the final 1-row aggregate.
      import graft.functions.{GifCodec, PngCodec}
      val gifUdf = udf { (id: Long) =>
        val w = (id % 14 + 3).toInt
        val h = ((id * 5) % 17 + 1).toInt
        val c1 = ((id * 3 % 256).toInt, (id * 5 % 256).toInt, (id * 7 % 256).toInt)
        val c2 = ((id * 11 % 256).toInt, (id * 13 % 256).toInt, (id * 17 % 256).toInt)
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          val (r, g, b) = if (y < h / 2) c1 else c2
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
            x += 1
          }
          y += 1
        }
        GifCodec.encode(PngCodec.Image(w, h, rgb), interlaced = id % 2 == 1)
      }
      val wlumUdf = udf { (gif: Array[Byte]) =>
        GifCodec.decode(gif) match {
          case Some(img) =>
            var s = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              while (x < img.width) {
                val i = (y * img.width + x) * 3
                s += (y + 1) * PngCodec.lumNum(
                  img.rgb(i) & 0xFF, img.rgb(i + 1) & 0xFF, img.rgb(i + 2) & 0xFF)
                x += 1
              }
              y += 1
            }
            s
          case None => -1L
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", wlumUdf(gifUdf($"doc_id")).as("wlum"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"wlum").as("sum_weighted_lum"),
          sum(when($"wlum" === -1L, 1L).otherwise(0L)).as("n_bad_decode"))
    },
      // GIF replay: two-band image -> row-weighted luminance is triangular-
      // number arithmetic; rows 0..h/2-1 carry lum1, the rest lum2, row y
      // weighs (y+1), so band weights are tri(h2) and tri(h)-tri(h2)
      """WITH m AS (
        |  SELECT doc_id,
        |    doc_id % 14 + 3 AS w,
        |    (doc_id*5) % 17 + 1 AS h,
        |    299*((doc_id*3) % 256) + 587*((doc_id*5) % 256) + 114*((doc_id*7) % 256) AS lum1,
        |    299*((doc_id*11) % 256) + 587*((doc_id*13) % 256) + 114*((doc_id*17) % 256) AS lum2
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, w, lum1, lum2,
        |    (h//2)*((h//2)+1)//2 AS tri_top,
        |    h*(h+1)//2 - (h//2)*((h//2)+1)//2 AS tri_bot
        |  FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(w * (lum1 * tri_top + lum2 * tri_bot)) AS BIGINT) AS sum_weighted_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM t""".stripMargin),
    Query("m_audio_features", (s, dir) => {
      import s.implicits._
      // audio leg of the multimodal tier: per doc synthesize a square wave
      // (amplitude, half-period, cycle count all closed-form in doc_id),
      // WAV-encode (RIFF PCM mono 16-bit), fully decode, and reduce exact
      // integer waveform features. Square waves make every statistic
      // closed-form: sum of squares = n*A^2 (all samples +-A), strict sign
      // changes = 2*cycles - 1, peak = A — one wrong byte in the RIFF
      // walk or PCM unpack breaks the oracle hash.
      import graft.functions.WavCodec
      val wavUdf = udf { (id: Long) =>
        val amp = ((id * 37) % 8000 + 1000).toInt
        val half = (id % 16 + 1).toInt
        val cycles = (id % 5 + 3).toInt
        val n = 2 * half * cycles
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = (if ((i / half) % 2 == 0) amp else -amp).toShort
          i += 1
        }
        WavCodec.encode(WavCodec.Clip(16000, samples))
      }
      val featsUdf = udf((wav: Array[Byte]) =>
        WavCodec.decode(wav) match {
          case Some(c) =>
            Array(c.samples.length.toLong, WavCodec.sumSquares(c),
              WavCodec.zeroCrossings(c), WavCodec.peak(c).toLong)
          case None => Array(-1L, -1L, -1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featsUdf(wavUdf($"doc_id")).as("f"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum($"f" (0)).as("sum_samples"),
          sum($"f" (1)).as("sum_sq"),
          sum($"f" (2)).as("sum_crossings"),
          sum(when($"f" (0) === -1L, 1L).otherwise(0L)).as("n_bad_decode")
        )
    },
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id * 37) % 8000 + 1000 AS amp,
        |    doc_id % 16 + 1 AS half,
        |    doc_id % 5 + 3 AS cycles
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_clips,
        |  CAST(sum(2 * half * cycles) AS BIGINT) AS sum_samples,
        |  CAST(sum(2 * half * cycles * amp * amp) AS BIGINT) AS sum_sq,
        |  CAST(sum(2 * cycles - 1) AS BIGINT) AS sum_crossings,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM m""".stripMargin),
    Query("m_audio_resample", (s, dir) => {
      import s.implicits._
      // rate normalization: per doc synthesize the m_audio_features square
      // wave, WAV-encode + decode (the codec roundtrip is the Spark side's
      // burden), then linear-interp resample to 8/12/16 kHz in EXACT
      // integer arithmetic. The oracle replays the interpolation term by
      // term from doc_id with the same truncating division — per-cohort
      // sample counts, energy, signed mass, and peak pin every output
      // sample.
      import graft.functions.WavCodec
      val featsUdf = udf { (id: Long) =>
        val amp = ((id * 37) % 8000 + 1000).toInt
        val half = (id % 16 + 1).toInt
        val cycles = (id % 5 + 3).toInt
        val n = 2 * half * cycles
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = (if ((i / half) % 2 == 0) amp else -amp).toShort
          i += 1
        }
        val enc = WavCodec.encode(WavCodec.Clip(16000, samples))
        val dec = WavCodec.decode(enc).getOrElse(
          throw new IllegalStateException(s"roundtrip decode failed for doc $id"))
        val outRate = (8000 + (id % 3) * 4000).toInt
        val r = WavCodec.resample(dec, outRate)
        var sumSq = 0L; var sumV = 0L; var pk = 0L
        var j = 0
        while (j < r.samples.length) {
          val v = r.samples(j).toLong
          sumSq += v * v; sumV += v; if (math.abs(v) > pk) pk = math.abs(v)
          j += 1
        }
        Array(r.samples.length.toLong, sumSq, sumV, pk)
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featsUdf($"doc_id").as("f"))
        .groupBy(($"doc_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum($"f"(0)).as("n_samples"),
          sum($"f"(1)).as("sum_sq"),
          sum($"f"(2)).as("sum_amp"),
          max($"f"(3)).as("peak"))
        .orderBy($"cohort")
    },
      // full term-by-term replay of the integer linear-interp resample:
      // output sample j of doc d is a pure function of doc_id, so the mirror
      // regenerates every resampled sample with the same truncating `//`
      // division and pins counts, energy, signed mass, and peak per cohort.
      // range(0,512) + inequality join = per-doc output index space (DuckDB
      // range() takes no lateral args; 512 > max nOut = 256).
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id, (doc_id * 37) % 8000 + 1000 AS amp,
        |    doc_id % 16 + 1 AS half,
        |    2 * (doc_id % 16 + 1) * (doc_id % 5 + 3) AS n,
        |    8000 + (doc_id % 3) * 4000 AS outr
        |  FROM documents),
        |outs AS MATERIALIZED (
        |  SELECT d.doc_id, d.outr, d.amp, d.half, d.n, j.j,
        |    LEAST((j.j * 16000) // d.outr, d.n - 1) AS i0,
        |    (j.j * 16000) % d.outr AS frac
        |  FROM p d JOIN range(0, 512) j(j)
        |    ON j.j < (d.n * d.outr) // 16000),
        |vals AS MATERIALIZED (
        |  SELECT doc_id,
        |    ((outr - frac) *
        |      (CASE WHEN (i0 // half) % 2 = 0 THEN amp ELSE -amp END)
        |     + frac *
        |      (CASE WHEN (LEAST(i0 + 1, n - 1) // half) % 2 = 0
        |        THEN amp ELSE -amp END)) // outr AS v
        |  FROM outs)
        |SELECT doc_id % 10 AS cohort,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(v) AS BIGINT) AS sum_amp,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("m_image_neardup", (s, dir) => {
      import s.implicits._
      // image-level near-dup: the SAME hamming-banding machinery as text
      // simhash, fed by perceptual aHash64 over fully DECODED pixels.
      // Per doc: 16x16 image whose 2x2 block (by,bx) is dark/bright per
      // bit ((by+bx) % 8) of the family id — each family bit still covers
      // 8 blocks (a wrapped anti-diagonal repetition code -> distinct
      // families differ in >= 8 aHash bits, guaranteed > maxHamming 7),
      // but every 8-bit aHash BAND now reads a rotation of the full
      // family id instead of one repeated bit, so band bucket keys spread
      // across ~families instead of collapsing to {0x00, 0xFF} (which
      // made every band bucket hold half the corpus — a quadratic bucket
      // self-join). A within-color +-5 one-pixel perturbation (shifts a
      // 2x2 block mean by <= 1.25, never across the dark/bright
      // threshold) keeps intra-family hamming 0. True pair set =
      // intra-family pairs, closed-form in SQL.
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val f = (id / 20 % 250 + 1).toInt // 1..250: never uniform, no wrap
        val rgb = new Array[Byte](16 * 16 * 3)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val base = if (((f >> ((y / 2 + x / 2) % 8)) & 1) == 1) 240 else 10
            val i = (y * 16 + x) * 3
            val p = ((id * 7) % 256).toInt
            val v = if (y * 16 + x == p) base + (if (id % 2 == 0) 5 else -5) else base
            rgb(i) = v.toByte; rgb(i + 1) = v.toByte; rgb(i + 2) = v.toByte
            x += 1
          }
          y += 1
        }
        PngCodec.encode(PngCodec.Image(16, 16, rgb), filterMode = -1)
      }
      val ahashUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png).map(PngCodec.aHash64).getOrElse(0L))
      val sigs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("id"), ahashUdf(pngUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    },
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 250 = (b.doc_id // 20) % 250
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin),
    Query("m_phash_neardup", (s, dir) => {
      import s.implicits._
      // the DCT tier of image near-dup: pHash64 (spectral shape) where
      // m_image_neardup's aHash64 is block brightness. Families are
      // constructed IN THE DCT DOMAIN (PhashGen scaladoc): ±Amp at the
      // 63 coefficients pHash reads, signs = a constant-weight-31 spread
      // of famid, so the hash EQUALS the family code (all 127 codes
      // enumerated + asserted in PhashSpec — famid is the only input, so
      // that pins every sf). Members vary by PNG scanline filter
      // (doc_id%5 → all five filters) and doc_id%3==0 members are 2×
      // pixel-duplicated (the block-mean fold recovers the plane
      // exactly), so intra-family hamming is 0 through genuinely
      // different byte streams and geometries; inter-family ≥ 8 by the
      // code distance. maxHamming 7 ⇒ the pair set is exactly the
      // intra-family self-join, closed-form in SQL.
      import graft.fixtures.PhashGen
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val img = PhashGen.image((id / 20 % 120 + 1).toInt)
        val member = if (id % 3 == 0) PhashGen.upscale2x(img) else img
        PngCodec.encode(member, filterMode = (id % 5).toInt)
      }
      val phashUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png).map(PngCodec.pHash64).getOrElse(0L))
      // ScanPar: the PNG encode+decode+DCT kernel is the dominant cost —
      // a single scan split would run all of it on one core
      val sigs = ScanPar(s.read.parquet(pq(dir, "documents")))
        .select($"doc_id".as("id"), phashUdf(pngUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    },
      // pHash replay: intra-family pairs only (code distance >= 8 between
      // families, hash == code asserted for all famids in PhashSpec)
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 120 = (b.doc_id // 20) % 120
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin),
    Query("m_video_meta", (s, dir) => {
      import s.implicits._
      // video leg: per doc build a real ISO-BMFF box tree (ftyp +
      // moov[mvhd + trak[tkhd]]) with closed-form dims/duration, walk it
      // back out, and aggregate — container parsing is genuine even though
      // codec payloads (like JPEG entropy data) stay out of scope.
      import graft.functions.Mp4Meta
      val mp4Udf = udf { (id: Long) =>
        Mp4Meta.encode(Mp4Meta.Meta(
          (id % 1280 + 16).toInt, ((id * 3) % 720 + 16).toInt, (id * 7) % 3600000 + 1000))
      }
      val metaUdf = udf((mp4: Array[Byte]) =>
        Mp4Meta.decode(mp4) match {
          case Some(m) => Array(m.width.toLong, m.height.toLong, m.durationMs)
          case None    => Array(-1L, -1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", metaUdf(mp4Udf($"doc_id")).as("m"))
        .agg(
          count(lit(1)).as("n_videos"),
          sum($"m" (0)).as("sum_w"),
          sum($"m" (1)).as("sum_h"),
          sum($"m" (2)).as("sum_duration_ms"),
          sum(when($"m" (0) === -1L, 1L).otherwise(0L)).as("n_bad_parse")
        )
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_videos,
        |  CAST(sum(doc_id % 1280 + 16) AS BIGINT) AS sum_w,
        |  CAST(sum((doc_id * 3) % 720 + 16) AS BIGINT) AS sum_h,
        |  CAST(sum((doc_id * 7) % 3600000 + 1000) AS BIGINT) AS sum_duration_ms,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM documents""".stripMargin),
    Query("m_exif_meta", (s, dir) => {
      import s.implicits._
      // EXIF curation tier (ExifMeta scaladoc): per doc build a conformant
      // JPEG carrying an Exif APP1 with closed-form field values, walk the
      // TIFF/IFD structure back out, and aggregate per camera make. The
      // strip leg runs the PII scrub on every row and counts residual
      // EXIF after it (must be zero) — the oracle rebuilds every value
      // from the same doc_id arithmetic, never re-running the parser.
      import graft.functions.ExifMeta
      val jpegUdf = udf { (id: Long) =>
        ExifMeta.encode(
          "Cam" + (id % 3), "M" + (id % 5), (id % 8 + 1).toInt,
          f"2026:08:${id % 28 + 1}%02d ${id % 24}%02d:00:00",
          (id % 1000 + 1).toInt, ((id * 3) % 1000 + 1).toInt,
          withGps = id % 4 == 0)
      }
      val parseUdf = udf { (jpeg: Array[Byte]) =>
        ExifMeta.parseJpeg(jpeg) match {
          case Some(e) => (e.make.getOrElse(""), e.orientation.getOrElse(-1),
            e.dateTimeOriginal.getOrElse(""), e.pixelX.getOrElse(-1L) + e.pixelY.getOrElse(-1L),
            if (e.hasGps) 1L else 0L, 0L)
          case None => ("", -1, "", -2L, 0L, 1L)
        }
      }
      val residualUdf = udf { (jpeg: Array[Byte]) =>
        if (ExifMeta.parseJpeg(ExifMeta.stripExif(jpeg)).isDefined) 1L else 0L
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", jpegUdf($"doc_id").as("jpeg"))
        .select($"doc_id", parseUdf($"jpeg").as("e"), residualUdf($"jpeg").as("res"))
        .groupBy($"e._1".as("make"))
        .agg(
          count(lit(1)).as("n"),
          sum($"e._5").as("n_gps"),
          sum($"e._2").cast("long").as("sum_orient"),
          min($"e._3").as("min_dto"),
          max($"e._3").as("max_dto"),
          sum($"e._4").as("sum_px"),
          sum($"res").as("n_strip_residual"),
          sum($"e._6").as("n_bad_parse"))
        .orderBy($"make")
    },
      """WITH f AS (
        |  SELECT doc_id,
        |    'Cam' || CAST(doc_id % 3 AS VARCHAR) AS make,
        |    doc_id % 8 + 1 AS orient,
        |    '2026:08:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |      || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00' AS dto,
        |    (doc_id % 1000 + 1) + ((doc_id * 3) % 1000 + 1) AS px,
        |    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS gps
        |  FROM documents)
        |SELECT make,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gps) AS BIGINT) AS n_gps,
        |  CAST(sum(orient) AS BIGINT) AS sum_orient,
        |  min(dto) AS min_dto, max(dto) AS max_dto,
        |  CAST(sum(px) AS BIGINT) AS sum_px,
        |  CAST(0 AS BIGINT) AS n_strip_residual,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM f GROUP BY make ORDER BY make""".stripMargin),
    Query("m_mp3_meta", (s, dir) => {
      import s.implicits._
      // MP3 curation tier (Mp3Meta scaladoc): per doc a conformant
      // ID3v2.3-tagged MPEG-1 Layer III stream with closed-form tag
      // fields and frame count, parsed back by the tag walk + frame-length
      // walk; per-artist rollup. Duration is the frame-counted integer
      // (nFrames*1152*1000/44100) the oracle recomputes with the same
      // single truncating division.
      import graft.functions.Mp3Meta
      val mp3Udf = udf { (id: Long) =>
        Mp3Meta.encode("T" + (id % 7), "A" + (id % 5), "B" + (id % 3), (id % 20 + 1).toInt)
      }
      val parseUdf = udf { (b: Array[Byte]) =>
        Mp3Meta.parse(b) match {
          case Some(m) => (m.artist.getOrElse(""), m.album.getOrElse(""),
            m.title.getOrElse(""), m.nFrames.toLong, m.durationMs,
            m.bitrateKbps.toLong, m.sampleRate.toLong, 0L)
          case None => ("", "", "", -1L, -1L, -1L, -1L, 1L)
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", parseUdf(mp3Udf($"doc_id")).as("m"))
        .groupBy($"m._1".as("artist"))
        .agg(
          count(lit(1)).as("n"),
          sum($"m._4").as("sum_frames"),
          sum($"m._5").as("sum_duration_ms"),
          countDistinct($"m._2").cast("long").as("n_albums"),
          min($"m._3").as("min_title"), max($"m._3").as("max_title"),
          sum(when($"m._6" =!= 128L || $"m._7" =!= 44100L, 1L).otherwise(0L)).as("n_codec_drift"),
          sum($"m._8").as("n_bad_parse"))
        .orderBy($"artist")
    },
      """WITH f AS (
        |  SELECT doc_id,
        |    'A' || CAST(doc_id % 5 AS VARCHAR) AS artist,
        |    'B' || CAST(doc_id % 3 AS VARCHAR) AS album,
        |    'T' || CAST(doc_id % 7 AS VARCHAR) AS title,
        |    doc_id % 20 + 1 AS nf
        |  FROM documents)
        |SELECT artist,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(nf) AS BIGINT) AS sum_frames,
        |  CAST(sum((nf * 1152 * 1000) // 44100) AS BIGINT) AS sum_duration_ms,
        |  CAST(count(DISTINCT album) AS BIGINT) AS n_albums,
        |  min(title) AS min_title, max(title) AS max_title,
        |  CAST(0 AS BIGINT) AS n_codec_drift,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM f GROUP BY artist ORDER BY artist""".stripMargin),
    Query("m_video_frames", (s, dir) => {
      import s.implicits._
      // frame-sampling PLAN from real container parses: the same
      // synthesized ISO-BMFF files as m_video_meta, decoded, then turned
      // into the 1-fps seek schedule a frame extractor would execute
      // (timestamps 0, 1000, ..., <= duration). The oracle recomputes
      // frame counts and the per-video arithmetic-series timestamp sums
      // in closed form, so the parse AND the schedule arithmetic are
      // both pinned; the pixel decode itself stays out of scope (no
      // video codec), exactly as documented for JPEG entropy pre-r4.
      import graft.functions.Mp4Meta
      val mp4Udf = udf { (id: Long) =>
        Mp4Meta.encode(Mp4Meta.Meta(
          (id % 1280 + 16).toInt, ((id * 3) % 720 + 16).toInt, (id * 7) % 3600000 + 1000))
      }
      val planUdf = udf((mp4: Array[Byte]) =>
        Mp4Meta.decode(mp4) match {
          case Some(m) =>
            val ts = Mp4Meta.framePlan(m, 1000L)
            Array(ts.length.toLong, ts.sum)
          case None => Array(-1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", planUdf(mp4Udf($"doc_id")).as("p"))
        .agg(
          count(lit(1)).as("n_videos"),
          sum($"p" (0)).as("sum_frames"),
          sum($"p" (1)).as("sum_ts_ms"),
          sum(when($"p" (0) === -1L, 1L).otherwise(0L)).as("n_bad_parse")
        )
    },
      // frame plan: counts + arithmetic-series timestamp sums in closed
      // form from the same synthesized durations
      """WITH v AS (
        |  SELECT ((doc_id * 7) % 3600000 + 1000) // 1000 + 1 AS nf FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_videos,
        |  CAST(sum(nf) AS BIGINT) AS sum_frames,
        |  CAST(sum(1000 * (nf - 1) * nf // 2) AS BIGINT) AS sum_ts_ms,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM v""".stripMargin),
    Query("m_audio_neardup", (s, dir) => {
      import s.implicits._
      // audio near-dup through the SAME hamming-banding core as text
      // simhash and image aHash — the multimodal dedup tier is one
      // machinery, three signatures. Per doc: a 1024-sample PCM clip
      // whose 64 energy windows encode the family id with the rotated
      // band layout the image fix established (band b window j reads
      // family bit (b+j)%8, so 8-bit band keys spread across families
      // instead of collapsing to {0x00,0xFF}); families differ in >= 8
      // profile bits > maxHamming 7. Per-doc amplitude jitter (8000 +
      // id%7 vs 500 low) can never cross the above-mean energy
      // threshold, so intra-family hamming stays 0 and the true pair
      // set is exactly the family self-join, closed-form in SQL.
      import graft.functions.WavCodec
      val wavUdf = udf { (id: Long) =>
        val f = (id / 20 % 250 + 1).toInt
        val hi = (8000 + id % 7).toInt
        val samples = new Array[Short](1024)
        var w = 0
        while (w < 64) {
          val amp = if (((f >> ((w / 8 + w % 8) % 8)) & 1) == 1) hi else 500
          var i = 0
          while (i < 16) {
            samples(w * 16 + i) = (if (i % 2 == 0) amp else -amp).toShort
            i += 1
          }
          w += 1
        }
        WavCodec.encode(WavCodec.Clip(8000, samples))
      }
      val hashUdf = udf((wav: Array[Byte]) =>
        WavCodec.decode(wav).map(WavCodec.audioHash64).getOrElse(0L))
      val sigs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("id"), hashUdf(wavUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    },
      // audio near-dup: the true pair set is exactly the family self-join
      // (intra-family profile hamming 0 by construction)
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 250 = (b.doc_id // 20) % 250
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin),
    Query("m_image_pairs", (s, dir) => {
      import s.implicits._
      // image-alt pair mining (ImageLinks scaladoc) — the CLIP-corpus
      // harvest: per page one <img> with an entity-carrying alt, a 2x
      // srcset variant on even docs, a base-href re-root on doc_id%3==0,
      // plus data:-inline and commented decoys that must drop. The REAL
      // path: streaming tokenizer → srcset tokenization → base-aware
      // RFC 3986 resolution. Oracle rebuilds every (page, image url, alt,
      // from_srcset) row closed-form.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val pageUrl = concat(lit("https://h"), $"doc_id" % 50,
        lit(".com/g/p"), $"doc_id", lit(".html"))
      val baseTag = when($"doc_id" % 3 === 0,
          concat(lit("<base href=\"https://img"), $"doc_id" % 5, lit(".cdn/\">")))
        .otherwise(lit(""))
      val srcset = when($"doc_id" % 2 === 0,
          concat(lit(" srcset=\"m"), $"doc_id", lit("-2x.jpg 2x\"")))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head>"), baseTag, lit("</head><body>\n"),
        lit("<!-- <img src=\"decoy.jpg\" alt=\"x\"> -->\n"),
        lit("<img src=\"data:image/gif;base64,R0=\" alt=\"inline-drops\">\n"),
        lit("<img src=\"m"), $"doc_id", lit(".jpg\" alt=\"Alt &amp; "), $"doc_id",
        lit("\""), srcset, lit("></body></html>"))
      val imgUdf = udf((h: String, u: String) =>
        graft.functions.html.ImageLinks.extract(h, u).map(i => (i.url, i.alt, i.fromSrcset)))
      d.select(pageUrl.as("url"), explode(imgUdf(html, pageUrl)).as("i"))
        .select($"url", $"i._1".as("img_url"), $"i._2".as("alt"),
          $"i._3".as("from_srcset"))
        .orderBy($"url", $"img_url", $"from_srcset")
    },
      // every (page, image url, alt, from_srcset) row rebuilt closed-form;
      // the data: inline and the commented img contribute nothing
      """WITH b AS (SELECT doc_id,
        |    'https://h' || (doc_id % 50) || '.com/g/p' || doc_id || '.html' AS url,
        |    CASE WHEN doc_id % 3 = 0 THEN 'https://img' || (doc_id % 5) || '.cdn/'
        |         ELSE 'https://h' || (doc_id % 50) || '.com/g/' END AS root,
        |    'Alt & ' || doc_id AS alt FROM documents),
        |tr AS (
        |  SELECT url, root || 'm' || doc_id || '.jpg' AS img_url, alt,
        |         false AS from_srcset FROM b
        |  UNION ALL
        |  SELECT url, root || 'm' || doc_id || '-2x.jpg', alt, true FROM b
        |  WHERE doc_id % 2 = 0)
        |SELECT url, img_url, alt, from_srcset
        |FROM tr ORDER BY url, img_url, from_srcset""".stripMargin),
  )
}
