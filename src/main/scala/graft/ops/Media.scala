package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio payloads as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract /
  * frame-sample operators a training-data pipeline needs.
  *
  * The containers are REAL public formats parsed with a pure-JVM decoder
  * (no codec libraries needed):
  *   - image: uncompressed 24-bpp BMP — 14-byte BITMAPFILEHEADER +
  *     40-byte BITMAPINFOHEADER, honest biSizeImage with 4-byte row padding;
  *   - audio: PCM WAV — RIFF container walked chunk-by-chunk ("fmt " for
  *     sample rate, "data" for the sample payload), 8-bit mono.
  *
  * Pixel/sample bytes are drawn from 'a'..'p' (valid pixel/PCM values) so
  * the downstream feature ops stay cross-engine checkable as text. The
  * fixture also stores the generator's intended `meta` struct and `payload`
  * string: the DuckDB oracles read THOSE, so the engine's binary parse is
  * verified against an independent write-side truth, not against a SQL
  * re-parse sharing its assumptions. Engine operators never read the truth
  * columns.
  */
object Media {

  final case class MediaMeta(width: Int, height: Int, sampleRate: Int, nBytes: Int)
  final case class MediaRow(doc_id: Long, kind: String, media: Array[Byte],
      meta: MediaMeta, payload: String)
  final case class MediaParsed(doc_id: Long, kind: String, width: Int, height: Int,
      sample_rate: Int, payload_len: Int)

  private def le16(v: Int): Array[Byte] = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Minimal valid 24-bpp BMP: 54-byte header + row-padded pixel array. */
  def bmpBytes(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val imgSize = rowSize * h
    require(pixels.length == imgSize, s"pixels ${pixels.length} != $imgSize")
    val out = new java.io.ByteArrayOutputStream(54 + imgSize)
    out.write('B'); out.write('M')
    out.write(le32(54 + imgSize)) // bfSize
    out.write(le32(0))            // reserved
    out.write(le32(54))           // bfOffBits
    out.write(le32(40))           // biSize
    out.write(le32(w)); out.write(le32(h))
    out.write(le16(1))            // planes
    out.write(le16(24))           // bpp
    out.write(le32(0))            // BI_RGB
    out.write(le32(imgSize))      // biSizeImage
    out.write(le32(2835)); out.write(le32(2835)) // 72 dpi
    out.write(le32(0)); out.write(le32(0))       // palette
    out.write(pixels)
    out.toByteArray
  }

  /** Canonical 44-byte PCM WAV header + 8-bit mono samples. */
  def wavBytes(sampleRate: Int, samples: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(44 + samples.length)
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le32(36 + samples.length))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII"))
    out.write(le32(16))
    out.write(le16(1))            // PCM
    out.write(le16(1))            // mono
    out.write(le32(sampleRate))
    out.write(le32(sampleRate))   // byteRate (8-bit mono)
    out.write(le16(1))            // blockAlign
    out.write(le16(8))            // bitsPerSample
    out.write("data".getBytes("US-ASCII"))
    out.write(le32(samples.length))
    out.write(samples)
    out.toByteArray
  }

  /** Minimal raw-gray video container ("GVID"): 12-byte header — magic,
    * le16 frame width, le16 frame height, le16 frame count, le16 fps —
    * followed by nFrames planar gray frames of fw*fh bytes each (no
    * per-row padding). The third modality next to BMP and WAV.
    */
  def gvidBytes(fw: Int, fh: Int, fps: Int, frames: Array[Byte]): Array[Byte] = {
    require(fw > 0 && fh > 0 && frames.length % (fw * fh) == 0, "whole frames only")
    val out = new java.io.ByteArrayOutputStream(12 + frames.length)
    out.write("GVID".getBytes("US-ASCII"))
    out.write(le16(fw)); out.write(le16(fh))
    out.write(le16(frames.length / (fw * fh))); out.write(le16(fps))
    out.write(frames)
    out.toByteArray
  }

  /** Deterministic synthetic media row (no wall-clock, no global RNG). */
  def rowFor(i: Long): MediaRow = {
    val rng = new java.util.Random(i * 0x9E3779B97F4A7C15L + 13L)
    if (i % 2 == 0) {
      if ((i / 2) % 5 == 4 && i >= 2) {
        // every fifth image is a NEAR-DUPLICATE of the previous image:
        // same pixels with one byte nudged — gives the ahash near-dup
        // join (m5) real positives, the visual analogue of the text
        // corpus's planted duplicate docs
        val base = rowFor(i - 2)
        val px = base.payload.getBytes("US-ASCII")
        px(rng.nextInt(px.length)) = ('a' + rng.nextInt(16)).toByte
        MediaRow(i, "image", bmpBytes(base.meta.width, base.meta.height, px),
          MediaMeta(base.meta.width, base.meta.height, 0, px.length),
          new String(px, "US-ASCII"))
      } else {
        val w = 4 + rng.nextInt(37)
        val h = 2 + rng.nextInt(9)
        val imgSize = ((3 * w + 3) / 4) * 4 * h
        val pixels = Array.fill(imgSize)(('a' + rng.nextInt(16)).toByte)
        MediaRow(i, "image", bmpBytes(w, h, pixels),
          MediaMeta(w, h, 0, imgSize), new String(pixels, "US-ASCII"))
      }
    } else if (i % 4 == 1) {
      if ((i / 4) % 5 == 4 && i >= 5) {
        // every fifth audio is a NEAR-DUPLICATE of the previous audio:
        // same samples with one nudged — real positives for the m10
        // fingerprint near-dup join, the audio analogue of the planted
        // image duplicates above
        val base = rowFor(i - 4)
        val samples = base.payload.getBytes("US-ASCII")
        samples(rng.nextInt(samples.length)) = ('a' + rng.nextInt(16)).toByte
        MediaRow(i, "audio", wavBytes(base.meta.sampleRate, samples),
          MediaMeta(0, 0, base.meta.sampleRate, samples.length),
          new String(samples, "US-ASCII"))
      } else {
        val sr = Vector(8000, 16000, 22050, 44100)(rng.nextInt(4))
        val n = 64 + rng.nextInt(193)
        val samples = Array.fill(n)(('a' + rng.nextInt(16)).toByte)
        MediaRow(i, "audio", wavBytes(sr, samples),
          MediaMeta(0, 0, sr, n), new String(samples, "US-ASCII"))
      }
    } else if ((i / 4) % 5 == 4 && i >= 19) {
      // every fifth video is a NEAR-DUPLICATE of the previous video: same
      // frames with one byte nudged — real positives for the m12
      // fingerprint near-dup join, completing the planted-duplicate
      // pattern across all three media kinds
      val base = rowFor(i - 4)
      val frames = base.payload.getBytes("US-ASCII")
      frames(rng.nextInt(frames.length)) = ('a' + rng.nextInt(16)).toByte
      MediaRow(i, "video",
        gvidBytes(base.meta.width, base.meta.height, base.meta.sampleRate, frames),
        MediaMeta(base.meta.width, base.meta.height, base.meta.sampleRate,
          frames.length),
        new String(frames, "US-ASCII"))
    } else {
      // video: GVID frames grouped into shots — each next frame is either
      // a one-byte nudge of the previous (same shot) or a fresh random
      // frame (a cut), giving the m9 shot-boundary kernel real positives.
      // meta reuses the struct: (fw, fh, fps-as-sampleRate, payload bytes)
      val fw = 4 + rng.nextInt(8)
      val fh = 2 + rng.nextInt(5)
      val px = fw * fh
      val nf = 6 + rng.nextInt(12)
      val fps = Vector(12, 24, 30)(rng.nextInt(3))
      val frames = new Array[Byte](nf * px)
      var f = 0
      while (f < nf) {
        if (f == 0 || rng.nextInt(4) == 0) {
          var j = 0
          while (j < px) { frames(f * px + j) = ('a' + rng.nextInt(16)).toByte; j += 1 }
        } else {
          System.arraycopy(frames, (f - 1) * px, frames, f * px, px)
          frames(f * px + rng.nextInt(px)) = ('a' + rng.nextInt(16)).toByte
        }
        f += 1
      }
      MediaRow(i, "video", gvidBytes(fw, fh, fps, frames),
        MediaMeta(fw, fh, fps, nf * px), new String(frames, "US-ASCII"))
    }
  }

  /** The per-batch decode kernel (mapPartitions over typed rows — the
    * Scala analogue of a `mapInPandas` batch UDF; executors see iterator
    * batches, never one-row calls).
    */
  object MediaKernel {
    private def rdLe16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    private def rdLe32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
        ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

    /** Parse an uncompressed BMP header: magic, dimensions, biSizeImage. */
    def decodeBmp(b: Array[Byte]): MediaParsed = {
      require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
      require(rdLe16(b, 28) == 24 && rdLe32(b, 30) == 0, "unsupported BMP variant")
      val w = rdLe32(b, 18)
      val h = rdLe32(b, 22)
      val imgSize = rdLe32(b, 34)
      MediaParsed(-1L, "image", w, h, 0, imgSize)
    }

    /** Walk RIFF chunks: "fmt " yields the sample rate, "data" the payload
      * offset + size — a real parser, tolerant of extra chunks and chunk
      * order. Returns (sampleRate, dataOffset, dataLen); shared by the
      * metadata decode and the PCM stats kernel.
      */
    def wavData(b: Array[Byte]): (Int, Int, Int) = {
      require(b.length >= 12 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E', "not a WAV")
      var off = 12
      var sampleRate = 0
      var dataOff = -1
      var dataLen = -1
      while (off + 8 <= b.length && (sampleRate == 0 || dataLen < 0)) {
        val id = new String(b, off, 4, "US-ASCII")
        val size = rdLe32(b, off + 4)
        // a negative / overlong size (corrupt or adversarial chunk) would
        // stall or rewind the walk — fail loudly instead of looping forever
        require(size >= 0 && off.toLong + 8 + size <= b.length,
          s"corrupt RIFF chunk '$id': size=$size at offset $off of ${b.length}")
        id match {
          case "fmt " => sampleRate = rdLe32(b, off + 12)
          case "data" => dataOff = off + 8; dataLen = size
          case _      => ()
        }
        off += 8 + size + (size & 1) // RIFF chunks are word-aligned
      }
      require(sampleRate > 0 && dataLen >= 0, "missing fmt/data chunk")
      (sampleRate, dataOff, dataLen)
    }

    def decodeWav(b: Array[Byte]): MediaParsed = {
      val (sampleRate, _, dataLen) = wavData(b)
      MediaParsed(-1L, "audio", 0, 0, sampleRate, dataLen)
    }

    /** Haitsma-Kalker-style audio fingerprint over the DECODED PCM
      * stream: 64 equal sample windows, bit w set iff window w's energy
      * (summed squared deviation from the 8-bit midpoint) exceeds the
      * NEXT window's (cyclic) — band-energy differences, the robust core
      * of the published audio-fingerprint scheme, not a global-mean test:
      * one changed sample touches ONE window and therefore at most TWO
      * comparisons, so a single-sample edit moves the fingerprint by
      * hamming <= 2 and the 4-band pigeonhole join below has GUARANTEED
      * recall for it. All-long integer arithmetic (energy sums bounded by
      * 16384 * n — exact to ~10^14-sample streams). Returns (hi, lo)
      * unsigned-32 halves, the [[ahash]] convention.
      */
    def audioFp(b: Array[Byte]): (Long, Long) = {
      val (_, off, n) = wavData(b)
      val e = new Array[Long](64)
      var w = 0
      while (w < 64) {
        val s = (w.toLong * n / 64).toInt
        val t = ((w + 1).toLong * n / 64).toInt
        var sw = 0L
        var k = s
        while (k < t) { val d = (b(off + k) & 0xFF) - 128; sw += d.toLong * d; k += 1 }
        e(w) = sw
        w += 1
      }
      var hi = 0L
      var lo = 0L
      w = 0
      while (w < 64) {
        if (e(w) > e((w + 1) & 63)) {
          if (w < 32) lo |= 1L << w else hi |= 1L << (w - 32)
        }
        w += 1
      }
      (hi, lo)
    }

    /** Parse a GVID header: (frame width, frame height, frame count, fps).
      * The length check is the same loud-fail discipline as the BMP/RIFF
      * guards — a header claiming more frames than the buffer holds would
      * send the frame walkers out of bounds on an executor.
      */
    def gvidData(b: Array[Byte]): (Int, Int, Int, Int) = {
      require(b.length >= 12 &&
        b(0) == 'G' && b(1) == 'V' && b(2) == 'I' && b(3) == 'D', "not a GVID")
      val fw = rdLe16(b, 4)
      val fh = rdLe16(b, 6)
      val nf = rdLe16(b, 8)
      val fps = rdLe16(b, 10)
      require(fw > 0 && fh > 0 &&
        12L + nf.toLong * fw * fh == b.length,
        s"corrupt GVID: ${fw}x$fh x $nf frames vs ${b.length} bytes")
      (fw, fh, nf, fps)
    }

    def decodeGvid(b: Array[Byte]): MediaParsed = {
      val (fw, fh, nf, fps) = gvidData(b)
      MediaParsed(-1L, "video", fw, fh, fps, nf * fw * fh)
    }

    /** A lying BITMAPINFOHEADER (dimensions larger than the buffer, or a
      * negative/top-down height) would send the pixel walkers out of
      * bounds on an executor — fail loudly, like the RIFF chunk guard.
      */
    @inline private def requirePixelBounds(b: Array[Byte], off: Int,
        rowSize: Int, w: Int, h: Int): Unit =
      require(w >= 0 && h >= 0 && off >= 0 &&
        off.toLong + rowSize.toLong * h <= b.length,
        s"corrupt BMP: ${w}x$h pixels at offset $off exceed ${b.length} bytes")

    def decode(kind: String, media: Array[Byte]): MediaParsed = kind match {
      case "image" => decodeBmp(media)
      case "video" => decodeGvid(media)
      case _       => decodeWav(media)
    }

    /** Average-hash perceptual fingerprint over the DECODED pixel grid:
      * 8x8 block-average grayscale, bit set iff the block mean exceeds the
      * image mean. All-integer: grayscale = sum of the 3 channel bytes and
      * the mean test is the cross-multiplication
      * `blockSum * nPixels > totalSum * blockCount` — exact in both
      * engines, no floating point (bounded: fine to ~10^8-pixel images).
      * Row padding bytes are excluded (the honest part of parsing a real
      * BMP); rows are hashed in file order (bottom-up — a fixed
      * orientation, irrelevant for a fingerprint as long as both sides
      * agree). Blocks with no pixels (h or w < 8) stay 0.
      * Returns (width, height, hiBits, loBits) — two unsigned-32 halves so
      * neither engine needs a 1<<63 that overflows BIGINT.
      */
    def ahash(b: Array[Byte]): (Int, Int, Long, Long) = {
      val parsed = decodeBmp(b)
      val w = parsed.width
      val h = parsed.height
      val off = rdLe32(b, 10)
      val rowSize = ((3 * w + 3) / 4) * 4
      requirePixelBounds(b, off, rowSize, w, h)
      val bs = new Array[Long](64)
      val bc = new Array[Long](64)
      var total = 0L
      var row = 0
      while (row < h) {
        val base = off + row * rowSize
        val gy = row * 8 / h
        var c = 0
        while (c < w) {
          val i = base + c * 3
          val gray = (b(i) & 0xFF) + (b(i + 1) & 0xFF) + (b(i + 2) & 0xFF)
          val blk = gy * 8 + c * 8 / w
          bs(blk) += gray
          bc(blk) += 1
          total += gray
          c += 1
        }
        row += 1
      }
      val tc = w.toLong * h
      var hi = 0L
      var lo = 0L
      var k = 0
      while (k < 64) {
        if (bc(k) > 0 && bs(k) * tc > total * bc(k)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      (w, h, hi, lo)
    }

    /** Video fingerprint: the 8x8 block aHash of the TEMPORAL-SUM frame
      * (per-pixel sums over all decoded frames — skipping the per-frame
      * mean keeps the cross-multiplied block test exact with no flooring,
      * and yields the identical bit pattern). Returns (hi, lo) 32-bit
      * halves like the audio fingerprint.
      */
    def videoFp(b: Array[Byte]): (Long, Long) = {
      val (fw, fh, nf, _) = gvidData(b)
      val px = fw * fh
      val ps = new Array[Long](px)
      var f = 0
      while (f < nf) {
        val base = 12 + f * px
        var j = 0
        while (j < px) { ps(j) += (b(base + j) & 0xFF); j += 1 }
        f += 1
      }
      val bs = new Array[Long](64)
      val bc = new Array[Long](64)
      var total = 0L
      var row = 0
      while (row < fh) {
        val gy = row * 8 / fh
        var c = 0
        while (c < fw) {
          val blk = gy * 8 + c * 8 / fw
          val v = ps(row * fw + c)
          bs(blk) += v; bc(blk) += 1; total += v
          c += 1
        }
        row += 1
      }
      var hi = 0L
      var lo = 0L
      var k = 0
      while (k < 64) {
        if (bc(k) > 0 && bs(k) * px > total * bc(k)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      (hi, lo)
    }

    /** Block-average grayscale downsample of the decoded pixel grid to an
      * (gw x gh) target — the "resize" step of an image feature pipeline,
      * integer-exact: cell value = sum(gray) / count (floor division, both
      * engines agree for nonnegative sums). Cells not covered by the image
      * (w or h smaller than the grid) are omitted; emission order is
      * row-major (gy, gx) over covered cells.
      */
    def resizeGray(b: Array[Byte], gw: Int, gh: Int): String = {
      val parsed = decodeBmp(b)
      val w = parsed.width
      val h = parsed.height
      val off = rdLe32(b, 10)
      val rowSize = ((3 * w + 3) / 4) * 4
      requirePixelBounds(b, off, rowSize, w, h)
      val cells = gw * gh
      val bs = new Array[Long](cells)
      val bc = new Array[Long](cells)
      var row = 0
      while (row < h) {
        val base = off + row * rowSize
        val gy = row * gh / h
        var c = 0
        while (c < w) {
          val i = base + c * 3
          val gray = (b(i) & 0xFF) + (b(i + 1) & 0xFF) + (b(i + 2) & 0xFF)
          val blk = gy * gw + c * gw / w
          bs(blk) += gray
          bc(blk) += 1
          c += 1
        }
        row += 1
      }
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < cells) {
        if (bc(k) > 0) {
          if (sb.length > 0) sb.append(',')
          sb.append(bs(k) / bc(k))
        }
        k += 1
      }
      sb.toString
    }
  }

  final case class AHashRow(doc_id: Long, width: Int, height: Int,
      ahash_hi: Long, ahash_lo: Long)

  /** Image perceptual near-dup hash (aHash) through the typed kernel —
    * image near-dup detection joins on these the same way simhashPairs
    * bands text signatures. Map-only; the shuffle-free analogue of the
    * text fingerprint ops.
    */
  def aHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map { r =>
      val (w, h, hi, lo) = MediaKernel.ahash(r.media)
      AHashRow(r.doc_id, w, h, hi, lo)
    }).toDF().orderBy("doc_id")
  }

  /** DuckDB mirror recomputing the hash from the write-side truth (payload
    * pixel string + intended width/height), fully independent of the
    * engine's BMP decode: pixel q sits at byte `(q div w)*rowSize +
    * (q mod w)*3` of the payload, grayscale = sum of 3 `ord`s, then the
    * same integer cross-multiplied mean test.
    */
  def aHashSql(parquetGlob: String): String =
    s"""WITH ${aHashCtes(parquetGlob)}
       |SELECT * FROM ah ORDER BY doc_id""".stripMargin

  /** The hash recomputation as a reusable CTE block (without WITH) from
    * `img` (the image rows) to `ah`.
    */
  private def aHashCtes(parquetGlob: String): String =
    s"""img AS (SELECT doc_id, payload, meta.width AS w, meta.height AS h,
       |    ((3 * meta.width + 3) // 4) * 4 AS rowsize
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'image'),
       |pxg AS (SELECT doc_id, w, h,
       |    (q // w) * 8 // h AS gy, (q % w) * 8 // w AS gx,
       |    ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 1, 1))
       |      + ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 2, 1))
       |      + ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 3, 1)) AS gray
       |  FROM (SELECT doc_id, payload, w, h, rowsize, unnest(range(w * h)) AS q FROM img)),
       |blocks AS (SELECT doc_id, gy, gx, sum(gray) AS bs, count(*) AS bc
       |  FROM pxg GROUP BY doc_id, gy, gx),
       |tot AS (SELECT doc_id, min(w) AS w, min(h) AS h, sum(gray) AS ts,
       |    count(*) AS tc FROM pxg GROUP BY doc_id),
       |bits AS (SELECT b.doc_id, t.w, t.h, b.gy * 8 + b.gx AS idx,
       |    CASE WHEN b.bs * t.tc > t.ts * b.bc THEN 1 ELSE 0 END AS bit
       |  FROM blocks b JOIN tot t USING (doc_id)),
       |ah AS (SELECT doc_id, CAST(min(w) AS INT) AS width, CAST(min(h) AS INT) AS height,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND idx >= 32
       |    THEN 1::BIGINT << (idx - 32) END), 0) AS BIGINT) AS ahash_hi,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND idx < 32
       |    THEN 1::BIGINT << idx END), 0) AS BIGINT) AS ahash_lo
       |FROM bits GROUP BY doc_id)""".stripMargin

  /** Metadata extraction through the typed kernel (binary -> parsed). */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaParsed] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      MediaKernel.decode(r.kind, r.media).copy(doc_id = r.doc_id)
    })
  }

  /** Oracle = the generator's intended metadata (write-side truth), fully
    * independent of the engine's binary parser.
    */
  def extractMetaSql(parquetGlob: String): String =
    s"""SELECT doc_id, kind, meta.width AS width, meta.height AS height,
       |  meta.sampleRate AS sample_rate, meta.nBytes AS payload_len
       |FROM read_parquet('$parquetGlob') ORDER BY doc_id""".stripMargin

  val Alphabet: Seq[Char] = 'a' to 'p'

  /** Payload (pixel array / PCM data / frame bytes) sliced out of the
    * BINARY column as a codegen projection: all three containers place it
    * after a fixed-size header (54-byte BMP, 44-byte canonical WAV,
    * 12-byte GVID).
    */
  private def payloadCol: org.apache.spark.sql.Column =
    expr("CAST(substring(media, CASE WHEN kind = 'image' THEN 55 " +
      "WHEN kind = 'video' THEN 13 ELSE 45 END, 2147483647) AS STRING)")

  /** Feature extraction: 16-bin byte histogram over the payload — the
    * deterministic stand-in for an embedding/feature extractor; a pure
    * column projection (codegen, no shuffle) over the binary column. One
    * native single-pass scan per row ([[graft.functions.ByteHistExpression]]
    * — the prior form ran 16 regexp_replace passes over every payload).
    */
  def byteHistogram(media: DataFrame): DataFrame =
    media.select(col("doc_id"), col("kind"),
        call_function("graft_byte_hist", payloadCol).as("features"))
      .orderBy("doc_id")

  def byteHistogramSql(parquetGlob: String): String = {
    val feats = Alphabet.map(c =>
      s"CAST(length(payload) - length(replace(payload, '$c', '')) AS INT)")
      .mkString("array_to_string([", ", ", "], ',')")
    s"""SELECT doc_id, kind, $feats AS features
       |FROM read_parquet('$parquetGlob')
       |ORDER BY doc_id""".stripMargin
  }

  /** Frame sampling: every k-th payload byte (video-frame-sample analogue),
    * one strided native copy per row ([[graft.functions.FrameSampleExpression]]
    * — the prior `transform(sequence(...))` HOF was CodegenFallback).
    */
  def frameSample(media: DataFrame, k: Int = 8): DataFrame =
    media.select(col("doc_id"),
        call_function("graft_frame_sample", payloadCol, lit(k)).as("frames"))
      .orderBy("doc_id")

  def frameSampleSql(parquetGlob: String, k: Int = 8): String =
    s"""SELECT doc_id,
       |  CASE WHEN length(payload) >= $k THEN array_to_string(
       |    list_transform(generate_series(1, CAST(floor(length(payload) / $k) AS INT)),
       |      i -> substring(payload, (i-1)*$k + 1, 1)), '')
       |  ELSE '' END AS frames
       |FROM read_parquet('$parquetGlob')
       |ORDER BY doc_id""".stripMargin

  final case class AudioStatsRow(doc_id: Long, sample_rate: Int,
      n_samples: Long, duration_ms: Long, peak_dev: Long, sq_mean: Long,
      dc_mean: Long)

  /** Audio-level stats over the DECODED PCM samples — the gate an audio
    * pipeline runs before spending GPU time: silence (peak_dev ~ 0),
    * clipping (peak_dev = 127/128 with a high mean square), DC offset
    * (dc_mean far from 128), plus exact duration from the fmt-chunk rate.
    * 8-bit unsigned PCM: deviation = sample - 128. All-integer (long sums,
    * floored means — non-negative, so both engines' integer division IS
    * floor), map-only through the typed kernel: zero shuffles, runs at
    * input parallelism at any corpus size. The RIFF walk is the same
    * [[MediaKernel.wavData]] the metadata decode uses — stats can never
    * disagree with the decode about where the samples live.
    */
  def audioStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions(_.map { r =>
      val (sr, dataOff, len) = MediaKernel.wavData(r.media)
      var i = 0
      var peak = 0L
      var sq = 0L
      var s = 0L
      while (i < len) {
        val v = r.media(dataOff + i) & 0xFF
        val d = v - 128
        val a = if (d < 0) -d else d
        if (a > peak) peak = a
        sq += d.toLong * d
        s += v
        i += 1
      }
      AudioStatsRow(r.doc_id, sr, len.toLong,
        len.toLong * 1000L / sr,
        peak,
        if (len > 0) sq / len else 0L,
        if (len > 0) s / len else 0L)
    }).toDF().orderBy("doc_id")
  }

  /** DuckDB mirror recomputing every stat from the write-side truth
    * (payload sample string + intended sampleRate), independent of the
    * engine's RIFF walk.
    */
  def audioStatsSql(parquetGlob: String): String =
    s"""WITH au AS (SELECT doc_id, payload, meta.sampleRate AS sr,
       |    length(payload) AS n,
       |    list_transform(generate_series(1, length(payload)),
       |      i -> ord(substring(payload, i, 1))) AS cs
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'audio')
       |SELECT doc_id, CAST(sr AS INT) AS sample_rate,
       |  CAST(n AS BIGINT) AS n_samples,
       |  CAST((n * 1000) // sr AS BIGINT) AS duration_ms,
       |  CAST(COALESCE(list_max(list_transform(cs, c -> abs(c - 128))), 0)
       |    AS BIGINT) AS peak_dev,
       |  CAST(CASE WHEN n > 0 THEN
       |    list_sum(list_transform(cs, c -> (c - 128) * (c - 128))) // n
       |    ELSE 0 END AS BIGINT) AS sq_mean,
       |  CAST(CASE WHEN n > 0 THEN list_sum(cs) // n ELSE 0 END
       |    AS BIGINT) AS dc_mean
       |FROM au ORDER BY doc_id""".stripMargin

  final case class ShotBoundsRow(doc_id: Long, n_frames: Int, n_shots: Int,
      cuts: String, max_delta: Long, sum_delta: Long)

  /** Video shot-boundary detection over the DECODED frame sequence — the
    * temporal-segmentation gate a video pipeline runs before sampling
    * training clips (cut-aware frame sampling beats blind striding, which
    * straddles cuts). Frame-to-frame distance is the summed absolute
    * per-pixel difference; a cut starts at frame f when
    * `dist(f-1, f) >= threshPerPx * pixels` — the integer
    * cross-multiplication of a mean-per-pixel threshold, so no division
    * anywhere. Map-only through the typed kernel at input parallelism:
    * like m8, the corpus never shuffles. The frame walk trusts
    * [[MediaKernel.gvidData]] (the same header the metadata decode uses).
    *
    * Output per video: frame count, shot count, the comma-joined cut
    * frame indices (1-based frame number where each new shot starts),
    * and the max / total inter-frame distance.
    */
  def shotBounds(media: Dataset[MediaRow], threshPerPx: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions(_.map { r =>
      val (fw, fh, nf, _) = MediaKernel.gvidData(r.media)
      val px = fw * fh
      var f = 1
      var maxD = 0L
      var sumD = 0L
      var nCuts = 0
      val cuts = new StringBuilder
      while (f < nf) {
        val prev = 12 + (f - 1) * px
        val cur = prev + px
        var j = 0
        var d = 0L
        while (j < px) {
          val x = (r.media(cur + j) & 0xFF) - (r.media(prev + j) & 0xFF)
          d += (if (x < 0) -x else x)
          j += 1
        }
        if (d > maxD) maxD = d
        sumD += d
        if (d >= threshPerPx.toLong * px) {
          if (nCuts > 0) cuts += ','
          cuts ++= f.toString
          nCuts += 1
        }
        f += 1
      }
      ShotBoundsRow(r.doc_id, nf, 1 + nCuts, cuts.toString, maxD, sumD)
    }).toDF().orderBy("doc_id")
  }

  /** DuckDB mirror recomputing every delta from the write-side truth
    * (payload frame string + intended frame geometry), independent of the
    * engine's GVID walk.
    */
  def shotBoundsSql(parquetGlob: String, threshPerPx: Int = 4): String =
    s"""WITH v AS (SELECT doc_id, payload, meta.width * meta.height AS px,
       |    length(payload) // (meta.width * meta.height) AS nf
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'video'),
       |d AS (SELECT doc_id, px, nf,
       |    list_transform(generate_series(2, nf), f ->
       |      list_sum(list_transform(generate_series(1, px), j ->
       |        abs(ord(substring(payload, (f - 1) * px + j, 1))
       |          - ord(substring(payload, (f - 2) * px + j, 1)))))) AS deltas
       |  FROM v)
       |SELECT doc_id, CAST(nf AS INT) AS n_frames,
       |  CAST(1 + len(list_filter(deltas, x -> x >= $threshPerPx * px)) AS INT)
       |    AS n_shots,
       |  COALESCE(array_to_string(list_filter(list_transform(
       |    generate_series(1, nf - 1),
       |    i -> CASE WHEN deltas[i] >= $threshPerPx * px
       |      THEN CAST(i AS VARCHAR) END), x -> x IS NOT NULL), ','), '')
       |    AS cuts,
       |  CAST(COALESCE(list_max(deltas), 0) AS BIGINT) AS max_delta,
       |  CAST(COALESCE(list_sum(deltas), 0) AS BIGINT) AS sum_delta
       |FROM d ORDER BY doc_id""".stripMargin

  final case class ResizeRow(doc_id: Long, gray: String)

  /** Image resize (block-average grayscale downsample) through the typed
    * kernel — the multimodal "resize" op: each image reduced to a gw x gh
    * grid of integer gray levels, emitted as a comma-joined string so the
    * DuckDB oracle (recomputing from the write-side pixel truth) compares
    * bit-exactly. Map-only.
    */
  def resize(media: Dataset[MediaRow], gw: Int = 8, gh: Int = 8): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map { r =>
      ResizeRow(r.doc_id, MediaKernel.resizeGray(r.media, gw, gh))
    }).toDF().orderBy("doc_id")
  }

  def resizeSql(parquetGlob: String, gw: Int = 8, gh: Int = 8): String =
    s"""WITH img AS (SELECT doc_id, payload, meta.width AS w, meta.height AS h,
       |    ((3 * meta.width + 3) // 4) * 4 AS rowsize
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'image'),
       |pxg AS (SELECT doc_id,
       |    (q // w) * $gh // h AS gy, (q % w) * $gw // w AS gx,
       |    ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 1, 1))
       |      + ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 2, 1))
       |      + ord(substring(payload, (q // w) * rowsize + (q % w) * 3 + 3, 1)) AS gray
       |  FROM (SELECT doc_id, payload, w, h, rowsize, unnest(range(w * h)) AS q FROM img)),
       |cells AS (SELECT doc_id, gy * $gw + gx AS idx,
       |    sum(gray) // count(*) AS v
       |  FROM pxg GROUP BY doc_id, gy, gx)
       |SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY idx) AS gray
       |FROM cells GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Image near-dup pairs over the perceptual hash: the 64-bit ahash
    * through [[Dedup.bandedFrame]] (four 16-bit bands, capped buckets),
    * bucket-join, verify with the summed bit_count over both halves — the
    * visual analogue of the simhash text join (H3b). The default
    * maxHamming=3 is the 4-band pigeonhole bound, so default recall is
    * exact up to bucket-cap eviction; callers raising maxHamming accept
    * the mirrored band-sharing recall. Eight 8-bit bands would give only
    * 2,048 possible band keys — a join that is O(N²/bands) by
    * construction, made worse by real image corpora concentrating on
    * near-black/near-white hashes; 16-bit bands give 65,536 keys per band
    * and the cap bounds the rest (a corpus-scale run of flat images all
    * hashing to 0 stays linear).
    */
  def aHashPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                 bucketCap: Int = 40): DataFrame =
    Dedup.bandedHammingPairs(banded(media, "image", bucketCap), maxHamming)

  def aHashPairsSql(parquetGlob: String, maxHamming: Int = 3,
                    bucketCap: Int = 40): String =
    Dedup.sqlHammingPairs(aHashCtes(parquetGlob), "ah", "ahash_hi", "ahash_lo",
      maxHamming, bucketCap)

  final case class AudioFpRow(doc_id: Long, fp_hi: Long, fp_lo: Long)

  /** Audio near-dup pairs: the [[MediaKernel.audioFp]] fingerprint (64
    * neighbor-window energy-difference bits, map-only at input
    * parallelism) through the SAME banded frame and no-self-join pair
    * kernel as the image (m5) and text-simhash (d5) families. Recall: a
    * single-sample edit flips at most 2 fingerprint bits (see the kernel
    * note), within the 4-band pigeonhole bound of 3, so planted
    * one-nudge duplicates are found EXACTLY (up to bucket-cap eviction —
    * the [[graft.ops.Dedup.capBuckets]] recall note).
    */
  def audioPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                 bucketCap: Int = 40): DataFrame =
    Dedup.bandedHammingPairs(banded(media, "audio", bucketCap), maxHamming)

  /** Video near-dup pairs (m12) — the third modality on the SAME banded
    * join: the fingerprint is the 8x8 block aHash of the TEMPORAL-SUM frame
    * (per-pixel sums over all frames; skipping the per-frame mean keeps
    * the block test `bs*px > total*bc` exact — the mean would divide every
    * term by nf uniformly, so the sums give the identical bit pattern with
    * no flooring).
    */
  def videoPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                 bucketCap: Int = 40): DataFrame =
    Dedup.bandedHammingPairs(banded(media, "video", bucketCap), maxHamming)

  /** The (doc_id, fp_hi, fp_lo) fingerprint frame of one clip kind. */
  private def fingerprints(media: Dataset[MediaRow], kind: String,
                           fp: Array[Byte] => (Long, Long)): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == kind).mapPartitions(_.map { r =>
      val (hi, lo) = fp(r.media)
      AudioFpRow(r.doc_id, hi, lo)
    }).toDF()
  }

  /** The capped banded frame of one media kind's 64-bit signature. */
  private def banded(media: Dataset[MediaRow], kind: String, bucketCap: Int): DataFrame =
    kind match {
      case "image" => Dedup.bandedFrame(aHash(media), "ahash_hi", "ahash_lo", bucketCap)
      case "audio" => Dedup.bandedFrame(
        fingerprints(media, kind, MediaKernel.audioFp), "fp_hi", "fp_lo", bucketCap)
      case "video" => Dedup.bandedFrame(
        fingerprints(media, kind, MediaKernel.videoFp), "fp_hi", "fp_lo", bucketCap)
    }

  /** Near-dup CLUSTERS of one media kind: connected components over its
    * banded pair graph through the shared [[Dedup.componentsFrom]]
    * min-label propagation core (bounded-lineage fixpoint, O(1) decimal
    * convergence test). Nodes are ALL rows of the kind (a narrow
    * kind-pruned doc_id scan), so items with no near-dup stay singleton
    * components. The pair leg uses the UNORDERED kernel — no
    * operator-embedded global sort enters the fixpoint loop's plan.
    */
  private def components(media: Dataset[MediaRow], kind: String, maxHamming: Int,
                         bucketCap: Int, maxIters: Int): DataFrame = {
    val nodes = media.toDF().filter(col("kind") === kind).select(col("doc_id"))
    val pairs = Dedup
      .bandedHammingPairsUnordered(banded(media, kind, bucketCap), maxHamming)
      .select(col("id_a"), col("id_b"))
    Dedup.componentsFrom(nodes, pairs, maxIters)
  }

  /** Image near-dup CLUSTERS over the [[aHashPairs]] graph (m7). */
  def imageComponents(media: Dataset[MediaRow], maxHamming: Int = 3,
                      bucketCap: Int = 40, maxIters: Int = 20): DataFrame =
    components(media, "image", maxHamming, bucketCap, maxIters)

  /** Audio near-dup CLUSTERS over the [[audioPairs]] graph (m11). */
  def audioComponents(media: Dataset[MediaRow], maxHamming: Int = 3,
                      bucketCap: Int = 40, maxIters: Int = 20): DataFrame =
    components(media, "audio", maxHamming, bucketCap, maxIters)

  /** Video near-dup CLUSTERS over the [[videoPairs]] graph (m13). */
  def videoComponents(media: Dataset[MediaRow], maxHamming: Int = 3,
                      bucketCap: Int = 40, maxIters: Int = 20): DataFrame =
    components(media, "video", maxHamming, bucketCap, maxIters)

  /** The video fingerprint recomputed from the write-side frame truth
    * (per-pixel temporal sums, the engine's block geometry, the same
    * cross-multiplied mean test) as a CTE chain from `v` (the video rows)
    * to `ah(doc_id, fp_hi, fp_lo)`.
    */
  private def videoFpCtes(parquetGlob: String): String =
    s"""v AS (SELECT doc_id, payload, meta.width AS fw, meta.height AS fh,
       |    meta.width * meta.height AS px,
       |    length(payload) // (meta.width * meta.height) AS nf
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'video'),
       |pxsum AS (SELECT doc_id, fw, fh, px,
       |    list_transform(generate_series(0, px - 1), p ->
       |      list_sum(list_transform(generate_series(0, nf - 1), f ->
       |        ord(substring(payload, f * px + p + 1, 1))))) AS ps
       |  FROM v),
       |geo AS (SELECT doc_id, px, ps,
       |    list_transform(generate_series(0, px - 1), p ->
       |      ((p // fw) * 8 // fh) * 8 + ((p % fw) * 8 // fw)) AS bk,
       |    list_sum(ps) AS total
       |  FROM pxsum),
       |kb AS (SELECT doc_id, k,
       |    CASE WHEN
       |      list_sum(list_transform(generate_series(1, px), j ->
       |        CASE WHEN bk[j] = k THEN 1 ELSE 0 END)) > 0
       |      AND list_sum(list_transform(generate_series(1, px), j ->
       |        CASE WHEN bk[j] = k THEN ps[j] ELSE 0 END)) * px
       |        > total * list_sum(list_transform(generate_series(1, px), j ->
       |            CASE WHEN bk[j] = k THEN 1 ELSE 0 END))
       |      THEN 1 ELSE 0 END AS bit
       |  FROM (SELECT doc_id, px, ps, bk, total,
       |      unnest(generate_series(0, 63)) AS k FROM geo)),
       |ah AS (SELECT doc_id,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND k >= 32
       |    THEN 1::BIGINT << (k - 32) END), 0) AS BIGINT) AS fp_hi,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND k < 32
       |    THEN 1::BIGINT << k END), 0) AS BIGINT) AS fp_lo
       |  FROM kb GROUP BY doc_id)""".stripMargin

  /** The audio fingerprint recomputed from write-side sample truth
    * (window energies via list slices over the payload string) as a CTE
    * chain from `au` (the audio rows) to `ah(doc_id, fp_hi, fp_lo)`.
    */
  private def audioFpCtes(parquetGlob: String): String =
    s"""au AS (SELECT doc_id, payload, length(payload) AS n
       |  FROM read_parquet('$parquetGlob') WHERE kind = 'audio'),
       |ew AS (SELECT doc_id, n,
       |    list_transform(generate_series(0, 63), w ->
       |      COALESCE(list_sum(list_transform(
       |        generate_series((w * n) // 64 + 1, ((w + 1) * n) // 64),
       |        j -> (ord(substring(payload, j, 1)) - 128)
       |           * (ord(substring(payload, j, 1)) - 128))), 0)) AS es
       |  FROM au),
       |bits AS (SELECT doc_id, w,
       |    CASE WHEN es[w + 1] > es[((w + 1) % 64) + 1] THEN 1 ELSE 0 END AS bit
       |  FROM (SELECT doc_id, es, unnest(range(64)) AS w FROM ew)),
       |ah AS (SELECT doc_id,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND w >= 32
       |    THEN 1::BIGINT << (w - 32) END), 0) AS BIGINT) AS fp_hi,
       |  CAST(COALESCE(sum(CASE WHEN bit = 1 AND w < 32
       |    THEN 1::BIGINT << w END), 0) AS BIGINT) AS fp_lo
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB mirror of [[audioPairs]]. */
  def audioPairsSql(parquetGlob: String, maxHamming: Int = 3,
                    bucketCap: Int = 40): String =
    Dedup.sqlHammingPairs(audioFpCtes(parquetGlob), "ah", "fp_hi", "fp_lo",
      maxHamming, bucketCap)

  /** DuckDB mirror of [[videoPairs]]. */
  def videoPairsSql(parquetGlob: String, maxHamming: Int = 3,
                    bucketCap: Int = 40): String =
    Dedup.sqlHammingPairs(videoFpCtes(parquetGlob), "ah", "fp_hi", "fp_lo",
      maxHamming, bucketCap)

  /** DuckDB mirror of [[components]]: a signature CTE chain ending in
    * `ah`, the shared band / cap / Hamming pair CTEs, then recursive-CTE
    * reachability with min-label per node seeded from `nodes`.
    */
  private def componentsSql(ctes: String, nodes: String, hi: String, lo: String,
                            maxHamming: Int, bucketCap: Int): String =
    s"""WITH RECURSIVE $ctes,
       |${Dedup.sqlHammingPairCtes("ah", hi, lo, maxHamming, bucketCap)},
       |${Dedup.sqlComponentCtes("doc_id", nodes, "hpairs")}
       |SELECT node AS doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  def imageComponentsSql(parquetGlob: String, maxHamming: Int = 3,
                         bucketCap: Int = 40): String =
    componentsSql(aHashCtes(parquetGlob), "img", "ahash_hi", "ahash_lo",
      maxHamming, bucketCap)

  def audioComponentsSql(parquetGlob: String, maxHamming: Int = 3,
                         bucketCap: Int = 40): String =
    componentsSql(audioFpCtes(parquetGlob), "au", "fp_hi", "fp_lo", maxHamming, bucketCap)

  def videoComponentsSql(parquetGlob: String, maxHamming: Int = 3,
                         bucketCap: Int = 40): String =
    componentsSql(videoFpCtes(parquetGlob), "v", "fp_hi", "fp_lo", maxHamming, bucketCap)
}
