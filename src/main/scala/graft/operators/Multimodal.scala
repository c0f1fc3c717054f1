package graft.operators

import java.awt.image.{DataBuffer, Raster}
import java.io.ByteArrayInputStream
import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.event.IIOReadWarningListener
import javax.imageio.stream.MemoryCacheImageInputStream
import javax.sound.sampled.{AudioFormat, AudioSystem}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Quantize

/**
 * Multimodal (image/audio/video) column handling: payloads are opaque
 * `binary` columns traveling WITH typed metadata; decode / feature-extract /
 * resize / frame-sample run as partition-batched typed transformations.
 *
 * Pixel and sample decode is the JDK's: BMP, PNG and JPEG (baseline,
 * extended-sequential and progressive) go through `javax.imageio`
 * ([[decodeImage]]), PCM WAV through `javax.sound.sampled`
 * ([[decodeWav]]), and MJPEG AVI frames through the same image path
 * ([[decodeAvi]]). Images yield a 24-dim grid feature
 * ([[imageFeature]]: 4×4 luma + 2×2 Cb + 2×2 Cr, read from raster
 * samples, never colour-converted pixels) and audio a per-segment RMS
 * envelope — content-derived embeddings the similarity/dedup operators
 * consume directly. The container walks the JDK does not ship — MP3
 * side info, MP4 boxes, Matroska EBML, the AVI RIFF tree — stay hand
 * parsed. Payloads that need a codec library this container lacks
 * (non-MJPEG video content, MP3 PCM, arithmetic-coded or lossless JPEG)
 * fall back to a clearly-marked deterministic STUB (`fakeDecode`,
 * `decoder = "stub"`).
 *
 * Every payload is untrusted: magic bytes pick the reader, sizes are
 * checked before any allocation (a raster-bytes valve that subsamples
 * oversized images, a coefficient-plane valve for progressive JPEG, a
 * declared-length check for WAV), a decoder warning is a failure, and any
 * non-fatal error degrades to the stub row instead of killing the task.
 *
 * Scale notes: payload bytes dominate IO, so (1) metadata-only queries must
 * never touch the binary column — parquet column pruning guarantees that
 * when decode stays out of the projection; (2) decode is mapPartitions, not
 * per-row UDF, so per-batch init cost amortizes; (3) partition sizing by
 * `maxPartitionBytes` keeps a batch's decoded frames in executor memory.
 */
object Multimodal {

  /** Input row: binary payload + typed metadata (fixtures `media` table). */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, doc_ref: String)

  /** Extracted features: one row per media item (images: 24-dim —
    * [[imageFeature]]'s luma+chroma grids; audio: 16-dim envelope,
    * zero-padded). `decoder` records which
    * path produced the feature — "bmp" / "png" / "jpeg" /
    * "jpeg-progressive" / "wav" / "avi-mjpeg" (real content decode),
    * "mp3-sideinfo" / "mp4-meta" / "mkv-meta" (container walks) or
    * "stub" (codec-bound payload, deterministic fake). */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, checksum: Long,
      thumb_w: Int, thumb_h: Int, frames_sampled: Int, decoder: String,
      feature: Array[Float])

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /**
   * The one shared grid-mean accumulator behind every image feature
   * (BMP/PNG/JPEG), so the feature algebra — cell geometry, mean, /255
   * normalization — has exactly one implementation and cross-format
   * feature compatibility is structural. Double sums are exact for the
   * integer lumas every decoder feeds (sums stay far below 2^53). Cell indices
   * use Long products: a subsampled decode of a very tall or wide image
   * feeds source coordinates near 2^31.
   */
  private final class GridLuma(w: Int, h: Int, g: Int = 4,
      neutral: Double = 0.0) {
    private val sums = new Array[Double](g * g)
    private val counts = new Array[Long](g * g)
    def add(x: Int, y: Int, luma: Double): Unit = {
      val cell = math.min(g - 1, (y.toLong * g / h).toInt) * g +
        math.min(g - 1, (x.toLong * g / w).toInt)
      sums(cell) += luma
      counts(cell) += 1
    }
    def feature(): Array[Float] = Array.tabulate(g * g)(c =>
      if (counts(c) == 0) (neutral / 255.0).toFloat
      else (sums(c) / counts(c) / 255.0).toFloat)
  }

  /** The 24-dim image feature: 4×4 grid mean luminance (dims 0-15) +
    * 2×2 grid mean Cb (16-19) + 2×2 grid mean Cr (20-23), all /255.
    * Chroma grids default to NEUTRAL gray (128/255) when a source has no
    * chroma (grayscale JPEG/PNG) so an achromatic image looks the same
    * whether its container stored color planes or not. */
  private def chromaGrid(w: Int, h: Int): GridLuma =
    new GridLuma(w, h, g = 2, neutral = 128.0)

  private def imageFeature(luma: GridLuma, cb: GridLuma,
      cr: GridLuma): Array[Float] = luma.feature() ++ cb.feature() ++ cr.feature()

  /** JFIF floating-point Cb/Cr of an RGB pixel (128-centered). */
  private def jfifCb(r: Int, g: Int, b: Int): Double =
    128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
  private def jfifCr(r: Int, g: Int, b: Int): Double =
    128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

  /** Integer BT.601 luma used for RGB sources (BMP/PNG). */
  private def bt601(r: Int, g: Int, b: Int): Int =
    (r * 299 + g * 587 + b * 114) / 1000

  /** Raster-bytes valve: an image whose decoded raster would exceed
    * 64 MiB decodes at the smallest source-subsampling step that fits; one
    * whose single source row exceeds it is refused (readers buffer whole
    * source rows whatever the step). */
  private val RasterCap = 64L << 20

  /** Multi-scan JPEG valve: when a frame's scans do not each carry every
    * component — progressive (SOF2), or a sequential frame whose first
    * scan codes fewer components than the frame — libjpeg keeps every
    * coefficient of the frame in native memory until the last scan, out
    * of the JVM heap's reach. Such a frame whose MCU-padded planes exceed
    * 48 MB (counted at 4 bytes per coefficient; the JDK's libjpeg stores
    * 2) is refused — 8 MP at 4:2:0, 4 MP at 4:4:4. */
  private val PlaneCap = 48L << 20

  /** ImageIO format name of a payload, by its magic bytes. */
  private def imageFormat(p: Array[Byte]): Option[String] =
    if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Some("bmp")
    else if (p.length >= 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' &&
      p(3) == 'G' && p(4) == 0x0D && p(5) == 0x0A && p(6) == 0x1A && p(7) == 0x0A)
      Some("png")
    else if (p.length >= 2 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) Some("jpeg")
    else None

  /**
   * The decoder tag of a JPEG from a short walk through its frame header
   * to its first scan header: "jpeg" for SOF0 (baseline) and SOF1
   * (extended sequential), "jpeg-progressive" for SOF2. None when a scan
   * comes before the frame, when SOI/EOI or another frame type (lossless,
   * hierarchical, arithmetic-coded — which the JDK does not decode)
   * comes first, when a header is malformed, or when a multi-scan frame
   * (SOF2, or a first scan with fewer components than the frame)
   * exceeds [[PlaneCap]]: Σ over components of the MCU-padded block grid
   * × 64 coefficients × 4 bytes.
   */
  private def jpegTag(p: Array[Byte]): Option[String] = {
    def be16(o: Int): Int = ((p(o) & 0xFF) << 8) | (p(o + 1) & 0xFF)
    // (progressive, coefficient-plane bytes, components) of the frame
    var frame: Option[(Boolean, Long, Int)] = None
    var off = 2
    while (off + 4 <= p.length) {
      if ((p(off) & 0xFF) != 0xFF) return None
      val m = p(off + 1) & 0xFF
      if (m == 0xFF) off += 1 // fill byte
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) off += 2 // standalone
      else {
        val segEnd = off + 2 + be16(off + 2)
        val seg = off + 4
        if (segEnd < seg || segEnd > p.length) return None
        if ((m == 0xC0 || m == 0xC1 || m == 0xC2) && frame.isEmpty) {
          if (seg + 6 > segEnd) return None
          val h = be16(seg + 1)
          val w = be16(seg + 3)
          val n = p(seg + 5) & 0xFF
          if (w == 0 || h == 0 || n < 1 || n > 4 || seg + 6 + 3 * n > segEnd) return None
          val hs = Array.tabulate(n)(c => (p(seg + 7 + 3 * c) & 0xFF) >> 4)
          val vs = Array.tabulate(n)(c => p(seg + 7 + 3 * c) & 0xF)
          if ((hs ++ vs).exists(f => f < 1 || f > 4)) return None
          val mcusX = (w + 8L * hs.max - 1) / (8L * hs.max)
          val mcusY = (h + 8L * vs.max - 1) / (8L * vs.max)
          val planeBytes = hs.indices.map(c => mcusX * hs(c) * mcusY * vs(c) * 64L * 4L).sum
          frame = Some((m == 0xC2, planeBytes, n))
        } else if (m == 0xDA) {
          if (seg >= segEnd) return None
          return frame.flatMap { case (progressive, planeBytes, n) =>
            val multiScan = progressive || (p(seg) & 0xFF) < n
            if (multiScan && planeBytes > PlaneCap) None
            else Some(if (progressive) "jpeg-progressive" else "jpeg")
          }
        } else if ((m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) ||
          m == 0xD8 || m == 0xD9) return None // a second or unsupported frame, SOI/EOI
        off = segEnd
      }
    }
    None
  }

  /**
   * REAL decode of a BMP, PNG or JPEG payload through `javax.imageio`.
   * Returns (decoder tag, width, height, 24-dim [[imageFeature]]): "bmp",
   * "png", "jpeg" (SOF0/SOF1) or "jpeg-progressive" (SOF2). Images must
   * hold 8-bit samples in a direct (non-palette) colour model with 1
   * (gray), 3 (RGB / YCbCr) or 4 (RGBA) bands — 24/32-bit BMP (and
   * 8-bit BMP with a gray-ramp palette, which the JDK reads as gray),
   * 8-bit gray/RGB/RGBA PNG (interlaced too), JPEG; colour-palette,
   * 16-bit, sub-byte and gray+alpha layouts are None.
   *
   * The untrusted-payload contract:
   *  - the magic bytes pick the reader, and the payload is read through a
   *    `MemoryCacheImageInputStream` (never a temp-file cache);
   *  - the header size is read first; a source row wider than 64 MiB is
   *    refused, and a raster over [[RasterCap]] decodes at the smallest
   *    `setSourceSubsampling` step that fits, its samples landing on the
   *    grid at their source coordinates;
   *  - a multi-scan JPEG over [[PlaneCap]] is refused ([[jpegTag]]);
   *  - the first reader warning aborts the read and makes the decode None
   *    (a truncated JPEG would otherwise decode the rest of its declared
   *    frame from zeros, with only a warning), as does any non-fatal error.
   *
   * Features come from raster samples, never from colour-converted
   * pixels: JPEG's `readRaster` hands over Y/Cb/Cr (Y only when gray,
   * first component otherwise) straight into the luma and chroma grids,
   * and BMP/PNG samples go through [[bt601]]/[[jfifCb]]/[[jfifCr]]; gray
   * sources leave chroma neutral.
   */
  def decodeImage(p: Array[Byte]): Option[(String, Int, Int, Array[Float])] =
    imageFormat(p).flatMap { format =>
      val tag = if (format == "jpeg") jpegTag(p) else Some(format)
      tag.flatMap { t =>
        val reader = ImageIO.getImageReadersByFormatName(format).next()
        val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(p))
        try {
          reader.setInput(in, true, true)
          readFeature(reader, format == "jpeg").map { case (w, h, f) => (t, w, h, f) }
        } catch { case NonFatal(_) => None }
        finally { reader.dispose(); in.close() }
      }
    }

  /** (width, height, feature) of the image `reader` holds, under the
    * raster-bytes valve; None once the reader warns. */
  private def readFeature(reader: ImageReader,
      jpeg: Boolean): Option[(Int, Int, Array[Float])] = {
    var warned = false
    reader.addIIOReadWarningListener(new IIOReadWarningListener {
      override def warningOccurred(source: ImageReader, warning: String): Unit = {
        warned = true
        source.abort()
      }
    })
    val w = reader.getWidth(0)
    val h = reader.getHeight(0)
    // bytes per decoded pixel, from the reader's raster layout (4, the
    // widest JPEG pixel, when the reader names none)
    val bpp = Option(reader.getRawImageType(0))
      .orElse(reader.getImageTypes(0).asScala.nextOption())
      .map { spec =>
        val sm = spec.getSampleModel(1, 1)
        math.max(1L, sm.getNumDataElements.toLong *
          DataBuffer.getDataTypeSize(sm.getDataType) / 8)
      }.getOrElse(4L)
    if (w <= 0 || h <= 0 || w * bpp > RasterCap) return None
    val maxPixels = RasterCap / bpp
    var step = math.max(1, math.sqrt(w.toDouble * h / maxPixels).toInt)
    while ((w + step - 1L) / step * ((h + step - 1L) / step) > maxPixels) step += 1
    val param = reader.getDefaultReadParam
    if (step > 1) param.setSourceSubsampling(step, step, 0, 0)
    val luma = new GridLuma(w, h)
    val cb = chromaGrid(w, h)
    val cr = chromaGrid(w, h)
    if (jpeg) {
      val r = reader.readRaster(0, param)
      if (warned) return None
      val ycc = r.getNumBands == 3
      eachRow(r) { (y, px, nb) =>
        var x = 0
        while (x * nb < px.length) {
          val o = x * nb
          luma.add(x * step, y * step, px(o))
          if (ycc) {
            cb.add(x * step, y * step, px(o + 1))
            cr.add(x * step, y * step, px(o + 2))
          }
          x += 1
        }
      }
    } else {
      val img = reader.read(0, param)
      if (warned) return None
      val r = img.getRaster
      val bands = r.getNumBands
      // a palette model has one band but three colour components
      if ((bands != 1 && bands != 3 && bands != 4) ||
        img.getColorModel.getNumComponents != bands ||
        (0 until bands).exists(r.getSampleModel.getSampleSize(_) != 8)) return None
      eachRow(r) { (y, px, nb) =>
        var x = 0
        while (x * nb < px.length) {
          val o = x * nb
          if (nb == 1) luma.add(x * step, y * step, px(o))
          else {
            val (red, green, blue) = (px(o), px(o + 1), px(o + 2))
            luma.add(x * step, y * step, bt601(red, green, blue))
            cb.add(x * step, y * step, jfifCb(red, green, blue))
            cr.add(x * step, y * step, jfifCr(red, green, blue))
          }
          x += 1
        }
      }
    }
    Some((w, h, imageFeature(luma, cb, cr)))
  }

  /** Row-major walk of a raster: `f(y, samples, bands)` per row, the
    * row's samples band-interleaved in one reused buffer. */
  private def eachRow(r: Raster)(f: (Int, Array[Int], Int) => Unit): Unit = {
    val nb = r.getNumBands
    val px = new Array[Int](r.getWidth * nb)
    var y = 0
    while (y < r.getHeight) {
      r.getPixels(r.getMinX, r.getMinY + y, r.getWidth, 1, px)
      f(y, px, nb)
      y += 1
    }
  }

  /**
   * REAL decode of a 16-bit PCM WAV through `javax.sound.sampled`
   * (RIFF/WAVE magic checked first, so no other audio file reader sees
   * the payload). Returns (sampleRate, nSamples, 16-dim feature) — the
   * feature is the RMS amplitude of 16 equal temporal segments (/32768)
   * over every 16-bit sample, channels interleaved, i.e. the actual
   * loudness envelope of the audio. None for anything but signed
   * little-endian 16-bit PCM (the JDK also accepts it inside
   * WAVE_FORMAT_EXTENSIBLE), and None unless the `data` chunk's declared
   * length is actually present: the JDK reads whatever bytes follow a
   * declared size past the payload, so the declared length is checked
   * against the payload before any read, and against the bytes read.
   */
  def decodeWav(p: Array[Byte]): Option[(Int, Long, Array[Float])] = {
    if (p.length < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
      p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') return None
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(p))
      try {
        val fmt = in.getFormat
        val declared = in.getFrameLength * fmt.getFrameSize
        if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.isBigEndian || fmt.getSampleRate < 1 ||
          in.getFrameLength < 0 || declared < 2 || declared > p.length) return None
        val data = in.readNBytes(declared.toInt)
        if (data.length != declared) return None
        val n = data.length / 2
        val sumSq = new Array[Double](16)
        val cnt = new Array[Long](16)
        var i = 0
        while (i < n) {
          val s = (leShort(data, i * 2) << 16) >> 16 // sign-extend
          val seg = math.min(15, (i.toLong * 16 / n).toInt)
          sumSq(seg) += s.toDouble * s
          cnt(seg) += 1
          i += 1
        }
        val feat = Array.tabulate(16)(c =>
          if (cnt(c) == 0) 0f else (math.sqrt(sumSq(c) / cnt(c)) / 32768.0).toFloat)
        Some((fmt.getSampleRate.toInt, n.toLong, feat))
      } finally in.close()
    } catch { case NonFatal(_) => None }
  }

  /**
   * REAL parse of an MPEG-1 Layer III (MP3) stream — headers and side
   * info only, which is pure byte/bit arithmetic: the frame-sync walk
   * (11-bit sync, bitrate/samplerate tables → frame sizes) counts
   * frames and granules, and each granule's `global_gain` — the
   * logarithmic amplitude the decoder would scale that granule by —
   * is read from the side info at its FIXED bit offset (Layer III side
   * info is exactly 59 bits per granule-channel: 12+9+8 before
   * global_gain, then 4+1+22+3 after, both window branches 22 bits).
   *
   * Returns (sampleRate, nFrames, 16-dim feature): the feature is the
   * mean `global_gain/255` over 16 equal temporal segments of the
   * granule sequence — a REAL loudness envelope derived from content
   * (global_gain IS the granule's amplitude, log-domain), comparable in
   * role to the WAV segment-RMS envelope. This is deliberately NOT a
   * PCM reconstruction: Huffman spectral data, IMDCT and the synthesis
   * filterbank stay out of scope (the honest boundary the
   * `decoder = "mp3-sideinfo"` tag records). Skips an ID3v2 tag,
   * resyncs across junk bytes, tolerates a truncated final frame, and
   * requires ≥ 2 clean consecutive frames so random bytes can't
   * masquerade as MP3. CRC-protected frames (protection bit 0) skip the
   * 2 CRC bytes before side info.
   */
  def parseMp3(p: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    // MPEG-1 Layer III tables
    val bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320, 0) // kbit/s
    val srates = Array(44100, 48000, 32000, 0)
    var off = 0L
    // ID3v2: "ID3" + ver(2) + flags(1) + syncsafe size(4)
    if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
      val sz = ((p(6) & 0x7F) << 21) | ((p(7) & 0x7F) << 14) |
        ((p(8) & 0x7F) << 7) | (p(9) & 0x7F)
      off = 10L + sz
    }
    val gains = scala.collection.mutable.ArrayBuffer.empty[Int]
    var nFrames = 0
    var rate = -1
    var run = 0    // consecutive clean frames (anti-false-sync)
    var maxRun = 0
    while (off + 4 <= p.length) {
      val o = off.toInt
      val h1 = p(o) & 0xFF; val h2 = p(o + 1) & 0xFF
      val sync = h1 == 0xFF && (h2 & 0xE0) == 0xE0
      val version = (h2 >> 3) & 3   // 3 = MPEG-1
      val layer = (h2 >> 1) & 3     // 1 = Layer III
      val noCrc = (h2 & 1) == 1
      val h3 = p(o + 2) & 0xFF
      val brIdx = (h3 >> 4) & 0xF
      val srIdx = (h3 >> 2) & 3
      val padding = (h3 >> 1) & 1
      val mode = ((p(o + 3) & 0xFF) >> 6) & 3
      val mono = mode == 3
      if (sync && version == 3 && layer == 1 && bitrates(brIdx) > 0 &&
        srates(srIdx) > 0) {
        val frameLen = 144 * bitrates(brIdx) * 1000 / srates(srIdx) + padding
        val sideLen = if (mono) 17 else 32
        val crcLen = if (noCrc) 0 else 2
        val sideOff = o + 4 + crcLen
        if (frameLen < 4 + crcLen + sideLen || off + frameLen > p.length) {
          // truncated final frame: stop cleanly with what we have
          off = p.length.toLong
        } else {
          if (rate < 0) rate = srates(srIdx)
          // side-info bit reader: fixed offsets (see scaladoc)
          def bits(bitPos: Int, n: Int): Int = {
            var v = 0
            var i = 0
            while (i < n) {
              val bp = bitPos + i
              v = (v << 1) | ((p(sideOff + (bp >> 3)) >> (7 - (bp & 7))) & 1)
              i += 1
            }
            v
          }
          val headBits = if (mono) 9 + 5 + 4 else 9 + 3 + 8
          val nch = if (mono) 1 else 2
          var gr = 0
          while (gr < 2) {
            var acc = 0
            var ch = 0
            while (ch < nch) {
              acc += bits(headBits + (gr * nch + ch) * 59 + 21, 8)
              ch += 1
            }
            gains += acc / nch // channel-mean global_gain per granule
            gr += 1
          }
          nFrames += 1
          run += 1
          if (run > maxRun) maxRun = run
          off += frameLen
        }
      } else {
        run = 0
        off += 1 // resync: scan forward
      }
    }
    if (nFrames == 0 || maxRun < 2 || rate <= 0) return None
    val n = gains.length
    val sum = new Array[Double](16)
    val cnt = new Array[Long](16)
    var i = 0
    while (i < n) {
      val seg = math.min(15, (i.toLong * 16 / n).toInt)
      sum(seg) += gains(i) / 255.0
      cnt(seg) += 1
      i += 1
    }
    Some((rate, nFrames, Array.tabulate(16)(c =>
      if (cnt(c) == 0) 0f else (sum(c) / cnt(c)).toFloat)))
  }

  /**
   * REAL decode of an MJPEG AVI — the one common VIDEO container
   * reachable without a codec library: the container is RIFF (the same
   * chunk grammar WAV uses), and each `##dc`/`##db` chunk in the `movi`
   * LIST is a complete JPEG frame [[decodeImage]] already handles.
   * Returns (width, height, framesTotal, framesSampled, 24-dim feature).
   *
   * Frame SAMPLING is the scale posture: the chunk walk counts every
   * frame (cheap — size arithmetic only), but at most `maxSample`
   * frames, evenly spaced across the stream, are actually
   * decoded; the feature is the elementwise MEAN of the sampled
   * frames' 24-dim [[imageFeature]]s — a temporal average of actual
   * pixel content, so two MJPEG files of the same footage pair in
   * near-dup regardless of byte-level differences. MJPEG frames are
   * independently-coded stills, so sampling needs no inter-frame state.
   *
   * None when the payload isn't a RIFF AVI or no sampled frame decodes
   * as JPEG (frames a corrupt stream loses are skipped as long as at
   * least one sampled frame decodes). Untrusted-size contract as the
   * other decoders: Long cursors, bounds before every read, and the
   * decode-size valves live in [[decodeImage]] per frame.
   */
  def decodeAvi(p: Array[Byte], maxSample: Int = 8): Option[(Int, Int, Int, Int, Array[Float])] = {
    if (maxSample <= 0) return None
    if (p.length < 24 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
      p(8) != 'A' || p(9) != 'V' || p(10) != 'I' || p(11) != ' ') return None
    var avihW = -1
    var avihH = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (off, len)
    // `movi` may group frames into nested `LIST rec ` chunks; one level of
    // descent covers the format (rec lists are not themselves nested)
    def walkFrames(start: Long, end: Long, depth: Int): Boolean = {
      var off = start
      while (off + 8 <= end) {
        val o = off.toInt
        val sz = leInt(p, o + 4)
        if (sz < 0 || off + 8 + sz > end) return false
        if (p(o) == 'L' && p(o + 1) == 'I' && p(o + 2) == 'S' && p(o + 3) == 'T') {
          if (sz >= 4 && depth < 1 && !walkFrames(off + 12, off + 8 + sz, depth + 1))
            return false
        } else if (p(o + 2) == 'd' && (p(o + 3) == 'c' || p(o + 3) == 'b') && sz > 0) {
          frames += ((o + 8, sz))
        }
        off += 8L + sz + (sz & 1)
      }
      true
    }
    var off = 12L
    while (off + 8 <= p.length) {
      val o = off.toInt
      val id = new String(p, o, 4, "US-ASCII")
      val sz = leInt(p, o + 4)
      if (sz < 0 || off + 8 + sz > p.length) return None
      if (id == "LIST" && sz >= 4) {
        val listType = new String(p, o + 8, 4, "US-ASCII")
        if (listType == "hdrl") {
          // find avih inside hdrl for the declared dimensions
          var ho = off + 12
          val hEnd = off + 8 + sz
          while (ho + 8 <= hEnd && avihW < 0) {
            val hoI = ho.toInt
            val hsz = leInt(p, hoI + 4)
            if (hsz < 0 || ho + 8 + hsz > hEnd) return None
            if (p(hoI) == 'a' && p(hoI + 1) == 'v' && p(hoI + 2) == 'i' &&
              p(hoI + 3) == 'h' && hsz >= 40) {
              avihW = leInt(p, hoI + 8 + 32)
              avihH = leInt(p, hoI + 8 + 36)
            }
            ho += 8L + hsz + (hsz & 1)
          }
        } else if (listType == "movi") {
          if (!walkFrames(off + 12, off + 8 + sz, 0)) return None
        }
      }
      off += 8L + sz + (sz & 1)
    }
    val n = frames.length
    if (n == 0) return None
    // evenly-spaced sample indices (first and last always included)
    val take = math.min(maxSample, n)
    val idxs = if (take == n) (0 until n).toArray
      else if (take == 1) Array(0) // 2+ frames, sample just the first
      else Array.tabulate(take)(k => (k.toLong * (n - 1) / (take - 1)).toInt)
    val acc = new Array[Double](24)
    var sampled = 0
    var w = avihW
    var h = avihH
    idxs.foreach { i =>
      val (fo, fl) = frames(i)
      decodeImage(java.util.Arrays.copyOfRange(p, fo, fo + fl)).foreach {
        case (tag, fw, fh, feat) if tag.startsWith("jpeg") =>
          if (sampled == 0 && (w <= 0 || h <= 0)) { w = fw; h = fh }
          var c = 0
          while (c < feat.length && c < 24) { acc(c) += feat(c); c += 1 }
          sampled += 1
        case _ => ()
      }
    }
    if (sampled == 0 || w <= 0 || h <= 0) return None
    Some((w, h, n, sampled, Array.tabulate(24)(c => (acc(c) / sampled).toFloat)))
  }

  /** Deterministic payload checksum (FNV-ish fold) — computed for every
    * item regardless of decode path. */
  private def fnv(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /**
   * REAL parse of an ISO BMFF (MP4/MOV/M4V) container — box walk only,
   * pure byte layout, no codec: `ftyp` + `moov` → `mvhd`, per-`trak`
   * `tkhd` (16.16-fixed width/height) and `mdia/hdlr` (`vide` handler)
   * → `minf/stbl` → `stsd` (codec fourcc of the first sample entry,
   * dims at the video-sample-entry fixed offsets) + `stts` (REAL frame
   * count = Σ sample counts) + `stsz` (per-frame encoded sizes). The
   * 16-dim feature is the per-segment mean ENCODED FRAME SIZE,
   * normalized by the largest segment — the frame-size envelope is
   * content-derived without any codec (encoded size tracks
   * motion/complexity exactly the way MP3 `global_gain` tracks
   * loudness, [[parseMp3]]'s precedent): identical encodes share it,
   * different footage does not. Returns (width, height, nFrames,
   * feature). None unless a valid `ftyp` + a `moov` with a video track
   * carrying positive dimensions parse. All header ints are UNTRUSTED
   * (the BMP/WAV contract): Long cursors, bounds before every read,
   * depth/count valves — a corrupt box tree costs one stub row, never a
   * task. ENTRY CAPS (explicit, per the no-silent-caps convention):
   * each box walk reads at most 4096 children per container, the `stts`
   * walk sums at most the first 65536 (count, delta) entries, and the
   * `stsz` envelope samples the first 65536 per-frame sizes — so for a
   * very long or heavily-edited video, `nFrames` is a LOWER BOUND
   * (≥ 65536 means "at least") and the size envelope describes the
   * first ~65k frames. The caps bound a hostile header's cost at ~1 MB
   * of reads; raising them is safe but unneeded for feature-extraction
   * use.
   */
  def parseMp4(p: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = try {
    def be32(o: Long): Long =
      if (o < 0 || o + 4 > p.length) -1L
      else {
        val i = o.toInt
        ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
          ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
      }
    def be16(o: Long): Int =
      if (o < 0 || o + 2 > p.length) -1
      else ((p(o.toInt) & 0xFF) << 8) | (p(o.toInt + 1) & 0xFF)
    def fourcc(o: Long): String =
      if (o < 0 || o + 4 > p.length) ""
      else new String(p, o.toInt, 4, "US-ASCII")
    // children of [start, end): (type, payloadStart, payloadEnd)
    def children(start: Long, end: Long): Seq[(String, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var o = start
      var n = 0
      while (o + 8 <= end && n < 4096) {
        var size = be32(o)
        var hdr = 8L
        if (size == 1) { // 64-bit largesize
          val hi = be32(o + 8); val lo = be32(o + 12)
          if (hi < 0 || lo < 0) return out.toSeq
          size = (hi << 32) | lo
          hdr = 16L
        } else if (size == 0) size = end - o // box extends to container end
        if (size < hdr || o + size > end) return out.toSeq
        out += ((fourcc(o + 4), o + hdr, o + size))
        o += size
        n += 1
      }
      out.toSeq
    }
    def child(bs: Seq[(String, Long, Long)], t: String): Option[(Long, Long)] =
      bs.collectFirst { case (`t`, s, e) => (s, e) }
    val top = children(0, p.length)
    if (!top.exists(_._1 == "ftyp")) return None
    val (moovS, moovE) = child(top, "moov").getOrElse(return None)
    val moov = children(moovS, moovE)
    var w = -1
    var h = -1
    var nFrames = 0L
    var sizes: Array[Long] = null
    var uniform = -1L
    for ((t, ts, te) <- moov if t == "trak" && w < 0) {
      val trak = children(ts, te)
      val mdia = child(trak, "mdia").map { case (s, e) => children(s, e) }
        .getOrElse(Seq.empty)
      val isVideo = child(mdia, "hdlr").exists { case (s, _) =>
        fourcc(s + 8) == "vide" }
      if (isVideo) {
        // tkhd v0: width/height as 16.16 fixed at payload offsets 76/80
        // (v1 shifts the three 32-bit times to 64-bit: +12)
        child(trak, "tkhd").foreach { case (s, e) =>
          val off = if (be32(s) >>> 24 == 1) 88L else 76L
          val fw = be32(s + off); val fh = be32(s + off + 4)
          if (fw > 0 && fh > 0 && s + off + 8 <= e) {
            w = (fw >> 16).toInt; h = (fh >> 16).toInt
          }
        }
        val stbl = child(mdia, "minf").map { case (s, e) => children(s, e) }
          .flatMap(m => child(m, "stbl")).map { case (s, e) => children(s, e) }
          .getOrElse(Seq.empty)
        // sample-entry dims take precedence (the codec's own numbers);
        // video sample entry: width/height u16 at entry payload +24/+26
        child(stbl, "stsd").foreach { case (s, e) =>
          if (be32(s + 4) >= 1 && s + 8 + 36 <= e) {
            val ew = be16(s + 16 + 24); val eh = be16(s + 16 + 26)
            if (ew > 0 && eh > 0) { w = ew; h = eh }
          }
        }
        child(stbl, "stts").foreach { case (s, e) =>
          val cnt = be32(s + 4)
          var i = 0L
          while (i < cnt && s + 8 + i * 8 + 8 <= e && i < 65536) {
            val sc = be32(s + 8 + i * 8)
            if (sc > 0) nFrames += sc
            i += 1
          }
        }
        child(stbl, "stsz").foreach { case (s, e) =>
          uniform = be32(s + 4)
          val cnt = be32(s + 8)
          if (uniform == 0 && cnt > 0) {
            val take = math.min(cnt, 65536L).toInt
            if (s + 12 + take.toLong * 4 <= e)
              sizes = Array.tabulate(take)(i => be32(s + 12 + i.toLong * 4))
          }
        }
      }
    }
    if (w <= 0 || h <= 0 || w > 32768 || h > 32768) return None
    // frame-size envelope over 16 segments (uniform sizes → flat 1.0)
    val feat = new Array[Float](16)
    if (sizes != null && sizes.nonEmpty) {
      val sum = new Array[Double](16)
      val cnt = new Array[Long](16)
      for (i <- sizes.indices) {
        val seg = math.min(15, (i.toLong * 16 / sizes.length).toInt)
        sum(seg) += math.max(0L, sizes(i)).toDouble
        cnt(seg) += 1
      }
      val means = Array.tabulate(16)(c => if (cnt(c) == 0) 0.0 else sum(c) / cnt(c))
      val mx = means.max
      if (mx > 0) for (c <- 0 until 16) feat(c) = (means(c) / mx).toFloat
    } else if (uniform > 0 && nFrames > 0) java.util.Arrays.fill(feat, 1.0f)
    Some((w, h, math.min(nFrames, Int.MaxValue).toInt, feat))
  } catch { case NonFatal(_) => None }

  /**
   * REAL parse of a Matroska/WebM (EBML) container — the [[parseMp4]]
   * treatment for the other dominant web video layout, again pure byte
   * arithmetic: EBML varint walk through `Segment` → `Tracks` →
   * `TrackEntry` (first TrackType=1 video track: `PixelWidth`/
   * `PixelHeight`, `TrackNumber`) and `Cluster` → `SimpleBlock` /
   * `BlockGroup/Block` (blocks belonging to the video track: REAL frame
   * count + encoded-size envelope, same normalization as [[parseMp4]]).
   * Returns (width, height, nFrames, feature); None unless the EBML
   * magic, a Segment, and a video track with positive dims AND a
   * TrackNumber parse (TrackNumber is mandatory in Matroska — without
   * it blocks can't be attributed to the video track, so its absence is
   * a parse failure rather than an inflated count). Untrusted-header
   * contract throughout (Long cursors, bounds, count valves). ENTRY
   * CAPS (explicit): ≤ 65536 children per element walk (a Cluster's
   * children ARE its blocks, so this cap must clear a cluster's frame
   * count — wider than parseMp4's 4096 box walk) and the first 65536
   * video blocks feed nFrames/envelope — nFrames is a LOWER BOUND at
   * 65536, same convention as [[parseMp4]].
   */
  def parseMkv(p: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = try {
    // EBML varint: leading-zero count of the first byte gives the width;
    // IDs keep the marker bit, sizes clear it. Returns (value, width) or
    // null on malformed/EOF.
    def vint(o: Long, keepMarker: Boolean): (Long, Int) = {
      if (o < 0 || o >= p.length) return null
      val b = p(o.toInt) & 0xFF
      if (b == 0) return null
      val len = java.lang.Integer.numberOfLeadingZeros(b) - 23 // 1..8
      if (o + len > p.length) return null
      var v = (if (keepMarker) b else b & ((1 << (8 - len)) - 1)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (p((o + i).toInt) & 0xFF); i += 1 }
      (v, len)
    }
    // children of [start, end): (id, payloadStart, payloadEnd)
    def children(start: Long, end: Long): Seq[(Long, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var o = start
      var n = 0
      while (o < end && n < 65536) {
        val id = vint(o, keepMarker = true)
        if (id == null) return out.toSeq
        val sz = vint(o + id._2, keepMarker = false)
        if (sz == null) return out.toSeq
        val ps = o + id._2 + sz._2
        // all-ones size = unknown extent (streaming): last element only
        val allOnes = sz._1 == (1L << (7 * sz._2)) - 1
        val pe = if (allOnes) end else ps + sz._1
        if (ps > end || pe > end || pe < ps) return out.toSeq
        out += ((id._1, ps, pe))
        o = pe
        n += 1
      }
      out.toSeq
    }
    def uintAt(s: Long, e: Long): Long = {
      var v = 0L
      var o = s
      if (e - s > 8) return -1
      while (o < e) { v = (v << 8) | (p(o.toInt) & 0xFF); o += 1 }
      v
    }
    val top = children(0, p.length)
    if (!top.headOption.exists(_._1 == 0x1A45DFA3L)) return None // EBML magic
    val (segS, segE) = top.collectFirst {
      case (0x18538067L, s, e) => (s, e) }.getOrElse(return None)
    val seg = children(segS, segE)
    var w = -1
    var h = -1
    var trackNum = -1L
    for ((id, s, e) <- seg if id == 0x1654AE6BL && w < 0) // Tracks
      for ((tid, ts, te) <- children(s, e) if tid == 0xAEL && w < 0) { // TrackEntry
        val entry = children(ts, te)
        val isVideo = entry.exists { case (i, vs, ve) =>
          i == 0x83L && uintAt(vs, ve) == 1L } // TrackType = video
        if (isVideo) {
          entry.collectFirst { case (0xE0L, vs, ve) => (vs, ve) }.foreach {
            case (vs, ve) => // Video element
              val vids = children(vs, ve)
              vids.collectFirst { case (0xB0L, a, b) => uintAt(a, b) }
                .foreach(x => w = x.toInt)
              vids.collectFirst { case (0xBAL, a, b) => uintAt(a, b) }
                .foreach(x => h = x.toInt)
          }
          trackNum = entry.collectFirst { case (0xD7L, a, b) => uintAt(a, b) }
            .getOrElse(-1L)
        }
      }
    if (w <= 0 || h <= 0 || w > 32768 || h > 32768) return None
    // TrackNumber is MANDATORY in Matroska; without it a block can't be
    // attributed to the video track, and counting every track's blocks
    // would inflate nFrames/envelope on multiplexed files — treat its
    // absence as a parse failure, the untrusted-header contract.
    if (trackNum <= 0) return None
    // frame count + size envelope from the video track's blocks
    val blockSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def takeBlock(s: Long, e: Long): Unit = {
      val tn = vint(s, keepMarker = false)
      if (tn != null && tn._1 == trackNum && blockSizes.length < 65536)
        blockSizes += math.max(0L, e - s - tn._2 - 3) // ts(2) + flags(1)
    }
    for ((id, s, e) <- seg if id == 0x1F43B675L) // Cluster
      for ((bid, bs, be) <- children(s, e)) bid match {
        case 0xA3L => takeBlock(bs, be) // SimpleBlock
        case 0xA0L => children(bs, be).foreach { // BlockGroup → Block
          case (0xA1L, gs, ge) => takeBlock(gs, ge)
          case _ => ()
        }
        case _ => ()
      }
    val feat = new Array[Float](16)
    if (blockSizes.nonEmpty) {
      val sum = new Array[Double](16)
      val cnt = new Array[Long](16)
      for (i <- blockSizes.indices) {
        val segI = math.min(15, (i.toLong * 16 / blockSizes.length).toInt)
        sum(segI) += blockSizes(i).toDouble
        cnt(segI) += 1
      }
      val means = Array.tabulate(16)(c => if (cnt(c) == 0) 0.0 else sum(c) / cnt(c))
      val mx = means.max
      if (mx > 0) for (c <- 0 until 16) feat(c) = (means(c) / mx).toFloat
    }
    Some((w, h, blockSizes.length, feat))
  } catch { case NonFatal(_) => None }

  /**
   * STUB decode — deterministic fake standing in for a real codec on
   * payloads whose formats need one (non-MJPEG video CONTENT, MP3 PCM, …
   * none of which have libraries in this container). Derives a
   * fixed-length "feature vector" from the checksum so downstream
   * operators (similarity, dedup) are exercised with realistic shapes
   * and reproducible values.
   */
  private def fakeDecode(h: Long, featureDim: Int): Array[Float] =
    Array.tabulate(featureDim) { d =>
      val x = h ^ (d.toLong * 0x9E3779B97F4A7C15L)
      ((x % 1000L).toFloat) / 1000.0f
    }

  /** Thumbnail dims preserving aspect, bounded at `maxSide` (resize step). */
  private def thumbDims(w: Int, h: Int, maxSide: Int): (Int, Int) =
    if (w <= 0 || h <= 0) (0, 0)
    else if (w >= h) (maxSide, math.max(1, h * maxSide / w))
    else (math.max(1, w * maxSide / h), maxSide)

  /**
   * Decode + feature-extract + resize + frame-sample in one partition-
   * batched pass. Images decode as BMP, PNG or JPEG ([[decodeImage]]),
   * audio as WAV ([[decodeWav]]) or MP3 side info, and video as MJPEG AVI
   * ([[decodeAvi]]) or MP4/Matroska metadata when the bytes really are
   * those layouts — real decoders whose features derive from
   * pixel/sample content; decoded dimensions override the metadata
   * columns (the payload is the truth). Everything else — codec-bound
   * audio (AAC, …) and non-MJPEG video content — takes the
   * deterministic stub path, flagged `decoder = "stub"`.
   * `frames_sampled` applies to video only: the REAL count of frames
   * [[decodeAvi]] decoded on the avi-mjpeg path, or the stub's synthetic
   * 1-per-~4 KiB shape.
   */
  def extractFeatures(media: DataFrame, featureDim: Int = 24, thumbMax: Int = 64)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(new FeatureExtractor(featureDim, thumbMax))
  }

  /** The partition body of [[extractFeatures]], as a named function: its
    * `toString` (`FeatureExtractor(24,64)`) is what the plan's
    * `MapPartitions` node prints, so plan text is the same on every run. */
  private final class FeatureExtractor(featureDim: Int, thumbMax: Int)
      extends (Iterator[MediaRow] => Iterator[MediaFeatures]) with Serializable {
    override def toString: String = s"FeatureExtractor($featureDim,$thumbMax)"

    def apply(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = rows.map(features)

    private def features(r: MediaRow): MediaFeatures = {
      // the binary column is nullable: a NULL payload degrades like a
      // zero-byte one (checksum of nothing, stub features) instead of
      // NPE-ing the task before the decode try/catch is even reached
      val payload = if (r.payload == null) Array.emptyByteArray else r.payload
      val checksum = fnv(payload)
      // A corrupt payload must degrade to the stub row, never kill the
      // task: the decoders defend their own bounds, and this catch is
      // the last-resort valve for anything they miss.
      val decoded: Option[(String, Int, Int, Int, Array[Float])] =
        try r.kind match {
          case "image" =>
            decodeImage(payload).map { case (tag, w, h, f) => (tag, w, h, 0, f) }
          case "audio" =>
            decodeWav(payload).map { case (_, _, f) =>
              ("wav", r.width, r.height, 0, f) }
              .orElse(parseMp3(payload).map { case (_, _, f) =>
                ("mp3-sideinfo", r.width, r.height, 0, f) })
          case "video" => decodeAvi(payload).map { case (w, h, _, sampled, f) =>
            ("avi-mjpeg", w, h, sampled, f) }
            .orElse(parseMp4(payload).map { case (w, h, _, f) =>
              ("mp4-meta", w, h, 0, f) })
            .orElse(parseMkv(payload).map { case (w, h, _, f) =>
              ("mkv-meta", w, h, 0, f) })
          case _ => None
        } catch { case NonFatal(_) => None }
      decoded match {
        case Some((dec, w, h, frames, feat)) =>
          val (tw, th) = thumbDims(w, h, thumbMax)
          val f = if (feat.length == featureDim) feat
            else java.util.Arrays.copyOf(feat, featureDim)
          MediaFeatures(r.media_id, r.kind, payload.length.toLong, checksum,
            tw, th, frames, dec, f)
        case None =>
          val feat = fakeDecode(checksum, featureDim)
          val (tw, th) = thumbDims(r.width, r.height, thumbMax)
          val frames = if (r.kind == "video")
            math.min(32, math.max(1, payload.length / 4096)) else 0
          MediaFeatures(r.media_id, r.kind, payload.length.toLong, checksum,
            tw, th, frames, "stub", feat)
      }
    }
  }

  /**
   * Stamp byte-size metadata at media-WRITE time: `n_bytes` rides next to
   * the payload so every later metadata query (stats, size filters, skew
   * planning) aggregates a long column instead of scanning the binary one.
   * At 100 TB the payload column IS the table — paying `length()` once on
   * ingest is the difference between a KB-scale and a TB-scale stats query.
   */
  def withByteStats(media: DataFrame): DataFrame =
    media.withColumn("n_bytes", length(col("payload")).cast("long"))

  /**
   * Metadata-only stats: aggregates the PERSISTED `n_bytes` column (stamped
   * by `withByteStats` on ingest) — the payload column is never read, and
   * the parquet scan's ReadSchema excludes it (plan-asserted in
   * TrainingDataOpsSpec). A frame lacking `n_bytes` fails resolution loudly
   * rather than silently falling back to a payload scan.
   */
  def stats(media: DataFrame): DataFrame = {
    require(media.columns.contains("n_bytes"),
      "Multimodal.stats needs the persisted n_bytes column — stamp it at " +
        "write time with Multimodal.withByteStats (metadata queries must " +
        "never scan payload bytes)")
    media.groupBy(col("kind")).agg(
      count(lit(1)).as("n"),
      sum(col("n_bytes")).as("total_bytes"),
      Quantize.quantize(avg(col("width")), 4).as("avg_w"),
      Quantize.quantize(avg(col("height")), 4).as("avg_h"))
  }
}
