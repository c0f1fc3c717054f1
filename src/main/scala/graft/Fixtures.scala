package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.DatasetSpec
import graft.sources.WideMatrix

/**
 * Fixture definitions shared by queries, tests, and the parquet generator
 * (FIXTURES.md F-1..F-6). The parquet copies live under
 * `/root/repo/fixtures/parquet/` so the driver's DuckDB oracle reads byte-
 * identical inputs via `read_parquet` over the same files.
 */
object Fixtures {
  val Dir = "/root/repo/fixtures"
  val F1Csv = s"$Dir/f1_temperature_min_day.csv"
  val F2Csv = s"$Dir/f2_rainfall_month.csv"
  val WideParquet = s"$Dir/parquet/station_wide"
  val Wide2Parquet = s"$Dir/parquet/station_wide_month"
  val StoreParquet = s"$Dir/parquet/station_store"
  val StoreDupParquet = s"$Dir/parquet/station_store_dup"
  val MediaParquet = s"$Dir/parquet/media"
  val PiiParquet = s"$Dir/parquet/pii_docs"
  val ParaParquet = s"$Dir/parquet/para_docs"
  val MessyParquet = s"$Dir/parquet/messy_docs"
  val MarkupParquet = s"$Dir/parquet/markup_docs"
  val SentenceParquet = s"$Dir/parquet/sentence_docs"

  /** Canonical job spec — FIXTURES.md F-3 / `example_config.json:13-32`. */
  val F1Spec: DatasetSpec = DatasetSpec(
    files = Seq(F1Csv),
    datatype = "temperature", period = "day", fill = "raw",
    dataColStart = 13, idCol = 0, nodata = "NA",
    startDate = Some(java.time.LocalDate.parse("2022-03-01")),
    endDate = Some(java.time.LocalDate.parse("2022-03-02")),
    additionalProperties = Map("aggregation" -> "min"),
    additionalKeyProperties = Seq("aggregation"))

  /** Month-period default-shape spec — FIXTURES.md F-2. */
  val F2Spec: DatasetSpec = DatasetSpec(
    files = Seq(F2Csv),
    datatype = "rainfall", period = "month", fill = "partial",
    dataColStart = 1, idCol = 0)

  def wide(spark: SparkSession): DataFrame = WideMatrix.readCsv(spark, F1Csv)

  /**
   * Pre-existing store table (F-5): seeded so the F-1 increment classifies
   * one row unchanged (39.2 @03-01), one replaced (39.2 @03-02 stored 99.9),
   * one created (147.0 @03-01 absent), plus an untouched bystander row.
   */
  def store(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("temperature", "day", "raw", "39.2", "2022-03-01", 17.2, "min", "u-0001"),
      ("temperature", "day", "raw", "39.2", "2022-03-02", 99.9, "min", "u-0002"),
      ("temperature", "day", "raw", "500.1", "2022-03-01", 5.0, "min", "u-0003"))
      .toDF("datatype", "period", "fill", "station_id", "date", "value", "aggregation", "uuid")
  }

  /** Store variant with a duplicated key — the `RecordKeyException` path (F-5). */
  def storeDup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    store(spark).unionByName(Seq(
      ("temperature", "day", "raw", "39.2", "2022-03-01", 18.0, "min", "u-0004"))
      .toDF("datatype", "period", "fill", "station_id", "date", "value", "aggregation", "uuid"))
  }

  /**
   * PII-laden corpus fixture (the synthetic `documents` table is word-salad
   * with no PII shapes, so redaction needs its own input). Each row
   * exercises one or more `TextFunctions.PiiPatterns` plus clean rows and
   * near-misses (a version string that looks IP-ish, a short digit run).
   * All addresses/numbers are RFC-5737/fictional-range style examples.
   */
  def piiDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "contact alice.smith@example.com for the quarterly report"),
      (1L, "servers 192.0.2.17 and 198.51.100.4 rotated their keys"),
      (2L, "call 555-867-5309 or 555 234 1122 before noon"),
      (3L, "card 4111111111111111 was declined; account 987654321 flagged"),
      (4L, "cc bob+spam@sub.mail.example.org and carol@example.net please"),
      (5L, "no identifiers here, just ordinary prose about weather"),
      (6L, "build v1.2.3.4000 shipped; ticket 1234 closed"),
      (7L, "fax 555.867.1234 listed next to 203.0.113.99 in the footer"),
      (8L, "ssn 123456789 must never appear in logs"),
      (9L, "mixed: dave@example.com at 192.0.2.200 dialed 555-000-1111"))
      .toDF("pii_id", "text")
  }

  /**
   * Multi-paragraph corpus fixture (the synthetic `documents` table is
   * single-paragraph word salad, so paragraph-level dedup needs its own
   * input). Boilerplate header/footer/cookie paragraphs repeat across
   * docs; doc 7 is boilerplate-only (vanishes entirely after dedup);
   * doc 3 repeats a paragraph within itself; docs 8/9 re-use body
   * paragraphs first seen in docs 0/1; doc 5 duplicates up to trimming;
   * doc 6 carries an empty paragraph (dropped by normalization).
   */
  def paraDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val header = "subscribe to our newsletter for weekly updates"
    val footer = "copyright example corp all rights reserved"
    val cookie = "this site uses cookies to improve your experience"
    Seq(
      (0L, Seq(header, "the first unique body paragraph about weather", footer)),
      (1L, Seq(header, "a second body paragraph describing the harbor", footer)),
      (2L, Seq("standalone prose with no boilerplate at all")),
      (3L, Seq("a repeated stanza inside one document",
               "a repeated stanza inside one document",
               "plus a distinct middle paragraph", cookie)),
      (4L, Seq(cookie, header, "fourth document body text on navigation menus")),
      (5L, Seq("  surrounded by spaces this paragraph is  ",
               "surrounded by spaces this paragraph is")),
      (6L, Seq("sixth doc only paragraph", "", footer)),
      (7L, Seq(header, footer, cookie)),
      (8L, Seq("eighth doc opens fresh", "the first unique body paragraph about weather")),
      (9L, Seq("a second body paragraph describing the harbor", "ninth doc closer")))
      .map { case (id, ps) => (id, ps.mkString("\n\n")) }
      .toDF("doc_id", "text")
  }

  /** Messy-text fixture for the normalization oracle (`text_normalize`):
    * curly punctuation, CRLF/CR endings, control bytes, NBSP, ragged
    * whitespace, over-long paragraph gaps — each row exercises one rule
    * of `TextFunctions.NormalizePatterns`, plus an already-clean row and
    * an empty row as identities. */
  def messyDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "plain text stays untouched"),
      (1L, "curly ‘quotes’ and “double” ones"),
      (2L, "dashes – en and — em — folded"),
      (3L, "windows\r\nline\rendings"),
      (4L, "control\u0001chars\u0007here\u001Ftoo\u007F"),
      (5L, "nbsp\u00A0separated\u00A0words"),
      (6L, "  leading and trailing   "),
      (7L, "tabs\t\tand   space \t runs"),
      (8L, "para one\n\n\n\n\npara two"),
      (9L, " spaces \n around \n newlines "),
      (10L, "\n\nleading newlines and trailing\n\n"),
      (11L, ""))
      .toDF("doc_id", "text")
  }

  /** Markup-laden fixture for the stripping oracle (`text_strip_markup`):
    * each row exercises one rule of `TextFunctions.MarkupPatterns` —
    * tags, script/style bodies, comments spanning lines, entity escapes
    * (including the double-escape that must decode exactly once),
    * mixed-case tags — plus a plain row and an empty row as identities. */
  def markupDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "plain prose stays exactly as is"),
      (1L, "<p>a paragraph</p> and <b>bold</b> text"),
      (2L, "<script type=\"text/javascript\">var x = 1 < 2;</script>visible body"),
      (3L, "<style>.cls { color: red }</style>styled body"),
      (4L, "before<!-- hidden\ncomment -->after"),
      (5L, "entities &amp; escapes: 1 &lt; 2 &gt; 0 &quot;q&quot; &apos;a&apos; &#39;b&#39; x&nbsp;y"),
      (6L, "double escape &amp;lt; decodes once"),
      (7L, "<div class=\"a\"><ul><li>one</li><li>two</li></ul></div>"),
      (8L, "<SCRIPT>upperCase()</SCRIPT>mixed <B>tags</B> here"),
      (9L, "unclosed <em tag stays? and a lone > sign"),
      (10L, ""))
      .toDF("doc_id", "text")
  }

  /** Punctuated fixture for the sentence-preserving chunker
    * (`chunk_docs_sentences`): the synthetic corpus carries no sentence
    * terminators, so this table supplies what the real grammar must
    * face — `.`/`!`/`?` runs, ellipses, terminator-adjacent whitespace,
    * a sentence larger than the chunk budget (must ship unsplit in its
    * own chunk), a trailing unterminated fragment, and empty text.
    * doc_ids offset far past any sf corpus so the union in the declared
    * query can never collide. */
  def sentenceDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val oversized = (1 to 80).map(i => s"word$i").mkString(" ") + "."
    Seq(
      (900000000L, "one short sentence."),
      (900000001L, "first sentence. second sentence! third sentence? done."),
      (900000002L, "shouting now!!! really?! yes... trailing fragment no terminator"),
      (900000003L, "a sentence that repeats a sentence that repeats. " +
        "another one follows with more words to cross the budget boundary " +
        "when packed next to its neighbors. short tail."),
      (900000004L, oversized + " tiny after."),
      (900000005L, ("fill " * 30).trim + ". " + ("pack " * 30).trim + ". " +
        ("more " * 30).trim + ". " + ("data " * 30).trim + "."),
      (900000006L, "Mixed CASE Sentences Work Too. SECOND ONE HERE!"),
      (900000007L, "spaces   stay outside sentences .  next one ?last one."),
      (900000008L, ""),
      (900000009L, "no terminator at all just words flowing on"))
      .toDF("doc_id", "text")
  }

  /**
   * Multimodal fixture: binary payloads + typed metadata. Image payloads
   * rotate VALID 24-bit uncompressed BMPs, VALID non-interlaced 8-bit
   * PNGs (RGB and RGBA), and VALID JPEGs (baseline 4:4:4 and 4:2:0,
   * plus progressive SOF2 with a planted color cast);
   * audio payloads alternate VALID 16-bit PCM WAVs and VALID MP3 frame
   * streams (deterministic gradient / sine / gain-ramp content — all
   * decodable by the JDK or a container walk, so
   * `Multimodal.extractFeatures` genuinely derives content features);
   * video payloads
   * alternate VALID MJPEG AVIs (flat and rec-grouped — decoded for real
   * by `Multimodal.decodeAvi`) and synthetic bytes (codec-bound video —
   * the stub path's remit).
   */
  def media(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 64).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      val w = 32 + (i % 4) * 16
      val h = 32 + (i % 3) * 16
      val rate = 16000 + (i % 3) * 8000
      val payload = kind match {
        // images rotate BMP / PNG / JPEG (PNG alternating RGB and RGBA;
        // JPEG alternating 4:4:4 and 4:2:0) so every real image decode
        // path appears in the persisted fixture
        case "image" if (i / 3) % 3 == 1 => pngBytes(w, h, i, alpha = (i / 3) % 6 == 4)
        case "image" if (i / 3) % 3 == 2 =>
          // JPEG slots rotate baseline 4:4:4 / 4:2:0 / PROGRESSIVE, so
          // the persisted fixture exercises every real JPEG decode path
          if ((i / 3) % 6 == 2)
            jpegProgressiveBytes(w, h, i, cbOff = 20, crOff = -10)
          else jpegBytes(w, h, i, subsample = (i / 3) % 6 == 5)
        case "image" => bmpBytes(w, h, i)
        // audio alternates PCM WAV (decoded to a real RMS envelope) and
        // Layer III MP3 (side-info global_gain loudness envelope)
        case "audio" if (i / 3) % 3 == 2 =>
          mp3Bytes(nFrames = 4 + (i / 3) % 4, seed = i,
            stereo = (i / 3) % 2 == 1, id3 = (i / 3) % 6 == 5)
        case "audio" => wavBytes(rate, nSamples = 800 + i * 16, seed = i)
        // video rotates real MJPEG AVI (one rec-grouped), MP4 and
        // Matroska containers (real box/EBML-walk metadata + frame-size
        // envelopes), and synthetic codec-bound bytes — avi-mjpeg,
        // mp4-meta, mkv-meta AND stub paths all appear in the persisted
        // fixture
        case _ if (i / 3) % 2 == 0 =>
          aviBytes(w, h, nFrames = 2 + (i / 3) % 3, seed = i,
            nested = (i / 3) % 6 == 2)
        case _ if (i / 3) % 4 == 1 =>
          mp4Bytes(w, h, nFrames = 8 + (i / 3) % 5, seed = i)
        case _ if (i / 3) % 8 == 3 =>
          mkvBytes(w, h, nFrames = 6 + (i / 3) % 4, seed = i)
        case _ =>
          Array.tabulate[Byte](w * h % 997 + 64)(j => ((i * 131 + j * 31) % 251).toByte)
      }
      (i.toLong, kind, payload, w, h, rate, s"doc-${i % 16}")
    }.toDF("media_id", "kind", "payload", "width", "height", "sample_rate", "doc_ref")
  }

  /** A valid 24-bit bottom-up BMP with a deterministic two-axis gradient
    * (distinct per `seed`, spatially structured so grid-luma features are
    * non-trivial). */
  def bmpBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowSize * h
    val b = new Array[Byte](size)
    def le32(off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    b(0) = 'B'; b(1) = 'M'; le32(2, size); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h)
    b(26) = 1; b(28) = 24; le32(30, 0); le32(34, rowSize * h)
    var y = 0
    while (y < h) {
      val base = 54 + y * rowSize
      var x = 0
      while (x < w) {
        val o = base + x * 3
        b(o) = ((x * 255 / math.max(1, w - 1) + seed * 37) % 256).toByte // B
        b(o + 1) = (y * 255 / math.max(1, h - 1)).toByte                 // G: pure y-grade
        b(o + 2) = ((x + y + seed * 11) % 256).toByte                    // R
        x += 1
      }
      y += 1
    }
    b
  }

  /**
   * A valid non-interlaced 8-bit RGB (or RGBA) PNG with the SAME
   * deterministic two-axis gradient as [[bmpBytes]] (top row brightest in
   * G, like the decoded BMP) — rows cycle through all five PNG filter
   * types (None/Sub/Up/Average/Paeth) so the decoder's full filter
   * algebra is exercised, and the stream is a real zlib deflate
   * (`java.util.zip.Deflater`).
   */
  def pngBytes(w: Int, h: Int, seed: Int, alpha: Boolean = false): Array[Byte] = {
    val ch = if (alpha) 4 else 3
    val stride = w * ch
    // raw top-down RGB(A) rows: G brightest at the top (y = 0), matching
    // what a decoder yields for bmpBytes' bottom-up storage
    val img = Array.tabulate(h) { y =>
      val row = new Array[Byte](stride)
      var x = 0
      while (x < w) {
        val o = x * ch
        row(o) = ((x + (h - 1 - y) + seed * 11) % 256).toByte             // R
        row(o + 1) = ((h - 1 - y) * 255 / math.max(1, h - 1)).toByte      // G
        row(o + 2) = ((x * 255 / math.max(1, w - 1) + seed * 37) % 256).toByte // B
        if (alpha) row(o + 3) = 255.toByte
        x += 1
      }
      row
    }
    // filter each scanline (the encode direction: filtered = raw - predictor)
    val scan = new Array[Byte](h * (1 + stride))
    var prev = new Array[Byte](stride)
    var y = 0
    while (y < h) {
      val ft = y % 5
      val base = y * (1 + stride)
      scan(base) = ft.toByte
      val cur = img(y)
      var i = 0
      while (i < stride) {
        val a = if (i >= ch) cur(i - ch) & 0xFF else 0
        val b = prev(i) & 0xFF
        val c = if (i >= ch) prev(i - ch) & 0xFF else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case _ =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        scan(base + 1 + i) = (((cur(i) & 0xFF) - pred) & 0xFF).toByte
        i += 1
      }
      prev = cur
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(scan)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length)
      val t = typ.getBytes("US-ASCII")
      bb.put(t); bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put((if (alpha) 6 else 2).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** DHT segments shared by [[jpegBytes]] and [[jpegProgressiveBytes]]:
    * DC table 0 holds the baseline categories 0..11 as 4-bit codes (a DC
    * symbol above 15 is a table error to libjpeg-derived decoders); AC
    * table 0 holds all 256 byte symbols, 0..254 as 8-bit codes and 255 as
    * the 9-bit code 510 (the all-ones code 511 stays unused, per the
    * padding convention). */
  private def huffmanTables(u8: Int => Unit, u16: Int => Unit,
      marker: Int => Unit): Unit = {
    marker(0xC4); u16(2 + 17 + 12); u8(0x00)
    (1 to 16).foreach(l => u8(if (l == 4) 12 else 0))
    (0 until 12).foreach(u8)
    marker(0xC4); u16(2 + 17 + 256); u8(0x10)
    (1 to 16).foreach(l => u8(if (l == 8) 255 else if (l == 9) 1 else 0))
    (0 until 256).foreach(u8)
  }

  /** Deterministic hash-pseudo-random luma for the `noise` JPEG content
    * mode — ONE definition shared by both encoders so baseline and
    * progressive streams carry pixel-identical content. */
  private[graft] def noiseLuma(x: Int, y: Int, w: Int, h: Int, seed: Int): Double = {
    val xi = math.min(x, w - 1)
    val yi = math.min(y, h - 1)
    var z = xi.toLong * 0x9E3779B97F4A7C15L + yi.toLong * 0xC2B2AE3D27D4EB4FL +
      seed.toLong * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 0xFFL).toDouble
  }

  /**
   * A valid BASELINE JPEG (SOF0, 8-bit, Huffman) carrying the SAME
   * luminance gradient as [[bmpBytes]]/[[pngBytes]], encoded from
   * scratch: forward DCT, uniform quantization (q=4 — mild, so the
   * planted gradient survives within a couple of gray levels), zigzag
   * run-length symbols, and two canonical Huffman tables that need none
   * of the Annex K constants:
   *  - DC: the twelve baseline magnitude categories 0..11 (T.81 F.1.2.1),
   *    each a 4-bit code (counts[4] = 12);
   *  - AC: every byte symbol — 0..254 get 8-bit codes, 255 a 9-bit code
   *    (counts[8] = 255, counts[9] = 1; DHT's Li fields are bytes, so one
   *    length cannot hold all 256).
   * Decoders read both from DHT like any other tables. Three
   * layouts:
   *  - grayscale (1 component),
   *  - color 4:4:4 (Y,Cb,Cr one block each per MCU; chroma flat),
   *  - color 4:2:0 (`subsample = true`: 4 Y blocks + Cb + Cr per MCU —
   *    the multi-block-MCU geometry real photos use).
   * `restartEvery > 0` inserts DRI/RSTn markers, exercising the
   * decoder's restart path.
   */
  def jpegBytes(w: Int, h: Int, seed: Int, gray: Boolean = false,
      subsample: Boolean = false, restartEvery: Int = 0,
      cbOff: Int = 0, crOff: Int = 0, noise: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0)
    // luma plane: same two-axis gradient as pngBytes, BT.601-folded;
    // `noise` switches to hash-pseudo-random pixels (full-spectrum AC
    // energy — the adversarial content for entropy-coding edge paths)
    def rgb(x: Int, y: Int): (Int, Int, Int) = (
      (x + (h - 1 - y) + seed * 11) % 256,
      (h - 1 - y) * 255 / math.max(1, h - 1),
      (x * 255 / math.max(1, w - 1) + seed * 37) % 256)
    def lumaAt(x: Int, y: Int): Double = {
      if (noise) return Fixtures.noiseLuma(x, y, w, h, seed)
      val (r, g, b) = rgb(math.min(x, w - 1), math.min(y, h - 1))
      0.299 * r + 0.587 * g + 0.114 * b
    }
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    // DQT: table 0, uniform q
    val q = 4
    marker(0xDB); u16(2 + 65); u8(0x00)
    (0 until 64).foreach(_ => u8(q))
    if (restartEvery > 0) { marker(0xDD); u16(4); u16(restartEvery) }
    // SOF0
    val nComp = if (gray) 1 else 3
    marker(0xC0); u16(8 + 3 * nComp); u8(8); u16(h); u16(w); u8(nComp)
    val (hy, vy) = if (subsample && !gray) (2, 2) else (1, 1)
    u8(1); u8((hy << 4) | vy); u8(0) // Y
    if (!gray) { u8(2); u8(0x11); u8(0); u8(3); u8(0x11); u8(0) }
    huffmanTables(u8, u16, marker)
    // SOS
    marker(0xDA); u16(6 + 2 * nComp); u8(nComp)
    u8(1); u8(0x00)
    if (!gray) { u8(2); u8(0x00); u8(3); u8(0x00) }
    u8(0); u8(63); u8(0)
    // --- entropy-coded data ---
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(v: Int, n: Int): Unit = {
      bitBuf = (bitBuf << n) | (v & ((1L << n) - 1))
      bitCnt += n
      while (bitCnt >= 8) {
        val b = ((bitBuf >> (bitCnt - 8)) & 0xFF).toInt
        out.write(b)
        if (b == 0xFF) out.write(0x00)
        bitCnt -= 8
      }
    }
    def flushBits(): Unit = if (bitCnt > 0) {
      val b = (((bitBuf << (8 - bitCnt)) & 0xFF)).toInt
      val padded = b | ((1 << (8 - bitCnt)) - 1)
      out.write(padded)
      if (padded == 0xFF) out.write(0x00)
      bitCnt = 0
    }
    def putSym(s: Int): Unit =
      if (s < 255) putBits(s, 8) else putBits(510, 9)
    def putDcSym(s: Int): Unit = putBits(s, 4)
    def magnitude(v: Int): (Int, Int) = { // (ssss, appended bits)
      val a = math.abs(v)
      var s = 0
      while ((a >> s) != 0) s += 1
      val bits = if (v >= 0) v else v + (1 << s) - 1
      (s, bits)
    }
    val zig = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val cosT = Array.tabulate(64) { i =>
      val u = i / 8; val x = i % 8
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
        math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    def fdct(px: Array[Double]): Array[Int] = {
      val tmp = new Array[Double](64)
      for (v <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (y <- 0 until 8) s += px(y * 8 + x) * cosT(v * 8 + y)
        tmp(v * 8 + x) = s / 2.0
      }
      val f = new Array[Int](64) // zigzag order, quantized
      for (k <- 0 until 64) {
        val u = zig(k) % 8; val v = zig(k) / 8
        var s = 0.0
        for (x <- 0 until 8) s += tmp(v * 8 + x) * cosT(u * 8 + x)
        f(k) = math.round(s / 2.0 / q).toInt
      }
      f
    }
    def encodeBlock(zq: Array[Int], dcPred: Int): Int = {
      val (ds, dbits) = magnitude(zq(0) - dcPred)
      putDcSym(ds); if (ds > 0) putBits(dbits, ds)
      var k = 1
      var run = 0
      while (k < 64) {
        if (zq(k) == 0) run += 1
        else {
          while (run > 15) { putSym(0xF0); run -= 16 }
          val (s, bits) = magnitude(zq(k))
          putSym((run << 4) | s); putBits(bits, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) putSym(0x00) // EOB
      zq(0)
    }
    def lumaBlock(px0: Int, py0: Int): Array[Double] =
      Array.tabulate(64)(i => lumaAt(px0 + i % 8, py0 + i / 8) - 128.0)
    // constant chroma planes: stored value = (Cb|Cr) − 128, so an offset
    // of 0 is neutral gray and cbOff/crOff plant a uniform color cast —
    // the fixture for the chroma-sensitive feature path
    val flatCbZ = fdct(Array.fill(64)(cbOff.toDouble))
    val flatCrZ = fdct(Array.fill(64)(crOff.toDouble))
    val mcusX = (w + 8 * hy - 1) / (8 * hy)
    val mcusY = (h + 8 * vy - 1) / (8 * vy)
    var dcY = 0; var dcCb = 0; var dcCr = 0
    var mcu = 0
    var rst = 0
    for (my <- 0 until mcusY; mx <- 0 until mcusX) {
      if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
        flushBits()
        marker(0xD0 + rst % 8)
        rst += 1
        dcY = 0; dcCb = 0; dcCr = 0
      }
      for (by <- 0 until vy; bx <- 0 until hy)
        dcY = encodeBlock(fdct(lumaBlock((mx * hy + bx) * 8, (my * vy + by) * 8)), dcY)
      if (!gray) {
        dcCb = encodeBlock(flatCbZ, dcCb)
        dcCr = encodeBlock(flatCrZ, dcCr)
      }
      mcu += 1
    }
    flushBits()
    marker(0xD9) // EOI
    out.toByteArray
  }

  /**
   * A valid PROGRESSIVE JPEG (SOF2, Huffman) carrying the SAME content —
   * pixel-for-pixel the same luma gradient, chroma casts, quantizer and
   * Huffman tables — as [[jpegBytes]], so a progressive decode must
   * reproduce the baseline feature EXACTLY (successive approximation
   * reconstructs every coefficient to full precision by the last scan).
   * The scan script exercises all four progressive scan kinds plus EOB
   * runs:
   *   1. DC first (interleaved when color, Al=1),
   *   2. DC refinement (Ah=1 → Al=0),
   *   3. AC first Y split across two spectral bands (1–5, 6–63, Al=1),
   *   4. AC refinement Y (1–63, Ah=1 → Al=0),
   *   5. AC first Cb, Cr (1–63, Al=0) — the flat chroma planes have no
   *      AC energy, so these scans are pure multi-block EOB runs.
   * `restartEvery > 0` writes DRI and inserts RSTn every that-many units
   * in EVERY scan (MCUs in the interleaved DC scans, blocks in the
   * non-interleaved ones — T.81's unit definition), with EOB runs
   * flushed at each boundary: the progressive restart path (DC
   * predictor + EOB-run reset) is its own decoder branch.
   * `acAl` deepens the Y successive-approximation ladder: first scans at
   * Al=acAl, then one refinement pass per level down to 0 (libjpeg's
   * default script ships Al=2 ladders — each level exercises the
   * refinement decoder at a different bit position).
   */
  def jpegProgressiveBytes(w: Int, h: Int, seed: Int, gray: Boolean = false,
      subsample: Boolean = false, cbOff: Int = 0, crOff: Int = 0,
      restartEvery: Int = 0, acAl: Int = 1, noise: Boolean = false): Array[Byte] = {
    require(acAl >= 1 && acAl <= 3)
    require(w > 0 && h > 0)
    def rgb(x: Int, y: Int): (Int, Int, Int) = (
      (x + (h - 1 - y) + seed * 11) % 256,
      (h - 1 - y) * 255 / math.max(1, h - 1),
      (x * 255 / math.max(1, w - 1) + seed * 37) % 256)
    def lumaAt(x: Int, y: Int): Double = {
      if (noise) return Fixtures.noiseLuma(x, y, w, h, seed)
      val (r, g, b) = rgb(math.min(x, w - 1), math.min(y, h - 1))
      0.299 * r + 0.587 * g + 0.114 * b
    }
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    val q = 4
    marker(0xDB); u16(2 + 65); u8(0x00)
    (0 until 64).foreach(_ => u8(q))
    if (restartEvery > 0) { marker(0xDD); u16(4); u16(restartEvery) }
    // SOF2 — same frame layout as jpegBytes' SOF0
    val nComp = if (gray) 1 else 3
    marker(0xC2); u16(8 + 3 * nComp); u8(8); u16(h); u16(w); u8(nComp)
    val (hy, vy) = if (subsample && !gray) (2, 2) else (1, 1)
    u8(1); u8((hy << 4) | vy); u8(0) // Y
    if (!gray) { u8(2); u8(0x11); u8(0); u8(3); u8(0x11); u8(0) }
    // the same DC and AC tables as jpegBytes
    huffmanTables(u8, u16, marker)
    // --- bit writer (0xFF00 stuffing; 1-padded flush before markers) ---
    var bitBuf = 0L
    var bitCnt = 0
    def putBits(v: Int, n: Int): Unit = if (n > 0) {
      bitBuf = (bitBuf << n) | (v & ((1L << n) - 1))
      bitCnt += n
      while (bitCnt >= 8) {
        val b = ((bitBuf >> (bitCnt - 8)) & 0xFF).toInt
        out.write(b)
        if (b == 0xFF) out.write(0x00)
        bitCnt -= 8
      }
    }
    def flushBits(): Unit = if (bitCnt > 0) {
      val b = (((bitBuf << (8 - bitCnt)) & 0xFF)).toInt
      val padded = b | ((1 << (8 - bitCnt)) - 1)
      out.write(padded)
      if (padded == 0xFF) out.write(0x00)
      bitCnt = 0
    }
    def putSym(s: Int): Unit =
      if (s < 255) putBits(s, 8) else putBits(510, 9)
    def putDcSym(s: Int): Unit = putBits(s, 4)
    def magnitude(v: Int): (Int, Int) = {
      val a = math.abs(v)
      var s = 0
      while ((a >> s) != 0) s += 1
      val bits = if (v >= 0) v else v + (1 << s) - 1
      (s, bits)
    }
    // --- forward DCT (identical math to jpegBytes) ---
    val zig = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val cosT = Array.tabulate(64) { i =>
      val u = i / 8; val x = i % 8
      (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0) *
        math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    def fdct(px: Array[Double]): Array[Int] = {
      val tmp = new Array[Double](64)
      for (v <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (y <- 0 until 8) s += px(y * 8 + x) * cosT(v * 8 + y)
        tmp(v * 8 + x) = s / 2.0
      }
      val f = new Array[Int](64)
      for (k <- 0 until 64) {
        val u = zig(k) % 8; val v = zig(k) / 8
        var s = 0.0
        for (x <- 0 until 8) s += tmp(v * 8 + x) * cosT(u * 8 + x)
        f(k) = math.round(s / 2.0 / q).toInt
      }
      f
    }
    // --- precompute every component's quantized zigzag blocks ---
    val mcusX = (w + 8 * hy - 1) / (8 * hy)
    val mcusY = (h + 8 * vy - 1) / (8 * vy)
    val yBw = mcusX * hy // padded Y block grid (interleaved DC order)
    val yBh = mcusY * vy
    val yBlocks = Array.tabulate(yBh, yBw) { (by, bx) =>
      fdct(Array.tabulate(64)(i => lumaAt(bx * 8 + i % 8, by * 8 + i / 8) - 128.0))
    }
    val cbBlock = fdct(Array.fill(64)(cbOff.toDouble))
    val crBlock = fdct(Array.fill(64)(crOff.toDouble))
    // used (non-padding) grids — AC scans are non-interleaved
    val yUw = (w + 7) / 8
    val yUh = (h + 7) / 8
    val cUw = (w + 8 * hy - 1) / (8 * hy) // chroma compH=1 vs hmax=hy
    val cUh = (h + 8 * vy - 1) / (8 * vy)
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xDA); u16(6 + 2 * comps.length); u8(comps.length)
      comps.foreach { id => u8(id); u8(0x00) }
      u8(ss); u8(se); u8((ah << 4) | al)
    }
    def tz(v: Int, al: Int): Int = // point transform: truncate toward zero
      if (v >= 0) v >> al else -((-v) >> al)
    def dcOf(comp: Int, by: Int, bx: Int): Int = comp match {
      case 0 => yBlocks(by)(bx)(0)
      case 1 => cbBlock(0)
      case 2 => crBlock(0)
    }
    val allComps = (0 until nComp).toSeq
    // restart plumbing: every `restartEvery` units within a scan, flush
    // to a byte boundary, emit RSTn (modulo-8 counter per scan), reset
    // per-scan entropy state via the callback
    def restartGate(unit: Int, rst: () => Int)(reset: => Unit): Unit =
      if (restartEvery > 0 && unit > 0 && unit % restartEvery == 0) {
        flushBits(); marker(0xD0 + rst() % 8); reset
      }
    // --- scan 1: DC first, Al=1 (interleaved when ns>1) ---
    locally {
      sos(allComps.map(_ + 1), 0, 0, 0, 1)
      val pred = new Array[Int](nComp)
      var unit = 0
      var rsts = 0
      for (my <- 0 until mcusY; mx <- 0 until mcusX) {
        restartGate(unit, () => { val r = rsts; rsts += 1; r }) {
          java.util.Arrays.fill(pred, 0)
        }
        for (c <- allComps) {
          val (ch, cv) = if (c == 0) (hy, vy) else (1, 1)
          for (by <- 0 until cv; bx <- 0 until ch) {
            val v = dcOf(c, my * cv + by, mx * ch + bx) >> 1 // arithmetic
            val (s, bits) = magnitude(v - pred(c))
            putDcSym(s); putBits(bits, s)
            pred(c) = v
          }
        }
        unit += 1
      }
      flushBits()
    }
    // --- scan 2: DC refinement, Ah=1 Al=0 (one raw bit per block) ---
    locally {
      sos(allComps.map(_ + 1), 0, 0, 1, 0)
      var unit = 0
      var rsts = 0
      for (my <- 0 until mcusY; mx <- 0 until mcusX) {
        restartGate(unit, () => { val r = rsts; rsts += 1; r })(())
        for (c <- allComps) {
          val (ch, cv) = if (c == 0) (hy, vy) else (1, 1)
          for (by <- 0 until cv; bx <- 0 until ch)
            putBits(dcOf(c, my * cv + by, mx * ch + bx) & 1, 1)
        }
        unit += 1
      }
      flushBits()
    }
    // --- AC first scan of one component's band, with EOB runs ---
    def acFirst(comp: Int, uw: Int, uh: Int, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(comp + 1), ss, se, 0, al)
      var eobRun = 0
      def flushEob(): Unit = while (eobRun > 0) {
        var r = 0
        while ((2 << r) <= eobRun && r < 14) r += 1
        val take = math.min(eobRun, (2 << r) - 1)
        putSym(r << 4)
        putBits(take - (1 << r), r)
        eobRun -= take
      }
      var unit = 0
      var rsts = 0
      for (by <- 0 until uh; bx <- 0 until uw) {
        if (restartEvery > 0 && unit > 0 && unit % restartEvery == 0) {
          flushEob(); flushBits(); marker(0xD0 + rsts % 8); rsts += 1
        }
        unit += 1
        val blk = if (comp == 0) yBlocks(by)(bx)
          else if (comp == 1) cbBlock else crBlock
        val vs = Array.tabulate(se - ss + 1)(i => tz(blk(ss + i), al))
        if (vs.forall(_ == 0)) eobRun += 1
        else {
          flushEob()
          var run = 0
          var lastNz = -1
          for (i <- vs.indices) {
            if (vs(i) == 0) run += 1
            else {
              while (run > 15) { putSym(0xF0); run -= 16 }
              val (s, bits) = magnitude(vs(i))
              putSym((run << 4) | s); putBits(bits, s)
              run = 0; lastNz = i
            }
          }
          if (lastNz < vs.length - 1) eobRun += 1 // trailing zeros → EOB
        }
      }
      flushEob()
      flushBits()
    }
    // --- AC refinement of one component's band (Ah = Al+1) ---
    def acRefine(comp: Int, uw: Int, uh: Int, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(comp + 1), ss, se, al + 1, 0 + al)
      var unit = 0
      var rsts = 0
      for (by <- 0 until uh; bx <- 0 until uw) {
        if (restartEvery > 0 && unit > 0 && unit % restartEvery == 0) {
          flushBits(); marker(0xD0 + rsts % 8); rsts += 1
        }
        unit += 1
        val blk = if (comp == 0) yBlocks(by)(bx)
          else if (comp == 1) cbBlock else crBlock
        // categories over the band: 0 = zero-history, 1 = newly
        // significant (emit with sign), 2 = already significant (one
        // correction bit, read while the decoder advances)
        val n = se - ss + 1
        val cat = new Array[Int](n)
        val corr = new Array[Int](n)
        val sign = new Array[Int](n)
        for (i <- 0 until n) {
          val c0 = blk(ss + i)
          val t = tz(c0, al)
          if (math.abs(t) > 1) { cat(i) = 2; corr(i) = (math.abs(c0) >> al) & 1 }
          else if (t != 0) { cat(i) = 1; sign(i) = if (t > 0) 1 else 0 }
        }
        // mirror the decoder's traversal exactly: ZRL consumes 16
        // zero-history slots (correction bits for significant slots ride
        // along in coefficient order); a (run,1) symbol places the new
        // value after `run` zero-history slots; EOB covers the tail.
        var k = 0
        var done = false
        while (!done) {
          var nk = -1
          var j = k
          while (j < n && nk < 0) { if (cat(j) == 1) nk = j; j += 1 }
          if (nk < 0) {
            if (k < n) { // tail: EOB(1) + correction bits
              putSym(0x00)
              for (t <- k until n if cat(t) == 2) putBits(corr(t), 1)
            }
            done = true
          } else {
            var zeros = 0
            for (t <- k until nk if cat(t) == 0) zeros += 1
            while (zeros > 15) { // ZRL: advance over exactly 16 zeros
              putSym(0xF0)
              var cnt = 0
              while (cnt < 16) {
                if (cat(k) == 0) cnt += 1 else putBits(corr(k), 1)
                k += 1
              }
              zeros -= 16
            }
            putSym((zeros << 4) | 1)
            putBits(sign(nk), 1)
            while (k < nk) { if (cat(k) == 2) putBits(corr(k), 1); k += 1 }
            k = nk + 1
          }
        }
      }
      flushBits()
    }
    // --- scans 3+: Y spectral bands at Al=acAl, then one refinement
    // pass per remaining level (acAl-1 … 0) ---
    acFirst(0, yUw, yUh, 1, 5, acAl)
    acFirst(0, yUw, yUh, 6, 63, acAl)
    for (l <- acAl - 1 to 0 by -1) acRefine(0, yUw, yUh, 1, 63, l)
    // --- scans 6-7: chroma AC in one full-precision pass (EOB runs) ---
    if (!gray) {
      acFirst(1, cUw, cUh, 1, 63, 0)
      acFirst(2, cUw, cUh, 1, 63, 0)
    }
    marker(0xD9) // EOI
    out.toByteArray
  }

  /**
   * A valid minimal ISO BMFF (MP4) video container: `ftyp` +
   * `moov(mvhd, trak(tkhd with 16.16 dims, mdia(mdhd, hdlr 'vide',
   * minf(stbl(stsd avc1 entry carrying dims, stts with the real frame
   * count, stsz with a deterministic per-frame size pattern)))))` +
   * `mdat` holding exactly those bytes. No codec bitstream — the
   * container IS the fixture ([[graft.operators.Multimodal.parseMp4]]'s
   * remit: dims, frame count, frame-size envelope).
   */
  def mp4Bytes(w: Int, h: Int, nFrames: Int, seed: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0)
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(t: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ t.getBytes("US-ASCII") ++ payload
    val zeros = (n: Int) => new Array[Byte](n)
    // identity transform matrix (tkhd/mvhd): 0x10000, 0, 0, 0, 0x10000,
    // 0, 0, 0, 0x40000000
    val matrix = be32(0x10000L) ++ zeros(4) ++ zeros(4) ++ zeros(4) ++
      be32(0x10000L) ++ zeros(4) ++ zeros(4) ++ zeros(4) ++ be32(0x40000000L)
    val frameSizes = Array.tabulate(nFrames)(i =>
      200L + ((seed * 31 + i * 97) % 300))
    val dur = nFrames * 40L // timescale 1000, 25 fps
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(512) ++
        "isommp41".getBytes("US-ASCII"))
    val mvhd = box("mvhd", zeros(4) ++ zeros(8) ++ be32(1000) ++ be32(dur) ++
      be32(0x10000L) ++ be16(0x0100) ++ zeros(10) ++ matrix ++ zeros(24) ++
      be32(2))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ zeros(8) ++ be32(1) ++
      zeros(4) ++ be32(dur) ++ zeros(8) ++ zeros(8) ++ matrix ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val mdhd = box("mdhd", zeros(4) ++ zeros(8) ++ be32(1000) ++ be32(dur) ++
      be16(0x55C4) ++ zeros(2))
    val hdlr = box("hdlr", zeros(4) ++ zeros(4) ++
      "vide".getBytes("US-ASCII") ++ zeros(12) ++ Array[Byte](0))
    // avc1 video sample entry: 6 reserved + 2 data_ref_idx +
    // 16 pre_defined/reserved + w + h + 4+4 resolution + 4 reserved +
    // 2 frame_count + 32 compressorname + 2 depth + 2 pre_defined(-1)
    val avc1 = box("avc1", zeros(6) ++ be16(1) ++ zeros(16) ++
      be16(w) ++ be16(h) ++ be32(0x480000L) ++ be32(0x480000L) ++ zeros(4) ++
      be16(1) ++ zeros(32) ++ be16(24) ++ be16(0xFFFF))
    val stsd = box("stsd", zeros(4) ++ be32(1) ++ avc1)
    val stts = box("stts", zeros(4) ++ be32(1) ++ be32(nFrames.toLong) ++ be32(40))
    val stsz = box("stsz", zeros(4) ++ be32(0) ++ be32(nFrames.toLong) ++
      frameSizes.flatMap(be32))
    val stbl = box("stbl", stsd ++ stts ++ stsz)
    val minf = box("minf", stbl)
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val moov = box("moov", mvhd ++ trak)
    val mdat = box("mdat", Array.tabulate(frameSizes.sum.toInt)(j =>
      ((seed * 131 + j * 17) % 251).toByte))
    ftyp ++ moov ++ mdat
  }

  /**
   * A valid minimal Matroska/WebM (EBML) video container: EBML header
   * (DocType webm) + Segment(Tracks(TrackEntry: TrackNumber 1,
   * TrackType video, Video(PixelWidth, PixelHeight)),
   * Cluster(Timestamp, one SimpleBlock per frame with a deterministic
   * size pattern)). No codec bitstream — the container is the fixture
   * ([[graft.operators.Multimodal.parseMkv]]'s remit). Sizes use the
   * fixed 8-byte EBML form so the writer stays trivial.
   */
  def mkvBytes(w: Int, h: Int, nFrames: Int, seed: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0)
    def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    def sz(n: Long): Array[Byte] =
      Array(0x01.toByte) ++ (6 to 0 by -1).map(i => ((n >> (8 * i)) & 0xFF).toByte)
    def el(i: Array[Byte], payload: Array[Byte]): Array[Byte] =
      i ++ sz(payload.length.toLong) ++ payload
    def uintEl(i: Array[Byte], v: Long): Array[Byte] = {
      var bytes = List.empty[Byte]
      var x = v
      do { bytes = (x & 0xFF).toByte :: bytes; x >>= 8 } while (x > 0)
      el(i, bytes.toArray)
    }
    val ebml = el(id(0x1A, 0x45, 0xDF, 0xA3),
      el(id(0x42, 0x82), "webm".getBytes("US-ASCII")))
    val trackEntry = el(id(0xAE),
      uintEl(id(0xD7), 1) ++ uintEl(id(0x83), 1) ++
        el(id(0xE0), uintEl(id(0xB0), w) ++ uintEl(id(0xBA), h)))
    val tracks = el(id(0x16, 0x54, 0xAE, 0x6B), trackEntry)
    val blocks = (0 until nFrames).map { i =>
      val n = 100 + ((seed * 31 + i * 97) % 200)
      val frame = Array.tabulate[Byte](n)(j => ((seed * 131 + j * 29) % 251).toByte)
      el(id(0xA3), Array[Byte](0x81.toByte, 0, (i * 40 % 256).toByte, 0) ++ frame)
    }.reduce(_ ++ _)
    val cluster = el(id(0x1F, 0x43, 0xB6, 0x75), uintEl(id(0xE7), 0) ++ blocks)
    ebml ++ el(id(0x18, 0x53, 0x80, 0x67), tracks ++ cluster)
  }

  /**
   * A valid MJPEG AVI: RIFF container (`hdrl` with a real avih + vids
   * strl, then a `movi` LIST) whose `00dc` chunks are the [[jpegBytes]]
   * baseline JPEGs — each frame a distinct seed, so the temporal-mean
   * feature differs from any single frame's. `nested` wraps the frames
   * in a `LIST rec ` group (the interleaved-AVI layout) to exercise the
   * decoder's one-level descent.
   */
  def aviBytes(w: Int, h: Int, nFrames: Int, seed: Int,
      nested: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0)
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fourcc(id) ++ le32(body.length) ++ body ++ pad
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(typ) ++ body)
    val avih = new Array[Byte](56)
    def put32(off: Int, v: Int): Unit = le32(v).copyToArray(avih, off)
    put32(0, 40000) // usec/frame (25 fps)
    put32(16, nFrames); put32(24, 1) // totalFrames, streams
    put32(32, w); put32(36, h)
    val strh = new Array[Byte](56)
    fourcc("vids").copyToArray(strh, 0); fourcc("MJPG").copyToArray(strh, 4)
    le32(1).copyToArray(strh, 20); le32(25).copyToArray(strh, 24) // scale, rate
    le32(nFrames).copyToArray(strh, 32)
    val strf = new Array[Byte](40) // BITMAPINFOHEADER
    le32(40).copyToArray(strf, 0); le32(w).copyToArray(strf, 4)
    le32(h).copyToArray(strf, 8); le32(0x47504A4D).copyToArray(strf, 16) // 'MJPG'
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val frames = (0 until nFrames).toArray.flatMap(f =>
      chunk("00dc", jpegBytes(w, h, seed * 100 + f)))
    val movi = list("movi", if (nested) list("rec ", frames) else frames)
    out.write(fourcc("RIFF")); out.write(le32(4 + hdrl.length + movi.length))
    out.write(fourcc("AVI ")); out.write(hdrl); out.write(movi)
    out.toByteArray
  }

  /**
   * A valid MPEG-1 Layer III (MP3) frame stream: 128 kbit/s, 44.1 kHz,
   * no CRC, 417-byte frames whose side info carries a deterministic
   * RISING `global_gain` ramp (seed-offset, +3 per granule) at the fixed
   * 59-bit-per-granule-channel offsets — main data stays zero (silence),
   * which is exactly the boundary `Multimodal.parseMp3` reads to. `id3`
   * prepends a minimal ID3v2 tag to exercise the skip.
   */
  def mp3Bytes(nFrames: Int, seed: Int, stereo: Boolean = false,
      id3: Boolean = false): Array[Byte] = {
    require(nFrames > 0)
    val out = new java.io.ByteArrayOutputStream()
    if (id3) {
      out.write("ID3".getBytes("US-ASCII"))
      out.write(Array[Byte](3, 0, 0)) // version 2.3, flags 0
      out.write(Array[Byte](0, 0, 0, 32)) // syncsafe size = 32
      out.write(new Array[Byte](32))
    }
    val nch = if (stereo) 2 else 1
    for (f <- 0 until nFrames) {
      val b = new Array[Byte](417) // 144*128000/44100, no padding
      b(0) = 0xFF.toByte; b(1) = 0xFB.toByte // sync, MPEG-1, Layer III, no CRC
      b(2) = 0x90.toByte // bitrate idx 9 (128k), srate idx 0 (44.1k)
      b(3) = (if (stereo) 0x00 else 0xC0).toByte // stereo / single channel
      def putBits(bitPos: Int, n: Int, v: Int): Unit = {
        var i = 0
        while (i < n) {
          val bp = bitPos + i
          if (((v >> (n - 1 - i)) & 1) == 1)
            b(4 + (bp >> 3)) = (b(4 + (bp >> 3)) | (1 << (7 - (bp & 7)))).toByte
          i += 1
        }
      }
      val headBits = if (stereo) 20 else 18
      for (gr <- 0 until 2; ch <- 0 until nch)
        putBits(headBits + (gr * nch + ch) * 59 + 21, 8,
          math.min(255, 40 + seed % 16 + (f * 2 + gr) * 3))
      out.write(b)
    }
    out.toByteArray
  }

  /** A valid 16-bit mono PCM WAV: deterministic integer sine-ish wave
    * with a seed-dependent frequency and a decaying envelope (so segment
    * RMS features are non-constant). */
  def wavBytes(rate: Int, nSamples: Int, seed: Int): Array[Byte] = {
    val b = new Array[Byte](44 + nSamples * 2)
    def le32(off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, k) => b(off + k) = c }
    tag(0, "RIFF"); le32(4, 36 + nSamples * 2); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
    le32(24, rate); le32(28, rate * 2); le16(32, 2); le16(34, 16)
    tag(36, "data"); le32(40, nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val amp = 16000 - (i * 12000 / math.max(1, nSamples - 1)) // decay
      val s = (amp * math.sin((seed % 7 + 1) * 2 * math.Pi * i / 64.0)).toInt
      le16(44 + i * 2, s & 0xFFFF)
      i += 1
    }
    b
  }
}

/** One-shot generator: writes the parquet fixtures the oracle reads. */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-fixturegen")
    def save(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      Writes(df.coalesce(1)).mode("overwrite").parquet(path)
    save(Fixtures.wide(spark), Fixtures.WideParquet)
    save(WideMatrix.readCsv(spark, Fixtures.F2Csv), Fixtures.Wide2Parquet)
    save(Fixtures.store(spark), Fixtures.StoreParquet)
    save(Fixtures.storeDup(spark), Fixtures.StoreDupParquet)
    save(graft.operators.Multimodal.withByteStats(Fixtures.media(spark)), Fixtures.MediaParquet)
    save(Fixtures.piiDocs(spark), Fixtures.PiiParquet)
    save(Fixtures.paraDocs(spark), Fixtures.ParaParquet)
    save(Fixtures.messyDocs(spark), Fixtures.MessyParquet)
    save(Fixtures.markupDocs(spark), Fixtures.MarkupParquet)
    save(Fixtures.sentenceDocs(spark), Fixtures.SentenceParquet)
    spark.stop()
  }
}
