package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Golden tests for [[Multimodal.HeaderDecoder]]: hand-built header
  * bytes with dimension fields at each format's true offsets, plus the
  * malformed-input paths that must fall back rather than throw. The
  * decoder is pure (bytes → dims), so these run without Spark; one
  * end-to-end case drives extractMeta to pin the sha256 the q35 oracle
  * can no longer check (DuckDB's sha256 is VARCHAR-only).
  */
class MultimodalSpec extends AnyFunSuite with graft.TempDirs {

  private val dec = new Multimodal.HeaderDecoder()
  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  private def be4(v: Int) = f"$v%08X"
  private def be2(v: Int) = f"$v%04X"
  private def le2(v: Int) = { val h = f"$v%04X"; h.substring(2) + h.substring(0, 2) }

  test("PNG IHDR: width/height parsed big-endian at offsets 16/20") {
    val png = hx("89504E470D0A1A0A 0000000D 49484452 " +
      be4(1920) + be4(1080) + " 0806000000")
    assert(dec.decode("image/png", png) === ((1920, 1080, 1)))
    // dimension > 2^15 exercises unsigned-byte assembly
    val big = hx("89504E470D0A1A0A 0000000D 49484452 " +
      be4(40000) + be4(3) + " 0806000000")
    assert(dec.decode("image/png", big) === ((40000, 3, 1)))
  }

  test("JPEG: marker-segment scan reaches SOF0; height precedes width") {
    // SOI + APP0(JFIF, len 16) + SOF0(len 17, precision 8, h, w, 3 comps)
    val jpg = hx("FFD8 FFE00010 4A46494600010100000100010000 FFC00011 08 " +
      be2(480) + be2(640) + " 03012200021101031101")
    assert(dec.decode("image/jpeg", jpg) === ((640, 480, 1)))
    // SOF2 (progressive) is a frame header too
    val prog = hx("FFD8 FFC20011 08 " + be2(7) + be2(9) +
      " 03012200021101031101")
    assert(dec.decode("image/jpeg", prog) === ((9, 7, 1)))
    // fill bytes before the marker code must be skipped
    val fill = hx("FFD8 FFFFC00011 08 " + be2(10) + be2(20) +
      " 03012200021101031101")
    assert(dec.decode("image/jpeg", fill) === ((20, 10, 1)))
  }

  test("GIF logical screen descriptor: little-endian at offsets 6/8") {
    val gif = hx("474946383961 " + le2(320) + le2(200) + " F70000")
    assert(dec.decode("image/gif", gif) === ((320, 200, 1)))
    val gif87 = hx("474946383761 " + le2(1) + le2(65535) + " F70000")
    assert(dec.decode("image/gif", gif87) === ((1, 65535, 1)))
  }

  test("WebP: VP8X canvas, VP8 lossy start-code dims, VP8L packed bits") {
    def le3(v: Int) = { val h = f"$v%06X"
      h.substring(4) + h.substring(2, 4) + h.substring(0, 2) }
    def le4(v: Long) = { val h = f"$v%08X"
      h.substring(6) + h.substring(4, 6) + h.substring(2, 4) + h.substring(0, 2) }
    // VP8X: canvas stored as width−1 / height−1, 24-bit LE
    val vp8x = hx("52494646" + le4(22) + "57454250 56503858" + le4(10) +
      "00000000" + le3(1920 - 1) + le3(1080 - 1))
    assert(dec.decode("image/webp", vp8x) === ((1920, 1080, 1)))
    // VP8 lossy: 3-byte frame tag, 9D012A start code, 14-bit LE w/h
    val vp8 = hx("52494646" + le4(22) + "57454250 56503820" + le4(10) +
      "000000 9D012A" + le2(640) + le2(480))
    assert(dec.decode("image/webp", vp8) === ((640, 480, 1)))
    // VP8L: 0x2F signature, width−1 | (height−1)<<14 packed LE32
    val bits = (333L - 1) | ((77L - 1) << 14)
    val vp8l = hx("52494646" + le4(17) + "57454250 5650384C" + le4(5) +
      "2F" + le4(bits))
    assert(dec.decode("image/webp", vp8l) === ((333, 77, 1)))
  }

  test("WebP: bad start code, wrong fourCC, truncation fall to the stub") {
    val stub = new Multimodal.StubDecoder
    def le4(v: Long) = { val h = f"$v%08X"
      h.substring(6) + h.substring(4, 6) + h.substring(2, 4) + h.substring(0, 2) }
    // VP8 chunk whose keyframe start code is corrupt
    val badCode = hx("52494646" + le4(22) + "57454250 56503820" + le4(10) +
      "000000 9D012B" + le2(640) + le2(480))
    assert(dec.decode("image/webp", badCode) ===
      stub.decode("image/webp", badCode))
    // RIFF but not WEBP (a WAV mislabeled as an image)
    val wav = hx("52494646" + le4(22) + "57415645 56503820" + le4(10) +
      "000000 9D012A" + le2(640) + le2(480))
    assert(dec.decode("image/webp", wav) === stub.decode("image/webp", wav))
    // truncated before the dimension fields
    val short = hx("52494646" + le4(22) + "57454250 565038")
    assert(dec.decode("image/webp", short) ===
      stub.decode("image/webp", short))
  }

  test("detection is by magic bytes, not the mime label") {
    val png = hx("89504E470D0A1A0A 0000000D 49484452 " +
      be4(12) + be4(34) + " 0806000000")
    // mislabeled as jpeg: still parsed as the PNG it is
    assert(dec.decode("image/jpeg", png) === ((12, 34, 1)))
  }

  test("unknown or truncated bytes fall back to the stub, never throw") {
    val stub = new Multimodal.StubDecoder
    val junk = "not an image at all".getBytes("UTF-8")
    assert(dec.decode("video/mp4", junk) === stub.decode("video/mp4", junk))
    // valid magic, truncated before the dimension fields
    val shortPng = hx("89504E470D0A1A0A 0000000D 4948")
    assert(dec.decode("image/png", shortPng) ===
      stub.decode("image/png", shortPng))
    val shortJpg = hx("FFD8 FFE000")
    assert(dec.decode("image/jpeg", shortJpg) ===
      stub.decode("image/jpeg", shortJpg))
    // JPEG with a corrupt segment length must not scan out of bounds
    val badLen = hx("FFD8 FFE00001 00")
    assert(dec.decode("image/jpeg", badLen) ===
      stub.decode("image/jpeg", badLen))
    // truncated stream ending in 0xFF fill bytes + SOF marker: the
    // fill-byte loop advances past the loop-entry bound, so the SOF
    // dimension reads must be re-guarded (falls back, never throws)
    val fillTrunc = hx("FFD8 FFFFFFFFFFFFFFFFFF C0")
    assert(dec.decode("image/jpeg", fillTrunc) ===
      stub.decode("image/jpeg", fillTrunc))
    // same shape with a non-SOF marker: segment-length read also guarded
    val fillTruncSeg = hx("FFD8 FFFFFFFFFFFFFFFFFF E0")
    assert(dec.decode("image/jpeg", fillTruncSeg) ===
      stub.decode("image/jpeg", fillTruncSeg))
    // zero-dimension headers are invalid, not 0×0 images
    val zeroGif = hx("474946383961 0000 0A00 F70000")
    assert(dec.decode("image/gif", zeroGif) ===
      stub.decode("image/gif", zeroGif))
    assert(dec.decode("", Array.emptyByteArray) ===
      stub.decode("", Array.emptyByteArray))
  }

  private def le4(v: Long) = {
    val h = f"$v%08X"
    h.substring(6) + h.substring(4, 6) + h.substring(2, 4) + h.substring(0, 2)
  }

  /** Canonical 44-byte PCM WAV header (header-only, declared data size). */
  private def wavHeader(ch: Int, rate: Int, bits: Int, ds: Long,
                        extraChunk: String = ""): Array[Byte] = {
    val ba = ch * bits / 8
    val br = rate.toLong * ba
    hx("52494646" + le4(36 + ds) + "57415645" + extraChunk +
      "666D7420" + le4(16) + le2(1) + le2(ch) + le4(rate) + le4(br) +
      le2(ba) + le2(bits) + "64617461" + le4(ds))
  }

  test("WAV: fmt/data chunk walk yields channels, rate, bits, samples, duration") {
    val b = wavHeader(ch = 2, rate = 44100, bits = 16, ds = 441000L)
    // 441000 bytes / 4-byte frames = 110250 samples; /176400 B/s = 2500 ms
    assert(Multimodal.WavHeader.parse(b) ===
      Some((2, 44100, 16, 110250L, 2500L)))
  }

  test("WAV: unknown chunks are skipped with RIFF word alignment") {
    // a 3-byte "LIST" chunk before fmt : chunk walk must pad to 4 bytes
    val list = "4C495354" + le4(3) + "414243" + "00"
    val b = wavHeader(ch = 1, rate = 8000, bits = 8, ds = 8000L,
      extraChunk = list)
    assert(Multimodal.WavHeader.parse(b) === Some((1, 8000, 8, 8000L, 1000L)))
  }

  test("WAV: non-RIFF, truncated, and zero-field headers parse to None") {
    assert(Multimodal.WavHeader.parse("not audio".getBytes("UTF-8")).isEmpty)
    val good = wavHeader(2, 44100, 16, 1000L)
    // cut inside the fmt chunk: no fields to read
    assert(Multimodal.WavHeader.parse(good.take(20)).isEmpty)
    // zero channels is invalid, not a divide-by-zero
    assert(Multimodal.WavHeader.parse(
      wavHeader(0, 44100, 16, 1000L)).isEmpty)
  }

  test("extractAudioMeta: parseable and unparseable rows, never task aborts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio/wav", wavHeader(1, 16000, 16, 32000L)),
      Multimodal.MediaRecord(2L, "audio/mpeg", "junk".getBytes("UTF-8"))
    ).toDS()
    val rows = Multimodal.extractAudioMeta(media).collect()
      .sortBy(_.media_id)
    assert(rows(0).ok && rows(0).channels == 1 && rows(0).sampleRate == 16000)
    assert(rows(0).nSamples == 16000L && rows(0).durationMs == 1000L)
    assert(!rows(1).ok && rows(1).channels == 0 && rows(1).error.isEmpty)
  }

  test("extractMeta end-to-end: parsed dims + sha256 over the raw bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val png = hx("89504E470D0A1A0A 0000000D 49484452 " +
      be4(640) + be4(360) + " 0806000000")
    val media = Seq(Multimodal.MediaRecord(7L, "image/png", png)).toDS()
    val row = Multimodal.extractMeta(media, dec).collect().head
    assert(row.width === 640 && row.height === 360 && row.nFrames === 1)
    assert(row.ok)
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(png).map(b => f"$b%02x").mkString
    assert(row.sha256 === expected)
  }

  private val mp4Matrix = "000100000000000000000000" +
    "000000000001000000000000" + "000000000000000040000000"

  /** Canonical 236-byte MP4 header: ftyp + moov[mvhd + trak[tkhd]] —
    * the same layout q106 synthesizes. `between` injects extra
    * top-level boxes (e.g. a declared-size mdat) before moov.
    */
  private def mp4Bytes(ts: Long, dur: Long, w: Long, h: Long,
                       between: String = ""): Array[Byte] =
    hx("000000146674797069736F6D000002006D703431" + between +
      "000000D86D6F6F76" +
      "0000006C6D766864000000000000000000000000" +
      f"$ts%08X" + f"$dur%08X" +
      "0001000001000000" + ("00" * 8) + mp4Matrix + ("00" * 24) +
      "00000001" +
      "000000647472616B" +
      "0000005C746B68640000000700000000000000000000000100000000" +
      f"$dur%08X" + ("00" * 16) + mp4Matrix +
      f"${w * 65536}%08X" + f"${h * 65536}%08X")

  test("MP4: box walk yields brand, timescale, duration, 16.16 dims") {
    val b = mp4Bytes(ts = 90000L, dur = 450000L, w = 1280L, h = 720L)
    assert(b.length === 236)
    assert(Multimodal.Mp4Header.parse(b) ===
      Some(("isom", 90000, 450000L, 1280, 720)))
  }

  test("MP4: a declared-size payload box before moov is skipped, not read") {
    // 16-byte mdat between ftyp and moov: the walk must hop it by size
    val mdat = "000000106D646174" + ("AB" * 8)
    val b = mp4Bytes(600L, 1200L, 320L, 240L, between = mdat)
    assert(Multimodal.Mp4Header.parse(b) ===
      Some(("isom", 600, 1200L, 320, 240)))
  }

  test("MP4: non-ftyp, truncated, and versioned headers parse to None") {
    assert(Multimodal.Mp4Header.parse("not video".getBytes("UTF-8")).isEmpty)
    val good = mp4Bytes(1000L, 5000L, 640L, 480L)
    // cut inside mvhd: no duration to read
    assert(Multimodal.Mp4Header.parse(good.take(40)).isEmpty)
    // version-1 (64-bit) mvhd is out of scope -> unparseable, not garbage
    val v1 = good.clone(); v1(20 + 8 + 8) = 1 // mvhd version byte
    assert(Multimodal.Mp4Header.parse(v1).isEmpty)
  }

  test("MP4: buffer ending in a bare mvhd/tkhd box header returns None") {
    // the last 8 bytes form a complete box HEADER whose declared body
    // runs past the buffer: the version-byte read must stay behind the
    // length bound (pre-fix this threw ArrayIndexOutOfBounds from parse)
    val ftyp = "000000146674797069736F6D000002006D703431"
    assert(Multimodal.Mp4Header.parse(hx(ftyp + "0000006C6D766864")).isEmpty)
    assert(Multimodal.Mp4Header.parse(hx(ftyp + "0000005C746B6864")).isEmpty)
  }

  test("extractVideoMeta: parseable and unparseable rows, never task aborts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "video/mp4", mp4Bytes(600L, 1500L, 320L, 240L)),
      Multimodal.MediaRecord(2L, "application/json", "{}".getBytes("UTF-8"))
    ).toDS()
    val rows = Multimodal.extractVideoMeta(media).collect().sortBy(_.media_id)
    assert(rows(0).ok && rows(0).brand == "isom" && rows(0).timescale == 600)
    assert(rows(0).durationTicks == 1500L && rows(0).durationMs == 2500L)
    assert(rows(0).width == 320 && rows(0).height == 240)
    assert(!rows(1).ok && rows(1).width == 0 && rows(1).error.isEmpty)
  }

  // ------------------------------------------------------------- PDF

  /** A REAL minimal one-page PDF with a correct xref table and correct
    * startxref byte offset — not just field-shaped text. */
  private def realPdf(version: String = "1.7", encrypted: Boolean = false,
                      linearized: Boolean = false): (Array[Byte], Long) = {
    val sb = new StringBuilder
    sb.append(s"%PDF-$version\n")
    if (linearized)
      sb.append("1 0 obj\n<< /Linearized 1 /L 1234 >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Catalog /Pages 3 0 R >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n")
    sb.append("4 0 obj\n<< /Type /Page /Parent 3 0 R >>\nendobj\n")
    val xrefAt = sb.length.toLong
    sb.append("xref\n0 5\n0000000000 65535 f \n")
    sb.append("trailer\n<< /Size 5 /Root 2 0 R")
    if (encrypted) sb.append(" /Encrypt 9 0 R")
    sb.append(s" >>\nstartxref\n$xrefAt\n%%EOF\n")
    (sb.toString.getBytes("ISO-8859-1"), xrefAt)
  }

  test("PDF: header version, trailer /Size, and true startxref offset") {
    val (b, xrefAt) = realPdf()
    assert(Multimodal.PdfHeader.parse(b) ===
      Some(("1.7", false, false, 5, xrefAt)))
  }

  test("PDF: /Linearized and /Encrypt flags surface from their windows") {
    val (lin, at1) = realPdf(linearized = true)
    assert(Multimodal.PdfHeader.parse(lin) ===
      Some(("1.7", true, false, 5, at1)))
    val (enc, at2) = realPdf(version = "1.4", encrypted = true)
    assert(Multimodal.PdfHeader.parse(enc) ===
      Some(("1.4", false, true, 5, at2)))
  }

  test("PDF: incremental update — the LAST trailer's Size/startxref win") {
    val (orig, _) = realPdf()
    val upd = new String(orig, "ISO-8859-1") +
      "5 0 obj\n<< /Type /Annot >>\nendobj\n" +
      "xref\n5 1\n" +
      "trailer\n<< /Size 6 /Root 2 0 R /Prev 100 >>\n" +
      "startxref\n400\n%%EOF\n"
    assert(Multimodal.PdfHeader.parse(upd.getBytes("ISO-8859-1")) ===
      Some(("1.7", false, false, 6, 400L)))
  }

  test("PDF: incremental update REMOVING encryption clears the flag") {
    // the original doc is encrypted; the appended update's trailer has
    // no /Encrypt — last trailer wins, so the doc now reads decrypted
    val (orig, _) = realPdf(encrypted = true)
    val upd = new String(orig, "ISO-8859-1") +
      "5 0 obj\n<< /Type /Annot >>\nendobj\n" +
      "xref\n5 1\n" +
      "trailer\n<< /Size 6 /Root 2 0 R /Prev 100 >>\n" +
      "startxref\n400\n%%EOF\n"
    assert(Multimodal.PdfHeader.parse(upd.getBytes("ISO-8859-1")) ===
      Some(("1.7", false, false, 6, 400L)))
  }

  test("PDF: junk, missing %%EOF, and truncated files parse to None") {
    assert(Multimodal.PdfHeader.parse("not a pdf".getBytes("UTF-8")).isEmpty)
    val (b, _) = realPdf()
    val noEof = new String(b, "ISO-8859-1").replace("%%EOF", "")
    assert(Multimodal.PdfHeader.parse(noEof.getBytes("ISO-8859-1")).isEmpty)
    assert(Multimodal.PdfHeader.parse(b.take(40)).isEmpty)
    // header comment with a malformed version is not a PDF
    assert(Multimodal.PdfHeader.parse(
      "%PDF-x.y\nstartxref\n0\n%%EOF".getBytes("UTF-8")).isEmpty)
  }

  test("extractPdfMeta: parseable and unparseable rows, never task aborts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val (b, xrefAt) = realPdf(encrypted = true)
    val media = Seq(
      Multimodal.MediaRecord(1L, "application/pdf", b),
      Multimodal.MediaRecord(2L, "application/pdf", "junk".getBytes("UTF-8"))
    ).toDS()
    val rows = Multimodal.extractPdfMeta(media).collect().sortBy(_.media_id)
    assert(rows(0).ok && rows(0).version == "1.7" && rows(0).encrypted)
    assert(rows(0).nObjects == 5 && rows(0).startxref == xrefAt)
    assert(!rows(1).ok && rows(1).version == "" && rows(1).error.isEmpty)
  }

  // ------------------------------------------------------------- DOCX

  /** A REAL ZIP built by java.util.zip — the parser must agree with the
    * JDK's own central directory accounting, entry for entry. */
  private def realZip(parts: Seq[(String, String)],
                      stored: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    parts.foreach { case (name, content) =>
      val bytes = content.getBytes("UTF-8")
      val e = new java.util.zip.ZipEntry(name)
      if (stored) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(bytes.length.toLong)
        val crc = new java.util.zip.CRC32(); crc.update(bytes)
        e.setCrc(crc.getValue)
      }
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("DOCX: central-directory census agrees with java.util.zip exactly") {
    val parts = Seq(
      "[Content_Types].xml" -> "<Types/>".*(20),
      "word/document.xml" -> "<w:document>hello world</w:document>".*(10),
      "docProps/core.xml" -> "<cp:coreProperties/>")
    val b = realZip(parts)
    val got = Multimodal.DocxParts.parse(b)
    assert(got.isDefined)
    val (n, hasCt, comp, uncomp) = got.get
    // independent oracle: the JDK's own ZipFile over the same bytes
    val tmp = tempDir("graft-docx").resolve("parts.docx")
    java.nio.file.Files.write(tmp, b)
    val zf = new java.util.zip.ZipFile(tmp.toFile)
    try {
      val entries = scala.jdk.CollectionConverters
        .EnumerationHasAsScala(zf.entries()).asScala.toSeq
      assert(n === entries.size)
      assert(comp === entries.map(_.getCompressedSize).sum)
      assert(uncomp === entries.map(_.getSize).sum)
    } finally zf.close()
    assert(hasCt)
    assert(uncomp === parts.map(_._2.getBytes("UTF-8").length.toLong).sum)
  }

  test("DOCX: STORED entries make compressed == uncompressed; missing " +
       "[Content_Types].xml surfaces as hasContentTypes=false") {
    val b = realZip(Seq("a.xml" -> "AAAA", "b/c.xml" -> "BBBBBBBB"),
      stored = true)
    assert(Multimodal.DocxParts.parse(b) === Some((2, false, 12L, 12L)))
  }

  test("DOCX: junk, truncated central directory, and mis-declared entry " +
       "counts parse to None") {
    assert(Multimodal.DocxParts.parse("PK but not a zip".getBytes).isEmpty)
    assert(Multimodal.DocxParts.parse(Array.emptyByteArray).isEmpty)
    val good = realZip(Seq("[Content_Types].xml" -> "<Types/>"))
    // corrupt the EOCD's declared entry count (offset +10 from EOCD sig)
    val bad = good.clone()
    var eocd = bad.length - 22
    while (!(bad(eocd) == 0x50 && bad(eocd + 1) == 0x4b &&
             bad(eocd + 2) == 0x05 && bad(eocd + 3) == 0x06)) eocd -= 1
    bad(eocd + 10) = 9
    assert(Multimodal.DocxParts.parse(bad).isEmpty,
      "a CD/EOCD count mismatch must refuse, not partially answer")
    // cut inside the central directory: walk must stop cleanly
    assert(Multimodal.DocxParts.parse(good.take(good.length - 30)).isEmpty)
  }

  test("extractDocxMeta: parseable and unparseable rows, never task aborts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val b = realZip(Seq("[Content_Types].xml" -> "<Types/>",
      "word/document.xml" -> "<w:document/>"))
    val media = Seq(
      Multimodal.MediaRecord(1L, "application/vnd.openxmlformats-" +
        "officedocument.wordprocessingml.document", b),
      Multimodal.MediaRecord(2L, "application/msword",
        "junk".getBytes("UTF-8"))
    ).toDS()
    val rows = Multimodal.extractDocxMeta(media).collect().sortBy(_.media_id)
    assert(rows(0).ok && rows(0).nParts == 2 && rows(0).hasContentTypes)
    assert(!rows(1).ok && rows(1).nParts == 0 && rows(1).error.isEmpty)
  }

  // ------------------------------------------------------------------
  // Exif / TIFF-IFD (JPEG APP1): endian-parameterized hand-built files
  // ------------------------------------------------------------------

  private def le4(v: Int) = {
    val h = f"$v%08X"
    h.substring(6) + h.substring(4, 6) + h.substring(2, 4) + h.substring(0, 2)
  }

  /** One IFD entry in the chosen endianness; `value4` is 8 hex chars. */
  private def ifdEntry(le: Boolean, tag: Int, tpe: Int, count: Int,
                       value4: String): String = {
    def e2(v: Int) = if (le) le2(v) else be2(v)
    def e4(v: Int) = if (le) le4(v) else be4(v)
    e2(tag) + e2(tpe) + e4(count) + value4
  }

  private def tiffHeader(le: Boolean): String =
    (if (le) "4949" + le2(42) else "4D4D" + be2(42)) +
      (if (le) le4(8) else be4(8))

  /** Wrap a TIFF body in SOI + APP1("Exif\0\0"); APP1 length is ALWAYS
    * big-endian per the JPEG spec, whatever the TIFF endianness.
    */
  private def exifJpeg(tiffHex: String): Array[Byte] = {
    val tiff = hx(tiffHex)
    hx("FFD8 FFE1" + be2(tiff.length + 6 + 2) + "457869660000") ++ tiff
  }

  private def fullExif(le: Boolean, orient: Int): Array[Byte] = {
    def e2(v: Int) = if (le) le2(v) else be2(v)
    def e4(v: Int) = if (le) le4(v) else be4(v)
    exifJpeg(tiffHeader(le) + e2(4) +
      ifdEntry(le, 0x010f, 2, 4, "41434D00") + // Make "ACM\0"
      ifdEntry(le, 0x0110, 2, 4, "4D444C00") + // Model "MDL\0"
      ifdEntry(le, 0x0112, 3, 1, e2(orient) + "0000") +
      ifdEntry(le, 0x8825, 4, 1, e4(62)) + e4(0) +
      e2(2) +
      ifdEntry(le, 0x0002, 5, 3, e4(200)) + // GPSLatitude (dangling)
      ifdEntry(le, 0x0004, 5, 3, e4(224)) + // GPSLongitude (dangling)
      e4(0))
  }

  test("Exif: IFD0 + GPS IFD parse identically under II and MM") {
    for (le <- Seq(true, false)) {
      val p = Multimodal.ExifHeader.parse(fullExif(le, 6)).get
      assert(p.endian == (if (le) "le" else "be"))
      assert(p.orientation == 6)
      assert(p.hasMake && p.hasModel && p.hasGpsIfd)
      assert(p.gpsLatPresent && p.gpsLonPresent)
    }
  }

  test("Exif: orientation-only and GPS-longitude-only shapes") {
    for (le <- Seq(true, false)) {
      def e2(v: Int) = if (le) le2(v) else be2(v)
      def e4(v: Int) = if (le) le4(v) else be4(v)
      val orientOnly = exifJpeg(tiffHeader(le) + e2(1) +
        ifdEntry(le, 0x0112, 3, 1, e2(8) + "0000") + e4(0))
      val po = Multimodal.ExifHeader.parse(orientOnly).get
      assert(po.orientation == 8 && !po.hasMake && !po.hasModel &&
        !po.hasGpsIfd && !po.gpsLatPresent && !po.gpsLonPresent)

      val gpsLonOnly = exifJpeg(tiffHeader(le) + e2(1) +
        ifdEntry(le, 0x8825, 4, 1, e4(26)) + e4(0) +
        e2(1) + ifdEntry(le, 0x0004, 5, 3, e4(300)) + e4(0))
      val pg = Multimodal.ExifHeader.parse(gpsLonOnly).get
      assert(pg.orientation == 0 && pg.hasGpsIfd &&
        !pg.gpsLatPresent && pg.gpsLonPresent)
    }
  }

  test("Exif: spec-legal 0xFF fill padding before markers is skipped") {
    // ITU T.81 §B.1.1.2: any marker may be preceded by any number of
    // 0xFF fill bytes. ADVICE r12: the scan must not read the real
    // marker byte as a length high byte and bail.
    val tiff = tiffHeader(le = true) + le2(1) +
      ifdEntry(le = true, 0x0112, 3, 1, le2(5) + "0000") + le4(0)
    val app1 = "FFE1" + be2(hx(tiff).length + 8) + "457869660000" + tiff
    // fill bytes directly after SOI, and again between APP0 and APP1
    val app0 = "FFE0" + be2(7) + "4A46494600"
    for (fill <- Seq("FF", "FFFF", "FFFFFF")) {
      val padded = Multimodal.ExifHeader.parse(
        hx("FFD8" + fill + app0 + fill + app1))
      assert(padded.isDefined, s"fill=$fill must still parse")
      assert(padded.get.orientation == 5)
    }
  }

  test("Exif: the APP1 scan skips earlier segments and stops at SOS") {
    // APP0/JFIF first, THEN the Exif APP1 — must still be found
    val tiff = tiffHeader(le = true) + le2(1) +
      ifdEntry(le = true, 0x0112, 3, 1, le2(3) + "0000") + le4(0)
    val app0 = "FFE0" + be2(7) + "4A46494600" // APP0 "JFIF\0"
    val app1 = "FFE1" + be2(hx(tiff).length + 8) + "457869660000" + tiff
    val after = Multimodal.ExifHeader.parse(hx("FFD8" + app0 + app1))
    assert(after.get.orientation == 3)
    // Exif "after" SOS must NOT be found (entropy-coded data)
    val sosFirst = hx("FFD8" + "FFDA" + be2(4) + "0000" + app1.replaceAll(" ", ""))
    assert(Multimodal.ExifHeader.parse(sosFirst).isEmpty)
  }

  test("Exif: junk, wrong magic, hostile counts, truncation parse to None") {
    val E = Multimodal.ExifHeader
    assert(E.parse("not a jpeg".getBytes("US-ASCII")).isEmpty)
    assert(E.parse(Array.empty[Byte]).isEmpty)
    // APP1 that is XMP, not Exif
    assert(E.parse(hx("FFD8 FFE1" + be2(10) + "68747470 3A2F2F2F2F")).isEmpty)
    // TIFF magic 43 instead of 42
    assert(E.parse(exifJpeg("4949" + le2(43) + le4(8) + le2(0) + le4(0)))
      .isEmpty)
    // declared entry count crosses the segment end: fail, not partial
    assert(E.parse(exifJpeg(tiffHeader(le = true) + le2(0xffff))).isEmpty)
    // GPS pointer aiming past the segment end: fail closed
    val danglingGps = exifJpeg(tiffHeader(le = true) + le2(1) +
      ifdEntry(le = true, 0x8825, 4, 1, le4(5000)) + le4(0))
    assert(E.parse(danglingGps).isEmpty)
    // every truncation of a valid file parses to None or a valid shape
    val good = fullExif(le = false, orient = 1)
    for (cut <- 0 until good.length)
      E.parse(good.take(cut)) // must not throw
    assert(E.parse(good.take(good.length - 1)).isEmpty,
      "losing the final GPS byte must fail the GPS walk")
  }

  test("extractExifMeta: parseable and unparseable rows, never task aborts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/jpeg", fullExif(le = true, 7)),
      Multimodal.MediaRecord(2L, "image/jpeg", "junk".getBytes("UTF-8"))
    ).toDS()
    val rows = Multimodal.extractExifMeta(media).collect().sortBy(_.media_id)
    assert(rows(0).ok && rows(0).endian == "le" && rows(0).orientation == 7 &&
      rows(0).gpsLatPresent && rows(0).gpsLonPresent)
    assert(!rows(1).ok && rows(1).endian == "" && rows(1).error.isEmpty)
  }
}
