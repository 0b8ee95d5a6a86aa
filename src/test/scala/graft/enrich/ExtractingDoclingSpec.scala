package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.enrich.ExtractingDocling]] — the engine-side Docling: the
  * binding that makes the pipeline produce REAL text from real
  * PDF/DOCX bytes offline. Pins magic-byte dispatch (never the
  * request's format string), the docling/v1 result shape with the
  * text round-trippable through the JSON escape, the NonFatal failure
  * contract under [[RetryPolicy]], and the full
  * [[graft.stream.FilePipeline.enrich]] path end-to-end.
  */
class ExtractingDoclingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.spark

  private def bytes(s: String) = s.getBytes("ISO-8859-1")

  private def pdf(content: String): Array[Byte] =
    bytes(s"%PDF-1.4\n1 0 obj\n<< /Length ${content.length} >>\nstream\n" +
      content + "\nendstream\nendobj\ntrailer\n<< /Size 2 >>\n" +
      "startxref\n0\n%%EOF\n")

  private def docx(xml: String): Array[Byte] = {
    val data = xml.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Long): Unit = (0 until 4).foreach(i =>
      out.write(((v >> (8 * i)) & 0xff).toInt))
    val crc = new java.util.zip.CRC32; crc.update(data)
    val name = "word/document.xml".getBytes("UTF-8")
    out.write(Array[Byte](0x50, 0x4b, 0x03, 0x04)); le16(20); le16(0)
    le16(0); le16(0); le16(0); le32(crc.getValue)
    le32(data.length.toLong); le32(data.length.toLong)
    le16(name.length); le16(0); out.write(name); out.write(data)
    val cdOff = out.size
    out.write(Array[Byte](0x50, 0x4b, 0x01, 0x02)); le16(20); le16(20)
    le16(0); le16(0); le16(0); le16(0); le32(crc.getValue)
    le32(data.length.toLong); le32(data.length.toLong)
    le16(name.length); le16(0); le16(0); le16(0); le16(0); le32(0L)
    le32(0L); out.write(name)
    val cdLen = out.size - cdOff
    out.write(Array[Byte](0x50, 0x4b, 0x05, 0x06)); le16(0); le16(0)
    le16(1); le16(1); le32(cdLen.toLong); le32(cdOff.toLong); le16(0)
    out.toByteArray
  }

  private val store: Map[String, Array[Byte]] = Map(
    "mem://a.pdf" -> pdf("BT (Real \\(pdf\\) text: \"quoted\") Tj ET"),
    "mem://b.docx" -> docx("<w:document><w:body><w:p><w:r>" +
      "<w:t>Real docx &amp; text</w:t></w:r></w:p></w:body></w:document>"),
    "mem://mislabeled.docx" -> pdf("BT (actually a pdf) Tj ET"),
    "mem://raw.bin" -> bytes("just some text, no container"),
    // /Length overruns the declared stream: out of profile
    "mem://broken.pdf" -> bytes("%PDF-1.4\n1 0 obj\n<< /Length 99 >>\n" +
      "stream\nBT (x) Tj ET\nendstream\nendobj\n%%EOF\n"))

  private val client = new ExtractingDocling(store.apply)

  private def req(source: String, fmt: String = "pdf"): String =
    s"""{"source":"$source","options":{"from_format":"$fmt"}}"""

  test("pdf and docx convert to docling/v1 results carrying the REAL " +
      "extracted text, JSON-escape round-tripped") {
    val r1 = client.convert(req("mem://a.pdf"))
    assert(r1.contains("\"schema\":\"docling/v1\""))
    assert(ExtractingDocling.stringField(r1, "format").contains("pdf"))
    assert(ExtractingDocling.stringField(r1, "text")
      .contains("Real (pdf) text: \"quoted\""))
    val r2 = client.convert(req("mem://b.docx", "docx"))
    assert(ExtractingDocling.stringField(r2, "format").contains("docx"))
    assert(ExtractingDocling.stringField(r2, "text")
      .contains("Real docx & text"))
  }

  test("dispatch is on magic bytes, not the request's format string") {
    val r = client.convert(req("mem://mislabeled.docx", "docx"))
    assert(ExtractingDocling.stringField(r, "format").contains("pdf"))
    assert(ExtractingDocling.stringField(r, "text")
      .contains("actually a pdf"))
  }

  test("failures throw NonFatal and exhaust RetryPolicy: unknown " +
      "source, raw bytes, out-of-profile pdf, missing source field") {
    Seq(req("mem://nope.pdf"), req("mem://raw.bin"),
        req("mem://broken.pdf"), """{"options":{}}""").foreach { rq =>
      intercept[RuntimeException](client.convert(rq))
      val retry = RetryPolicy(sleeper = _ => ())
      retry.run(() => client.convert(rq)) match {
        case Left((_, attempts)) => assert(attempts == 3)
        case Right(_) => fail(s"expected failure for $rq")
      }
    }
  }

  test("json escape round-trips controls, quotes, backslashes") {
    // the pdf literal escapes decode to newline, tab, a backslash and
    // the control character 001
    val hostile = "line1\nline2\t\"q\" \\  end\u0001"
    val r = new ExtractingDocling(Map("mem://h.pdf" ->
      pdf("BT (line1\\nline2\\t\"q\" \\\\  end\\001) Tj ET")).apply)
      .convert(req("mem://h.pdf"))
    assert(!r.exists(_ < ' '))
    assert(ExtractingDocling.stringField(r, "text").contains(hostile))
  }

  test("docx tables ride the result JSON in the q159 consumer shape " +
      "(tables -> rows -> cells), hostile cell text escape-safe") {
    import org.apache.spark.sql.functions.{col, from_json, posexplode}
    val xml = "<w:document><w:body>" +
      "<w:p><w:r><w:t>body para</w:t></w:r></w:p>" +
      "<w:tbl>" +
      "<w:tr><w:tc><w:p><w:r><w:t>k</w:t></w:r></w:p></w:tc>" +
      "<w:tc><w:p><w:r><w:t>v \"q\" &amp; 2</w:t></w:r></w:p></w:tc></w:tr>" +
      "<w:tr><w:tc><w:p><w:r><w:t>x</w:t></w:r></w:p></w:tc>" +
      "<w:tc><w:p><w:r><w:t>7</w:t></w:r></w:p></w:tc></w:tr>" +
      "</w:tbl></w:body></w:document>"
    val c = new ExtractingDocling(
      Map("mem://t.docx" -> docx(xml)).apply)
    val result = c.convert(req("mem://t.docx", "docx"))
    // text view: body only, cells never bleed into the flow
    assert(ExtractingDocling.stringField(result, "text")
      .contains("body para"))
    // the q159 cell analytics parse THIS json with their own schema —
    // engine-extracted output is a drop-in for the synthesized fixture
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "`schema` STRING, " +
        "tables ARRAY<STRUCT<`rows`: ARRAY<ARRAY<STRING>>>>")
    import spark.implicits._
    val cells = Seq(result).toDF("doclingResult")
      .select(from_json(col("doclingResult"), schema).as("doc"))
      .select(posexplode(col("doc.tables")).as(Seq("ti", "tbl")))
      .select(col("ti"), posexplode(col("tbl.rows")).as(Seq("ri", "row")))
      .select(col("ti"), col("ri"), posexplode(col("row"))
        .as(Seq("ci", "cell")))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(cells == Set(
      (0, 0, 0, "k"), (0, 0, 1, "v \"q\" & 2"),
      (0, 1, 0, "x"), (0, 1, 1, "7")))
    // a table-free pdf carries an empty tables array, same schema
    val pdfResult = client.convert(req("mem://a.pdf"))
    val n = Seq(pdfResult).toDF("j")
      .select(from_json(col("j"), schema).as("doc"))
      .select(org.apache.spark.sql.functions.size(col("doc.tables")))
      .head().getInt(0)
    assert(n == 0)
  }

  test("full runBatch: ExtractingDocling fetches from the just-written " +
      "incoming/ store (the reference's S3 flow) — real text lands in " +
      "processed/, the defect lands in failed/") {
    import org.apache.spark.sql.Row
    import graft.stream.{BatchMetrics, FilePipeline, PipelineConfig}
    import graft.ops.Envelope
    val out = tempDir("graft-docling-e2e").toString
    val ts = java.sql.Timestamp.valueOf("2026-08-16 01:02:03")
    def row(fn: String, body: Array[Byte]) = Row(
      fn, "application/pdf", body.length.toLong, s"T-$fn", "c" * 64,
      s"corr-$fn", body, ts, 1)
    val env = spark.createDataFrame(java.util.Arrays.asList(
      row("a.pdf", pdf("BT (Full pipeline text) Tj ET")),
      row("b.docx", docx("<w:document><w:body><w:p><w:r><w:t>docx " +
        "through the store</w:t></w:r></w:p></w:body></w:document>")),
      row("bad.bin", bytes("no container at all"))),
      Envelope.envelopeSchema)
    // the fetch side IS the object store runBatch just wrote (K1
    // happens before enrichment, exactly the reference's Docling-
    // pulls-from-S3 contract, camel/file-pipeline.yaml:129)
    val client = new ExtractingDocling(key =>
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, key)))
    val m = FilePipeline.runBatch(env, out, client,
      PipelineConfig(retry = RetryPolicy(sleeper = _ => ()),
        breakerName = java.util.UUID.randomUUID().toString))
    assert(m == BatchMetrics(3, 2, 1, 0))
    def slurp(sub: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(out, sub)
      val files = java.nio.file.Files.walk(dir).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
      files.map(p => new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8")).toSeq
    }
    val processed = slurp("processed")
    assert(processed.length == 2)
    assert(processed.exists(_.contains("Full pipeline text")))
    assert(processed.exists(_.contains("docx through the store")))
    val failed = slurp("failed")
    assert(failed.length == 1 &&
      failed(0).contains("unsupported format"))
  }

  test("end-to-end: FilePipeline.enrich with ExtractingDocling — real " +
      "text on the success branch, DLQ routing on the failure branch") {
    import spark.implicits._
    import graft.stream.{FilePipeline, PipelineConfig, PipelineRecord}
    val ts = java.sql.Timestamp.valueOf("2026-08-16 00:00:00")
    def rec(name: String, source: String) = PipelineRecord(
      fileName = name, contentType = "application/pdf", fileSize = 10L,
      transferId = s"t-$name", checksum = "c", correlationId = s"x-$name",
      eventTime = ts, deliveryCount = 1, processingDate = "2026/08/16",
      s3IncomingKey = s"incoming/$name", s3ProcessedKey = s"processed/$name",
      s3FailedKey = s"failed/$name", doclingRequest = req(source))
    val prepared = Seq(
      rec("a.pdf", "mem://a.pdf"),
      rec("b.docx", "mem://b.docx"),
      rec("raw.bin", "mem://raw.bin")).toDS().toDF()
    // bind a LOCAL val: `store.apply` would close over the (non-
    // serializable) spec instance; the Map itself serializes fine
    val localStore = store
    val enriched = FilePipeline.enrich(prepared,
      new ExtractingDocling(localStore),
      PipelineConfig(retry = RetryPolicy(sleeper = _ => ()),
        // private breaker: the registry is executor-local and shared
        // across suites in one JVM — the default "docling" name may
        // arrive OPEN from another spec's failure scenarios
        breakerName = "docling-extract-spec"))
    val (failRows, ok) = enriched.collect().partition(_.error.nonEmpty)
    val okRows = ok.map(r => r.fileName -> r.doclingResult.get).toMap
    assert(okRows.keySet == Set("a.pdf", "b.docx"))
    assert(ExtractingDocling.stringField(okRows("a.pdf"), "text")
      .contains("Real (pdf) text: \"quoted\""))
    assert(ExtractingDocling.stringField(okRows("b.docx"), "text")
      .contains("Real docx & text"))
    assert(failRows.length == 1 && failRows(0).fileName == "raw.bin")
    assert(failRows(0).attempts == 3 &&
      failRows(0).error.exists(_.contains("unsupported format")))
  }
}
