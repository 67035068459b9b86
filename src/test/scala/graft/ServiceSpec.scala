package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers

import graft.service.GraftService

/** Drives the REST service layer end-to-end over a real HTTP socket:
  * the same assertions the reference's `tests/service/api/app_test.py`
  * makes (routing, Accept negotiation, upload forms, model output
  * formats), against the Spark-backed implementation.
  */
class ServiceSpec extends SparkSuite {

  private lazy val service = new GraftService(spark).start()
  private lazy val base = s"http://127.0.0.1:${service.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  // title block (3 toks, large font) + authors + body + Figure/Table
  // captions + Acknowledgements + References (PipelineOps.altoOf)
  private lazy val alto = graft.queries.PipelineOps.altoOf(1L,
    "Neural Corpus Engines Alice Smith " +
      (1 to 30).map(i => s"word$i").mkString(" "))

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      BodyHandlers.ofString())

  private def post(path: String, accept: Option[String] = None,
      body: String = alto,
      contentType: Option[String] = None): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(BodyPublishers.ofString(body))
    accept.foreach(a => b = b.header("Accept", a))
    contentType.foreach(ct => b = b.header("Content-Type", ct))
    client.send(b.build(), BodyHandlers.ofString())
  }

  test("GET / and /api answer the link index") {
    assert(get("/").statusCode() == 200)
    assert(get("/").body() == """{"links": {}}""")
    assert(get("/api").body() == """{"links": {}}""")
  }

  test("processFulltextDocument returns full TEI") {
    val r = post("/api/processFulltextDocument",
      accept = Some("application/tei+xml"))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/xml")
    assert(r.body().startsWith("""<TEI xmlns="http://www.tei-c.org/ns/1.0">"""))
    assert(r.body().contains("Neural Corpus Engines"))  // title
    assert(r.body().contains("<listBibl>"))             // references
    assert(r.body().contains("""<div type="acknowledgement">"""))
  }

  test("processHeaderDocument returns front matter only") {
    val r = post("/api/processHeaderDocument",
      accept = Some("application/tei+xml"))
    assert(r.statusCode() == 200)
    assert(r.body().contains("Neural Corpus Engines"))
    assert(!r.body().contains("<listBibl>"))
    assert(!r.body().contains("""<div type="acknowledgement">"""))
  }

  test("processReferences returns the reference list only") {
    val r = post("/api/processReferences",
      accept = Some("application/tei+xml"))
    assert(r.statusCode() == 200)
    assert(r.body().contains("<listBibl>"))
    assert(r.body().contains("Smith"))
    assert(!r.body().contains("Neural Corpus Engines"))
  }

  test("unacceptable Accept header answers 406 with the supported list") {
    val r = post("/api/processFulltextDocument", accept = Some("text/csv"))
    assert(r.statusCode() == 406)
    assert(r.body().contains("application/tei+xml"))
  }

  test("convert negotiates JATS and honors includes=") {
    val jats = post("/api/convert", accept = Some("application/vnd.jats+xml"))
    assert(jats.statusCode() == 200)
    assert(jats.body().contains("<article"))
    val title = post("/api/convert?includes=title",
      accept = Some("application/tei+xml"))
    assert(title.statusCode() == 200)
    assert(title.body().contains("Neural Corpus Engines"))
    assert(!title.body().contains("<listBibl>"))
    // wildcard accept falls back to the first supported type (JATS)
    val any = post("/api/convert", accept = Some("*/*"))
    assert(any.statusCode() == 200 && any.body().contains("<article"))
  }

  test("processFulltextAssetDocument returns a zip") {
    val r = client.send(
      HttpRequest.newBuilder(
          URI.create(base + "/api/processFulltextAssetDocument"))
        .header("Accept", "application/tei+xml+zip")
        .POST(BodyPublishers.ofString(alto)).build(),
      BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/zip")
    assert(r.body().take(2).sameElements("PK".getBytes))
  }

  test("convert Accept matrix matches the reference status codes " +
      "(routers/convert.py:113-124) and zip forces asset extraction " +
      "(app/parser.py:401-410)") {
    def postBytes(accept: String): HttpResponse[Array[Byte]] = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .header("Accept", accept)
        .POST(BodyPublishers.ofString(alto)).build(),
      BodyHandlers.ofByteArray())
    // the full priority list: xml forms answer XML, zip forms answer
    // zip, PDF passthrough for an ALTO upload is 501 (the reference
    // returns the converted source PDF; an ALTO source has none —
    // PDF/DOCX uploads DO pass through, see the round-16 cases),
    // anything else is 406
    val matrix = Seq(
      "application/vnd.jats+xml" -> (200, "application/xml"),
      "application/tei+xml" -> (200, "application/xml"),
      "application/vnd.jats+xml+zip" -> (200, "application/zip"),
      "application/tei+xml+zip" -> (200, "application/zip"),
      "application/pdf" -> (501, ""),
      "text/plain" -> (406, ""),
      "image/png, text/html" -> (406, ""))
    matrix.foreach { case (accept, (code, ct)) =>
      val r = postBytes(accept)
      assert(r.statusCode() == code, s"$accept -> ${r.statusCode()}")
      if (code == 200)
        assert(r.headers().firstValue("Content-Type").get() == ct, accept)
    }
    // */* and a missing Accept pick the first (JATS XML), reference
    // priority order
    assert(postBytes("*/*").statusCode() == 200)
    val noAccept = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .POST(BodyPublishers.ofString(alto)).build(),
      BodyHandlers.ofByteArray())
    assert(noAccept.statusCode() == 200)
    assert(new String(noAccept.body()).contains("<article"), "JATS default")
    // zip-forces-extract_graphic_assets: the TEI inside the zip carries
    // <graphic url=…> asset ids, while the plain XML response keeps the
    // session default (graphics/bounding boxes off — no <graphic> at
    // all, matching the reference default config)
    val plainTei = post("/api/convert", accept = Some("application/tei+xml"))
    assert(!plainTei.body().contains("<graphic "), plainTei.body().take(400))
    val zipBytes = postBytes("application/tei+xml+zip").body()
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(zipBytes))
    val entries = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> new String(zin.readAllBytes())).toMap
    assert(entries.contains("tei.xml"), entries.keySet)
    assert(entries("tei.xml").contains("url="), entries("tei.xml").take(400))
  }

  test("pdfalto echoes ALTO; a PDF upload parses in-JVM and returns " +
      "REAL ALTO XML (round 16: the A1 seam is live)") {
    val ok = post("/api/pdfalto")
    assert(ok.statusCode() == 200)
    assert(ok.headers().firstValue("Content-Type").get() ==
      "application/vnd.alto+xml")
    assert(ok.body() == alto)
    val pdfBytes = graft.sources.PdfWriter.documentPdf(
      "Neural Corpus Engines Alice Smith body words here")
    val pdf = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/pdfalto"))
        .header("Content-Type", "application/pdf")
        .POST(BodyPublishers.ofByteArray(pdfBytes)).build(),
      BodyHandlers.ofString())
    assert(pdf.statusCode() == 200, pdf.body())
    assert(pdf.headers().firstValue("Content-Type").get() ==
      "application/vnd.alto+xml")
    assert(pdf.body().contains("<String CONTENT=\"Neural\""), pdf.body().take(400))
    assert(pdf.body().contains("FONTSTYLE=\"bold\""))
    // the returned ALTO is re-ingestable: it round-trips through the
    // ALTO document route to the same title
    val again = post("/api/processHeaderDocument",
      accept = Some("application/tei+xml"), body = pdf.body())
    assert(again.statusCode() == 200, again.body())
    assert(again.body().contains("Neural Corpus Engines"))
    // malformed PDF bytes are a client error, not a 500
    val bad = post("/api/pdfalto", body = "%PDF-1.4 fake")
    assert(bad.statusCode() == 400, bad.statusCode().toString)
  }

  test("multipart upload with a file field is accepted") {
    val boundary = "graftTestBoundary"
    val body = s"--$boundary\r\n" +
      "Content-Disposition: form-data; name=\"file\"; filename=\"d.xml\"\r\n" +
      "Content-Type: application/xml\r\n\r\n" +
      alto + s"\r\n--$boundary--\r\n"
    val r = post("/api/processHeaderDocument",
      accept = Some("application/tei+xml"), body = body,
      contentType = Some(s"multipart/form-data; boundary=$boundary"))
    assert(r.statusCode() == 200)
    assert(r.body().contains("Neural Corpus Engines"))
  }

  test("empty body answers 400") {
    val r = post("/api/processFulltextDocument",
      accept = Some("application/tei+xml"), body = "")
    assert(r.statusCode() == 400)
  }

  test("unsupported request media type answers 406 with the parser message") {
    // app/parser.py:479-482 + api/app.py:49-58: a declared media type
    // the engine cannot process maps to 406 with the parser's detail
    val r = post("/api/convert", accept = Some("application/tei+xml"),
      contentType = Some("image/png"))
    assert(r.statusCode() == 406)
    assert(r.body() == """{"detail": "unsupported media type: 'image/png'"}""")
    // parameters after the type are stripped before the check
    val r2 = post("/api/processFulltextDocument",
      accept = Some("application/tei+xml"),
      contentType = Some("video/mp4; codec=avc1"))
    assert(r2.statusCode() == 406)
    assert(r2.body() == """{"detail": "unsupported media type: 'video/mp4'"}""")
  }

  test("PDF upload processes end-to-end on every document route " +
      "(round 16: title/TEI from real PDF bytes, no binary seam)") {
    val pdfBytes = graft.sources.PdfWriter.documentPdf(
      "Neural Corpus Engines Alice Smith " +
        (1 to 30).map(i => s"word$i").mkString(" "))
    for (path <- Seq("/api/convert", "/api/processHeaderDocument",
        "/api/processFulltextDocument")) {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(base + path))
          .header("Accept", "application/tei+xml")
          .header("Content-Type", "application/pdf")
          .POST(BodyPublishers.ofByteArray(pdfBytes)).build(),
        BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"$path: ${r.statusCode()} ${r.body()}")
      assert(r.body().contains("Neural Corpus Engines"), path)
    }
    // Accept: application/pdf on convert returns the SOURCE PDF for a
    // PDF upload (the reference's converted-source passthrough)
    val passthrough = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .header("Accept", "application/pdf")
        .header("Content-Type", "application/pdf")
        .POST(BodyPublishers.ofByteArray(pdfBytes)).build(),
      BodyHandlers.ofByteArray())
    assert(passthrough.statusCode() == 200)
    assert(passthrough.body().sameElements(pdfBytes))
    // malformed PDF bytes: client error
    val bad = post("/api/processFulltextDocument",
      accept = Some("application/tei+xml"), body = "%PDF-1.4 fake content")
    assert(bad.statusCode() == 400, bad.statusCode().toString)
  }

  test("PDF upload with zip Accept extracts embedded images as REAL " +
      "PNG zip entries (A8 from actual PDF data)") {
    import graft.sources.PdfWriter
    import graft.sources.PdfWriter.{PImage, PTok}
    val toks = Seq(
      PTok("Neural", 50, 60, 18, bold = true),
      PTok("Corpus", 120, 60, 18, bold = true),
      PTok("Engines", 190, 60, 18, bold = true),
      PTok("Alice", 50, 90, 9.5), PTok("Smith", 90, 90, 9.5),
      PTok("Figure", 50, 600, 9.5), PTok("1", 95, 600, 9.5),
      PTok(":", 102, 600, 9.5), PTok("sample", 110, 600, 9.5))
    val pdf = PdfWriter.buildWithImages(
      Seq((toks, Seq(PImage(50, 560, 200, 30)))))
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/processFulltextAssetDocument"))
        .header("Accept", "application/tei+xml+zip")
        .header("Content-Type", "application/pdf")
        .POST(BodyPublishers.ofByteArray(pdf)).build(),
      BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200, new String(r.body()).take(300))
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(r.body()))
    var names = List.empty[String]
    var pngOk = false
    var e = zin.getNextEntry
    while (e != null) {
      names ::= e.getName
      if (e.getName.endsWith(".png")) {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](4096)
        var n = zin.read(b)
        while (n > 0) { buf.write(b, 0, n); n = zin.read(b) }
        val png = buf.toByteArray
        pngOk = png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47)
      }
      e = zin.getNextEntry
    }
    assert(names.contains("tei.xml"), names)
    assert(names.exists(_.endsWith(".png")), names)
    assert(pngOk, "png entry carries real PNG bytes")
  }

  test("DOCX upload converts in-JVM and processes end-to-end through " +
      "/api/convert (A3: docx -> PDF -> tokens -> TEI)") {
    import graft.sources.DocxReader
    val docx = DocxReader.buildDocx(Seq(
      ("Title", Seq(DocxReader.Run("Neural Corpus Engines", bold = false,
        italic = false))),
      ("", Seq(DocxReader.Run("Alice Smith", bold = false, italic = false))),
      ("", Seq(
        DocxReader.Run("The corpus body with ", bold = false, italic = false),
        DocxReader.Run("emphasis", bold = false, italic = true),
        DocxReader.Run(" and more plain words after it.", bold = false,
          italic = false)))))
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .header("Accept", "application/tei+xml")
        .header("Content-Type",
          "application/vnd.openxmlformats-officedocument" +
            ".wordprocessingml.document")
        .POST(BodyPublishers.ofByteArray(docx)).build(),
      BodyHandlers.ofString())
    assert(r.statusCode() == 200, s"${r.statusCode()} ${r.body()}")
    assert(r.body().contains("Neural Corpus Engines"), r.body().take(600))
    assert(r.body().contains("<forename type=\"first\">Alice</forename>"),
      r.body().take(600))
    assert(r.body().contains("emphasis"))
    // Accept: application/pdf returns the IN-JVM CONVERTED PDF
    val pdf = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .header("Accept", "application/pdf")
        .POST(BodyPublishers.ofByteArray(docx)).build(),
      BodyHandlers.ofByteArray())
    assert(pdf.statusCode() == 200)
    assert(pdf.body().take(4).sameElements("%PDF".getBytes))
    // legacy OLE .doc still reports the LibreOffice 501 seam
    val ole = Array[Byte](0xd0.toByte, 0xcf.toByte, 0x11, 0xe0.toByte,
      0xa1.toByte, 0xb1.toByte, 0x1a, 0xe1.toByte) ++
      new Array[Byte](64)
    val doc = client.send(
      HttpRequest.newBuilder(URI.create(base + "/api/convert"))
        .header("Accept", "application/tei+xml")
        .POST(BodyPublishers.ofByteArray(ole)).build(),
      BodyHandlers.ofString())
    assert(doc.statusCode() == 501, doc.body())
  }

  test("multipart content-type without a boundary answers 400") {
    val r = post("/api/convert", accept = Some("application/tei+xml"),
      body = "irrelevant", contentType = Some("multipart/form-data"))
    assert(r.statusCode() == 400)
    assert(r.body().contains("boundary"))
  }

  test("multipart without input or file field answers 400 with the reference detail") {
    // api/dependencies.py:80-83
    val boundary = "graftTestBoundary"
    val body = s"--$boundary\r\n" +
      "Content-Disposition: form-data; name=\"other\"\r\n\r\n" +
      "data\r\n" + s"--$boundary--\r\n"
    val r = post("/api/convert", accept = Some("application/tei+xml"),
      body = body,
      contentType = Some(s"multipart/form-data; boundary=$boundary"))
    assert(r.statusCode() == 400)
    assert(r.body() ==
      """{"detail": "multipart request without 'input' or 'file' field"}""")
  }

  /** Two-page ALTO: page 1 carries alpha..epsilon, page 2 the
    * distinctive zebra/yak/xerus tokens. */
  private lazy val twoPageAlto: String = {
    def page(nr: Int, words: Seq[String]) = {
      val strings = words.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="$t" HPOS="${50 + i * 40}" VPOS="60" WIDTH="36" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString
      s"""<Page PHYSICAL_IMG_NR="$nr" WIDTH="612" HEIGHT="792"><PrintSpace>""" +
        s"<TextBlock><TextLine>$strings</TextLine></TextBlock></PrintSpace></Page>"
    }
    """<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#"><Styles>""" +
      """<TextStyle ID="font1" FONTFAMILY="Times" FONTSIZE="9.5" FONTSTYLE=""/>""" +
      "</Styles><Layout>" +
      page(1, Seq("alpha", "beta", "gamma", "delta", "epsilon")) +
      page(2, Seq("zebra", "yak", "xerus")) +
      "</Layout></alto>"
  }

  /** Like [[twoPageAlto]] but page 2's token carries a malformed HPOS:
    * parsing page 2 throws, so only a parse that PRUNES the page range
    * at the StAX level (pdfalto -f/-l semantics) can serve a ranged
    * request over this document. */
  private lazy val malformedPage2Alto: String =
    twoPageAlto.replace("""CONTENT="zebra" HPOS="50"""",
      """CONTENT="zebra" HPOS="not-a-number"""")

  test("page range prunes AT THE PARSE: an out-of-range malformed page " +
      "is never tokenized, and the ranged TEI is stable") {
    assert(malformedPage2Alto.contains("not-a-number")) // guard the fixture
    // full-range parse must hit the malformed page -> 500
    val full = post("/api/convert",
      accept = Some("application/tei+xml"), body = malformedPage2Alto)
    assert(full.statusCode() == 500, full.body())
    // ranged parse never touches page 2 -> 200, output identical to
    // the same request over the intact document
    val ranged = post("/api/convert?last_page=1",
      accept = Some("application/tei+xml"), body = malformedPage2Alto)
    assert(ranged.statusCode() == 200, ranged.body())
    val intact = post("/api/convert?last_page=1",
      accept = Some("application/tei+xml"), body = twoPageAlto)
    assert(ranged.body() == intact.body())
    assert(ranged.body().contains("alpha") && !ranged.body().contains("zebra"))
    // includes= composes with the range on the same request
    val inc = post("/api/convert?last_page=1&includes=title",
      accept = Some("application/tei+xml"), body = malformedPage2Alto)
    assert(inc.statusCode() == 200, inc.body())
    assert(!inc.body().contains("zebra"))
    // a root type the ranged document does not produce filters to an
    // empty (smaller) TEI — the includes= subtree filter ran on the
    // page-pruned output
    val incNone = post("/api/convert?last_page=1&includes=references",
      accept = Some("application/tei+xml"), body = malformedPage2Alto)
    assert(incNone.statusCode() == 200, incNone.body())
    assert(incNone.body().length < ranged.body().length)
    assert(!incNone.body().contains("alpha"))
  }

  test("first_page/last_page restrict processing to the page range") {
    // convert.py:40-58: the page range limits what pdfalto converts —
    // here, which token pages enter the pipeline
    val all = post("/api/processFulltextDocument",
      accept = Some("application/tei+xml"), body = twoPageAlto)
    assert(all.statusCode() == 200)
    assert(all.body().contains("zebra") && all.body().contains("alpha"))
    val p1 = post("/api/processFulltextDocument?last_page=1",
      accept = Some("application/tei+xml"), body = twoPageAlto)
    assert(p1.statusCode() == 200)
    assert(!p1.body().contains("zebra") && p1.body().contains("alpha"))
    val p2 = post("/api/convert?first_page=2",
      accept = Some("application/tei+xml"), body = twoPageAlto)
    assert(p2.statusCode() == 200)
    assert(p2.body().contains("zebra") && !p2.body().contains("alpha"))
    val bad = post("/api/convert?first_page=abc",
      accept = Some("application/tei+xml"), body = twoPageAlto)
    assert(bad.statusCode() == 400)
  }

  test("error detail bodies are valid JSON even with quotes/backslashes") {
    // the 400 message embeds the (attacker-controlled) output_format
    // value — a quote/backslash in it used to break the JSON body
    val r = post("/api/models/header?output_format=" +
      java.net.URLEncoder.encode("""bad"va\lue""", "UTF-8"))
    assert(r.statusCode() == 400)
    val body = r.body()
    assert(body.startsWith("""{"detail": """"))
    assert(body.contains("\\\"") && body.contains("\\\\"))
    // minimal structural check: the value parses back out of the escapes
    assert(body.endsWith("\"}"))
  }

  test("models/segmentation raw_data returns one feature line per line") {
    val r = post("/api/models/segmentation?output_format=raw_data")
    assert(r.statusCode() == 200)
    val lines = r.body().split("\n").filter(_.nonEmpty)
    assert(lines.nonEmpty)
    // segmentation features are line-level: first field is the
    // selected (block-first) token in its original case
    assert(lines.exists(_.startsWith("Neural")))
    // line-level data format: selected-token label rides the line
    val data = post("/api/models/segmentation?output_format=data")
    assert(data.statusCode() == 200)
    assert(data.body().split("\n").exists(_.endsWith("-<header>")))
  }

  test("models/header json returns labeled token lines") {
    val r = post("/api/models/header?output_format=json")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get() == "application/json")
    assert(r.body().startsWith("""{"model":"header","""))
    assert(r.body().contains("B-<title>"))
    assert(r.body().contains("\"Neural\""))
  }

  test("models/header xml returns training-style tagged XML") {
    val r = post("/api/models/header?output_format=xml")
    assert(r.statusCode() == 200)
    assert(r.body().contains("<docTitle>"))
    assert(r.body().contains("Neural"))
  }

  test("models/citation data returns tag-separated labeled lines") {
    val r = post("/api/models/citation?output_format=data")
    assert(r.statusCode() == 200)
    val lines = r.body().split("\n").filter(_.nonEmpty)
    assert(lines.nonEmpty)
    assert(lines.exists(_.endsWith("I-<author>")))
    assert(lines.exists(_.endsWith("I-<title>")))
  }

  test("models/name-citation extracts the per-reference author tokens") {
    val r = post("/api/models/name-citation?output_format=json")
    assert(r.statusCode() == 200)
    assert(r.body().contains("B-<forename>"))
    assert(r.body().contains("B-<surname>"))
    assert(r.body().contains("\"Alice\""))
  }

  test("models/figure labels caption label and description") {
    val r = post("/api/models/figure?output_format=json")
    assert(r.statusCode() == 200)
    assert(r.body().contains("B-<label>"))
    assert(r.body().contains("B-<figDesc>"))
  }

  test("unknown model answers 404; bad output_format answers 400") {
    assert(post("/api/models/nope").statusCode() == 404)
    assert(post("/api/models/header?output_format=csv").statusCode() == 400)
  }

  test("no_use_segmentation widens the header view to the whole document") {
    val seg = post("/api/models/header?output_format=raw_data")
    val all = post("/api/models/header?output_format=raw_data&no_use_segmentation=true")
    assert(seg.statusCode() == 200 && all.statusCode() == 200)
    assert(all.body().split("\n").length > seg.body().split("\n").length)
  }

  /** The PDF-with-images and DOCX uploads of the PDF/DOCX cases above. */
  private lazy val pdfWithImages: Array[Byte] = {
    import graft.sources.PdfWriter
    import graft.sources.PdfWriter.{PImage, PTok}
    PdfWriter.buildWithImages(Seq((Seq(
      PTok("Neural", 50, 60, 18, bold = true),
      PTok("Corpus", 120, 60, 18, bold = true),
      PTok("Engines", 190, 60, 18, bold = true),
      PTok("Alice", 50, 90, 9.5), PTok("Smith", 90, 90, 9.5),
      PTok("Figure", 50, 600, 9.5), PTok("1", 95, 600, 9.5),
      PTok(":", 102, 600, 9.5), PTok("sample", 110, 600, 9.5)),
      Seq(PImage(50, 560, 200, 30)))))
  }

  private lazy val docx: Array[Byte] = {
    import graft.sources.DocxReader
    def run(t: String, italic: Boolean = false) =
      DocxReader.Run(t, bold = false, italic = italic)
    DocxReader.buildDocx(Seq(
      ("Title", Seq(run("Neural Corpus Engines"))),
      ("", Seq(run("Alice Smith"))),
      ("", Seq(run("The corpus body with "), run("emphasis", italic = true),
        run(" and more plain words after it.")))))
  }

  test("every document route answers byte for byte what the batch entry " +
      "points give for the same bytes, and starts no Spark job") {
    import java.nio.charset.StandardCharsets.UTF_8
    import scala.util.hashing.MurmurHash3
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import graft.pipeline.{Processor, SemanticNode, TokenRow}
    import graft.service.MediaTypes.{JatsXml, JatsZip, TeiXml, TeiZip}
    import graft.sinks.{Assets, Jats, Tei}
    import graft.sources.{AltoReader, AltoWriter, DocxReader, PdfReader}
    import spark.implicits._

    val uploads = Seq("alto" -> alto.getBytes(UTF_8),
      "two-page alto" -> twoPageAlto.getBytes(UTF_8),
      "pdf" -> pdfWithImages, "docx" -> docx)
    val lastPages = Seq(None, Some(1))
    def isPdf(b: Array[Byte]) = new String(b.take(4), UTF_8) == "%PDF"
    def idOf(b: Array[Byte]) = math.abs(MurmurHash3.bytesHash(b)).toLong
    def tokens(b: Array[Byte], last: Int): DataFrame =
      if (isPdf(b))
        spark.createDataset(PdfReader.parseTokens(idOf(b), b, 1, last)).toDF()
      else if (DocxReader.isDocx(b))
        spark.createDataset(PdfReader.parseTokens(idOf(b),
          DocxReader.toPdf(b), 1, last)).toDF()
      else AltoReader.tokens(Seq((idOf(b), new String(b, UTF_8))).toDS(),
        1, last).toDF()
    def teiOf(df: DataFrame): String = df.select("tei").as[String].head()
    /** Asset-zip TEI and asset files: graphics attached, asset
      * extraction on; ALTO uploads take the XML string's hash as id. */
    def assetDoc(b: Array[Byte], last: Int): (String, Seq[Assets.AssetFile]) = {
      val cfg = Processor.Config(extractGraphicAssets = true)
      def withGraphics(toks: DataFrame, gfx: DataFrame) =
        teiOf(Processor.documentTei(toks, cfg,
          Some(Processor.graphicsForMatching(toks, gfx))))
      if (isPdf(b)) {
        val (t, g, pngs) = PdfReader.parseWithAssets(idOf(b), b, 1, last)
        (withGraphics(spark.createDataset(t).toDF(), spark.createDataset(g).toDF()),
          pngs.map { case (id, png) => Assets.AssetFile(s"$id.png", png) })
      } else if (DocxReader.isDocx(b))
        (teiOf(Processor.documentTei(tokens(b, last), cfg)), Nil)
      else {
        val xml = new String(b, UTF_8)
        val parsed = AltoReader.parsedDocs(
          Seq((math.abs(MurmurHash3.stringHash(xml)).toLong, xml)).toDS(), 1, last)
        (withGraphics(AltoReader.tokensOf(parsed).toDF(),
          AltoReader.graphicsOf(parsed).toDF()), Nil)
      }
    }
    def zipOf(xml: String, name: String, assets: Seq[Assets.AssetFile]) =
      Assets.zipAssets(Seq((0L, xml, assets)).toDF("doc_id", "xml", "assets"),
        xmlCol = "xml", xmlName = name).select("zip").as[Array[Byte]].head()
    val refRoots = Set("reference", "raw_reference", "heading")
    def subtree(nodes: Seq[SemanticNode], keep: String => Boolean) = {
      val byParent = nodes.groupBy(_.parent_id)
      def ids(n: SemanticNode): Seq[Long] =
        n.node_id +: byParent.getOrElse(n.node_id, Nil).flatMap(ids)
      val kept = nodes.filter(n => n.parent_id < 0 && keep(n.node_type))
        .flatMap(ids).toSet
      nodes.filter(n => kept(n.node_id))
    }

    // (label, body, path + query, accept, expected bytes)
    val cases = for {
      (name, b) <- uploads
      last <- lastPages
      query = last.fold("")(l => s"?last_page=$l")
      lastPage = last.getOrElse(Int.MaxValue)
      tei = teiOf(Processor.documentTei(tokens(b, lastPage)))
      nodes = Processor.documentPipeline(tokens(b, lastPage)).collect().toSeq
      front = Tei.buildTei(subtree(nodes, t =>
        !(t == "section" || refRoots(t) || t.startsWith("note["))))
      refs = Tei.buildTei(subtree(nodes, refRoots))
      (assetTei, assets) = assetDoc(b, lastPage)
      xmlRoutes = Seq("/api/processFulltextDocument" -> tei,
        "/api/processHeaderDocument" -> front,
        "/api/processReferences" -> refs, "/api/convert" -> tei)
      zipRoutes = Seq("/api/processFulltextAssetDocument", "/api/convert")
      c <- xmlRoutes.flatMap { case (path, x) =>
          Seq((path, TeiXml, x.getBytes(UTF_8)),
            (path, JatsXml, Jats.transform(x).getBytes(UTF_8)))
        } ++ zipRoutes.flatMap(path => Seq(
          (path, TeiZip, zipOf(assetTei, "tei.xml", assets)),
          (path, JatsZip, zipOf(Jats.transform(assetTei), "jats.xml", assets)))) ++
        (if (isPdf(b) || DocxReader.isDocx(b)) Seq(("/api/pdfalto", "*/*",
          AltoWriter.toAlto(tokens(b, lastPage).as[TokenRow].collect().toSeq)
            .getBytes(UTF_8)))
        else Nil)
    } yield (s"$name ${c._1}$query ${c._2}", b, c._1 + query, c._2, c._3)

    // listener-bus order is job-submission order: the jobs the requests
    // start are those seen between the two fence jobs
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def fence(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def jobsUntil(name: String): Int = Iterator.continually(
        Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail(s"fence $name never reached the listener")))
      .takeWhile(_ != name).size
    spark.sparkContext.addSparkListener(listener)
    try {
      fence("before requests")
      jobsUntil("before requests")
      cases.foreach { case (label, body, path, accept, expected) =>
        val r = client.send(
          HttpRequest.newBuilder(URI.create(base + path))
            .header("Accept", accept)
            .POST(BodyPublishers.ofByteArray(body)).build(),
          BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, s"$label: ${new String(r.body(), UTF_8)}")
        assert(r.body().sameElements(expected), label)
      }
      fence("after requests")
      assert(jobsUntil("after requests") == 0,
        s"${cases.size} document requests started Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
