package graft

import org.apache.spark.sql.functions._

import graft.sources.{AltoReader, PdfFonts, PdfReader, PdfWriter}
import graft.sources.PdfWriter.PTok

/** The in-JVM A1 seam: PDF writer → reader round-trip over real
  * FlateDecode streams and xref tables, token parity with the ALTO
  * path for the same geometry, text-operator coverage (packed strings,
  * TJ kerning, matrices, graphics state), /Widths override, page
  * pruning, xref recovery, and the quarantine discipline.
  */
class PdfSpec extends SparkSuite {
  import spark.implicits._

  private def toksOf(bytes: Array[Byte]) = PdfReader.parseTokens(7L, bytes)

  test("writer->reader round-trip: text, structure, fonts, coordinates " +
      "all survive through compressed streams and the classic xref") {
    val pages = Seq(Seq(
      PTok("Measuring", 50, 60, 18, bold = true),
      PTok("Corpus", 160, 60, 18, bold = true),
      PTok("Quality", 240, 60, 18, bold = true),
      PTok("Alice", 50, 90, 9.5),
      PTok("Smith", 90, 90, 9.5),
      PTok("first", 50, 120, 9.5),
      PTok("body", 80, 120, 9.5),
      PTok("line", 110, 120, 9.5),
      PTok("second", 50, 134, 9.5),
      PTok("line", 90, 134, 9.5, italic = true)))
    val rows = toksOf(PdfWriter.build(pages))
    assert(rows.map(_.text) == Seq("Measuring", "Corpus", "Quality",
      "Alice", "Smith", "first", "body", "line", "second", "line"))
    // structure: title/author/body separated by the 30 pt gaps (blocks),
    // the two body lines (14 pt apart, 9.5 pt glyphs) share one block
    val byText = rows.map(r => r.text -> r).toMap
    assert(byText("Measuring").block_idx == 0)
    assert(byText("Alice").block_idx == 1)
    assert(byText("first").block_idx == 2 && byText("first").line_idx == 0)
    assert(byText("second").block_idx == 2 && byText("second").line_idx == 1)
    assert(rows.map(_.page_idx).distinct == Seq(0))
    // fonts: bold title, italic last token, sizes as written
    assert(byText("Measuring").font.is_bold)
    assert(byText("Measuring").font.font_size.contains(18.0))
    assert(byText("Smith").font.font_size.contains(9.5))
    assert(!byText("Smith").font.is_bold)
    assert(byText("second").line_idx == 1 && !byText("second").font.is_italics)
    assert(rows.filter(_.font.is_italics).map(_.text) == Seq("line"),
      rows.filter(_.font.is_italics).map(_.text))
    assert(rows.forall(_.font.font_family == "Helvetica"))
    // coordinates: exact x/y as planted, width from Helvetica metrics
    val m = byText("Measuring").coords.get
    assert(m.x == 50.0 && m.y == 60.0 && m.height == 18.0)
    val expW = PdfFonts.stringWidth("Helvetica-Bold", "Measuring", 18.0)
    assert(math.abs(m.width - expW) < 0.01, s"${m.width} vs $expW")
    assert(byText("first").coords.get.y == 120.0)
    assert(rows.forall(_.page_width.contains(612.0)))
    assert(rows.forall(_.page_height.contains(792.0)))
  }

  test("PDF tokens are EQUIVALENT to ALTO tokens for the same geometry " +
      "(the A1 contract: downstream never sees which parser ran)") {
    // one logical layout rendered BOTH ways: token x packs by the same
    // Helvetica metrics on both sides, ALTO WIDTH attributes carry the
    // same metric widths the PDF reader computes
    val layout = Seq(
      (Seq("Deep", "Corpus", "Study"), 60.0, 18.0, true),
      (Seq("Bob", "Jones"), 90.0, 9.5, false),
      (Seq("alpha", "beta", "gamma", "delta"), 120.0, 9.5, false),
      (Seq("epsilon", "zeta"), 134.0, 9.5, false))
    def xsOf(ts: Seq[String], size: Double, bold: Boolean): Seq[Double] = {
      val bf = if (bold) "Helvetica-Bold" else "Helvetica"
      ts.scanLeft(50.0) { (x, t) =>
        x + PdfFonts.stringWidth(bf, t, size) +
          PdfFonts.width(bf, ' ') * size / 1000.0
      }.init
    }
    val pdf = PdfWriter.build(Seq(layout.flatMap { case (ts, y, size, bold) =>
      ts.zip(xsOf(ts, size, bold)).map { case (t, x) =>
        PTok(t, x, y, size, bold = bold) }
    }))
    def f2(v: Double): Double = math.rint(v * 100) / 100
    val alto = {
      val styles =
        """<TextStyle ID="fb" FONTFAMILY="Helvetica" FONTSIZE="18.0" FONTSTYLE="bold"/>
          |<TextStyle ID="fr" FONTFAMILY="Helvetica" FONTSIZE="9.5" FONTSTYLE=""/>"""
          .stripMargin
      // block boundaries mirror the reader's gap rule: 30 pt gaps split,
      // the 14 pt body gap keeps one block
      val blocks = Seq(Seq(layout(0)), Seq(layout(1)), Seq(layout(2), layout(3)))
      val blockXml = blocks.map { lines =>
        "<TextBlock>" + lines.map { case (ts, y, size, bold) =>
          "<TextLine>" + ts.zip(xsOf(ts, size, bold)).map { case (t, x) =>
            val bf = if (bold) "Helvetica-Bold" else "Helvetica"
            val w = f2(PdfFonts.stringWidth(bf, t, size))
            s"""<String CONTENT="$t" HPOS="${f2(x)}" VPOS="$y" WIDTH="$w" HEIGHT="$size" STYLEREFS="${if (bold) "fb" else "fr"}"/>"""
          }.mkString + "</TextLine>"
        }.mkString + "</TextBlock>"
      }.mkString
      s"""<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">
         |<Styles>$styles</Styles>
         |<Layout><Page PHYSICAL_IMG_NR="1" WIDTH="612.0" HEIGHT="792.0"><PrintSpace>
         |$blockXml
         |</PrintSpace></Page></Layout></alto>""".stripMargin
    }
    val fromPdf = PdfReader.parseTokens(7L, pdf)
    val fromAlto = AltoReader.tokens(Seq((7L, alto)).toDS()).collect().toSeq
    assert(fromPdf.length == fromAlto.length,
      s"${fromPdf.length} vs ${fromAlto.length}")
    fromPdf.zip(fromAlto).foreach { case (p, a) =>
      assert(p.text == a.text, s"${p.text} vs ${a.text}")
      assert((p.doc_id, p.page_idx, p.block_idx, p.line_idx, p.token_idx) ==
        (a.doc_id, a.page_idx, a.block_idx, a.line_idx, a.token_idx),
        s"${p.text}: $p vs $a")
      assert(p.whitespace == a.whitespace)
      assert(p.font.is_bold == a.font.is_bold)
      assert(p.font.font_size == a.font.font_size)
      assert(p.font.font_family == a.font.font_family)
      val (pc, ac) = (p.coords.get, a.coords.get)
      assert(math.abs(pc.x - ac.x) < 0.02, s"${p.text} x: $pc vs $ac")
      assert(math.abs(pc.y - ac.y) < 0.02, s"${p.text} y: $pc vs $ac")
      assert(math.abs(pc.width - ac.width) < 0.02, s"${p.text} w: $pc vs $ac")
      assert(math.abs(pc.height - ac.height) < 0.02)
      assert(pc.page_number == ac.page_number)
      assert((p.page_width, p.page_height) == (a.page_width, a.page_height))
    }
  }

  test("packed show strings split into words by the space glyph with " +
      "metric x positions; TJ kerning continues a word, TJ gaps split") {
    val content =
      """BT /F1 10 Tf 1 0 0 1 50 700 Tm (alpha beta) Tj ET
        |BT /F1 10 Tf 1 0 0 1 50 650 Tm [(ker) -18 (ned)] TJ ET
        |BT /F1 10 Tf 1 0 0 1 50 600 Tm [(two) -300 (words)] TJ ET
        |""".stripMargin
    val rows = toksOf(PdfWriter.buildRawContent(Seq(content)))
    assert(rows.map(_.text) == Seq("alpha", "beta", "kerned", "two", "words"),
      rows.map(_.text))
    val byText = rows.map(r => r.text -> r.coords.get).toMap
    // beta starts after alpha + its space advance
    val expBetaX = 50.0 + PdfFonts.stringWidth("Helvetica", "alpha ", 10.0)
    assert(math.abs(byText("beta").x - expBetaX) < 0.01,
      s"${byText("beta").x} vs $expBetaX")
    // the kerned word is ONE token whose width absorbs the adjustment
    // (ISO 32000: the TJ number is SUBTRACTED from the x coordinate,
    // so -18 widens by 0.18 pt at 10 pt size)
    val kw = byText("kerned").width
    val expKw = PdfFonts.stringWidth("Helvetica", "kerned", 10.0) + 0.18
    assert(math.abs(kw - expKw) < 0.01, s"$kw vs $expKw")
    // the -300 adjustment (3 pt at 10 pt size > 0.18 em) split the word
    assert(byText("words").x > byText("two").x + 10)
  }

  test("text ops: Td/TD/T*/TL line stepping, ' and \" shorthands, " +
      "Tc char spacing, q/cm scaling") {
    val content =
      """BT /F1 10 Tf 14 TL 1 0 0 1 50 700 Tm (one) Tj T* (two) Tj ET
        |BT /F1 10 Tf 1 0 0 1 50 600 Tm 0 -20 TD (three) Tj ET
        |BT /F1 10 Tf 14 TL 1 0 0 1 50 500 Tm (x) Tj (four) ' ET
        |BT /F1 10 Tf 14 TL 1 0 0 1 50 400 Tm (y) Tj 2 1 (five) " ET
        |q 2 0 0 2 0 0 cm BT /F1 10 Tf 1 0 0 1 40 100 Tm (big) Tj ET Q
        |BT /F1 10 Tf 2 Tc 1 0 0 1 50 300 Tm (spaced) Tj ET
        |""".stripMargin
    val rows = toksOf(PdfWriter.buildRawContent(Seq(content)))
    val byText = rows.map(r => r.text -> r).toMap
    // T* drops one leading: 700 - 14 baseline => y moves down 14
    assert(math.abs(byText("two").coords.get.y -
      (byText("one").coords.get.y + 14)) < 0.01)
    // TD translates the LINE matrix: baseline 600-20=580
    assert(math.abs(byText("three").coords.get.y - (792 - 580 - 10)) < 0.01)
    // ' = T* + Tj
    assert(math.abs(byText("four").coords.get.y -
      (byText("x").coords.get.y + 14)) < 0.01)
    // " sets word/char spacing then behaves like '
    assert(math.abs(byText("five").coords.get.y -
      (byText("y").coords.get.y + 14)) < 0.01)
    // cm doubles the effective size and device position
    val big = byText("big")
    assert(big.font.font_size.contains(20.0), big.font)
    assert(math.abs(big.coords.get.x - 80.0) < 0.01)
    assert(math.abs(big.coords.get.height - 20.0) < 0.01)
    // Tc widens the token box by (len-1) spacings... plus trailing
    val sp = byText("spaced").coords.get
    val expSp = PdfFonts.stringWidth("Helvetica", "spaced", 10.0) + 6 * 2.0
    assert(math.abs(sp.width - expSp) < 0.01, s"${sp.width} vs $expSp")
  }

  test("multi-page documents paginate with per-page indices and the " +
      "interpreter prunes out-of-range pages at the parse") {
    val pdf = PdfWriter.build(Seq(
      Seq(PTok("page1", 50, 60, 10)),
      Seq(PTok("page2", 50, 60, 10)),
      Seq(PTok("page3", 50, 60, 10))))
    val all = PdfReader.parseTokens(1L, pdf)
    assert(all.map(t => (t.text, t.page_idx, t.page_number)) ==
      Seq(("page1", 0, 1), ("page2", 1, 2), ("page3", 2, 3)))
    val mid = PdfReader.parseTokens(1L, pdf, firstPage = 2, lastPage = 2)
    assert(mid.map(t => (t.text, t.page_idx)) == Seq(("page2", 1)))
  }

  test("a page range reads only its pages: an undecodable content stream " +
      "on page 2 fails the full parse, not a parse of page 1") {
    val intact = PdfWriter.build(Seq(
      Seq(PTok("alpha", 50, 60, 10), PTok("beta", 100, 60, 10)),
      Seq(PTok("zebra", 50, 60, 10))))
    val broken = PdfSpec.unknownFilterOnPage2(intact)
    val e = intercept[IllegalArgumentException](PdfReader.parseTokens(1L, broken))
    assert(e.getMessage == "unsupported filter /BogusDecode")
    val first = PdfReader.parseTokens(1L, broken, lastPage = 1)
    assert(first == PdfReader.parseTokens(1L, intact, lastPage = 1))
    assert(first.map(_.text) == Seq("alpha", "beta"))
    assert(PdfReader.parseWithAssets(1L, broken, lastPage = 1)._1 == first)
    intercept[IllegalArgumentException](PdfReader.parseTokens(1L, broken, firstPage = 2))
  }

  test("embedded /Widths arrays override the standard-14 metrics and " +
      "descriptor flags drive bold/italic") {
    // hand-build a PDF with a custom font: widths 500 for every glyph,
    // italic flag set, bold via StemV
    val content = "BT /G1 10 Tf 1 0 0 1 50 700 Tm (ab cd) Tj ET"
    val raw = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val pdf = (s"""%PDF-1.4
      |1 0 obj
      |<< /Type /Catalog /Pages 2 0 R >>
      |endobj
      |2 0 obj
      |<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>
      |endobj
      |3 0 obj
      |<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ]
      |   /Resources << /Font << /G1 4 0 R >> >> /Contents 5 0 R >>
      |endobj
      |4 0 obj
      |<< /Type /Font /Subtype /TrueType /BaseFont /ABCDEF+CustomSans
      |   /FirstChar 97 /Widths [ 500 500 500 500 ]
      |   /FontDescriptor 6 0 R >>
      |endobj
      |6 0 obj
      |<< /Type /FontDescriptor /FontName /ABCDEF+CustomSans
      |   /Flags 64 /StemV 150 /MissingWidth 250 >>
      |endobj
      |5 0 obj
      |<< /Length ${raw.length} >>
      |stream
      |$content
      |endstream
      |endobj
      |trailer
      |<< /Root 1 0 R >>
      |""").stripMargin.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    // no xref at all — exercises the rebuild scan too
    val rows = PdfReader.parseTokens(9L, pdf)
    assert(rows.map(_.text) == Seq("ab", "cd"), rows.map(_.text))
    val ab = rows.head
    assert(ab.font.is_italics, "descriptor flag 64 = italic")
    assert(ab.font.is_bold, "StemV 150 = bold")
    assert(ab.font.font_family == "CustomSans", ab.font.font_family)
    // width: 2 glyphs x 500/1000 x 10pt = 10.0
    assert(math.abs(ab.coords.get.width - 10.0) < 0.01, ab.coords)
    // space code 32 < FirstChar: MissingWidth 250 -> advance 2.5;
    // cd starts at 50 + 10 + 2.5
    assert(math.abs(rows(1).coords.get.x - 62.5) < 0.01, rows(1).coords)
  }

  test("literal-string escapes, hex strings, octal codes and comments " +
      "parse per the COS grammar") {
    val content =
      """% a comment line
        |BT /F1 10 Tf 1 0 0 1 50 700 Tm (par\(en\)s \\ \164ab) Tj ET
        |BT /F1 10 Tf 1 0 0 1 50 650 Tm <68657821> Tj ET
        |""".stripMargin
    val rows = toksOf(PdfWriter.buildRawContent(Seq(content),
      compress = false))
    // retokenization (B1) then splits the delimiters, same as ALTO
    assert(rows.map(_.text) ==
      Seq("par", "(", "en", ")", "s", "\\", "tab", "hex", "!"),
      rows.map(_.text))
  }

  test("normalization parity: ligatures/quotes fold and delimiters " +
      "retokenize exactly like the ALTO chain (B1/B2)") {
    // the writer escapes '(' and the reader's normalize folds the
    // ligature; "a,b" retokenizes into 3 tokens with pro-rated coords
    val pdf = PdfWriter.build(Seq(Seq(
      PTok("ﬁrst", 50, 60, 10), PTok("a,b", 120, 60, 10))))
    val rows = PdfReader.parseTokens(3L, pdf)
    assert(rows.map(_.text) == Seq("first", "a", ",", "b"), rows.map(_.text))
    val alto =
      """<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">
        |<Styles><TextStyle ID="f" FONTFAMILY="Helvetica" FONTSIZE="10.0" FONTSTYLE=""/></Styles>
        |<Layout><Page PHYSICAL_IMG_NR="1" WIDTH="612.0" HEIGHT="792.0"><PrintSpace>
        |<TextBlock><TextLine>
        |<String CONTENT="&#64257;rst" HPOS="50" VPOS="60" WIDTH="20" HEIGHT="10" STYLEREFS="f"/>
        |<String CONTENT="a,b" HPOS="120" VPOS="60" WIDTH="15" HEIGHT="10" STYLEREFS="f"/>
        |</TextLine></TextBlock>
        |</PrintSpace></Page></Layout></alto>""".stripMargin
    val altoRows = AltoReader.tokens(Seq((3L, alto)).toDS()).collect().toSeq
    assert(rows.map(t => (t.text, t.whitespace, t.token_idx)) ==
      altoRows.map(t => (t.text, t.whitespace, t.token_idx)))
  }

  test("Unicode whitespace inside a word is the preceding token's " +
      "whitespace, as on the ALTO chain") {
    val pdf = PdfWriter.build(Seq(Seq(
      PTok("Fig.\u00a01", 50, 60, 10), PTok("\u00a0", 120, 60, 10),
      PTok("end", 150, 60, 10))))
    val rows = PdfReader.parseTokens(3L, pdf)
    assert(rows.map(t => (t.text, t.whitespace)) ==
      Seq(("Fig", ""), (".", "\u00a0"), ("1", " "), ("end", " ")),
      rows.map(t => (t.text, t.whitespace)))
  }

  test("Spark surface: tokens/tokensPermissive/quarantine/readDirectory " +
      "follow the AltoReader conventions") {
    val good = PdfWriter.documentPdf(
      "Corpus Study Title Alice Smith " +
        (1 to 30).map(i => s"w$i").mkString(" "))
    val bad = "not a pdf at all".getBytes
    val ds = Seq((1L, good), (2L, bad)).toDS()
    val strict = intercept[org.apache.spark.SparkException] {
      graft.sources.PdfReader.tokens(ds).count()
    }
    assert(strict.getMessage != null)
    val ok = graft.sources.PdfReader.tokensPermissive(ds)
    assert(ok.filter(col("doc_id") === 1L).count() > 30)
    assert(ok.filter(col("doc_id") === 2L).count() == 0)
    val q = graft.sources.PdfReader.quarantine(ds).collect()
    assert(q.length == 1 && q.head.getLong(0) == 2L)
    assert(q.head.getString(1).contains("PDF"), q.head.getString(1))
    // directory read: doc_id = xxhash64(path)
    val dir = java.nio.file.Files.createTempDirectory("graft-pdf-dir")
    try {
      java.nio.file.Files.write(dir.resolve("a.pdf"), good)
      val df = graft.sources.PdfReader.readDirectory(spark, dir.toString)
      assert(df.count() > 30)
      assert(df.select(countDistinct(col("doc_id"))).head.getLong(0) == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("documentPdf corpus layout drives the header pipeline: title " +
      "extracted from PDF-parsed tokens end-to-end") {
    val text = "Neural Corpus Engines Alice Smith " +
      (1 to 40).map(i => s"word$i").mkString(" ")
    val tokens = graft.sources.PdfReader.tokens(
      Seq((5L, PdfWriter.documentPdf(text))).toDS()).toDF()
    val tei = graft.pipeline.Processor.documentTei(tokens).collect()
    assert(tei.length == 1)
    val xml = tei.head.getString(1)
    assert(xml.contains("Neural Corpus Engines"), xml.take(400))
  }

  test("image XObjects round-trip as GraphicRows (the ALTO " +
      "Illustration analog) and drive the F3 graphic-matching " +
      "pipeline from PDF bytes") {
    import graft.sources.PdfWriter.PImage
    // a figure caption block with one image right above it (bbox
    // match) and a stray image far away (unmatched)
    val toks = Seq(
      PTok("Some", 50, 60, 10), PTok("body", 90, 60, 10),
      PTok("Figure", 50, 600, 10), PTok("1", 95, 600, 10),
      PTok(":", 102, 600, 10), PTok("sample", 110, 600, 10),
      PTok("caption", 160, 600, 10))
    val images = Seq(
      PImage(50, 560, 200, 30), // just above the caption
      PImage(400, 20, 50, 30)) // page-top stray
    val pdf = PdfWriter.buildWithImages(Seq((toks, images)))
    val (rows, gfx) = PdfReader.parseAll(7L, pdf)
    assert(rows.nonEmpty)
    assert(gfx.length == 2, gfx)
    val near = gfx.find(_.coords.get.y == 560.0).get
    assert(near.graphic_type == "image")
    assert(near.coords.get ==
      graft.pipeline.Coords(50.0, 560.0, 200.0, 30.0, 1))
    assert(near.page_idx == 0 && near.page_number == 1)
    val far = gfx.find(_.coords.get.y == 20.0).get
    assert(far.coords.get.x == 400.0 && far.coords.get.width == 50.0)
    // distinct stable file ids
    assert(gfx.map(_.file_id).distinct.length == 2)
    // the graphics feed the matching pipeline exactly like ALTO
    // Illustrations: the near image lands in the figure, the stray in
    // the back-matter unmatched note (p13's expected shape)
    val toksDf = spark.createDataset(rows).toDF()
    val graphics = graft.pipeline.Processor.graphicsForMatching(
      toksDf, spark.createDataset(gfx).toDF())
    val tei = graft.pipeline.Processor.documentTei(toksDf,
      graft.pipeline.Processor.Config(extractGraphicAssets = true),
      Some(graphics)).collect().head.getString(1)
    assert(tei.contains("<graphic"), tei.takeRight(600))
    assert(tei.contains(near.file_id), tei.takeRight(600))
    // embedded payloads decode to REAL PNG assets keyed by file_id
    val (_, gfx2, assets) = PdfReader.parseWithAssets(7L, pdf)
    assert(assets.length == 2, assets.map(_._1))
    assert(assets.map(_._1).toSet == gfx2.map(_.file_id).toSet)
    assets.foreach { case (_, png) =>
      assert(png.take(8).map(_ & 0xff).toSeq ==
        Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "PNG magic")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 8 && img.getHeight == 8)
      // the writer's deterministic gray gradient survives decode
      // (raster samples, not getRGB — getRGB gamma-maps linear gray)
      assert(img.getRaster.getSample(1, 0, 0) == 7,
        img.getRaster.getSample(1, 0, 0).toString)
    }
  }

  test("PDF 1.5 layout: xref STREAM (PNG up-predictor) + object stream " +
      "parse to the identical token/graphic tables as the classic form") {
    import graft.sources.PdfWriter.PImage
    val content =
      """BT /F2 18 Tf 1 0 0 1 50 714 Tm (Modern Layout) Tj ET
        |BT /F1 10 Tf 1 0 0 1 50 650 Tm (body words here) Tj ET
        |q 100 0 0 40 50 200 cm /Im1 Do Q
        |""".stripMargin
    val imgs = Seq(Seq(PImage(50, 552, 100, 40)))
    val classic = PdfWriter.buildRawContent(Seq(content), images = imgs)
    val modern = PdfWriter.buildRawContent(Seq(content), images = imgs,
      pdf15 = true)
    assert(new String(modern.take(9), "ISO-8859-1") == "%PDF-1.5\n")
    assert(!new String(modern, "ISO-8859-1").contains("\ntrailer"),
      "1.5 layout carries no classic trailer")
    val (tC, gC) = PdfReader.parseAll(7L, classic)
    val (tM, gM) = PdfReader.parseAll(7L, modern)
    assert(tM.nonEmpty && tM == tC)
    assert(gM.nonEmpty && gM == gC)
    // fonts resolved THROUGH the object stream: bold title survived
    assert(tM.find(_.text == "Modern").get.font.is_bold)
    // and the embedded image still decodes to a PNG asset
    val (_, _, assets) = PdfReader.parseWithAssets(7L, modern)
    assert(assets.length == 1 &&
      assets.head._2.take(4).map(_ & 0xff).toSeq ==
        Seq(0x89, 0x50, 0x4e, 0x47))
  }

  test("long documents paginate and every body token survives the " +
      "round-trip in order") {
    val words = (1 to 900).map(i => s"tok$i")
    val pdf = PdfWriter.documentPdf("T1 T2 T3 A1 A2 " + words.mkString(" "))
    val rows = PdfReader.parseTokens(11L, pdf)
    assert(rows.map(_.page_idx).distinct.length > 1, "expected 2+ pages")
    assert(rows.map(_.text).filter(_.startsWith("tok")) == words,
      "body token order must survive pagination")
  }
}

object PdfSpec {
  /** `pdf` (two or more [[PdfWriter.build]] pages) with page 2's content
    * stream behind an unknown filter, `/BogusDecode` in place of
    * `/FlateDecode`: same length, so every xref offset still holds. */
  def unknownFilterOnPage2(pdf: Array[Byte]): Array[Byte] = {
    val s = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val flate = "/Filter /FlateDecode"
    val page2 = s.indexOf(flate, s.indexOf(flate) + 1)
    require(page2 > 0, "no second content stream")
    (s.substring(0, page2) + "/Filter /BogusDecode" + s.substring(page2 + flate.length))
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
