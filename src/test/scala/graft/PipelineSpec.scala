package graft

import org.apache.spark.sql.functions._

import graft.pipeline._
import graft.sources.AltoReader
import graft.sinks.Tei

/** Minimal end-to-end slice (SURVEY.md §7): ALTO fixture → token table →
  * scripted labeler → BIO spans → header fold → TEI. Fixture XML is the
  * FIXTURES.md §1 sample.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  val altoXml: String =
    """<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">
      |  <Styles>
      |    <TextStyle ID="font0" FONTFAMILY="Times" FONTSIZE="18.0" FONTSTYLE="bold"/>
      |    <TextStyle ID="font1" FONTFAMILY="Times" FONTSIZE="9.5" FONTSTYLE=""/>
      |  </Styles>
      |  <Layout>
      |    <Page PHYSICAL_IMG_NR="1" WIDTH="612" HEIGHT="792">
      |      <PrintSpace>
      |        <TextBlock>
      |          <TextLine>
      |            <String CONTENT="A" HPOS="100" VPOS="60" WIDTH="14" HEIGHT="18" STYLEREFS="font0"/>
      |            <String CONTENT="Title" HPOS="118" VPOS="60" WIDTH="48" HEIGHT="18" STYLEREFS="font0"/>
      |          </TextLine>
      |        </TextBlock>
      |        <TextBlock>
      |          <TextLine>
      |            <String CONTENT="Jane" HPOS="100" VPOS="90" WIDTH="30" HEIGHT="10" STYLEREFS="font1"/>
      |            <String CONTENT="Doe" HPOS="134" VPOS="90" WIDTH="26" HEIGHT="10" STYLEREFS="font1"/>
      |          </TextLine>
      |        </TextBlock>
      |        <Illustration FILEID="image-1.png" TYPE="png"
      |                      HPOS="100" VPOS="300" WIDTH="200" HEIGHT="150"/>
      |      </PrintSpace>
      |    </Page>
      |  </Layout>
      |</alto>""".stripMargin

  def fixtureTokens = AltoReader.tokens(Seq((0L, altoXml)).toDS())

  test("ALTO parse: tokens with fonts, coords, positional keys") {
    val rows = fixtureTokens.collect().sortBy(t => (t.block_idx, t.token_idx))
    assert(rows.map(_.text).toSeq == Seq("A", "Title", "Jane", "Doe"))
    val title = rows(1)
    assert(title.font.font_size.contains(18.0) && title.font.is_bold)
    assert(title.coords.exists(c => c.x == 118.0 && c.page_number == 1))
    assert(rows.map(t => (t.page_idx, t.block_idx, t.line_idx, t.token_idx)).toSeq ==
      Seq((0, 0, 0, 0), (0, 0, 0, 1), (0, 1, 0, 0), (0, 1, 0, 1)))
  }

  test("ALTO parse: a String's attributes are the first of each local name " +
      "in any namespace, as getAttributeValue(null, _) finds them; empty is absent") {
    val xml =
      """<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#" xmlns:x="urn:x">
        |<Styles><TextStyle ID="f" FONTFAMILY="Times" FONTSIZE="10.0" FONTSTYLE="bold"/></Styles>
        |<Layout><Page PHYSICAL_IMG_NR="3" WIDTH="612" HEIGHT="792"><PrintSpace>
        |<TextBlock><TextLine>
        |<String x:HPOS="5" HPOS="7" CONTENT="one" VPOS=" 20" WIDTH="30" HEIGHT="" STYLEREFS="f"/>
        |<String CONTENT="" HPOS="9"/>
        |<String HPOS="-0" x:CONTENT="two" CONTENT="ignored" WIDTH="1e1" VPOS="3.25" STYLEREFS="missing"/>
        |</TextLine></TextBlock>
        |</PrintSpace></Page></Layout></alto>""".stripMargin
    val (rows, _) = AltoReader.parseAll(4L, xml)
    // what getAttributeValue(null, name) gives on each String element
    val r = javax.xml.stream.XMLInputFactory.newInstance()
      .createXMLStreamReader(new java.io.StringReader(xml))
    val strings = scala.collection.mutable.ListBuffer.empty[Map[String, String]]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "String")
        strings += Seq("HPOS", "VPOS", "WIDTH", "HEIGHT", "CONTENT", "STYLEREFS")
          .map(n => n -> r.getAttributeValue(null, n)).toMap
    }
    def num(v: String) = if (v == null || v.isEmpty) 0.0 else v.toDouble
    val expected = strings.filter(a => a("CONTENT") != null && a("CONTENT").nonEmpty).map { a =>
      (a("CONTENT"), num(a("HPOS")), num(a("VPOS")), num(a("WIDTH")), num(a("HEIGHT")))
    }
    assert(expected == Seq(("one", 5.0, 20.0, 30.0, 0.0), ("two", -0.0, 3.25, 10.0, 0.0)))
    assert(rows.map(t => (t.text, t.coords.get.x, t.coords.get.y, t.coords.get.width,
      t.coords.get.height)) == expected)
    assert(rows.map(_.coords.get.page_number) == Seq(3, 3))
    assert(rows(0).font.is_bold && rows(1).font == FontInfo.empty)
  }

  test("ALTO parse: graphics") {
    val gs = AltoReader.graphics(Seq((0L, altoXml)).toDS()).collect()
    assert(gs.length == 1 && gs(0).file_id == "image-1.png" && gs(0).graphic_type == "png")
  }

  test("retokenization splits punctuation and pro-rates coordinates") {
    val xml = altoXml.replace("CONTENT=\"Title\"", "CONTENT=\"Title, x\"")
    val rows = AltoReader.tokens(Seq((0L, xml)).toDS()).collect()
      .filter(t => t.block_idx == 0).sortBy(_.token_idx)
    assert(rows.map(_.text).toSeq == Seq("A", "Title", ",", "x"))
    val t = rows(1)
    // "Title, x" -> parts lengths 5,1,1,1 over width 48: Title keeps 5/8
    assert(t.coords.exists(c => math.abs(c.width - 48.0 * 5 / 8) < 1e-9))
    val comma = rows(2)
    assert(comma.coords.exists(c => math.abs(c.x - (118.0 + 48.0 * 5 / 8)) < 1e-9))
  }

  test("retokenization: Unicode whitespace is the preceding token's " +
      "whitespace, never a token (str.strip blank test)") {
    def block0(a: String, title: String) =
      AltoReader.parseAll(0L, altoXml.replace("CONTENT=\"A\"", s"CONTENT=\"$a\"")
        .replace("CONTENT=\"Title\"", s"CONTENT=\"$title\""))._1
        .filter(_.block_idx == 0).map(t => (t.text, t.whitespace))
    // a lone NBSP survives normalize, then splits like the reference
    assert(block0("A", "Fig.&#160;1") ==
      Seq(("A", " "), ("Fig", ""), (".", "\u00a0"), ("1", " ")))
    assert(block0("a&#8201;b", "c&#8239;d") ==
      Seq(("a", "\u2009"), ("b", " "), ("c", "\u202f"), ("d", " ")))
    // an NBSP-only CONTENT yields no token at all
    assert(block0("&#160;", "Title") == Seq(("Title", " ")))
    val one = AltoReader.parseAll(0L, altoXml.replace("CONTENT=\"Title\"",
      "CONTENT=\"Fig.&#160;1\""))._1.filter(_.text == "1")
    // "Fig.\u00a01" -> parts 3,1,1,1 over width 48: "1" starts at 5/6
    assert(one.flatMap(_.coords).map(_.x) == Seq(118.0 + 48.0 * 5 / 6))
  }

  test("corrupt ALTO: permissive parse skips, quarantine reports, strict throws") {
    val truncated = altoXml.take(altoXml.length / 2)
    val mixed = Seq((0L, altoXml), (1L, truncated)).toDS()
    val ok = AltoReader.tokensPermissive(mixed).collect()
    assert(ok.nonEmpty && ok.forall(_.doc_id == 0L))
    val bad = AltoReader.quarantine(mixed).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(bad.length == 1 && bad(0)._1 == 1L &&
      bad(0)._2.contains("Exception"), bad.mkString)
    // the strict default refuses to silently drop data
    intercept[org.apache.spark.SparkException] {
      AltoReader.tokens(Seq((1L, truncated)).toDS()).collect()
    }
  }

  test("end-to-end: scripted labels -> spans -> header fold -> TEI") {
    val labeler = new ScriptedLabeler(spark, Seq(
      ((0L, 0, 0, 0, 0), "B-<title>"), ((0L, 0, 0, 0, 1), "I-<title>"),
      ((0L, 0, 1, 0, 0), "B-<author>"), ((0L, 0, 1, 0, 1), "I-<author>")))
    val labeled = labeler.label(fixtureTokens.toDF())
    val spans = BioSpans.spans(labeled)
    val spanMap = spans.collect().map(r =>
      r.getAs[String]("tag") -> r.getAs[String]("text")).toMap
    assert(spanMap("<title>") == "A Title")
    assert(spanMap("<author>") == "Jane Doe")

    val nodes = Extractors.headerSemantics(spans)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    // tei/common.py:104-114: elements with geometry carry coords, and
    // the bold title font renders as a styled run
    assert(tei.contains("""<title level="a" type="main" """ +
      """coords="1,100.00,60.00,66.00,18.00">""" +
      """<hi rend="bold">A Title</hi></title>"""))
    assert(tei.contains("<forename type=\"first\">Jane</forename><surname>Doe</surname>"))
  }

  test("TEI authors: marker-matched affiliation renders inside the author " +
      "(tei_document_test.py test_should_add_single_author_with_affiliation)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "name_title", "Title1"),
      n(3, 1, "given_name", "Given1"),
      n(4, 1, "middle_name", "Middle1"),
      n(5, 1, "surname", "Surname1"),
      n(6, 1, "name_suffix", "Suffix1"),
      n(7, 1, "marker", "1"),
      n(8, -1, "affiliation_address", "", "aff0"),
      n(9, 8, "marker", "1"),
      n(10, 8, "institution", "Institution1"),
      n(11, 8, "settlement", "City1"),
      n(12, 8, "country", "Country1"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("<roleName>Title1</roleName>"), tei)
    assert(tei.contains("""<forename type="first">Given1</forename>"""), tei)
    assert(tei.contains("""<forename type="middle">Middle1</forename>"""), tei)
    assert(tei.contains("<surname>Surname1</surname>"), tei)
    assert(tei.contains("<genName>Suffix1</genName>"), tei)
    // the affiliation is INSIDE the author element, after persName
    val author = tei.substring(tei.indexOf("<author>"), tei.indexOf("</author>"))
    assert(author.contains("""<affiliation key="aff0">"""), tei)
    // raw_affiliation note: full text with the marker as a label
    assert(author.contains("""<note type="raw_affiliation"><label>1</label>""" +
      " Institution1 City1 Country1</note>"), tei)
    assert(author.contains("""<orgName type="institution">Institution1</orgName>"""), tei)
    // address fields grouped under ONE address element
    assert(author.contains(
      "<address><settlement>City1</settlement><country>Country1</country></address>"), tei)
  }

  test("TEI affiliation: all fields render with grouped address " +
      "(tei/author_test.py test_should_add_all_fields)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "surname", "Surname1"),
      n(3, 1, "marker", "1"),
      n(4, -1, "affiliation_address", "", "aff0"),
      n(5, 4, "marker", "1"),
      n(6, 4, "institution", "Institution1"),
      n(7, 4, "department", "Department1"),
      n(8, 4, "laboratory", "Lab1"),
      n(9, 4, "addr_line", "AddressLine1"),
      n(10, 4, "post_code", "PostCode1"),
      n(11, 4, "post_box", "PostBox1"),
      n(12, 4, "region", "Region1"),
      n(13, 4, "settlement", "Settlement1"),
      n(14, 4, "country", "Country1"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<note type="raw_affiliation"><label>1</label>""" +
      " Institution1 Department1 Lab1 AddressLine1 PostCode1 PostBox1" +
      " Region1 Settlement1 Country1</note>"), tei)
    assert(tei.contains("""<orgName type="institution">Institution1</orgName>""" +
      """<orgName type="department">Department1</orgName>""" +
      """<orgName type="laboratory">Lab1</orgName>"""), tei)
    assert(tei.contains("<address><addrLine>AddressLine1</addrLine>" +
      "<postCode>PostCode1</postCode><postBox>PostBox1</postBox>" +
      "<region>Region1</region><settlement>Settlement1</settlement>" +
      "<country>Country1</country></address>"), tei)
  }

  test("TEI authors: multi-marker author pulls affiliations in marker order " +
      "(tei/author_test.py TestGetTeiAuthorForSemanticAffiliationAddress)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "marker", "1"),
      n(3, 1, "marker", "2"),
      n(4, 1, "given_name", "GivenName1"),
      n(5, 1, "surname", "Surname1"),
      n(6, -1, "affiliation_address", "", "aff0"),
      n(7, 6, "marker", "1"),
      n(8, 6, "institution", "Institution1"),
      n(9, -1, "affiliation_address", "", "aff1"),
      n(10, 9, "marker", "2"),
      n(11, 9, "institution", "Institution2"),
      n(12, -1, "affiliation_address", "", "aff2"),
      n(13, 12, "marker", "3"),
      n(14, 12, "institution", "Other"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    val author = tei.substring(tei.indexOf("<author>"), tei.indexOf("</author>"))
    // both cited affiliations inside the author, in marker order
    val i1 = author.indexOf("""<orgName type="institution">Institution1</orgName>""")
    val i2 = author.indexOf("""<orgName type="institution">Institution2</orgName>""")
    assert(i1 >= 0 && i2 >= 0 && i1 < i2, tei)
    assert(!author.contains("Other"), tei)
    // marker 3's affiliation is orphaned into the dummy author
    assert(tei.contains("""<note type="dummy_author">"""), tei)
  }

  test("TEI authors: orphan affiliations land under a dummy author " +
      "(tei_document_test.py test_should_add_orphan_affiliation)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "given_name", "Given1"),
      n(3, 1, "surname", "Surname1"),
      n(4, 1, "marker", "2"), // cites aff1, NOT aff0
      n(5, -1, "affiliation_address", "", "aff0"),
      n(6, 5, "marker", "1"), // orphan: no author cites marker 1
      n(7, 5, "institution", "Institution1"),
      n(8, -1, "affiliation_address", "", "aff1"),
      n(9, 8, "marker", "2"),
      n(10, 8, "institution", "Institution2"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    // the real author holds aff1 only
    val author = tei.substring(tei.indexOf("<author>"), tei.indexOf("</author>"))
    assert(author.contains("""<affiliation key="aff1">""") &&
      !author.contains("aff0"), tei)
    // the orphan aff0 is wrapped in a dummy author, not loose in analytic
    assert(tei.contains("""<note type="dummy_author">""" +
      "Dummy author for orphan affiliations</note>"), tei)
    val dummy = tei.substring(tei.indexOf("""<note type="dummy_author""""))
    assert(dummy.contains("""<affiliation key="aff0">"""), tei)
    assert(dummy.contains("""<orgName type="institution">Institution1</orgName>"""), tei)
  }

  test("processor DAG: name model pass structures authors in TEI") {
    val labeler = new ScriptedLabeler(spark, Seq(
      ((0L, 0, 0, 0, 0), "B-<title>"), ((0L, 0, 0, 0, 1), "I-<title>"),
      ((0L, 0, 1, 0, 0), "B-<author>"), ((0L, 0, 1, 0, 1), "I-<author>")))
    val nodes = graft.pipeline.Processor.headerPipeline(fixtureTokens.toDF(), labeler)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("<forename type=\"first\">Jane</forename><surname>Doe</surname>"))
    // operator pruning (J2): disabling the author stage drops the pass
    val pruned = graft.pipeline.Processor.headerPipeline(fixtureTokens.toDF(), labeler,
      graft.pipeline.Processor.Config(extractAuthors = false))
    assert(pruned.collect().exists(_.node_type == "raw_authors"))
    assert(!pruned.collect().exists(_.node_type == "authors"))
  }

  test("documentPipeline: segmentation splits header/body, TEI gets body sections") {
    // fixture + a body block with a heading line and two paragraph lines
    val xml = altoXml.replace("<Illustration",
      """<TextBlock>
        |  <TextLine>
        |    <String CONTENT="1." HPOS="100" VPOS="200" WIDTH="12" HEIGHT="10" STYLEREFS="font1"/>
        |    <String CONTENT="Methods" HPOS="120" VPOS="200" WIDTH="60" HEIGHT="10" STYLEREFS="font1"/>
        |  </TextLine>
        |  <TextLine>
        |    <String CONTENT="We" HPOS="100" VPOS="214" WIDTH="20" HEIGHT="10" STYLEREFS="font1"/>
        |    <String CONTENT="did" HPOS="130" VPOS="214" WIDTH="25" HEIGHT="10" STYLEREFS="font1"/>
        |  </TextLine>
        |  <TextLine>
        |    <String CONTENT="things" HPOS="100" VPOS="228" WIDTH="45" HEIGHT="10" STYLEREFS="font1"/>
        |  </TextLine>
        |</TextBlock>
        |<Illustration""".stripMargin)
    val tokens = AltoReader.tokens(Seq((0L, xml)).toDS()).toDF()
    val nodes = graft.pipeline.Processor.documentPipeline(tokens)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<title level="a" type="main" """ +
      """coords="1,100.00,60.00,66.00,18.00">""" +
      """<hi rend="bold">A Title</hi></title>"""))
    assert(tei.contains("<forename type=\"first\">Jane</forename><surname>Doe</surname>"))
    assert(tei.contains("""<head n="1." """ +
      """coords="1,100.00,200.00,80.00,10.00">Methods</head>"""))
    assert(tei.contains(
      """<p coords="1,100.00,214.00,55.00,10.00">We did</p>"""))
    assert(tei.contains("""<p coords="1,100.00,228.00,45.00,10.00">things</p>"""))
  }

  test("documentPipeline: acknowledgement/annex views render into TEI back") {
    def block(y: Int, lines: Seq[Seq[String]]): String = {
      val ls = lines.zipWithIndex.map { case (ts, li) =>
        val strings = ts.zipWithIndex.map { case (t, i) =>
          s"""<String CONTENT="$t" HPOS="${100 + i * 40}" VPOS="${y + li * 14}" WIDTH="30" HEIGHT="10" STYLEREFS="font1"/>"""
        }.mkString
        s"<TextLine>$strings</TextLine>"
      }.mkString
      s"<TextBlock>$ls</TextBlock>"
    }
    val xml = altoXml.replace("<Illustration",
      block(500, Seq(Seq("Acknowledgements"), Seq("we", "thank", "everyone"))) +
        block(550, Seq(Seq("Appendix"), Seq("extra", "details"))) +
        "<Illustration")
    val tokens = AltoReader.tokens(Seq((0L, xml)).toDS()).toDF()
    val nodes = graft.pipeline.Processor.documentPipeline(tokens)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<div type="acknowledgement">""" +
      """<head coords="1,100.00,500.00,30.00,10.00">Acknowledgements</head>""" +
      """<p coords="1,100.00,514.00,110.00,10.00">we thank everyone</p></div>"""), tei)
    assert(tei.contains("""<div type="annex"><div>""" +
      """<head coords="1,100.00,550.00,30.00,10.00">Appendix</head>""" +
      """<p coords="1,100.00,564.00,70.00,10.00">extra details</p></div></div>"""), tei)
    // back divs must not leak into the body: this fixture has no body
    // blocks at all, so the body element renders empty
    assert(tei.contains("<body/>"), tei)
  }

  test("fulltext equations and section notes render as <formula> and <note>") {
    import graft.pipeline.Extractors.Span
    val spans = Seq(
      Span(0L, "<section>", "2. Model"),
      Span(1L, "<paragraph>", "It follows that"),
      Span(2L, "<equation>", "E = mc^2"),
      Span(3L, "<equation_label>", "(1)"),
      Span(4L, "O", "margin scribble"))
    val nodes = graft.pipeline.ModelExtractors.fulltextFold(0L, spans)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    // tei/equation.py:26-52: content inline + nested <label>;
    // tei/section.py:63-77: the equation SPLITS the paragraph — the
    // formula is a SIBLING of the <p> fragment, never nested in it
    assert(tei.contains(
      "<p>It follows that</p><formula>E = mc^2 <label>(1)</label></formula>"),
      tei)
    assert(!tei.contains("<p>It follows that <formula>"), tei)
    // tei/misc.py:21-40: unlabeled content kept as a typed note
    assert(tei.contains("""<note type="other">margin scribble</note>"""), tei)
  }

  test("documentPipeline: figure/table passes assign fig_0/tab_0 and link citations") {
    // body paragraph with Figure/Table markers + caption blocks: the
    // fulltext fold emits raw_figure/raw_table + markers, the
    // figure/table model pass folds captions into label/figDesc, ids
    // are assigned in document order, and the markers resolve to them
    def bodyLine(y: Int, ts: Seq[String]) = {
      val strings = ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="$t" HPOS="${100 + i * 40}" VPOS="$y" WIDTH="30" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString("\n")
      s"<TextLine>$strings</TextLine>"
    }
    val xml = altoXml.replace("<Illustration",
      s"""<TextBlock>
         |${bodyLine(200, Seq("Results"))}
         |${bodyLine(214, Seq("shown", "in", "Figure", "1", "and", "Table", "1"))}
         |</TextBlock>
         |<TextBlock>${bodyLine(600, Seq("Figure", "1", ":", "sample", "caption"))}</TextBlock>
         |<TextBlock>${bodyLine(620, Seq("Table", "1", ":", "data", "summary"))}</TextBlock>
         |<Illustration""".stripMargin)
    val tokens = AltoReader.tokens(Seq((0L, xml)).toDS()).toDF()
    val nodes = graft.pipeline.Processor.documentPipeline(tokens)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    // the raw block's merged boxes become the <figure> element's coords
    // (tei/figure_table.py:33,66)
    assert(tei.contains(
      """<figure xml:id="fig_0" coords="1,100.00,600.00,190.00,10.00">""" +
        """<head>Figure 1</head><label>Figure 1</label>""" +
        "<figDesc>sample caption</figDesc></figure>"), tei)
    assert(tei.contains(
      """<figure type="table" xml:id="tab_0" """ +
        """coords="1,100.00,620.00,190.00,10.00">""" +
        """<head>Table 1</head><label>Table 1</label>""" +
        "<figDesc>data summary</figDesc></figure>"), tei)
    assert(tei.contains("""<ref type="figure" target="#fig_0" """ +
      """coords="1,180.00,214.00,70.00,10.00">Figure 1</ref>"""), tei)
    assert(tei.contains("""<ref type="table" target="#tab_0" """ +
      """coords="1,300.00,214.00,70.00,10.00">Table 1</ref>"""), tei)
  }

  test("documentPipeline: matched graphics render in figures, unmatched in back") {
    def bodyLine(y: Int, ts: Seq[String]) = {
      val strings = ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="$t" HPOS="${100 + i * 40}" VPOS="$y" WIDTH="30" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString("\n")
      s"<TextLine>$strings</TextLine>"
    }
    // figure caption at y=600: the fixture graphic (y 300-450) is within
    // the 0.3 normalized gap; a second graphic at the page top is not
    val xml = altoXml.replace("<Illustration",
      s"""<TextBlock>${bodyLine(200, Seq("Results", "are", "shown"))}</TextBlock>
         |<TextBlock>${bodyLine(600, Seq("Figure", "1", ":", "sample", "caption"))}</TextBlock>
         |<Illustration FILEID="image-2.png" TYPE="png"
         |              HPOS="400" VPOS="20" WIDTH="50" HEIGHT="30"/>
         |<Illustration""".stripMargin)
    val tokens = AltoReader.tokens(Seq((0L, xml)).toDS()).toDF()
    val graphicRows = AltoReader.graphics(Seq((0L, xml)).toDS()).toDF()
    val g = graft.pipeline.Processor.graphicsForMatching(tokens, graphicRows)
    val nodes = graft.pipeline.Processor.documentPipeline(
      tokens, graft.pipeline.Processor.Config(), Some(g))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<figDesc>sample caption</figDesc>""" +
      """<graphic coords="1,100.00,300.00,200.00,150.00" type="png"/></figure>"""), tei)
    assert(tei.contains("""<note type="unmatched_graphics">""" +
      """<graphic coords="1,400.00,20.00,50.00,30.00" type="png"/></note>"""), tei)
    // without graphics the same pipeline emits no graphic nodes
    val plain = graft.pipeline.Processor.documentPipeline(tokens)
    assert(!plain.collect().exists(_.node_type == "graphic"))
    // asset mode: the graphic id becomes the TEI url (= A8 zip entry)
    val withUrl = graft.pipeline.Processor.documentPipeline(tokens,
      graft.pipeline.Processor.Config(extractGraphicAssets = true), Some(g))
    val teiUrl = Tei.serialize(withUrl.toDF()).collect().head.getString(1)
    assert(teiUrl.contains("""<graphic url="image-1.png" """ +
      """coords="1,100.00,300.00,200.00,150.00" type="png"/>"""), teiUrl)
  }

  test("documentPipeline: references chain renders listBibl with parsed biblStruct") {
    def block(y: Int, lines: Seq[Seq[String]]): String = {
      val ls = lines.zipWithIndex.map { case (ts, li) =>
        val strings = ts.zipWithIndex.map { case (t, i) =>
          s"""<String CONTENT="$t" HPOS="${100 + i * 40}" VPOS="${y + li * 14}" WIDTH="30" HEIGHT="10" STYLEREFS="font1"/>"""
        }.mkString
        s"<TextLine>$strings</TextLine>"
      }.mkString
      s"<TextBlock>$ls</TextBlock>"
    }
    // body paragraph citing [1], then a references block: heading line,
    // "1." labeled reference with authors/title/year, "2." second ref
    val xml = altoXml.replace("<Illustration",
      block(200, Seq(Seq("Results"), Seq("as", "shown", "in", "[", "1", "]"))) +
        block(700, Seq(
          Seq("References"),
          Seq("1.", "Alice", "Smith", "Measuring", "Things", "2020"),
          Seq("2.", "Bob", "Jones", "Deep", "Analysis", "2021"))) +
        "<Illustration")
    val tokens = AltoReader.tokens(Seq((0L, xml)).toDS()).toDF()
    val nodes = graft.pipeline.Processor.documentPipeline(tokens)
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<div type="references"><head>References</head><listBibl>"""), tei)
    // the parsed biblStruct starts with the inherited raw-reference
    // content (citation/extract.py:214-217): the segmenter label and
    // raw text as typed notes; the date keeps its raw text with the
    // parsed year as when= (tei/references.py:94-106)
    assert(tei.contains("""<biblStruct xml:id="b0">""" +
      """<note type="label">1.</note>""" +
      """<note type="raw_reference">Alice Smith Measuring Things 2020</note>""" +
      """<analytic>""" +
      """<title level="a" type="main">Measuring Things</title>""" +
      """<author><persName><forename type="first">Alice</forename>""" +
      """<surname>Smith</surname></persName></author></analytic>""" +
      """<monogr><imprint><date type="published" when="2020">2020</date>""" +
      "</imprint></monogr></biblStruct>"), tei)
    // second reference parsed too, in label order
    assert(tei.indexOf("""xml:id="b0"""") < tei.indexOf("""xml:id="b1""""), tei)
    assert(tei.contains("""<surname>Jones</surname>"""), tei)
    // the body [1] marker resolves to the first reference (F1)
    assert(tei.contains("""<ref type="bibr" target="#b0" coords="1,220.00,"""), tei)
    // references must not leak into the body sections
    assert(!tei.substring(tei.indexOf("<body"), tei.indexOf("<back"))
      .contains("Measuring"), tei)
  }

  test("rule labeler finds largest-font block as title without scripts") {
    val labeled = new RuleLabeler().label(fixtureTokens.toDF())
    val spans = BioSpans.spans(labeled)
    val tags = spans.collect().map(r => r.getAs[String]("tag") -> r.getAs[String]("text")).toMap
    assert(tags("<title>") == "A Title")
    assert(tags("<author>") == "Jane Doe")
  }

  test("BIO spans: B- starts a new span even without tag change") {
    val df = Seq(
      (0L, 0, 0, 0, 0, "x1", " ", "B-<a>"),
      (0L, 0, 0, 0, 1, "x2", " ", "I-<a>"),
      (0L, 0, 0, 0, 2, "x3", " ", "B-<a>"),
      (0L, 0, 0, 0, 3, "o1", " ", "O"),
      (0L, 0, 0, 0, 4, "o2", " ", "O"),
    ).toDF("doc_id", "page_idx", "block_idx", "line_idx", "token_idx",
      "text", "whitespace", "label")
    val spans = BioSpans.spans(df).orderBy("span_id").collect()
    assert(spans.map(r => (r.getAs[String]("tag"), r.getAs[String]("text"))).toSeq ==
      Seq(("<a>", "x1 x2"), ("<a>", "x3"), ("O", "o1 o2")))
  }

  test("header fold: first title wins, affiliation runs merge, abstract cleaned") {
    val spans = Seq(
      Extractors.Span(1, "<title>", "Real Title"),
      Extractors.Span(2, "<title>", "Second Title Ignored"),
      Extractors.Span(3, "<abstract>", "Abstract: the content"),
      Extractors.Span(4, "<affiliation>", "Dept A"),
      Extractors.Span(5, "<address>", "City A"),
      Extractors.Span(6, "<affiliation>", "Dept B"),
      Extractors.Span(7, "<author>", "Jane Doe"),
    )
    val nodes = Extractors.headerFold(0L, spans)
    val titles = nodes.filter(_.node_type == "title")
    assert(titles.map(_.text) == Seq("Real Title"))
    assert(nodes.find(_.node_type == "abstract").get.text == "the content")
    val affParents = nodes.filter(_.node_type == "raw_affiliation_address")
    assert(affParents.size == 2)
    val children = nodes.filter(_.parent_id >= 0)
    assert(children.count(_.parent_id == affParents.head.node_id) == 2) // Dept A + City A
    // second title becomes a fallback note
    assert(nodes.exists(n => n.node_type == "note[<title>]"))
  }

  test("header fold: reference affiliation-split matrix") {
    // header/extract_test.py TestHeaderSemanticExtractor split cases
    def affTexts(tags: (String, String)*): Seq[Seq[String]] = {
      val nodes = Extractors.headerFold(0L, tags.zipWithIndex.map {
        case ((tag, text), i) => Extractors.Span(i.toLong, tag, text)
      })
      val parents = nodes.filter(_.node_type == "raw_affiliation_address")
      parents.map(p => nodes.filter(c => c.parent_id == p.node_id &&
        c.node_type == "raw_affiliation").map(_.text))
    }
    // one aff + address -> one parent
    assert(affTexts("<affiliation>" -> "Aff 1", "<address>" -> "Addr 1") ==
      Seq(Seq("Aff 1")))
    // aff, aff (no address) -> split
    assert(affTexts("<affiliation>" -> "Aff 1", "<affiliation>" -> "Aff 2") ==
      Seq(Seq("Aff 1"), Seq("Aff 2")))
    // aff, addr, aff, addr -> split pairs
    assert(affTexts("<affiliation>" -> "Aff 1", "<address>" -> "Addr 1",
      "<affiliation>" -> "Aff 2", "<address>" -> "Addr 2") ==
      Seq(Seq("Aff 1"), Seq("Aff 2")))
    // separated by O -> split
    assert(affTexts("<affiliation>" -> "Aff 1", "O" -> "other",
      "<affiliation>" -> "Aff 2") == Seq(Seq("Aff 1"), Seq("Aff 2")))
    // separated by a known label -> split
    assert(affTexts("<affiliation>" -> "Aff 1", "<author>" -> "Jane Doe",
      "<affiliation>" -> "Aff 2") == Seq(Seq("Aff 1"), Seq("Aff 2")))
  }

  test("F2/G7: figure-id assignment + affiliation-by-marker grouping") {
    // figure citations matched against figure labels (F2)
    val citations = Seq((0L, 1L, "Fig. 2"), (0L, 2L, "Figure 1")).toDF("doc_id", "item_id", "text")
    val figures = Seq((0L, "fig_0", "Figure 1"), (0L, "fig_1", "Figure 2"))
      .toDF("doc_id", "content_id", "label_text")
    val m = RefMatching.matchFigureTableIds(citations, figures)
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(m(2L) == "fig_0") // exact normalized key "figure1"
    assert(m(1L) == "fig_1") // token-prefix key "f2" (no partial
                             // matcher for figures, processor.py:257-259)

    // affiliations grouped by marker (G7)
    val affs = Seq((0L, "aff0", "1"), (0L, "aff1", "1"), (0L, "aff2", "2"))
      .toDF("doc_id", "content_id", "marker_text")
    val grouped = RefMatching.affiliationsByMarker(affs)
      .collect().map(r => r.getString(1) -> r.getSeq[String](2)).toMap
    assert(grouped("1") == Seq("aff0", "aff1") && grouped("2") == Seq("aff2"))
  }

  test("tokenizer matches reference goldens") {
    val cases = Seq(
      "Hello, world!" -> List("Hello", ",", "world", "!"),
      "foo-bar" -> List("foo", "-", "bar"),
      "a.b.c" -> List("a", ".", "b", ".", "c"),
      "it's" -> List("it", "'", "s"),
      "x(y)z" -> List("x", "(", "y", ")", "z"),
      "e.g. Smith†" -> List("e", ".", "g", ".", "Smith", "†"),
      "price $10.50" -> List("price", "$", "10", ".", "50"),
      "multi  space" -> List("multi", "space"),
    )
    cases.foreach { case (in, want) =>
      assert(TextNormalization.tokenize(in) == want, s"tokenize($in)")
    }
    assert(TextNormalization.tokenize("Hello, world!", keepWhitespace = true) ==
      List("Hello", ",", " ", "world", "!"))
  }

  test("normalize folds ligatures/quotes/dashes and collapses whitespace") {
    assert(TextNormalization.normalize("eﬀect") == "effect")
    assert(TextNormalization.normalize("“quoted” – dash") ==
      "\"quoted\" - dash")
    assert(TextNormalization.normalize("a  \n  b") == "a\nb")
    assert(TextNormalization.normalize("a    b") == "a b")
  }

  test("TEI biblStruct: reference field-path matrix " +
      "(tei/reference_test.py test_should_add_all_fields)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "reference", "", "b0"),
      n(1, 0, "label", "1."),
      n(2, 0, "title", "Title 1"),
      n(3, 0, "author", ""),
      n(4, 3, "given_name", "Given Name 1"),
      n(5, 3, "surname", "Surname 1"),
      n(6, 0, "raw_editors", "Editor 1"),
      n(7, 0, "journal", "Journal 1"),
      n(8, 0, "volume", "Volume 1"),
      n(9, 0, "issue", "Issue 1"),
      n(10, 0, "page_range", "12-15"),
      n(11, 0, "publisher", "Publisher 1"),
      n(12, 0, "location", "Location 1"),
      n(13, 0, "external_url", "http://host/path"),
      n(14, 0, "external_id", "10.1234/test", "doi"),
      n(15, 0, "date", "1991", "1991"),
      n(16, 0, "date", "1992", "1992"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    assert(tei.contains("""<note type="label">1.</note>"""), tei)
    assert(tei.contains(
      """<analytic><title level="a" type="main">Title 1</title>"""), tei)
    assert(tei.contains("""<forename type="first">Given Name 1</forename>"""), tei)
    assert(tei.contains("""<idno type="DOI">10.1234/test</idno>"""), tei)
    // raw editors render as monogr/editor text
    assert(tei.contains("""<editor>Editor 1</editor>"""), tei)
    assert(tei.contains("""<title level="j">Journal 1</title>"""), tei)
    assert(tei.contains("""<biblScope unit="volume">Volume 1</biblScope>"""), tei)
    assert(tei.contains("""<biblScope unit="issue">Issue 1</biblScope>"""), tei)
    assert(tei.contains("""<biblScope unit="page" from="12" to="15"/>"""), tei)
    assert(tei.contains("<publisher>Publisher 1</publisher>"), tei)
    // location -> monogr/meeting/address/addrLine, not imprint/pubPlace
    assert(tei.contains(
      "<meeting><address><addrLine>Location 1</addrLine></address></meeting>"), tei)
    // external url -> direct <ref type="url"> child of biblStruct
    assert(tei.contains("""<ref type="url">http://host/path</ref></biblStruct>"""), tei)
    // first date is published, the second is untyped; both keep text
    assert(tei.contains("""<date type="published" when="1991">1991</date>"""), tei)
    assert(tei.contains("""<date when="1992">1992</date>"""), tei)
  }

  test("TEI listBibl: parsed references replace their raw sibling IN PLACE " +
      "(processor.py _extract_reference_fields_from_raw_references)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    // segmenter order: b0 (parsed), b1 (no parse result -> raw
    // fallback); the parsed biblStruct must render at b0's slot,
    // BEFORE b1's fallback, not appended after it
    val nodes = Seq(
      n(0, -1, "raw_reference", "", "b0"),
      n(1, 0, "label", "1."),
      n(2, 0, "raw_reference_text", "Smith J. Title. 2020"),
      n(3, -1, "raw_reference", "", "b1"),
      n(4, 3, "label", "2."),
      n(5, 3, "raw_reference_text", "Unparsed text"),
      n(10, -1, "reference", "", "b0"),
      n(11, 10, "label", "1."),
      n(12, 10, "raw_reference_text", "Smith J. Title. 2020"),
      n(13, 10, "title", "Title"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    val parsedAt = tei.indexOf("""<biblStruct xml:id="b0"""")
    val fallbackAt = tei.indexOf("""<biblStruct xml:id="b1"""")
    assert(parsedAt >= 0 && fallbackAt >= 0, tei)
    assert(parsedAt < fallbackAt, tei)
    // exactly one b0 biblStruct: the raw sibling is replaced, not doubled
    assert(tei.indexOf("""<biblStruct xml:id="b0"""", parsedAt + 1) < 0, tei)
    assert(tei.contains("""<title level="a" type="main">Title</title>"""), tei)
  }

  test("TEI listBibl: demoted invalid reference replaces the raw sibling " +
      "and starts with its label (extract.py:172-179,214-217)") {
    import graft.pipeline.SemanticNode
    def n(id: Long, parent: Long, tpe: String, text: String, cid: String = null) =
      SemanticNode(0L, id, parent, tpe, text, cid)
    val nodes = Seq(
      n(0, -1, "raw_reference", "", "b0"),
      n(1, 0, "label", "12."),
      n(2, 0, "raw_reference_text", "2020 1-2"),
      n(10, -1, "invalid_reference", "", "b0"),
      n(11, 10, "label", "12."),
      n(12, 10, "date", "2020", "2020"),
      n(13, 10, "page_range", "1-2"))
    val tei = Tei.serialize(nodes.toDF()).collect().head.getString(1)
    // the raw reference does NOT render its own biblStruct
    assert(!tei.contains("""<biblStruct xml:id="b0""""), tei)
    // the invalid note renders in its place, label first
    assert(tei.contains(
      """<note type="invalid_reference">12. 2020 1-2</note>"""), tei)
  }

  test("documentPipeline: empty and token-less documents do not fail") {
    // processor_test.py test_should_not_fail_with_empty_document
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      fixtureTokens.toDF().schema)
    assert(graft.pipeline.Processor.documentPipeline(empty).count() == 0L)
    val emptyTei = Tei.serialize(
      graft.pipeline.Processor.documentPipeline(empty).toDF())
    assert(emptyTei.count() == 0L)
    // a document whose only page has no text still renders a TEI shell
    val blank = """<?xml version="1.0"?><alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">""" +
      """<Layout><Page WIDTH="595" HEIGHT="842" PHYSICAL_IMG_NR="1"/></Layout></alto>"""
    val toks = AltoReader.tokensPermissive(Seq((7L, blank)).toDS()).toDF()
    val tei = graft.pipeline.Processor.documentTei(toks)
    val got = tei.collect()
    // zero tokens -> zero docs in the fold (the reference returns an
    // empty semantic document; our contract is no row, not a crash)
    assert(got.isEmpty || got.head.getString(1).contains("<TEI"))
  }

  test("styled runs: reference hi-rend cases through spans -> fold -> TEI") {
    import graft.pipeline.{FontInfo, LocalLabelers, TokenRow}
    // tei/common_test.py TestIterLayoutBlockTeiChildren, ported against
    // the span-run encoding + sink rendering
    def font(b: Boolean = false, i: Boolean = false, sub: Boolean = false,
        sup: Boolean = false) = FontInfo("f1", null, None, b, i, sub, sup)
    def tok(idx: Int, text: String, f: FontInfo) =
      TokenRow(0L, 0, 0, 0, idx, text, " ", f, None, 1, None, None)
    def teiFor(tag: String, tokens: TokenRow*): String = {
      val labeled = tokens.toIndexedSeq.map(t =>
        (t, if (t.token_idx == 0) s"B-$tag" else s"I-$tag"))
      val nodes = Extractors.headerFold(0L, LocalLabelers.spansLocal(labeled))
      Tei.serialize(nodes.toDF()).collect().head.getString(1)
    }
    // italic / bold / subscript / superscript single styled token
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(i = true)), tok(2, "token3", font()))
      .contains("""token1 <hi rend="italic">token2</hi> token3"""))
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(b = true)), tok(2, "token3", font()))
      .contains("""token1 <hi rend="bold">token2</hi> token3"""))
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(sub = true)), tok(2, "token3", font()))
      .contains("""token1 <hi rend="subscript">token2</hi> token3"""))
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(sup = true)), tok(2, "token3", font()))
      .contains("""token1 <hi rend="superscript">token2</hi> token3"""))
    // bold+italics nest bold outermost
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(b = true, i = true)), tok(2, "token3", font()))
      .contains(
        """token1 <hi rend="bold"><hi rend="italic">token2</hi></hi> token3"""))
    // consecutive same-style tokens combine into ONE wrapper pair,
    // joining whitespace inside
    assert(teiFor("<title>", tok(0, "token1", font()),
      tok(1, "token2", font(b = true, i = true)),
      tok(2, "token3", font(b = true, i = true)), tok(3, "token4", font()))
      .contains("""token1 <hi rend="bold"><hi rend="italic">token2 """ +
        """token3</hi></hi> token4"""))
    // abstract prefix strip re-bases the runs (StyleRuns.slice)
    val abs = teiFor("<abstract>", tok(0, "Abstract:", font()),
      tok(1, "the", font()), tok(2, "content", font(b = true)))
    assert(abs.contains("""<p>the <hi rend="bold">content</hi></p>"""), abs)
  }

  test("coordinates: reference merge cases, format round-trip") {
    import graft.pipeline.{Coordinates, Coords}
    // layout_document_test.py TestGetMergedCoordinatesList
    assert(Coordinates.merge(Seq(
      Coords(10, 10, 100, 100, 1), Coords(110, 10, 100, 100, 1))) ==
      Seq(Coords(10, 10, 110 - 10 + 100, 100, 1)))       // same line
    assert(Coordinates.merge(Seq(
      Coords(10, 10, 100, 100, 1), Coords(10, 110, 100, 100, 1))) ==
      Seq(Coords(10, 10, 100, 110 - 10 + 100, 1)))       // stacked
    val crossPage = Seq(
      Coords(10, 10, 100, 100, 1), Coords(110, 10, 100, 100, 2))
    assert(Coordinates.merge(crossPage) == crossPage)    // page change
    // tei/common.py:87-101 attribute format + parse inverse
    val c = Coords(10.5, 20.25, 30.0, 40.125, 3)
    assert(Coordinates.format(c) == "3,10.50,20.25,30.00,40.13")
    assert(Coordinates.formatList(Nil) == null)
    val formatted = Coordinates.formatList(crossPage)
    assert(formatted == "1,10.00,10.00,100.00,100.00;2,110.00,10.00,100.00,100.00")
    assert(Coordinates.parse(formatted) == crossPage)
    // parent re-merge over formatted children (same page unions)
    assert(Coordinates.mergeFormatted(Seq(
      "1,10.00,10.00,100.00,100.00", null, "1,110.00,10.00,100.00,100.00")) ==
      "1,10.00,10.00,200.00,100.00")
  }

  test("tokenize/normalize: reference unicode-whitespace cases") {
    // tests/utils/tokenizer_test.py — thin space (U+2009) splits like
    // Python's unicode \s, and the blank token drops without
    // keep_whitespace
    assert(TextNormalization.tokenize("token1 token2") ==
      List("token1", "token2"))
    assert(TextNormalization.tokenize("token1\u2009token2") ==
      List("token1", "token2"))
    assert(TextNormalization.tokenize("token1\ntoken2") ==
      List("token1", "token2"))
    assert(TextNormalization.tokenize("token1 token2", keepWhitespace = true) ==
      List("token1", " ", "token2"))
    assert(TextNormalization.tokenize("token1\ntoken2", keepWhitespace = true) ==
      List("token1", "\n", "token2"))
    // NBSP is both a declared delimiter and unicode whitespace
    assert(TextNormalization.tokenize("a\u00a0b") == List("a", "b"))
    // U+0085 NEL: Python \s matches it; the JVM's Character classes
    // do not, so the blank filter names it explicitly
    assert(TextNormalization.tokenize("a\u0085b") == List("a", "b"))
    // tests/utils/text_test.py — dash/quote folds plus unicode-space
    // collapse in normalize
    assert(TextNormalization.normalize("\u2013") == "-")
    assert(TextNormalization.normalize("\u2019") == "'")
    assert(TextNormalization.normalize("a   b") == "a b")
    assert(TextNormalization.normalize("a \u2009\nb") == "a\nb")
    assert(TextNormalization.normalize("a\u00a0\u00a0b") == "a b")
  }

  test("ref matching: exact key, then token-vote fallback with tie rejection") {
    val citations = Seq(
      (0L, 1L, "Smith et al. 2020"),
      (0L, 2L, "totally unrelated zzz"),
      (0L, 3L, "J 2019 s o things"), // prefix-1 key j2019sot -> b1
      (0L, 4L, "study 2019"),   // partial path: tied votes b1/b2
      (0L, 5L, "2019 things"),  // partial path: b1 wins by one vote
      (0L, 6L, "jones 2019 study"), // partial path: 3-3 tie -> rejected
    ).toDF("doc_id", "item_id", "text")
    val candidates = Seq(
      (0L, "b0", "Smith et al 2020"),
      (0L, "b1", "Jones 2019 study of things"),
      (0L, "b2", "Jones 2019 study of stuff"),
    ).toDF("doc_id", "content_id", "label_text")
    val m = RefMatching.matchContentIds(citations, candidates)
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(m(1L) == "b0") // exact normalized match
    assert(!m.contains(2L)) // no overlap
    // item 3: digit-preserving token-prefix key (ref_matching.py:27-33)
    assert(m(3L) == "b1")
    assert(!m.contains(4L)) // partial-vote tie -> rejected (ref_matching.py:79-93)
    assert(m(5L) == "b1")   // partial-vote strict winner
    assert(!m.contains(6L)) // equal full-token votes also tie out
  }
}
