package graft

import graft.pipeline.SemanticNode
import graft.sinks.Tei

/** Ported `tests/document/tei_document_test.py` cases not already
  * pinned by PipelineSpec — the document-assembly long tail:
  * figure/table lifting out of section divs, empty-div suppression,
  * teiHeader front notes, body-level notes, asset citations.
  */
class TeiDocumentSpec extends SparkSuite {
  import spark.implicits._

  private def n(id: Long, parent: Long, tpe: String, text: String,
      cid: String = null) = SemanticNode(0L, id, parent, tpe, text, cid)

  private def tei(nodes: Seq[SemanticNode]): String =
    Tei.serialize(nodes.toDF()).collect().head.getString(1)

  test("buildTei: shuffled and id-sorted nodes give byte-equal TEI") {
    val nodes = graft.pipeline.Processor.documentPipeline(
      new PipelineSpec().fixtureTokens.toDF()).collect().toList.sortBy(_.node_id)
    assert(nodes.map(_.node_type).distinct.size >= 3, nodes)
    val sorted = Tei.buildTei(nodes)
    assert(sorted.contains("<TEI"), sorted)
    Seq(1, 2, 3).foreach { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(nodes)
      assert(shuffled != nodes)
      assert(Tei.buildTei(shuffled) == sorted, s"seed $seed")
      assert(Tei.buildTei(shuffled.toVector) == sorted, s"seed $seed")
    }
  }

  test("empty document has no div (test_should_return_empty_document)") {
    val xml = tei(Seq(n(0, -1, "title", "")))
    assert(!xml.contains("<div"), xml)
  }

  test("section figures render at body level, not inside the div " +
      "(test_should_add_section_figures_to_body)") {
    val xml = tei(Seq(
      n(0, -1, "section", ""),
      n(1, 0, "figure", "", "fig_0"),
      n(2, 1, "label", "Label 1"),
      n(3, 1, "caption", "Caption 1")))
    // the figure is a DIRECT child of <body> (tei_document.py:124-129)
    assert(xml.contains("<body>" +
      """<figure xml:id="fig_0"><head>Label 1</head><label>Label 1</label>""" +
      "<figDesc>Caption 1</figDesc></figure></body>"), xml)
    // the section div, left with no content, is suppressed entirely
    // (tei/section.py:122-125 returns [])
    assert(!xml.contains("<div"), xml)
  }

  test("section tables render at body level with type=table " +
      "(test_should_add_section_tables_to_body)") {
    val xml = tei(Seq(
      n(0, -1, "section", ""),
      n(1, 0, "table", "", "tab_0"),
      n(2, 1, "label", "Table 1"),
      n(3, 1, "caption", "Caption 1")))
    assert(xml.contains("<body>" +
      """<figure type="table" xml:id="tab_0"><head>Table 1</head>""" +
      "<label>Table 1</label><figDesc>Caption 1</figDesc></figure></body>"), xml)
    assert(!xml.contains("<div"), xml)
  }

  test("back-section figures render inside the annex container " +
      "(test_should_add_section_figures_to_back)") {
    val xml = tei(Seq(
      n(0, -1, "section", "", "annex"),
      n(1, 0, "figure", "", "fig_0"),
      n(2, 1, "label", "Label 1"),
      n(3, 1, "caption", "Caption 1")))
    assert(xml.contains("""<back><div type="annex">""" +
      """<figure xml:id="fig_0"><head>Label 1</head><label>Label 1</label>""" +
      "<figDesc>Caption 1</figDesc></figure></div></back>"), xml)
    // no inner div for the figure-only section
    assert(!xml.contains("<div>"), xml)
  }

  test("section with paragraph AND figure keeps its div, figure lifts out") {
    val xml = tei(Seq(
      n(0, -1, "section", ""),
      n(1, 0, "heading", ""),
      n(2, 1, "title", "Section 1"),
      n(3, 0, "paragraph", ""),
      n(4, 3, "text", "Some text"),
      n(5, 0, "figure", "", "fig_0"),
      n(6, 5, "label", "Figure 1")))
    assert(xml.contains("<div><head>Section 1</head><p>Some text</p></div>"), xml)
    val divEnd = xml.indexOf("</div>")
    val fig = xml.indexOf("""<figure xml:id="fig_0"""")
    assert(fig > divEnd, xml) // figure AFTER the div, under body
    assert(xml.indexOf("<figure", xml.indexOf("<body>")) <
      xml.indexOf("</body>"), xml)
  }

  test("asset citations carry type and #target " +
      "(test_should_add_asset_citation_for_resolved_figure/table/reference)") {
    val xml = tei(Seq(
      n(0, -1, "section", ""),
      n(1, 0, "paragraph", ""),
      n(2, 1, "text", "See"),
      n(3, 1, "figure_citation", "Fig 1", "fig_0"),
      n(4, 1, "table_citation", "Tab 1", "tab_0"),
      n(5, 1, "reference_citation", "Ref 1", "b0")))
    assert(xml.contains("<p>See " +
      """<ref type="figure" target="#fig_0">Fig 1</ref> """ +
      """<ref type="table" target="#tab_0">Tab 1</ref> """ +
      """<ref type="bibr" target="#b0">Ref 1</ref></p>"""), xml)
  }

  test("single author renders roleName/forename first+middle/surname/genName " +
      "in persName order (test_should_add_single_author)") {
    val xml = tei(Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "name_title", "Title1"),
      n(3, 1, "given_name", "Given1"),
      n(4, 1, "middle_name", "Middle1"),
      n(5, 1, "surname", "Surname1"),
      n(6, 1, "name_suffix", "Suffix1")))
    assert(xml.contains("<author><persName>" +
      "<roleName>Title1</roleName>" +
      """<forename type="first">Given1</forename>""" +
      """<forename type="middle">Middle1</forename>""" +
      "<surname>Surname1</surname>" +
      "<genName>Suffix1</genName></persName></author>"), xml)
  }

  test("multiple given names and a particle surname keep one element each " +
      "(tei/factories.py per-content forename rendering)") {
    // two SemanticGivenName contents each yield their own
    // forename[@type=first]; a multi-token particle surname stays ONE
    // surname element with the fold's title-cased join
    val xml = tei(Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "given_name", "Jean"),
      n(3, 1, "given_name", "Paul"),
      n(4, 1, "surname", "Van Der Berg")))
    assert(xml.contains("""<forename type="first">Jean</forename>""" +
      """<forename type="first">Paul</forename>""" +
      "<surname>Van Der Berg</surname>"), xml)
  }

  test("marker-matched affiliation renders inside the author: key attr, " +
      "raw_affiliation note with label, orgName " +
      "(test_should_add_single_author_with_affiliation)") {
    val xml = tei(Seq(
      n(0, -1, "authors", ""),
      n(1, 0, "author", ""),
      n(2, 1, "given_name", "Given1"),
      n(3, 1, "surname", "Surname1"),
      n(4, 1, "marker", "1"),
      n(5, -1, "affiliation_address", "", "aff0"),
      n(6, 5, "marker", "1"),
      n(7, 5, "institution", "Institution1")))
    assert(xml.contains("""<affiliation key="aff0">""" +
      """<note type="raw_affiliation"><label>1</label> Institution1</note>""" +
      """<orgName type="institution">Institution1</orgName></affiliation>"""),
      xml)
    // inside the author element, after persName; author marker as note
    assert(xml.contains("""<note type="marker">1</note></persName><affiliation"""), xml)
    assert(xml.contains("</affiliation></author>"), xml)
  }

  test("orphan affiliation renders under a dummy author " +
      "(test_should_add_orphan_affiliation)") {
    val xml = tei(Seq(
      n(0, -1, "affiliation_address", "", "aff0"),
      n(1, 0, "marker", "1"),
      n(2, 0, "institution", "Institution1")))
    assert(xml.contains("<author><note type=\"dummy_author\">" +
      "Dummy author for orphan affiliations</note>" +
      """<affiliation key="aff0">"""), xml)
  }

  test("acknowledgement-section figures render in the back annex container " +
      "(tei_document.py:157-162 recursive back-section figure collection)") {
    val xml = tei(Seq(
      n(0, -1, "section", "", "acknowledgement"),
      n(1, 0, "paragraph", ""),
      n(2, 1, "text", "Thanks"),
      n(3, 0, "figure", "", "fig_0"),
      n(4, 3, "label", "Label 1")))
    // the ack div keeps its prose; the figure lifts into the ANNEX
    // container (the reference appends every back-section figure to
    // the back annex element, acknowledgement sections included)
    assert(xml.contains("""<div type="acknowledgement"><p>Thanks</p></div>"""), xml)
    assert(xml.contains("""<div type="annex"><figure xml:id="fig_0">""" +
      "<head>Label 1</head><label>Label 1</label></figure></div>"), xml)
  }

  test("front content not folded into title/abstract/authors renders as a " +
      "teiHeader note with the raw tag as type (tei_document.py:92-99)") {
    val xml = tei(Seq(
      n(0, -1, "title", "First Title"),
      n(1, -1, "note[<title>]", "Second Title")))
    assert(xml.contains(
      """<note type="&lt;title&gt;">Second Title</note></teiHeader>"""), xml)
    // and NOT inside body or back
    assert(!xml.substring(xml.indexOf("<text>"))
      .contains("Second Title"), xml)
  }

  test("root fulltext notes render directly under body " +
      "(test_should_add_notes_to_body)") {
    val xml = tei(Seq(
      n(0, -1, "note[fulltext:other]", "A loose note"),
      n(1, -1, "section", ""),
      n(2, 1, "paragraph", ""),
      n(3, 2, "text", "Text")))
    assert(xml.contains(
      """<body><note type="other">A loose note</note><div>"""), xml)
  }

  test("section notes render inside the div (test_should_add_notes_to_section)") {
    val xml = tei(Seq(
      n(0, -1, "section", ""),
      n(1, 0, "note[other]", "Section note")))
    assert(xml.contains(
      """<div><note type="other">Section note</note></div>"""), xml)
  }
}
