package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.pipeline.SemanticNode

/** TEI XML serialization (SURVEY.md A6; reference
  * `document/tei_document.py:47-165` + the `document/tei` package).
  *
  * One TEI string per document, produced by a per-doc fold over the
  * collected semantic-node rows (nodes per doc are small — the heavy
  * token work happened upstream). Output is `(doc_id, tei)` ready for
  * `df.write.text`/partitioned file sinks; JATS (A7) chains an XSLT
  * transform (javax) on the same column.
  */
object Tei {

  /** `&`, `<` and `>` escaped in one scan; the input itself when
    * nothing needs escaping, "" for null. */
  private def esc(s: String): String = {
    if (s == null) return ""
    var i = 0
    while (i < s.length && { val c = s.charAt(i); c != '&' && c != '<' && c != '>' }) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 16)
      sb.append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '&' => sb.append("&amp;")
          case '<' => sb.append("&lt;")
          case '>' => sb.append("&gt;")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }
  }

  /** ` coords="…"` attribute when the node carries merged page boxes
    * (tei/common.py:104-114 get_default_attributes_for_layout_block —
    * emitted wherever the reference enables coordinates; absent
    * coords, absent attribute). */
  private def coordsAttr(n: SemanticNode): String =
    if (n.coords == null || n.coords.isEmpty) ""
    else s""" coords="${esc(n.coords)}""""

  private def coordsAttr(merged: String): String =
    if (merged == null || merged.isEmpty) "" else s""" coords="${esc(merged)}""""

  /** Render node text with its styled runs as nested `<hi rend="…">`
    * wrappers (tei/common.py:74-84 get_element_for_styles — outermost
    * style first in the bold/italic/subscript/superscript order;
    * tei/common.py:115-151 run grouping happened span-side). */
  private def styledXml(text: String, styles: String): String = {
    if (text == null) return ""
    if (styles == null || styles.isEmpty) return esc(text)
    val sb = new StringBuilder
    var pos = 0
    graft.pipeline.StyleRuns.parse(styles)
      .filter { case (a, b, _) => a < text.length && b > a }
      .sortBy(_._1)
      .foreach { case (a, b, m) =>
        val from = math.max(a, pos)
        val until = math.min(b, text.length)
        if (from > pos) sb ++= esc(text.substring(pos, from))
        if (until > from) {
          val inner = esc(text.substring(from, until))
          val names = Seq(1 -> "bold", 2 -> "italic", 4 -> "subscript",
            8 -> "superscript").collect { case (bit, n) if (m & bit) != 0 => n }
          sb ++= names.foldRight(inner)((n, acc) => s"""<hi rend="$n">$acc</hi>""")
          pos = until
        }
      }
    if (pos < text.length) sb ++= esc(text.substring(pos))
    sb.toString
  }

  private def styledXml(n: SemanticNode): String = styledXml(n.text, n.styles)

  /** Naive fallback when the name model pass did not run (raw_authors
    * nodes): first token → forename, rest → surname. */
  private def rawAuthorXml(raw: String): String = {
    val toks = raw.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) ""
    else if (toks.length == 1)
      s"<author><persName><surname>${esc(toks(0))}</surname></persName></author>"
    else
      "<author><persName>" +
        s"""<forename type="first">${esc(toks.head)}</forename>""" +
        s"<surname>${esc(toks.tail.mkString(" "))}</surname></persName></author>"
  }

  /** Structured author/editor from name-fold children (tei/author.py:
    * 97-129 persName building; role = "author" | "editor").
    * `affiliations` render INSIDE the author element after persName,
    * exactly where `get_tei_author_for_semantic_author_element` puts
    * the marker-matched affiliation elements. */
  private def authorXml(parts: Seq[SemanticNode], role: String = "author",
      affiliations: Seq[String] = Nil): String = {
    val sb = new StringBuilder(s"<$role><persName>")
    parts.foreach { p =>
      p.node_type match {
        case "given_name" => sb ++= s"""<forename type="first">${esc(p.text)}</forename>"""
        case "middle_name" => sb ++= s"""<forename type="middle">${esc(p.text)}</forename>"""
        case "surname" => sb ++= s"<surname>${esc(p.text)}</surname>"
        case "name_title" => sb ++= s"""<roleName>${esc(p.text)}</roleName>"""
        case "name_suffix" => sb ++= s"""<genName>${esc(p.text)}</genName>"""
        case "marker" => sb ++= s"""<note type="marker">${esc(p.text)}</note>"""
        case _ => ()
      }
    }
    sb ++= "</persName>"
    affiliations.foreach(sb ++= _)
    sb ++= s"</$role>"
    sb.toString
  }

  /** Dummy author wrapping affiliations whose marker no author cites
    * (tei/author.py:132-146 `get_dummy_tei_author_for_semantic_
    * affiliations_element` — the reference keeps orphan affiliations
    * in the header under an author-shaped element, not loose). */
  private def dummyAuthorXml(affiliations: Seq[String]): String =
    """<author><note type="dummy_author">Dummy author for orphan affiliations</note>""" +
      affiliations.mkString + "</author>"

  /** One `<biblStruct>` from a parsed reference node's typed children
    * (reference `document/tei/references.py` element paths +
    * `tei_document.py:47-165`): analytic title/authors/idno, monogr
    * journal/editors/imprint with date/biblScope/publisher. The xml:id
    * is the `b<n>` content id citation `<ref target>`s point at.
    * Appended to `sb`.
    */
  private def biblStructXml(sb: StringBuilder, ref: SemanticNode, cs: Seq[SemanticNode],
      kids: Long => Seq[SemanticNode]): Unit = {
    val id = Option(ref.content_id).map(i => s""" xml:id="${esc(i)}"""").getOrElse("")
    sb ++= s"<biblStruct$id${coordsAttr(ref)}>"
    // inherited raw-reference content renders first
    // (citation/extract.py:214-217 copies it in before the fields;
    // references.py:67-75 renders label/raw text as typed notes)
    cs.filter(_.node_type == "label").foreach(l =>
      sb ++= s"""<note type="label">${styledXml(l)}</note>""")
    cs.filter(_.node_type == "raw_reference_text").foreach(t =>
      sb ++= s"""<note type="raw_reference">${styledXml(t)}</note>""")
    sb ++= "<analytic>"
    cs.filter(_.node_type == "title").foreach(t =>
      sb ++= s"""<title level="a" type="main">${styledXml(t)}</title>""")
    cs.foreach { c =>
      c.node_type match {
        case "author" => sb ++= authorXml(kids(c.node_id))
        case "raw_authors" => sb ++= rawAuthorXml(c.text)
        case _ => ()
      }
    }
    cs.filter(_.node_type == "external_id").foreach { e =>
      val t = Option(e.content_id).getOrElse("unknown")
      sb ++= s"""<idno type="${esc(t.toUpperCase)}">${esc(e.text)}</idno>"""
    }
    sb ++= "</analytic><monogr>"
    cs.filter(_.node_type == "journal").foreach(j =>
      sb ++= s"""<title level="j">${styledXml(j)}</title>""")
    cs.filter(_.node_type == "editor").foreach(ed =>
      sb ++= authorXml(kids(ed.node_id), "editor"))
    // editors the name pass left raw render as-is
    // (factories.py:113 SemanticRawEditors -> monogr/editor)
    cs.filter(_.node_type == "raw_editors").foreach(ed =>
      sb ++= s"<editor>${styledXml(ed)}</editor>")
    sb ++= "<imprint>"
    // the first date is assumed published (tei/references.py:96-99);
    // the element keeps the raw text, the parsed year is the when=
    cs.filter(_.node_type == "date").zipWithIndex.foreach { case (dt, i) =>
      val typeAttr = if (i == 0) """ type="published"""" else ""
      val when = Option(dt.content_id)
        .map(y => s""" when="${esc(y)}"""").getOrElse("")
      sb ++= s"<date$typeAttr$when>${styledXml(dt)}</date>"
    }
    cs.filter(_.node_type == "volume").foreach(v =>
      sb ++= s"""<biblScope unit="volume">${styledXml(v)}</biblScope>""")
    cs.filter(_.node_type == "issue").foreach(v =>
      sb ++= s"""<biblScope unit="issue">${styledXml(v)}</biblScope>""")
    cs.filter(_.node_type == "page_range").foreach { p =>
      val parts = p.text.split("-", 2)
      if (parts.length == 2)
        sb ++= s"""<biblScope unit="page" from="${esc(parts(0))}" to="${esc(parts(1))}"/>"""
      else sb ++= s"""<biblScope unit="page">${esc(p.text)}</biblScope>"""
    }
    cs.filter(_.node_type == "publisher").foreach(v =>
      sb ++= s"<publisher>${styledXml(v)}</publisher>")
    sb ++= "</imprint>"
    // location -> monogr/meeting/address/addrLine
    // (factories.py:129,150 SemanticLocation parent path)
    val locations = cs.filter(_.node_type == "location")
    if (locations.nonEmpty) {
      sb ++= "<meeting><address>"
      locations.foreach(v => sb ++= s"<addrLine>${styledXml(v)}</addrLine>")
      sb ++= "</address></meeting>"
    }
    sb ++= "</monogr>"
    // external url -> direct <ref type="url"> child
    // (factories.py:130, no parent path)
    cs.filter(_.node_type == "external_url").foreach(v =>
      sb ++= s"""<ref type="url">${esc(v.text)}</ref>""")
    sb ++= "</biblStruct>"
  }

  private val AddressFieldTags = Map(
    "addr_line" -> "addrLine", "settlement" -> "settlement",
    "country" -> "country", "region" -> "region",
    "post_code" -> "postCode", "post_box" -> "postBox")

  /** `<affiliation>` per tei/author.py:32-94: a `<note
    * type="raw_affiliation">` first (full raw text with the marker
    * wrapped as `<label>`), orgName elements in node order, and ALL
    * address fields grouped under ONE trailing `<address>` element —
    * not one address per field. */
  private def affiliationXml(aff: SemanticNode, children: Seq[SemanticNode]): String = {
    val sb = new StringBuilder(
      s"""<affiliation key="${esc(Option(aff.content_id).getOrElse(""))}"""" +
        s"${coordsAttr(aff)}>")
    // raw_affiliation note: every child's text in order, marker as label
    sb ++= """<note type="raw_affiliation">"""
    children.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) sb ++= " "
      if (c.node_type == "marker") sb ++= s"<label>${esc(c.text)}</label>"
      else sb ++= styledXml(c)
    }
    sb ++= "</note>"
    children.foreach { c =>
      c.node_type match {
        case "institution" => sb ++= s"""<orgName type="institution">${esc(c.text)}</orgName>"""
        case "department" => sb ++= s"""<orgName type="department">${esc(c.text)}</orgName>"""
        case "laboratory" => sb ++= s"""<orgName type="laboratory">${esc(c.text)}</orgName>"""
        case t if t.startsWith("note[") && t != "note[marker_delimiter]" =>
          val noteType = t.stripPrefix("note[").stripSuffix("]")
          sb ++= s"""<note type="${esc(noteType)}">${esc(c.text)}</note>"""
        case _ => ()
      }
    }
    val addressFields = children.filter(c => AddressFieldTags.contains(c.node_type))
    if (addressFields.nonEmpty) {
      sb ++= "<address>"
      addressFields.foreach { c =>
        val tag = AddressFieldTags(c.node_type)
        sb ++= s"<$tag>${esc(c.text)}</$tag>"
      }
      sb ++= "</address>"
    }
    sb ++= "</affiliation>"
    sb.toString
  }

  /** `<graphic>` from a matched/unmatched graphic node
    * (tei/graphic.py:22-55; node text carries "type|page,x,y,w,h[|url]"
    * — format_coordinates per tei/common.py:87-94, url present exactly
    * when assets were extracted, graphic.py:37-39). */
  private def graphicXml(g: SemanticNode): String = {
    val (gType, coords, url) = g.text.split("\\|", 3) match {
      case Array(t, c, u) => (t, c, Some(u))
      case Array(t, c) => (t, c, None)
      case _ => ("", g.text, None)
    }
    val urlAttr = url.map(u => s""" url="${esc(u)}"""").getOrElse("")
    val typeAttr = if (gType.nonEmpty) s""" type="${esc(gType)}"""" else ""
    s"""<graphic$urlAttr coords="${esc(coords)}"$typeAttr/>"""
  }

  private def ascendingIds(nodes: Seq[SemanticNode]): Boolean = {
    val it = nodes.iterator
    var prev = Long.MinValue
    while (it.hasNext) {
      val id = it.next().node_id
      if (id < prev) return false
      prev = id
    }
    true
  }

  /** Build one TEI document from a document's semantic-node rows. */
  def buildTei(nodes: Seq[SemanticNode]): String = {
    // the coords of the <p> fragment being built, merged as it grows
    val fragmentCoords = new graft.pipeline.Coordinates.BoxMerge
    // the members of that fragment, ' '-joined
    val fragment = new StringBuilder
    var fragmentItems = 0
    // `Processor.assignIdsAndTargets` hands the nodes over sorted; the
    // collection is kept as given (the passes below ran 25–35% slower
    // on an `ArraySeq` than on the `List` the fold produces)
    val ordered = if (ascendingIds(nodes)) nodes else nodes.sortBy(_.node_id)
    // each parent's children in node order, keyed without boxing
    val childrenOf = new scala.collection.mutable.LongMap[List[SemanticNode]]
    ordered.foreach(n =>
      childrenOf.update(n.parent_id, n :: childrenOf.getOrElse(n.parent_id, Nil)))
    childrenOf.mapValuesInPlace((_, ns) => ns.reverse)
    def kids(id: Long): Seq[SemanticNode] = childrenOf.getOrElse(id, Nil)

    val title = ordered.find(n => n.node_type == "title" && n.parent_id < 0)
    val abstractNode = ordered.find(n => n.node_type == "abstract" && n.parent_id < 0)

    // affiliations keyed by their concatenated marker text
    // (tei_document.py:68-73 affiliations_by_marker); each author's
    // markers pull the matching affiliation elements INSIDE the author,
    // markers no author cites collect under a trailing dummy author
    // (tei_document.py:99-110 get_orphan_affiliations)
    val affNodes = ordered
      .filter(n => n.parent_id < 0 && n.node_type == "affiliation_address")
    def markerText(children: Seq[SemanticNode]): String =
      children.filter(_.node_type == "marker").map(_.text).mkString(" ")
    val affsByMarker: Map[String, Seq[(SemanticNode, String)]] = affNodes
      .map(a => (a, affiliationXml(a, kids(a.node_id))))
      .groupBy { case (a, _) => markerText(kids(a.node_id)) }
    var usedMarkers = Set.empty[String]
    val authorXmls = ordered.filter(_.parent_id < 0).flatMap { n =>
      n.node_type match {
        case "raw_authors" => Seq(rawAuthorXml(n.text))
        case "authors" => kids(n.node_id).filter(_.node_type == "author")
          .map { a =>
            val markers = kids(a.node_id).filter(_.node_type == "marker").map(_.text)
            usedMarkers ++= markers
            val affs = markers.flatMap(m =>
              affsByMarker.getOrElse(m, Nil).map(_._2))
            authorXml(kids(a.node_id), affiliations = affs)
          }
        case _ => Nil
      }
    }
    val orphanAffXmls = affsByMarker.toSeq
      .filter { case (m, _) => !usedMarkers.contains(m) }
      .flatMap(_._2).sortBy(_._1.node_id).map(_._2)
    val dummyAuthor =
      if (orphanAffXmls.nonEmpty) Some(dummyAuthorXml(orphanAffXmls)) else None

    // sections → <div> with heading label/title + paragraphs
    // (tei_document.py body building over the fulltext fold output);
    // acknowledgement/annex sections (by their section type, carried in
    // content_id) render into <back> — <div type="acknowledgement">
    // directly, annex sections inside the <div type="annex"> container
    // (document/tei/document.py:125-155, tei/section.py:127)
    // tei/figure_table.py:32-87: label renders as head AND label
    def figureXml(fsb: StringBuilder, c: SemanticNode): Unit = {
      val idAttr = Option(c.content_id)
        .map(i => s""" xml:id="${esc(i)}"""").getOrElse("")
      val typeAttr = if (c.node_type == "table") """ type="table"""" else ""
      fsb ++= s"<figure$typeAttr$idAttr${coordsAttr(c)}>"
      kids(c.node_id).foreach { k =>
        k.node_type match {
          case "label" =>
            fsb ++= s"<head${coordsAttr(k)}>${styledXml(k)}</head>" +
              s"<label${coordsAttr(k)}>${styledXml(k)}</label>"
          case "caption" =>
            fsb ++= s"<figDesc${coordsAttr(k)}>${styledXml(k)}</figDesc>"
          case "graphic" => fsb ++= graphicXml(k)
          case _ => ()
        }
      }
      fsb ++= "</figure>"
    }

    // tei_document.py:124-129/157-162 iter_by_types_recursively: every
    // figure/table in the section subtree, depth-first document order
    def figuresOf(s: SemanticNode): Seq[SemanticNode] =
      kids(s.node_id).flatMap { c =>
        if (c.node_type == "figure" || c.node_type == "table") c +: figuresOf(c)
        else figuresOf(c)
      }

    def sectionDiv(bodySb: StringBuilder, s: SemanticNode, typeAttr: Option[String]): Unit = {
      val start = bodySb.length
      bodySb ++= typeAttr.map(t => s"""<div type="$t">""").getOrElse("<div>")
      val contentStart = bodySb.length
      kids(s.node_id).foreach { c =>
        c.node_type match {
          case "heading" =>
            val label = kids(c.node_id).find(_.node_type == "label").map(_.text)
            val htitle = kids(c.node_id).find(_.node_type == "title")
            bodySb ++= "<head"
            label.foreach(l => bodySb ++= s""" n="${esc(l)}"""")
            bodySb ++= coordsAttr(c)
            bodySb ++= s">${htitle.map(styledXml).getOrElse("")}</head>"
          case "paragraph" =>
            // citation target = matched content id (tei/citation.py:44-45)
            def target(p: SemanticNode): String =
              Option(p.content_id).map(t => s""" target="#${esc(t)}"""").getOrElse("")
            // tei/section.py:63-77 iter_flat_paragraph_formula: a raw
            // equation SPLITS the paragraph — <formula> renders as a
            // SIBLING of the <p> fragments, never nested inside one
            def flushFragment(): Unit = {
              if (fragmentItems > 0) {
                // <p> coords re-merge the fragment's members
                // (tei/section.py:96 per flat paragraph fragment)
                val pc = fragmentCoords.result()
                bodySb ++= "<p" ++= coordsAttr(pc) += '>'
                bodySb.underlying.append(fragment.underlying)
                bodySb ++= "</p>"
                fragment.clear()
                fragmentItems = 0
              }
            }
            def push(xml: String, n: SemanticNode): Unit = {
              if (fragmentItems > 0) fragment += ' '
              fragment ++= xml
              fragmentItems += 1
              fragmentCoords.addFormatted(n.coords)
            }
            kids(c.node_id).foreach { p =>
              p.node_type match {
                case "raw_equation" =>
                  // tei/equation.py:26-52: equation content inline,
                  // label as a nested <label>, order as emitted
                  val eqParts = kids(p.node_id).map { k =>
                    k.node_type match {
                      case "raw_equation_content" => styledXml(k)
                      case "label" => s"<label>${styledXml(k)}</label>"
                      case _ => styledXml(k)
                    }
                  }
                  flushFragment()
                  bodySb ++= s"<formula${coordsAttr(p)}>${eqParts.mkString(" ")}</formula>"
                case "text" => push(styledXml(p), p)
                case "reference_citation" =>
                  push(s"""<ref type="bibr"${target(p)}${coordsAttr(p)}>${styledXml(p)}</ref>""", p)
                case "figure_citation" =>
                  push(s"""<ref type="figure"${target(p)}${coordsAttr(p)}>${styledXml(p)}</ref>""", p)
                case "table_citation" =>
                  push(s"""<ref type="table"${target(p)}${coordsAttr(p)}>${styledXml(p)}</ref>""", p)
                case _ => push(styledXml(p), p)
              }
            }
            flushFragment()
          case "figure" | "table" =>
            // skipped here — tei/section.py:118-121 "rendered at parent
            // level": figures/tables leave their section div and render
            // directly under body / the back annex (tei_document.py:
            // 124-129, 157-162); see figureXml collection below
            ()
          case "raw_figure" =>
            bodySb ++= s"<figure${coordsAttr(c)}>${styledXml(c)}</figure>"
          case "raw_table" =>
            bodySb ++= s"""<figure type="table"${coordsAttr(c)}>${styledXml(c)}</figure>"""
          case t if t.startsWith("note[") =>
            // tei/misc.py:21-40 (SemanticMixedNote): unlabeled content
            // kept as <note type="...">; the bracketed fold reason maps
            // to the note type, "fulltext:other" → "other"
            val noteType = t.stripPrefix("note[").stripSuffix("]")
              .split(":").last
            bodySb ++= s"""<note type="${esc(noteType)}"${coordsAttr(c)}>${styledXml(c)}</note>"""
          case _ => ()
        }
      }
      // tei/section.py:122-125: a section whose remaining content is
      // empty (e.g. its only children were the lifted figures/tables)
      // yields NO div at all
      if (bodySb.length == contentStart) bodySb.setLength(start)
      else bodySb ++= "</div>"
    }

    // one builder for the whole document: body and back render in
    // place, sized from the node texts so it seldom grows
    val sb = new StringBuilder(ordered.foldLeft(1024) { (size, n) =>
      size + 64 + (if (n.text == null) 0 else n.text.length) +
        (if (n.coords == null) 0 else n.coords.length)
    })
    sb ++= """<TEI xmlns="http://www.tei-c.org/ns/1.0">"""
    sb ++= "<teiHeader><fileDesc>"
    sb ++= "<titleStmt>"
    title.foreach(t =>
      sb ++= s"""<title level="a" type="main"${coordsAttr(t)}>${styledXml(t)}</title>""")
    sb ++= "</titleStmt>"
    sb ++= "<sourceDesc><biblStruct><analytic>"
    authorXmls.foreach(sb ++= _)
    dummyAuthor.foreach(sb ++= _)
    sb ++= "</analytic></biblStruct></sourceDesc>"
    sb ++= "</fileDesc>"
    abstractNode.filter(_.text.nonEmpty).foreach { t =>
      sb ++= "<profileDesc><abstract>" +
        s"<p${coordsAttr(t)}>${styledXml(t)}</p></abstract></profileDesc>"
    }
    // tei_document.py:92-99: front content not folded into title /
    // abstract / author / affiliation renders as a teiHeader-level
    // note whose type is the model's raw tag (e.g. a SECOND <title>
    // span → <note type="&lt;title&gt;">, get_tei_note_for_
    // semantic_content keeps the tag verbatim); fulltext-fold and
    // unmatched-graphics notes belong to body/back, not here
    ordered.filter(n => n.parent_id < 0 && n.node_type.startsWith("note[") &&
        !n.node_type.startsWith("note[fulltext:") &&
        n.node_type != "note[unmatched_graphics]").foreach { n =>
      val t = n.node_type.stripPrefix("note[").stripSuffix("]")
      sb ++= s"""<note type="${esc(t)}"${coordsAttr(n)}>${styledXml(n)}</note>"""
    }
    sb ++= "</teiHeader>"
    val rootSections = ordered.filter(n => n.parent_id < 0 && n.node_type == "section")
    def sectionType(s: SemanticNode): String = Option(s.content_id).getOrElse("")
    val bodySections = rootSections.filter(s =>
      sectionType(s) != "acknowledgement" && sectionType(s) != "annex")
    sb ++= "<text>"
    val bodySb = sb
    val bodyAt = sb.length
    bodySb ++= "<body>"
    // body children in document order: section divs and body-level
    // notes interleaved (tei_document.py:114-123 — a root fulltext
    // note is body_section content, get_body().add_note)
    ordered.filter(_.parent_id < 0).foreach { n =>
      if (n.node_type == "section" && sectionType(n) != "acknowledgement" &&
          sectionType(n) != "annex")
        sectionDiv(bodySb, n, None)
      else if (n.node_type.startsWith("note[fulltext:")) {
        val t = n.node_type.stripPrefix("note[fulltext:").stripSuffix("]")
        bodySb ++= s"""<note type="${esc(t)}"${coordsAttr(n)}>${styledXml(n)}</note>"""
      }
    }
    // body figures/tables render AFTER the section divs, directly under
    // <body> (tei_document.py:124-129)
    bodySections.flatMap(figuresOf).foreach(figureXml(bodySb, _))
    if (sb.length == bodyAt + "<body>".length) { sb.setLength(bodyAt); sb ++= "<body/>" }
    else sb ++= "</body>"
    val backSb = sb
    val backAt = sb.length
    backSb ++= "<back>"
    rootSections.filter(sectionType(_) == "acknowledgement")
      .foreach(sectionDiv(backSb, _, Some("acknowledgement")))
    val annexSections = rootSections.filter(sectionType(_) == "annex")
    // back figures/tables render inside the annex container, after its
    // divs — collected from the WHOLE back section in document order,
    // acknowledgement sections included (tei_document.py:157-162
    // iterates back_section recursively and appends to the back ANNEX
    // element, so an acknowledgement figure lands in the annex too)
    val backSections = rootSections.filter(s =>
      sectionType(s) == "acknowledgement" || sectionType(s) == "annex")
    val annexAt = backSb.length
    backSb ++= """<div type="annex">"""
    val annexContentAt = backSb.length
    annexSections.foreach(sectionDiv(backSb, _, None))
    backSections.flatMap(figuresOf).foreach(figureXml(backSb, _))
    if (backSb.length == annexContentAt) backSb.setLength(annexAt)
    else backSb ++= "</div>"

    // references back matter (document/tei/references.py: <div
    // type="references"><listBibl> of biblStructs): parsed references
    // preferred; raw references with no parsed sibling (same content
    // id) fall back to a raw <bibl>
    val refRoots = ordered.filter(n => n.parent_id < 0 &&
      (n.node_type == "reference" || n.node_type == "raw_reference" ||
        n.node_type == "invalid_reference"))
    if (refRoots.nonEmpty) {
      // a parsed (or demoted-invalid) reference REPLACES its raw
      // reference IN PLACE in the list (processor.py:612-623 swaps the
      // parse result at the raw reference's position), so rendering
      // follows the raw references' segmenter order and parsed roots
      // render at their raw sibling's slot, not appended at the end
      val replacementById = refRoots
        .filter(n => n.node_type != "raw_reference")
        .flatMap(n => Option(n.content_id).map(_ -> n)).toMap
      val rawIds = refRoots.collect {
        case o if o.node_type == "raw_reference" => o.content_id
      }.filter(_ != null).toSet
      def renderInvalid(r: SemanticNode): Unit = {
        // demoted references render as a note of their remaining
        // content (extract.py:172-179 + the generic note factory)
        val text = kids(r.node_id).map(_.text).filter(_ != null)
          .filter(_.nonEmpty).mkString(" ")
        backSb ++= s"""<note type="invalid_reference">${esc(text)}</note>"""
      }
      def renderParsed(r: SemanticNode): Unit = r.node_type match {
        case "reference" => biblStructXml(backSb, r, kids(r.node_id), kids)
        case _ => renderInvalid(r)
      }
      backSb ++= """<div type="references">"""
      ordered.find(n => n.parent_id < 0 && n.node_type == "heading")
        .foreach(h => backSb ++= s"<head>${esc(h.text)}</head>")
      backSb ++= "<listBibl>"
      refRoots.foreach { r =>
        r.node_type match {
          case "raw_reference" =>
            Option(r.content_id).flatMap(replacementById.get) match {
              case Some(parsed) => renderParsed(parsed)
              case None =>
                // an unparsed raw reference is ALSO a <biblStruct>
                // (references.py:31-49): label and raw text as typed notes
                val idAttr = Option(r.content_id)
                  .map(i => s""" xml:id="${esc(i)}"""").getOrElse("")
                backSb ++= s"<biblStruct$idAttr${coordsAttr(r)}>"
                kids(r.node_id).foreach { c =>
                  c.node_type match {
                    case "label" =>
                      backSb ++= s"""<note type="label">${styledXml(c)}</note>"""
                    case "raw_reference_text" =>
                      backSb ++= s"""<note type="raw_reference">${styledXml(c)}</note>"""
                    case _ => ()
                  }
                }
                backSb ++= "</biblStruct>"
            }
          case _ =>
            // roots with no raw sibling in this node set (direct fold
            // output) render at their own position; roots that replaced
            // a raw reference already rendered at its slot
            if (!Option(r.content_id).exists(rawIds)) renderParsed(r)
        }
      }
      backSb ++= "</listBibl></div>"
    }

    // unmatched graphics note (processor.py:343,367-369: graphics no
    // figure claimed land in back as <note type="unmatched_graphics">)
    ordered.filter(n => n.parent_id < 0 &&
        n.node_type == "note[unmatched_graphics]").foreach { n =>
      backSb ++= """<note type="unmatched_graphics">"""
      kids(n.node_id).filter(_.node_type == "graphic")
        .foreach(g => backSb ++= graphicXml(g))
      backSb ++= "</note>"
    }

    if (sb.length == backAt + "<back>".length) { sb.setLength(backAt); sb ++= "<back/>" }
    else sb ++= "</back>"
    sb ++= "</text></TEI>"
    sb.toString
  }

  /** Semantic-node DataFrame → (doc_id, tei) strings. */
  def serialize(nodes: DataFrame): DataFrame = {
    val sparkSession = nodes.sparkSession
    import sparkSession.implicits._
    graft.pipeline.Processor.withCoordsColumn(nodes)
      .select("doc_id", "node_id", "parent_id", "node_type", "text",
        "content_id", "coords", "styles")
      .as[SemanticNode]
      .groupByKey(_.doc_id)
      .mapGroups { (docId, it) => (docId, buildTei(it.toSeq)) }
      .toDF("doc_id", "tei")
  }
}
