package graft.pipeline

import java.util.regex.Pattern

import scala.collection.mutable.ListBuffer

import graft.pipeline.Extractors.Span

/** Per-model semantic extractors E2-E6 (SURVEY.md §2.A): order-sensitive
  * folds over a document's (or sub-item's) BIO span stream, ported from
  * the reference's extractor state machines with text-level semantics.
  * All pure functions — the Spark wrappers group spans per document and
  * apply the fold (`Extractors.headerSemantics` pattern).
  *
  * Node trees are emitted as flattened [[SemanticNode]] adjacency rows;
  * `node_id` preserves emission order, `parent_id = -1` for roots.
  */
object ModelExtractors {

  private final class Emitter(docId: Long) {
    val out = ListBuffer.empty[SemanticNode]
    private var nextId = 0L
    def emit(tpe: String, text: String, parent: Long = -1L,
        contentId: String = null, coords: String = null,
        styles: String = null): Long = {
      val id = nextId; nextId += 1
      out += SemanticNode(docId, id, parent, tpe, text, contentId, coords,
        styles)
      id
    }
  }

  // ------------------------------------------------------ E3: citation

  /** DOI/PMID/PMCID/arXiv/PII patterns
    * (models/citation/extract.py:36-56, grobid-derived). */
  private val DoiP = Pattern.compile("\\b(10\\.\\d{4,}(?:\\.\\d{1,})*/.+)")
  private val PmidP = Pattern.compile(
    "(?:(?:PMID)|(?:Pub(?:\\s)?Med(?:\\s)?(?:ID)?))(?:\\s)?(?:\\:)?(?:\\s)*(\\d{1,8})")
  private val PmcidP = Pattern.compile("(?:PMC)(\\d{1,})")
  private val ArxivP = Pattern.compile(
    "(?:arXiv\\s?(?:\\.org)?\\s?\\:\\s?(\\d{4}\\s?\\.\\s?\\d{4,5}(?:v\\d+)?))" +
      "|(?:arXiv\\s?(?:\\.org)?\\s?\\:\\s?([ a-zA-Z\\-\\.]*\\s?/\\s?\\d{7}(?:v\\d+)?))")
  private val PiiP = Pattern.compile("\\b([S,B]\\W*(?:[0-9xX]\\W*){15,}[0-9xX])")

  /** parse_page_range (extract.py:77-91): "'123-7'" → from=123, to=127
    * (short to-page inherits the from-page prefix). */
  def parsePageRange(text: String): (Option[String], Option[String]) = {
    val parts = text.split("-", -1)
    if (parts.length == 2) {
      val from = parts(0).trim
      var to = parts(1).trim
      if (to.nonEmpty && to.length < from.length)
        to = from.dropRight(to.length) + to
      (Some(from), Some(to))
    } else (None, None)
  }

  /** get_detected_external_identifier_type_and_value_for_text
    * (extract.py:109-140): whitespace stripped, then DOI → PMCID →
    * arXiv → PMID (anchored) → PII. */
  def detectExternalId(text: String): (Option[String], String) = {
    val value = TextNormalization.withoutRegexSpace(text)
    val doi = DoiP.matcher(value)
    if (doi.find()) return (Some("doi"), doi.group(1))
    val pmcid = PmcidP.matcher(value)
    if (pmcid.find()) return (Some("pmcid"), "PMC" + pmcid.group(1))
    val arxiv = ArxivP.matcher(value)
    if (arxiv.find())
      return (Some("arxiv"), Option(arxiv.group(1)).getOrElse(arxiv.group(2)))
    val pmid = PmidP.matcher(value)
    if (pmid.lookingAt()) return (Some("pmid"), pmid.group(1))
    val pii = PiiP.matcher(value)
    if (pii.find()) return (Some("pii"), pii.group(1))
    (None, value)
  }

  private val YearP = Pattern.compile("(\\d{4})")

  /** parse_date (extract.py:153-162): first 4-digit run → year. */
  def parseYear(text: String): Option[Int] = {
    val m = YearP.matcher(TextNormalization.withoutRegexSpace(text))
    if (m.find()) Some(m.group(1).toInt) else None
  }

  private val CitationTagTypes = Map(
    "<author>" -> "raw_authors", "<editor>" -> "raw_editors",
    "<title>" -> "title", "<journal>" -> "journal", "<volume>" -> "volume",
    "<issue>" -> "issue", "<publisher>" -> "publisher", "<location>" -> "location")

  private val ValidReferenceTypes = Set(
    "title", "journal", "raw_authors", "raw_editors", "external_id", "external_url")

  /** E3 citation fold (extract.py:182-227): one SemanticReference per
    * span stream; typed field parsing per tag; references with no
    * valid field are demoted to invalid_reference (raw text dropped).
    */
  def citationFold(docId: Long, spans: Seq[Span], contentId: String): Seq[SemanticNode] = {
    if (spans.isEmpty) return Nil
    val e = new Emitter(docId)
    val fields = ListBuffer.empty[(String, String, String, String)] // (type, text, content_id, coords)
    spans.sortBy(_.span_id).foreach { s =>
      s.tag match {
        case "<pages>" =>
          val (from, to) = parsePageRange(s.text)
          fields += (("page_range",
            (from, to) match {
              case (Some(f), Some(t)) => s"$f-$t"
              case _ => s.text
            }, null, s.coords))
        case "<web>" =>
          val value = TextNormalization.withoutRegexSpace(s.text)
          val doi = DoiP.matcher(value)
          if (doi.find()) fields += (("external_id", doi.group(1), "doi", s.coords))
          else fields += (("external_url", value, null, s.coords))
        case "<pubnum>" =>
          val (idType, value) = detectExternalId(s.text)
          fields += (("external_id", value, idType.orNull, s.coords))
        case "<date>" =>
          // tei/references.py:94-106: the element keeps the raw block
          // text; the parsed year rides separately as the when= value
          fields += (("date", s.text,
            parseYear(s.text).map(_.toString).orNull, s.coords))
        case tag if CitationTagTypes.contains(tag) =>
          fields += ((CitationTagTypes(tag), s.text, null, s.coords))
        case tag =>
          fields += ((s"note[$tag]", s.text, null, s.coords))
      }
    }
    val valid = fields.exists { case (t, _, _, _) => ValidReferenceTypes(t) }
    if (valid) {
      val ref = e.emit("reference", "", contentId = contentId)
      fields.foreach { case (t, txt, cid, cs) => e.emit(t, txt, ref, cid, cs) }
    } else {
      // the invalid reference keeps the raw reference's content id so
      // it REPLACES the raw reference in the list (processor.py:612-623
      // swaps the parsed-or-invalid result in place)
      val inv = e.emit("invalid_reference", "", contentId = contentId)
      fields.foreach { case (t, txt, cid, cs) =>
        if (t != "raw_reference_text") e.emit(t, txt, inv, cid, cs)
      }
    }
    // <biblStruct> coords cover the whole reference
    // (tei/references.py:46,59 get_default_attributes)
    Extractors.mergeParentCoords(e.out.toList,
      Set("reference", "invalid_reference"))
  }

  // ------------------------------------------ E6: reference segmenter

  /** is_looks_like_reference (reference_segmenter/extract.py:20-22). */
  def looksLikeReference(text: String): Boolean = {
    // the words of text.trim.split("\\s+"), counted up to four
    var end = text.length
    while (end > 0 && text.charAt(end - 1) <= ' ') end -= 1
    var i = 0
    while (i < end && text.charAt(i) <= ' ') i += 1
    var words = 0
    while (i < end && words <= 3) {
      while (i < end && TextNormalization.isRegexSpace(text.charAt(i))) i += 1
      if (i < end) words += 1
      while (i < end && !TextNormalization.isRegexSpace(text.charAt(i))) i += 1
    }
    words > 3
  }

  /** E6 fold (reference_segmenter/extract.py:25-56): `<label>` opens a
    * raw reference, `<reference>` completes and yields it; a first
    * short `<reference>` with no label is the section heading; other
    * tags → notes.
    */
  def referenceSegmenterFold(docId: Long, spans: Seq[Span]): Seq[SemanticNode] = {
    val e = new Emitter(docId)
    var refParent = -1L
    var refCount = 0
    var isFirstRef = true
    spans.sortBy(_.span_id).foreach { s =>
      s.tag match {
        case "<label>" =>
          if (refParent < 0) {
            refParent = e.emit("raw_reference", "", contentId = s"b$refCount")
            refCount += 1
          }
          e.emit("label", s.text, refParent, coords = s.coords,
            styles = s.styles)
        case "<reference>" =>
          if (refParent < 0 && isFirstRef && !looksLikeReference(s.text)) {
            e.emit("heading", s.text, coords = s.coords, styles = s.styles)
            isFirstRef = false
          } else {
            if (refParent < 0) {
              refParent = e.emit("raw_reference", "", contentId = s"b$refCount")
              refCount += 1
            }
            e.emit("raw_reference_text", s.text, refParent,
              coords = s.coords, styles = s.styles)
            refParent = -1L
            isFirstRef = false
          }
        case tag => e.emit(s"note[$tag]", s.text, coords = s.coords,
          styles = s.styles)
      }
    }
    // a raw <biblStruct>'s coords cover label + reference text
    // (tei/references.py:46)
    Extractors.mergeParentCoords(e.out.toList, Set("raw_reference"))
  }

  // ------------------------------------------------------- E4: names

  /** Python str.title() semantics: letters following non-letters are
    * uppercased, the rest lowercased (Person.java-derived title-casing,
    * models/name/extract.py:76-81). */
  def titleCase(s: String): String = {
    val sb = new StringBuilder(s.length)
    var prevLetter = false
    s.foreach { c =>
      val isLetter = Character.isLetter(c)
      sb.append(
        if (isLetter && !prevLetter) Character.toUpperCase(c)
        else if (isLetter) Character.toLowerCase(c)
        else c)
      prevLetter = isLetter
    }
    sb.toString
  }

  private val NamePartTags = Map(
    "<title>" -> "name_title", "<forename>" -> "given_name",
    "<middlename>" -> "middle_name", "<surname>" -> "surname",
    "<suffix>" -> "name_suffix")
  private val SplitOnSecond = Set("<title>", "<forename>", "<surname>")
  private val TitleCasedParts = Set("given_name", "middle_name", "surname")

  private final case class NameAcc(
      parts: ListBuffer[(String, String)] = ListBuffer.empty, // (type, text)
      var seenLabels: List[String] = Nil,
      var hasTailMarker: Boolean = false)

  /** normalize_name_parts (extract.py:88-97): surname required (else
    * invalid_author_name note); a single 2-letter all-caps given name
    * splits into given+middle initials; name parts title-cased. */
  private def normalizedName(acc: NameAcc): Seq[(String, String)] = {
    if (!acc.parts.exists(_._1 == "surname")) {
      val text = acc.parts.map(_._2).mkString(" ")
      return Seq(("note[invalid_author_name]", text))
    }
    var parts = acc.parts.toList
    val givens = parts.filter(_._1 == "given_name")
    val middles = parts.filter(_._1 == "middle_name")
    if (middles.isEmpty && givens.size == 1 && givens.head._2.length == 2 &&
        givens.head._2.forall(_.isUpper)) {
      val Seq(g, m) = givens.head._2.map(_.toString)
      parts = parts.flatMap {
        case ("given_name", _) => List(("given_name", g), ("middle_name", m))
        case other => List(other)
      }
    }
    parts.map {
      case (t, txt) if TitleCasedParts(t) => (t, titleCase(txt))
      case other => other
    }
  }

  private val NonDigitP = Pattern.compile("(\\D)")

  /** iter_semantic_markers_for_layout_block (extract.py:99-115):
    * split on every non-digit char; ',' and whitespace are
    * marker_delimiter notes, everything else a marker. */
  def markerPieces(text: String): Seq[(String, String)] = {
    val out = ListBuffer.empty[(String, String)]
    val m = NonDigitP.matcher(text)
    var last = 0
    def piece(p: String): Unit = {
      if (p.nonEmpty) {
        if (p == "," || p.forall(_.isWhitespace)) out += (("note[marker_delimiter]", p))
        else out += (("marker", p))
      }
    }
    while (m.find()) {
      piece(text.substring(last, m.start))
      piece(m.group(1))
      last = m.end
    }
    piece(text.substring(last))
    out.toList
  }

  /** E4 name fold (extract.py:126-193): authors split on repeated
    * title/forename/surname, marker-after-comma, and content-after-
    * tail-marker heuristics.
    */
  def nameFold(docId: Long, spans: Seq[Span], nameType: String = "author"): Seq[SemanticNode] = {
    val e = new Emitter(docId)
    var acc: NameAcc = null
    val ordered = spans.sortBy(_.span_id)
    var prevText: String = null

    def yieldName(): Unit = {
      if (acc != null) {
        val parts = normalizedName(acc)
        if (parts.size == 1 && parts.head._1.startsWith("note[")) {
          e.emit(parts.head._1, parts.head._2)
        } else {
          val p = e.emit(nameType, "")
          parts.foreach { case (t, txt) => e.emit(t, txt, p) }
        }
        acc = null
      }
    }

    ordered.foreach { s =>
      val previousText = prevText
      prevText = s.text
      s.tag match {
        case "<marker>" =>
          if (acc == null) {
            acc = NameAcc()
            acc.parts ++= markerPieces(s.text)
          } else if (acc.seenLabels.nonEmpty && !acc.hasTailMarker &&
              previousText != null && previousText.trim.endsWith(",")) {
            yieldName()
            acc = NameAcc()
            acc.parts ++= markerPieces(s.text)
          } else {
            acc.parts ++= markerPieces(s.text)
            acc.hasTailMarker = true
          }
        case tag =>
          if (acc != null && SplitOnSecond(tag) && acc.seenLabels.contains(tag))
            yieldName()
          val isNamePart = NamePartTags.contains(tag)
          if (isNamePart && acc != null && acc.hasTailMarker)
            yieldName()
          if (acc == null) acc = NameAcc()
          if (isNamePart) {
            acc.seenLabels ::= tag
            acc.parts += ((NamePartTags(tag), s.text))
          } else {
            acc.parts += ((s"note[$tag]", s.text))
          }
      }
    }
    yieldName()
    e.out.toList
  }

  // ------------------------------------------------ E5: affiliations

  private val AffTagTypes = Map(
    "<institution>" -> "institution", "<department>" -> "department",
    "<laboratory>" -> "laboratory", "<addrLine>" -> "addr_line",
    "<postCode>" -> "post_code", "<postBox>" -> "post_box",
    "<region>" -> "region", "<settlement>" -> "settlement",
    "<country>" -> "country")

  private val CountryClean = Pattern.compile("(.*[^.]).*")

  /** get_regex_cleaned_layout_block_with_prefix_suffix for `<country>`
    * (models/extract.py:27-52 + CLEAN_REGEX_BY_TAG): returns
    * (prefix, cleaned, suffix). */
  def cleanCountry(text: String): (String, String, String) = {
    val m = CountryClean.matcher(text)
    if (m.matches()) (text.substring(0, m.start(1)), m.group(1), text.substring(m.end(1)))
    else ("", text, "")
  }

  /** E5 affiliation fold (affiliation_address/extract.py:52-95):
    * `<marker>` starts a new affiliation, a second `<institution>`
    * starts a new one, country text is regex-cleaned with
    * prefix/suffix notes; content before any affiliation that is a
    * note is yielded standalone. */
  def affiliationFold(docId: Long, spans: Seq[Span]): Seq[SemanticNode] = {
    val e = new Emitter(docId)
    var aff = -1L
    var affHasInstitution = false
    var affCount = 0
    def newAff(): Unit = {
      aff = e.emit("affiliation_address", "", contentId = s"aff$affCount")
      affCount += 1
      affHasInstitution = false
    }
    spans.sortBy(_.span_id).foreach { s =>
      s.tag match {
        case "<marker>" =>
          newAff()
          e.emit("marker", s.text, aff, coords = s.coords)
        case tag =>
          val (prefix, cleaned, suffix) =
            if (tag == "<country>") cleanCountry(s.text) else ("", s.text, "")
          val isNote = !AffTagTypes.contains(tag)
          val tpe = AffTagTypes.getOrElse(tag, s"note[$tag]")
          if (aff >= 0 && tpe == "institution" && affHasInstitution)
            aff = -1L // second institution closes the current affiliation
          if (aff < 0 && isNote) {
            // standalone note outside any affiliation
            e.emit(tpe, s.text, coords = s.coords)
          } else {
            if (aff < 0) newAff()
            if (prefix.nonEmpty) e.emit(s"note[${tag}-prefix]", prefix, aff)
            e.emit(tpe, cleaned, aff, coords = s.coords)
            if (suffix.nonEmpty) e.emit(s"note[${tag}-suffix]", suffix, aff)
            if (tpe == "institution") affHasInstitution = true
          }
      }
    }
    // the <affiliation> element's coords cover its whole content
    // (tei/author.py:69-73)
    Extractors.mergeParentCoords(e.out.toList, Set("affiliation_address"))
  }

  // --------------------------------------------------- E2: fulltext

  private val HeaderLabel = Pattern.compile("(\\d+\\.?(?:\\d+\\.?)*)\\s*(\\D.*)",
    Pattern.CASE_INSENSITIVE)

  /** get_section_label_and_title_from_layout_block
    * (fulltext/extract.py:46-66). */
  def sectionLabelAndTitle(text: String): (Option[String], String) = {
    val m = HeaderLabel.matcher(text)
    if (m.lookingAt()) (Some(text.substring(0, m.end(1))), text.substring(m.start(2)))
    else (None, text)
  }

  private val ParagraphMarkerTypes = Map(
    "<figure_marker>" -> "figure_citation",
    "<table_marker>" -> "table_citation",
    "<citation_marker>" -> "reference_citation")

  /** E2 fulltext fold (fulltext/extract.py:112-183): `<section>` spans
    * open sections with label+title headings; `<figure>`/`<table>`
    * become raw figure/table children; consecutive `<paragraph>` spans
    * start new paragraphs; citation markers nest inside paragraphs;
    * equation label/content pair into raw equations; `O` content
    * becomes section notes. */
  def fulltextFold(docId: Long, spans: Seq[Span],
      sectionType: String = "other"): Seq[SemanticNode] = {
    val e = new Emitter(docId)
    var section = -1L
    var paragraph = -1L
    var rawEquation = -1L
    var rawEquationHasContent = false
    var previousTag: String = null
    spans.sortBy(_.span_id).foreach { s =>
      val prev = previousTag
      previousTag = s.tag
      s.tag match {
        case "O" =>
          if (section >= 0)
            e.emit("note[fulltext:other]", s.text, section, coords = s.coords,
              styles = s.styles)
          else e.emit("note[fulltext:other]", s.text, coords = s.coords,
            styles = s.styles)
        case "<section>" =>
          paragraph = -1L; rawEquation = -1L
          section = e.emit("section", "", contentId = sectionType)
          // <head> carries the heading block's coords (tei/section.py:45)
          val heading = e.emit("heading", "", section, coords = s.coords)
          val (label, title) = sectionLabelAndTitle(s.text)
          label.foreach(l => e.emit("label", l, heading,
            styles = StyleRuns.slice(s.styles, 0, l.length)))
          e.emit("title", title, heading, styles = StyleRuns.slice(
            s.styles, s.text.length - title.length, s.text.length))
        case tag =>
          if (section < 0) section = e.emit("section", "", contentId = sectionType)
          tag match {
            case "<figure>" =>
              e.emit("raw_figure", s.text, section, coords = s.coords,
                styles = s.styles)
            case "<table>" =>
              e.emit("raw_table", s.text, section, coords = s.coords,
                styles = s.styles)
            case "<equation>" | "<equation_label>" =>
              if (paragraph < 0) paragraph = e.emit("paragraph", "", section)
              val isContent = tag == "<equation>"
              if (isContent && rawEquation >= 0 && rawEquationHasContent)
                rawEquation = -1L
              if (rawEquation < 0) {
                rawEquation = e.emit("raw_equation", "", paragraph)
                rawEquationHasContent = false
              }
              if (isContent) {
                e.emit("raw_equation_content", s.text, rawEquation,
                  coords = s.coords, styles = s.styles)
                rawEquationHasContent = true
              } else e.emit("label", s.text, rawEquation, coords = s.coords,
                styles = s.styles)
            case _ =>
              if (paragraph < 0 || (tag == "<paragraph>" && prev == "<paragraph>"))
                paragraph = e.emit("paragraph", "", section)
              rawEquation = -1L
              ParagraphMarkerTypes.get(tag) match {
                case Some(t) => e.emit(t, s.text, paragraph, coords = s.coords,
                  styles = s.styles)
                case None if tag == "<paragraph>" =>
                  e.emit("text", s.text, paragraph, coords = s.coords,
                    styles = s.styles)
                case None =>
                  e.emit(s"note[$tag]", s.text, paragraph, coords = s.coords,
                    styles = s.styles)
              }
          }
      }
    }
    // <formula> coords cover the raw equation's content + label
    // (tei/equation.py:36 get_default_attributes)
    Extractors.mergeParentCoords(e.out.toList, Set("raw_equation"))
  }
}
