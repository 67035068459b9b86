package graft.pipeline

import java.util.regex.Pattern

import scala.collection.immutable.ArraySeq

/** The rule labelers and BIO span grouping for ONE document — the
  * reference processes one document at a time in plain Python
  * (`processors/fulltext/processor.py:180-274`). The only
  * implementation of each rule: the single-pass
  * [[Processor.documentPipeline]] fold and the service call these
  * directly, and the DataFrame labelers run them per document through
  * [[PerDocumentLabeler]]. LabelerParitySpec pins each rule to golden
  * labels, and [[BioSpans.spans]] ≡ [[spansLocal]].
  */
private[graft] object LocalLabelers {

  private val DocOrder: java.util.Comparator[TokenRow] = (a, b) => {
    var c = Integer.compare(a.page_idx, b.page_idx)
    if (c == 0) c = Integer.compare(a.block_idx, b.block_idx)
    if (c == 0) c = Integer.compare(a.line_idx, b.line_idx)
    if (c == 0) c = Integer.compare(a.token_idx, b.token_idx)
    c
  }

  /** Document order — `(page_idx, block_idx, line_idx, token_idx)`.
    * A stable sort, so tokens with equal keys keep their input order. */
  def ordered(tokens: Seq[TokenRow]): IndexedSeq[TokenRow] = {
    val arr = new Array[TokenRow](tokens.length)
    tokens.copyToArray(arr)
    java.util.Arrays.sort(arr, DocOrder)
    ArraySeq.unsafeWrapArray(arr)
  }

  /** A tag's two BIO labels, built once instead of per token. */
  private final class Bio(tag: String) {
    val b: String = "B-" + tag
    val i: String = "I-" + tag
    def apply(first: Boolean): String = if (first) b else i
  }
  private val Header = new Bio("<header>")
  private val Body = new Bio("<body>")
  private val Acknowledgement = new Bio("<acknowledgement>")
  private val Annex = new Bio("<annex>")
  private val References = new Bio("<references>")
  private val Title = new Bio("<title>")
  private val Author = new Bio("<author>")
  private val Figure = new Bio("<figure>")
  private val Table = new Bio("<table>")
  private val FigureMarker = new Bio("<figure_marker>")
  private val TableMarker = new Bio("<table_marker>")
  private val CitationMarker = new Bio("<citation_marker>")
  private val Section = new Bio("<section>")
  private val Paragraph = new Bio("<paragraph>")
  private val Label = new Bio("<label>")
  private val Reference = new Bio("<reference>")

  /** The labels above mapped to their tags, so stripping one of them
    * is a lookup, not a substring. */
  private val TagOf: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]
    Seq(Header, Body, Acknowledgement, Annex, References, Title, Author,
      Figure, Table, FigureMarker, TableMarker, CitationMarker, Section,
      Paragraph, Label, Reference).foreach { t =>
      m.put(t.b, t.b.substring(2)); m.put(t.i, t.i.substring(2))
    }
    m
  }

  /** strip_tag_prefix (utils/labels.py:4-8; BioSpans.strippedTag). */
  def stripTag(label: String): String = {
    val known = TagOf.get(label)
    if (known != null) known
    else if (label.startsWith("B-") || label.startsWith("I-")) label.substring(2)
    else label
  }

  // Java find() over the (anchored) pattern, null → false
  private def re(p: Pattern, s: String): Boolean =
    s != null && p.matcher(s).find()

  private val AckRe = Pattern.compile("(?i)^acknowledge?ments?$")
  private val AnnexRe = Pattern.compile("(?i)^(appendix|annex)$")
  private val RefsRe = Pattern.compile("(?i)^(references?|bibliography)$")

  // The per-token patterns as char scans with the regexes' find()
  // semantics (null → false; TextKernelSpec keeps the regexes as their
  // oracle): they run on every token of every line, where a Matcher
  // per call cost a tenth of the fold.

  /** Java's `$` without MULTILINE at index i: the end of `s`, or
    * before one final line terminator (\n, \r\n, \r, U+0085,
    * U+2028, U+2029). */
  private def endsAt(s: String, i: Int): Boolean = {
    val n = s.length
    if (i == n) true
    else if (i == n - 1) {
      val c = s.charAt(i)
      (c == '\n' && (i == 0 || s.charAt(i - 1) != '\r')) || c == '\r' ||
        c == '\u0085' || c == '\u2028' || c == '\u2029'
    } else i == n - 2 && s.charAt(i) == '\r' && s.charAt(i + 1) == '\n'
  }

  private def leadingDigits(s: String): Int = {
    var i = 0
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    i
  }

  /** `^[0-9]+$` */
  private[graft] def bareNum(s: String): Boolean =
    s != null && { val k = leadingDigits(s); k > 0 && endsAt(s, k) }

  /** `^[0-9]+[.,:)]?$` */
  private[graft] def numPunct(s: String): Boolean =
    s != null && {
      val k = leadingDigits(s)
      k > 0 && (endsAt(s, k) ||
        (k < s.length && ".,:)".indexOf(s.charAt(k)) >= 0 && endsAt(s, k + 1)))
    }

  /** `^(Figure|Fig\.?)$` */
  private[graft] def figWord(s: String): Boolean =
    s != null && s.startsWith("Fig") && (endsAt(s, 3) ||
      (s.startsWith("Fig.") && endsAt(s, 4)) ||
      (s.startsWith("Figure") && endsAt(s, 6)))

  /** `^[0-9]+$|^[.)\]\[]$` */
  private[graft] def markerish(s: String): Boolean =
    bareNum(s) ||
      (s != null && s.nonEmpty && ".)][".indexOf(s.charAt(0)) >= 0 && endsAt(s, 1))

  /** The title-block anchor both font-driven labelers share: the
    * smallest block index on page 0 whose max font size equals the
    * document max (None when no token has a font size). The max is
    * `Double.compare`'s, as `Seq.max` takes it. */
  private def titleBlockOf(toks: IndexedSeq[TokenRow]): Option[Int] = {
    var hasSize = false
    var maxFs = 0.0
    toks.foreach { t =>
      if (t.font != null && t.font.font_size.isDefined) {
        val fs = t.font.font_size.get
        if (!hasSize || java.lang.Double.compare(maxFs, fs) < 0) maxFs = fs
        hasSize = true
      }
    }
    if (!hasSize) return None
    // block max == doc max iff SOME token in the block carries the max
    var found = false
    var block = 0
    toks.foreach { t =>
      if (t.page_idx == 0 && t.font != null && t.font.font_size.isDefined &&
          t.font.font_size.get == maxFs && (!found || t.block_idx < block)) {
        block = t.block_idx
        found = true
      }
    }
    if (found) Some(block) else None
  }

  /** The segmentation tags, in the order of [[segmentationViews]]. */
  val SegmentationTags: IndexedSeq[String] = IndexedSeq("<header>", "<body>",
    "<acknowledgement>", "<annex>", "<references>")
  private val SegmentationBio = Array(Header, Body, Acknowledgement, Annex, References)

  /** The end of the block run of document-ordered `toks` that starts
    * at `start`: the tokens of one (page, block). */
  private def blockEnd(toks: IndexedSeq[TokenRow], start: Int): Int = {
    val t0 = toks(start)
    var i = start + 1
    while (i < toks.length && {
        val t = toks(i)
        t.block_idx == t0.block_idx && t.page_idx == t0.page_idx
      }) i += 1
    i
  }

  /** Segmentation-stage rule for the block `toks[start, end)`, as an
    * index into [[SegmentationTags]]: the title block and its successor
    * on page 0 → `<header>`; a block whose first token opens an
    * acknowledgement, appendix/annex or references heading →
    * `<acknowledgement>`/`<annex>`/`<references>`; the rest → `<body>`
    * — the views `processor.py:205-225` consumes, as a deterministic
    * stand-in. Decided once per block; the heading is the text of the
    * block's last token at line 0, token 0. */
  private def segmentationView(toks: IndexedSeq[TokenRow], start: Int, end: Int,
      titleBlock: Option[Int]): Int = {
    val t0 = toks(start)
    if (t0.page_idx == 0 && titleBlock.exists(tb => t0.block_idx <= tb + 1)) 0
    else {
      var heading: TokenRow = null
      var i = start
      while (i < end) {
        val t = toks(i)
        if (t.line_idx == 0 && t.token_idx == 0) heading = t
        i += 1
      }
      if (heading == null) 1
      else if (re(AckRe, heading.text)) 2
      else if (re(AnnexRe, heading.text)) 3
      else if (re(RefsRe, heading.text)) 4
      else 1
    }
  }

  /** Segmentation labels of document-ordered `toks` ([[ordered]]): each
    * token B-/I- of its block's [[segmentationView]]. The rule of
    * `SegmentationRuleLabeler`; the fold takes [[segmentationViews]]. */
  def segmentationLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val titleBlock = titleBlockOf(toks)
    val out = new Array[(TokenRow, String)](toks.length)
    var start = 0
    while (start < toks.length) {
      val end = blockEnd(toks, start)
      val bio = SegmentationBio(segmentationView(toks, start, end, titleBlock))
      var i = start
      while (i < end) {
        val t = toks(i)
        out(i) = (t, bio(t.line_idx == 0 && t.token_idx == 0))
        i += 1
      }
      start = end
    }
    ArraySeq.unsafeWrapArray(out)
  }

  /** The tokens of each segmentation view, in [[SegmentationTags]]
    * order, from document-ordered `toks`: each block goes whole to its
    * [[segmentationView]] — what splitting [[segmentationLabels]] by
    * tag gives, with no label per token. */
  def segmentationViews(toks: IndexedSeq[TokenRow]): IndexedSeq[IndexedSeq[TokenRow]] = {
    val titleBlock = titleBlockOf(toks)
    // each token's view, then each view's tokens copied into its array
    val viewOf = new Array[Byte](toks.length)
    val sizes = new Array[Int](SegmentationBio.length)
    var start = 0
    while (start < toks.length) {
      val end = blockEnd(toks, start)
      val view = segmentationView(toks, start, end, titleBlock)
      java.util.Arrays.fill(viewOf, start, end, view.toByte)
      sizes(view) += end - start
      start = end
    }
    val views = sizes.map(n => new Array[TokenRow](n))
    java.util.Arrays.fill(sizes, 0)
    var i = 0
    while (i < toks.length) {
      val v = viewOf(i)
      views(v)(sizes(v)) = toks(i)
      sizes(v) += 1
      i += 1
    }
    ArraySeq.unsafeWrapArray(views.map(ArraySeq.unsafeWrapArray(_)))
  }

  /** Header-stage layout rules: title block → `<title>`, its
    * successor → `<author>`, the rest O — over the view's tokens. */
  def headerRuleLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val titleBlock = titleBlockOf(toks)
    toks.map { t =>
      val isFirst = t.line_idx == 0 && t.token_idx == 0
      val label = titleBlock match {
        case Some(tb) if t.page_idx == 0 && t.block_idx == tb => Title(isFirst)
        case Some(tb) if t.page_idx == 0 && t.block_idx == tb + 1 => Author(isFirst)
        case _ => "O"
      }
      (t, label)
    }
  }

  /** Calls `f(start, end)` for each consecutive same-line run
    * `toks[start, end)` of a document-ordered token seq. */
  private def foreachLine(toks: IndexedSeq[TokenRow])(f: (Int, Int) => Unit): Unit = {
    var i = 0
    while (i < toks.length) {
      val start = i
      val t0 = toks(i)
      i += 1
      while (i < toks.length && {
          val t = toks(i)
          t.line_idx == t0.line_idx && t.block_idx == t0.block_idx &&
            t.page_idx == t0.page_idx
        }) i += 1
      f(start, i)
    }
  }

  /** The text of the first token of `toks[start, end)` with token index
    * `idx`, or null. */
  private def textAt(toks: IndexedSeq[TokenRow], start: Int, end: Int,
      idx: Int): String = {
    var i = start
    while (i < end && toks(i).token_idx != idx) i += 1
    if (i < end) toks(i).text else null
  }

  /** Body-stage rules (fulltext-model stand-in,
    * `models/fulltext/extract.py` labels): `Figure <n>`/`Table <n>`
    * caption lines → `<figure>`/`<table>`; `Figure|Fig.|Table` + number
    * mid-line → `<figure_marker>`/`<table_marker>`; `[ n ]` →
    * `<citation_marker>`; a block's first line → `<section>`, every
    * other line one `<paragraph>` span. */
  def bodyRuleLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val out = new Array[(TokenRow, String)](toks.length)
    foreachLine(toks) { (start, end) =>
      val first = textAt(toks, start, end, 0)
      val second = textAt(toks, start, end, 1)
      val caption =
        if (first == "Figure" && numPunct(second)) Figure
        else if (first == "Table" && numPunct(second)) Table
        else null
      var i = start
      while (i < end) {
        val t = toks(i)
        val idx = t.token_idx
        val text = t.text
        val next = if (i + 1 < end) toks(i + 1).text else null
        val next2 = if (i + 2 < end) toks(i + 2).text else null
        val prev = if (i > start) toks(i - 1).text else null
        val prev2 = if (i > start + 1) toks(i - 2).text else null
        val label =
          if (caption != null) caption(idx == 0)
          else if (idx > 0 && figWord(text) && numPunct(next)) FigureMarker.b
          else if (idx > 0 && text == "Table" && numPunct(next)) TableMarker.b
          else if (idx > 1 && numPunct(text) && figWord(prev)) FigureMarker.i
          else if (idx > 1 && numPunct(text) && prev == "Table") TableMarker.i
          else if (text == "[" && bareNum(next) && next2 == "]") CitationMarker.b
          else if ((prev == "[" && bareNum(text) && next == "]") ||
              (text == "]" && bareNum(prev) && prev2 == "["))
            CitationMarker.i
          else if (t.line_idx == 0) Section(idx == 0)
          else Paragraph(idx == 0)
        out(i) = (t, label)
        i += 1
      }
    }
    ArraySeq.unsafeWrapArray(out)
  }

  /** Reference-segmenter-stage rules: a line's leading numeric marker
    * run (`1.`, `[1]`, `2)`) → `<label>`, the rest of the line (or a
    * line with no marker) → one `<reference>` span. */
  def referenceSegmenterLabels(
      toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val out = new Array[(TokenRow, String)](toks.length)
    foreachLine(toks) { (start, end) =>
      val first = textAt(toks, start, end, 0)
      val second = textAt(toks, start, end, 1)
      val hasLabel = bareNum(first) ||
        (first == "[" && bareNum(second))
      // min token_idx whose text is non-null and not marker-shaped
      var hasNonMarker = false
      var firstNonMarker = 0
      var i = start
      while (i < end) {
        val t = toks(i)
        if (t.text != null && !markerish(t.text) &&
            (!hasNonMarker || t.token_idx < firstNonMarker)) {
          hasNonMarker = true
          firstNonMarker = t.token_idx
        }
        i += 1
      }
      i = start
      while (i < end) {
        val t = toks(i)
        val idx = t.token_idx
        val label =
          if (hasLabel && (!hasNonMarker || idx < firstNonMarker)) Label(idx == 0)
          else if (hasLabel) Reference(idx == firstNonMarker)
          else Reference(idx == 0)
        out(i) = (t, label)
        i += 1
      }
    }
    ArraySeq.unsafeWrapArray(out)
  }

  /** [[BioSpans.spans]] per document: collapse to ordered spans with
    * `text + whitespace` reassembly, trailing whitespace trimmed
    * (UTF8String.trimRight semantics — chars <= 0x20). Each labeled row
    * goes straight into one reused [[SpanAssembly]]. */
  def spansLocal(labeled: IndexedSeq[(TokenRow, String)]): IndexedSeq[Extractors.Span] = {
    val out = Vector.newBuilder[Extractors.Span]
    val asm = new SpanAssembly
    var spanId = 0L
    var curTag: String = null
    var open = false
    // a run of tokens shares one label string: strip it once per run
    var lastLabel: String = null
    var lastTag: String = null
    var i = 0
    while (i < labeled.length) {
      val (t, label) = labeled(i)
      if (label == null || (label ne lastLabel)) {
        lastTag = stripTag(label)
        lastLabel = label
      }
      val tag = lastTag
      if (!open || label.startsWith("B-") || tag != curTag) {
        if (open) {
          asm.finish()
          out += Extractors.Span(spanId, curTag, asm.text, asm.coords, asm.styles)
        }
        spanId += 1
        curTag = tag
        asm.start()
        open = true
      }
      asm.add(t.text, t.whitespace, SpanAssembly.styleMask(t.font))
      if (t.coords.isDefined) {
        val c = t.coords.get
        asm.box(c.x, c.y, c.width, c.height, c.page_number)
      }
      i += 1
    }
    if (open) {
      asm.finish()
      out += Extractors.Span(spanId, curTag, asm.text, asm.coords, asm.styles)
    }
    out.result()
  }
}
