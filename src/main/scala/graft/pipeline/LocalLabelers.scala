package graft.pipeline

import java.util.regex.Pattern

import scala.collection.mutable.ListBuffer

/** Per-document (driver-free, executor-local) forms of the rule
  * labelers and BIO span grouping — the fold-form the single-pass
  * [[Processor.documentPipeline]] runs inside ONE `groupByKey(doc_id)`.
  *
  * The reference processes one document at a time in plain Python
  * (`processors/fulltext/processor.py:180-274`); the engine's
  * DataFrame labelers ([[SegmentationRuleLabeler]], [[RuleLabeler]],
  * [[BodyRuleLabeler]], [[ReferenceSegmenterRuleLabeler]],
  * [[BioSpans]]) express the same rules as window functions for the
  * standalone labeled-token surface (p02/p03/p14, CRF training data).
  * Running five window-labeled view branches per document cost ~14
  * exchanges in the p04 plan; these local twins compute identical
  * labels inside the per-doc fold, so the whole pipeline costs one
  * shuffle of the token table. LabelerParitySpec pins window ≡ local
  * on every labeler.
  */
private[graft] object LocalLabelers {

  /** Document-order sort — the order every labeler window used
    * (`orderBy(page_idx, block_idx, line_idx, token_idx)`). */
  def ordered(tokens: Seq[TokenRow]): IndexedSeq[TokenRow] =
    tokens.sortBy(t => (t.page_idx, t.block_idx, t.line_idx, t.token_idx))
      .toIndexedSeq

  /** strip_tag_prefix (utils/labels.py:4-8; BioSpans.strippedTag). */
  def stripTag(label: String): String =
    if (label.startsWith("B-") || label.startsWith("I-")) label.substring(2)
    else label

  // rlike semantics: Java find() over the (anchored) pattern, null → false
  private def re(p: Pattern, s: String): Boolean =
    s != null && p.matcher(s).find()

  private val AckRe = Pattern.compile("(?i)^acknowledge?ments?$")
  private val AnnexRe = Pattern.compile("(?i)^(appendix|annex)$")
  private val RefsRe = Pattern.compile("(?i)^(references?|bibliography)$")

  // The per-token patterns as char scans with the window labelers'
  // rlike semantics (Java find(), null → false): they run on every
  // token of every line, where a Matcher per call cost a tenth of the
  // fold.

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

  private def fontSize(t: TokenRow): Option[Double] =
    Option(t.font).flatMap(_.font_size)

  /** The title-block anchor both font-driven labelers share: the
    * smallest block index on page 0 whose max font size equals the
    * document max (None when no token has a font size — the window
    * `===` on nulls is never true). */
  private def titleBlockOf(toks: IndexedSeq[TokenRow]): Option[Int] = {
    val sizes = toks.flatMap(fontSize)
    if (sizes.isEmpty) return None
    val maxFs = sizes.max
    val cands = toks.filter(t => t.page_idx == 0 && fontSize(t).contains(maxFs))
      .map(_.block_idx)
    // block max == doc max iff SOME token in the block carries the max
    if (cands.isEmpty) None else Some(cands.min)
  }

  /** [[SegmentationRuleLabeler]] fold twin: header = title block + its
    * successor on page 0; back-matter tags from a block's first token;
    * everything else body. */
  def segmentationLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val titleBlock = titleBlockOf(toks)
    // the back-matter tag of each block, from its first token — matched
    // once per block, not once per token of the block
    val blockBack: Map[(Int, Int), String] = toks.iterator
      .filter(t => t.line_idx == 0 && t.token_idx == 0)
      .map { t =>
        val back =
          if (re(AckRe, t.text)) "<acknowledgement>"
          else if (re(AnnexRe, t.text)) "<annex>"
          else if (re(RefsRe, t.text)) "<references>"
          else null
        (t.page_idx, t.block_idx) -> back
      }.toMap
    toks.map { t =>
      val isFirst = t.line_idx == 0 && t.token_idx == 0
      val isHeader = t.page_idx == 0 && titleBlock.exists(tb => t.block_idx <= tb + 1)
      val label =
        if (isHeader) { if (isFirst) "B-<header>" else "I-<header>" }
        else {
          val back = blockBack.getOrElse((t.page_idx, t.block_idx), null)
          if (back != null) (if (isFirst) "B-" else "I-") + back
          else if (isFirst) "B-<body>" else "I-<body>"
        }
      (t, label)
    }
  }

  /** [[RuleLabeler]] fold twin (header-stage): title block → title,
    * successor → author, rest O — computed over the view's tokens. */
  def headerRuleLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val titleBlock = titleBlockOf(toks)
    toks.map { t =>
      val isFirst = t.line_idx == 0 && t.token_idx == 0
      val label = titleBlock match {
        case Some(tb) if t.page_idx == 0 && t.block_idx == tb =>
          if (isFirst) "B-<title>" else "I-<title>"
        case Some(tb) if t.page_idx == 0 && t.block_idx == tb + 1 =>
          if (isFirst) "B-<author>" else "I-<author>"
        case _ => "O"
      }
      (t, label)
    }
  }

  /** Consecutive same-line runs of a document-ordered token seq. */
  private def lines(toks: IndexedSeq[TokenRow]): Iterator[IndexedSeq[TokenRow]] =
    new Iterator[IndexedSeq[TokenRow]] {
      private var i = 0
      def hasNext: Boolean = i < toks.length
      def next(): IndexedSeq[TokenRow] = {
        val start = i
        val k = (toks(i).page_idx, toks(i).block_idx, toks(i).line_idx)
        while (i < toks.length &&
          (toks(i).page_idx, toks(i).block_idx, toks(i).line_idx) == k) i += 1
        toks.slice(start, i)
      }
    }

  /** [[BodyRuleLabeler]] fold twin — caption lines, figure/table and
    * bracket citation markers, first-line section headings. */
  def bodyRuleLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val out = new ListBuffer[(TokenRow, String)]
    lines(toks).foreach { line =>
      val n = line.length
      val first = line.find(_.token_idx == 0).map(_.text).orNull
      val second = line.find(_.token_idx == 1).map(_.text).orNull
      val captionTag =
        if (first == "Figure" && numPunct(second)) "<figure>"
        else if (first == "Table" && numPunct(second)) "<table>"
        else null
      var i = 0
      while (i < n) {
        val t = line(i)
        val idx = t.token_idx
        val text = t.text
        val next = if (i + 1 < n) line(i + 1).text else null
        val next2 = if (i + 2 < n) line(i + 2).text else null
        val prev = if (i > 0) line(i - 1).text else null
        val prev2 = if (i > 1) line(i - 2).text else null
        val label =
          if (captionTag != null)
            (if (idx == 0) "B-" else "I-") + captionTag
          else if (idx > 0 && figWord(text) && numPunct(next))
            "B-<figure_marker>"
          else if (idx > 0 && text == "Table" && numPunct(next))
            "B-<table_marker>"
          else if (idx > 1 && numPunct(text) && figWord(prev))
            "I-<figure_marker>"
          else if (idx > 1 && numPunct(text) && prev == "Table")
            "I-<table_marker>"
          else if (text == "[" && bareNum(next) && next2 == "]")
            "B-<citation_marker>"
          else if ((prev == "[" && bareNum(text) && next == "]") ||
              (text == "]" && bareNum(prev) && prev2 == "["))
            "I-<citation_marker>"
          else if (t.line_idx == 0) {
            if (idx == 0) "B-<section>" else "I-<section>"
          } else {
            if (idx == 0) "B-<paragraph>" else "I-<paragraph>"
          }
        out += ((t, label))
        i += 1
      }
    }
    out.toIndexedSeq
  }

  /** [[ReferenceSegmenterRuleLabeler]] fold twin — leading numeric
    * marker run (`1.`, `[1]`, `2)`) → label, rest of line → reference. */
  def referenceSegmenterLabels(
      toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
    val out = new ListBuffer[(TokenRow, String)]
    lines(toks).foreach { line =>
      val first = line.find(_.token_idx == 0).map(_.text).orNull
      val second = line.find(_.token_idx == 1).map(_.text).orNull
      val hasLabel = bareNum(first) ||
        (first == "[" && bareNum(second))
      // min token_idx whose text is non-null and not marker-shaped
      // (window when(!markerish) skips null text the same way)
      val firstNonMarker = line.iterator
        .filter(t => t.text != null && !markerish(t.text))
        .map(_.token_idx).minOption
      line.foreach { t =>
        val idx = t.token_idx
        val label =
          if (hasLabel && firstNonMarker.forall(idx < _)) {
            if (idx == 0) "B-<label>" else "I-<label>"
          } else if (hasLabel) {
            if (firstNonMarker.contains(idx)) "B-<reference>" else "I-<reference>"
          } else {
            if (idx == 0) "B-<reference>" else "I-<reference>"
          }
        out += ((t, label))
      }
    }
    out.toIndexedSeq
  }

  /** [[BioSpans.assignSpanIds]] fold twin: running span ids (1-based)
    * over a document-ordered labeled seq. */
  def assignSpanIdsLocal(
      labeled: IndexedSeq[(TokenRow, String)]): IndexedSeq[(TokenRow, String, Long)] = {
    var spanId = 0L
    var prevTag: String = null
    labeled.map { case (t, label) =>
      val tag = stripTag(label)
      if (spanId == 0L || label.startsWith("B-") || tag != prevTag) spanId += 1
      prevTag = tag
      (t, tag, spanId)
    }
  }

  /** [[BioSpans.spans]] fold twin: collapse to ordered spans with
    * `text + whitespace` reassembly, trailing whitespace trimmed
    * (UTF8String.trimRight semantics — chars <= 0x20). */
  def spansLocal(labeled: IndexedSeq[(TokenRow, String)]): IndexedSeq[Extractors.Span] = {
    val out = new ListBuffer[Extractors.Span]
    var spanId = 0L
    var curTag: String = null
    var open = false
    val toks = new ListBuffer[SpanAssembly.SpanTok]
    def flush(): Unit = if (open) {
      val (text, coords, styles) = SpanAssembly.assemble(toks.toList)
      out += Extractors.Span(spanId, curTag, text, coords, styles)
    }
    labeled.foreach { case (t, label) =>
      val tag = stripTag(label)
      if (!open || label.startsWith("B-") || tag != curTag) {
        flush()
        spanId += 1
        curTag = tag
        toks.clear()
        open = true
      }
      toks += SpanAssembly.SpanTok(t.text, t.whitespace, t.coords, t.font)
    }
    flush()
    out.toIndexedSeq
  }
}
