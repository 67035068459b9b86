package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.pipeline.Extractors.Span

/** FullTextProcessor analog (SURVEY.md §3.1 step 4; reference
  * `processors/fulltext/processor.py:180-274`): the fixed DAG of model
  * passes gated by config flags (J2 operator pruning — disabled stages
  * are simply never added to the plan, so Catalyst never reads their
  * inputs).
  *
  * Second-stage models (name, affiliation) run on the *text* of raw
  * nodes produced by the header fold — at scale each stage is one
  * `groupByKey(doc_id)` fold over a small node set, all document-
  * parallel. Without trained models, deterministic rule stand-ins
  * produce the tagged span streams the folds expect (the
  * `model_mocks.py` pattern); a Wapiti/ONNX labeler slots into the same
  * seams.
  */
object Processor {

  /** Tolerant boundary for node frames built before the `coords`/
    * `styles` columns existed (ad-hoc test frames, external callers):
    * absent → null string columns, so `.as[SemanticNode]` resolves. */
  def withCoordsColumn(nodes: DataFrame): DataFrame = {
    val withC =
      if (nodes.columns.contains("coords")) nodes
      else nodes.withColumn("coords", lit(null).cast("string"))
    if (withC.columns.contains("styles")) withC
    else withC.withColumn("styles", lit(null).cast("string"))
  }

  final case class Config(
      extractAuthors: Boolean = true,
      extractAffiliations: Boolean = true,
      // reference defaults: citation authors on, editors off
      // (processors/fulltext/config.py:39-40)
      extractCitationAuthors: Boolean = true,
      extractCitationEditors: Boolean = false,
      // graphic asset extraction: graphic ids double as A8 zip entry
      // names and TEI <graphic url=...> (graphic.py:37-39; reference
      // default off, processors/fulltext/config.py extract_graphic_assets)
      extractGraphicAssets: Boolean = false)

  /** Rule stand-in for the name model: alternate forename/surname over
    * word tokens, skipping "and"/comma delimiters, digits as markers —
    * produces exactly the tag stream `ModelExtractors.nameFold`
    * consumes (authors then split on the second forename).
    */
  private[graft] def nameSpansOf(text: String): Seq[Span] = {
    val words = new SpaceWords(text)
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var i = 0L
    var expectForename = true
    var k = 0
    while (k < words.count) {
      val t = words(k)
      val bare = withoutCommaOrSemicolon(t)
      if (bare.equalsIgnoreCase("and") || bare.isEmpty) {
        // delimiter — no span
      } else if (allDigits(bare)) {
        out += Span(i, "<marker>", bare); i += 1
      } else {
        val tag = if (expectForename) "<forename>" else "<surname>"
        // keep the trailing comma visible to the marker-after-comma rule
        out += Span(i, tag, t); i += 1
        expectForename = !expectForename
      }
      k += 1
    }
    out.toList
  }

  /** `t.replaceAll("[,;]", "")`. */
  private def withoutCommaOrSemicolon(t: String): String =
    if (t.indexOf(',') < 0 && t.indexOf(';') < 0) t
    else {
      val sb = new java.lang.StringBuilder(t.length)
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c != ',' && c != ';') sb.append(c)
        i += 1
      }
      sb.toString
    }

  /** `t.forall(_.isDigit)`: `Character.isDigit` on every char. */
  private def allDigits(t: String): Boolean = {
    var i = 0
    while (i < t.length && Character.isDigit(t.charAt(i))) i += 1
    i == t.length
  }

  /** The words of `text.split("\\s+").filter(_.nonEmpty)`, kept as
    * offsets into `text`: the rule stand-ins' tokenizer, with no
    * `Pattern` per call. */
  private final class SpaceWords(text: String) {
    private var bounds = new Array[Int](16)
    var count = 0
    locally {
      var i = 0
      while (i < text.length) {
        while (i < text.length && TextNormalization.isRegexSpace(text.charAt(i))) i += 1
        if (i < text.length) {
          val start = i
          while (i < text.length && !TextNormalization.isRegexSpace(text.charAt(i))) i += 1
          if (2 * count == bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
          bounds(2 * count) = start
          bounds(2 * count + 1) = i
          count += 1
        }
      }
    }
    def start(k: Int): Int = bounds(2 * k)
    def end(k: Int): Int = bounds(2 * k + 1)
    def apply(k: Int): String = text.substring(start(k), end(k))
    /** Words `[from, until)` joined by one space (`mkString(" ")`). */
    def joined(from: Int, until: Int): String =
      if (until - from == 1) apply(from)
      else {
        val sb = new java.lang.StringBuilder(end(until - 1) - start(from))
        var k = from
        while (k < until) {
          if (k > from) sb.append(' ')
          sb.append(text, start(k), end(k))
          k += 1
        }
        sb.toString
      }
    /** Word `k` equals `lower`, ASCII letters compared case-insensitively
      * (`(?i)` without UNICODE_CASE); `lower` is lower-case ASCII. */
    def isWord(k: Int, lower: String): Boolean =
      end(k) - start(k) == lower.length && {
        var i = 0
        while (i < lower.length && {
            val c = text.charAt(start(k) + i)
            val w = lower.charAt(i)
            c == w || (c >= 'A' && c <= 'Z' && c + ('a' - 'A') == w)
          }) i += 1
        i == lower.length
      }
    /** Word `k` matches `[0-9]+[.,:)]?`. */
    def isNumberLabel(k: Int): Boolean = {
      var i = start(k)
      while (i < end(k) && text.charAt(i) >= '0' && text.charAt(i) <= '9') i += 1
      i > start(k) && (i == end(k) ||
        (i == end(k) - 1 && ".,:)".indexOf(text.charAt(i)) >= 0))
    }
    /** Word `k` has exactly four chars in `[0-9]`. */
    def hasFourDigits(k: Int): Boolean = {
      var digits = 0
      var i = start(k)
      while (i < end(k)) {
        val c = text.charAt(i)
        if (c >= '0' && c <= '9') digits += 1
        i += 1
      }
      digits == 4
    }
  }

  /** Rule stand-in for the citation model over one raw reference's
    * text: first two tokens → `<author>`, a trailing 4-digit-year token
    * → `<date>`, everything between → `<title>` — exactly the tag
    * stream [[ModelExtractors.citationFold]] consumes.
    */
  private[graft] def citationSpansOf(text: String): Seq[Span] = {
    val words = new SpaceWords(text)
    val n = words.count
    if (n == 0) return Nil
    val nAuthors = math.min(2, n)
    // the date test: the last word less its non-[0-9] chars is [0-9]{4}
    val hasDate = n > nAuthors && words.hasFourDigits(n - 1)
    val restEnd = if (hasDate) n - 1 else n
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var i = 0L
    out += Span(i, "<author>", words.joined(0, nAuthors)); i += 1
    if (restEnd > nAuthors) { out += Span(i, "<title>", words.joined(nAuthors, restEnd)); i += 1 }
    if (hasDate) { out += Span(i, "<date>", words(n - 1)); i += 1 }
    out.toList
  }

  /** Citation model pass over reference-segmenter output (reference
    * `processors/fulltext/processor.py:529-622`
    * `_extract_semantic_content_from_raw_references`): each
    * `raw_reference`'s `raw_reference_text` child is parsed by the
    * citation model and the typed reference — sharing the raw
    * reference's `b<n>` content id, so citation markers resolve to
    * either — appended to the node list. Pure per-document function.
    */
  private[graft] def citationPass(docId: Long,
      segNodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    // one walk: the largest id, the raw references, and each one's
    // texts and labels in node order
    var maxId = -1L
    var anyNode = false
    val raws = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    val textByParent = new scala.collection.mutable.LongMap[List[SemanticNode]]
    val labelByParent = new scala.collection.mutable.LongMap[List[SemanticNode]]
    segNodes.foreach { n =>
      if (!anyNode || n.node_id > maxId) maxId = n.node_id
      anyNode = true
      n.node_type match {
        case "raw_reference" => raws += n
        case "raw_reference_text" =>
          textByParent.update(n.parent_id, n :: textByParent.getOrElse(n.parent_id, Nil))
        case "label" =>
          labelByParent.update(n.parent_id, n :: labelByParent.getOrElse(n.parent_id, Nil))
        case _ => ()
      }
    }
    textByParent.mapValuesInPlace((_, ns) => ns.reverse)
    labelByParent.mapValuesInPlace((_, ns) => ns.reverse)
    var nextId = maxId + 1
    // a raw reference whose block yields NO parseable entities demotes
    // to an invalid reference holding the label (the reference's
    // citation model parses EVERY raw reference; label-only or
    // whitespace-only blocks cannot produce a valid field, and a raw
    // reference must never survive the pass un-replaced —
    // processor.py:612-623 asserts a parse result per raw reference)
    def demoteWithLabel(r: SemanticNode): Seq[SemanticNode] = {
      val copies0 = labelByParent.getOrElse(r.node_id, Nil)
      val offset = nextId
      val root = SemanticNode(docId, offset, -1L, "invalid_reference", "",
        r.content_id, null, null)
      val copies = copies0.zipWithIndex.map { case (c, i) =>
        c.copy(node_id = offset + 1 + i, parent_id = offset)
      }
      nextId = offset + 1 + copies0.size
      root +: copies
    }
    val citNodes = raws.flatMap { r =>
      val texts = textByParent.getOrElse(r.node_id, Nil)
      if (texts.isEmpty) demoteWithLabel(r)
      else texts.flatMap { t =>
        val folded = ModelExtractors.citationFold(docId,
          citationSpansOf(t.text), r.content_id)
        if (folded.isEmpty) demoteWithLabel(r)
        else {
          // citation/extract.py:214-217: the parsed reference STARTS
          // with the raw reference's content — the segmenter label and
          // (for valid refs) the raw reference text render inside the
          // parsed <biblStruct> as typed notes, BEFORE the parsed
          // fields (sibling order is node-id order, so the copies take
          // the ids right after the root). Invalid references drop the
          // raw text (extract.py:172-179).
          val keepRaw = folded.find(_.parent_id < 0)
            .exists(_.node_type == "reference")
          val copies0 = labelByParent.getOrElse(r.node_id, Nil) ++
            (if (keepRaw) Seq(t) else Nil)
          val nCopies = copies0.size
          val offset = nextId
          val shifted = folded.map { n =>
            if (n.parent_id < 0) n.copy(node_id = offset, parent_id = -1L)
            else n.copy(node_id = n.node_id + offset + nCopies,
              parent_id = offset)
          }
          val inherited = copies0.zipWithIndex.map { case (c, i) =>
            c.copy(node_id = offset + 1 + i, parent_id = offset)
          }
          nextId = offset + nCopies + folded.size
          shifted ++ inherited
        }
      }
    }
    renumberReferenceIds(segNodes ++ citNodes)
  }

  /** The reference processor RE-ASSIGNS reference content ids after
    * citation parsing (`processor.py:241` `_assign_content_ids` over
    * the final `SemanticReference` list): valid references get
    * contiguous `b<k>` ids in document order, DEMOTED (invalid)
    * references leave the sequence — they are not `SemanticReference`
    * and render with no xml:id. Each raw reference keeps the same id
    * as its parse result so the sink's in-place replacement pairing
    * holds; demoted pairs get an out-of-band id that never renders.
    */
  private[graft] def renumberReferenceIds(
      nodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    val parseRootsByRawId = nodes
      .filter(n => n.parent_id < 0 && n.content_id != null &&
        (n.node_type == "reference" || n.node_type == "invalid_reference"))
      .groupBy(_.content_id)
    var valid = 0
    var invalid = 0
    val idMap: Map[String, String] = nodes
      .filter(n => n.node_type == "raw_reference" && n.content_id != null)
      .sortBy(_.node_id)
      .map { r =>
        val roots = parseRootsByRawId.getOrElse(r.content_id, Nil)
        val demoted = roots.nonEmpty && roots.forall(_.node_type == "invalid_reference")
        if (demoted) { val id = s"invalid_ref_$invalid"; invalid += 1; r.content_id -> id }
        else { val id = s"b$valid"; valid += 1; r.content_id -> id }
      }.toMap
    if (idMap.forall { case (k, v) => k == v }) nodes
    else nodes.map { n =>
      val isRefRoot = n.node_type == "raw_reference" ||
        (n.parent_id < 0 &&
          (n.node_type == "reference" || n.node_type == "invalid_reference"))
      if (isRefRoot && n.content_id != null && idMap.contains(n.content_id))
        n.copy(content_id = idMap(n.content_id))
      else n
    }
  }

  /** Rule stand-in for the affiliation model: raw affiliation text →
    * `<institution>`, raw address text → `<addrLine>`. */
  private[pipeline] def affiliationSpansOf(
      children: Seq[(String, String, String)]): Seq[Span] =
    children.zipWithIndex.map {
      case (("raw_affiliation", text, cs), i) =>
        Span(i.toLong, "<institution>", text, cs)
      case (("raw_address", text, cs), i) =>
        Span(i.toLong, "<addrLine>", text, cs)
      case ((_, text, cs), i) => Span(i.toLong, "O", text, cs)
    }

  /** Rule stand-in for the figure/table model
    * (`models/figure/extract.py:24-44` label set): leading
    * `Figure|Fig.|Table` + number tokens → `<label>`, a `:`/`.`/`-`
    * delimiter is dropped, the remainder → `<figDesc>`.
    */
  private[graft] def figureSpansOf(text: String): Seq[Span] = {
    val words = new SpaceWords(text)
    val n = words.count
    var i = 0
    if (i < n && (words.isWord(i, "figure") || words.isWord(i, "fig") ||
        words.isWord(i, "fig.") || words.isWord(i, "table"))) i += 1
    if (i < n && words.isNumberLabel(i)) i += 1
    var rest = i
    while (rest < n && (words.isWord(rest, ":") || words.isWord(rest, ".") ||
        words.isWord(rest, "-"))) rest += 1
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    if (i > 0) out += Span(0L, "<label>", words.joined(0, i))
    if (rest < n) out += Span(1L, "<figDesc>", words.joined(rest, n))
    out.toList
  }

  /** Figure/table model pass over fulltext-fold output
    * (`processors/fulltext/processor.py:747-807`
    * `_extract_semantic_content_from_raw_content`): each
    * `raw_figure`/`raw_table` node is parsed by the figure/table model
    * stand-in and replaced in place by the [[Extractors.figureFold]]
    * result (figure node + label/caption children). Existing node ids
    * are multiplied by 8 to open id slots for the grafted children, so
    * document order — and therefore `fig_0…`/`tab_0…` assignment order —
    * is preserved without renumbering the whole tree.
    */
  private[pipeline] def figureTablePass(docId: Long,
      nodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    val out = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    def mapParent(p: Long): Long = if (p < 0) -1L else p * 8
    nodes.sortBy(_.node_id).foreach { n =>
      val base = n.node_id * 8
      n.node_type match {
        case "raw_figure" | "raw_table" =>
          val kind = if (n.node_type == "raw_figure") "figure" else "table"
          val folded = Extractors.figureFold(docId, figureSpansOf(n.text), kind)
          if (folded.isEmpty)
            out += n.copy(node_id = base, parent_id = mapParent(n.parent_id))
          else folded.foreach { f =>
            // the raw node's merged boxes become the <figure> element's
            // coords (label/caption substrings cannot re-derive offsets
            // into the raw text, so only the container keeps geometry)
            val withGeom =
              if (f.parent_id < 0 && f.coords == null) f.copy(coords = n.coords)
              else f
            out += withGeom.copy(node_id = base + f.node_id,
              parent_id = if (f.parent_id < 0) mapParent(n.parent_id)
                else base + f.parent_id)
          }
        case _ =>
          out += n.copy(node_id = base, parent_id = mapParent(n.parent_id))
      }
    }
    out.toList
  }

  /** Content-id matching key: lower-cased, keeping only `[a-z0-9]`.
    * One char scan, since it runs on every reference token. */
  private[graft] def normKey(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    appendNormKey(sb, s, 0, s.length)
    sb.toString
  }

  /** [[normKey]] of `s.substring(from, until)`, appended to `sb`. The
    * lower-casing is `String.toLowerCase`'s, in the default locale; a
    * part with no upper-case and no non-ASCII char is its own lower
    * case in every locale, so only such a part skips the call. */
  private def appendNormKey(sb: java.lang.StringBuilder, s: String, from: Int,
      until: Int): Unit = {
    var i = from
    while (i < until && { val c = s.charAt(i); c < 0x80 && (c < 'A' || c > 'Z') }) i += 1
    val (lower, start, end) =
      if (i == until) (s, from, until)
      else { val l = s.substring(from, until).toLowerCase; (l, 0, l.length) }
    i = start
    while (i < end) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      i += 1
    }
  }

  /** Content-id token-prefix key: per word of `s.split("\\s+")`, the
    * [[normKey]] of the whole word when it has a digit
    * (`Character.isDigit`), else of its first char; concatenated. */
  private[graft] def prefixKey(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      while (i < s.length && TextNormalization.isRegexSpace(s.charAt(i))) i += 1
      if (i < s.length) {
        val start = i
        var digit = false
        while (i < s.length && !TextNormalization.isRegexSpace(s.charAt(i))) {
          if (Character.isDigit(s.charAt(i))) digit = true
          i += 1
        }
        appendNormKey(sb, s, start, if (digit) i else start + 1)
      }
    }
    sb.toString
  }

  /** Local (per-document) matcher with [[RefMatching.matchContentIds]]
    * semantics (reference `processors/ref_matching.py:19-105` — the
    * reference, too, matches within one document at a time): exact
    * normalized-key lookup, then token-prefix key, then partial
    * token-vote with strict top-1 (ties rejected). Candidate dicts are
    * built in document order, later entries overwriting
    * (`SimpleContentIdMatcher` dict semantics).
    *
    * This runs inside the per-doc fold rather than as corpus-wide
    * joins: a DataFrame formulation referenced the whole un-cached
    * pipeline subtree seven times, exploding Catalyst optimization
    * time; per-doc it is a few hash-map probes over a handful of
    * labels.
    */
  private[graft] def matchContentIdsLocal(
      citations: Seq[(Long, String)],
      candidates: Seq[(String, String)],
      partialCandidates: Seq[(String, String)] = Nil): Map[Long, String] = {
    if (citations.isEmpty) return Map.empty
    val byExact = new java.util.HashMap[String, String]
    // no empty-key filter: the reference's prefix dict keeps the ''
    // key, so an all-punctuation prefix matches at this stage
    // (ref_matching.py:51-63)
    val byPrefix = new java.util.HashMap[String, String]
    candidates.foreach { case (id, lt) =>
      byExact.put(normKey(lt), id)
      byPrefix.put(prefixKey(lt), id)
    }
    // the partial (token-vote) fallback runs over its OWN text source
    // (processor.py:244-251: Simple over labels, Partial over raw
    // reference texts; figures/tables chain NO partial matcher,
    // processor.py:257-267). EXACT PartialContentIdMatcher semantics
    // (ref_matching.py:67-93): tokens come from the reference
    // tokenizer and are normalized PER TOKEN — punctuation normalizes
    // to "" and still votes; duplicates count; and the winner is the
    // FIRST candidate in vote-insertion order (python's Counter keeps
    // insertion order and the matcher returns keys[0] unless its
    // count equals keys[1]'s — NOT the max-count candidate).
    def partialTokens(s: String): List[String] =
      TextNormalization.tokenize(s).map(normKey)
    // built on the first citation the two key lookups miss
    lazy val candIndex = {
      val m = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ListBuffer[String]]
      partialCandidates.foreach { case (id, lt) =>
        partialTokens(lt).foreach { tok =>
          m.getOrElseUpdate(tok, scala.collection.mutable.ListBuffer.empty[String]) += id
        }
      }
      m
    }
    def partialMatch(text: String): Option[String] = {
      val toks = partialTokens(text)
      if (toks.isEmpty) return None
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      toks.foreach { tok =>
        candIndex.get(tok).foreach(_.foreach { id =>
          counts.update(id, counts.getOrElse(id, 0) + 1)
        })
      }
      if (counts.isEmpty) None
      else {
        val keys = counts.keys.toList
        if (keys.sizeIs >= 2 && counts(keys.head) == counts(keys(1))) None
        else Some(keys.head)
      }
    }
    def lookup(m: java.util.HashMap[String, String], key: String): Option[String] =
      if (m.containsKey(key)) Some(m.get(key)) else None
    citations.flatMap { case (nid, text) =>
      lookup(byExact, normKey(text)).orElse(lookup(byPrefix, prefixKey(text)))
        .orElse(partialMatch(text))
        .map(nid -> _)
    }.toMap
  }

  private val NodeIdOrder: java.util.Comparator[SemanticNode] =
    (a, b) => java.lang.Long.compare(a.node_id, b.node_id)

  /** J1 + F2 per document: assign `fig_0…`/`tab_0…` content ids in
    * document order (`utils/misc.py:4-8` iter_ids), then resolve each
    * `figure_citation`/`table_citation` against its document's
    * figure/table LABEL text (`processors/fulltext/processor.py:
    * 239-267`), writing the matched id into the citation's `content_id`
    * (the reference's `target_content_id`; TEI renders it as
    * `<ref target="#fig_N">`). Figures and tables are matched
    * separately, as the reference does.
    *
    * One walk over the id-sorted nodes assigns the ids, indexes the
    * nodes by id and buckets what the three matchers read: the labels,
    * each citation type, the raw reference texts and the demoted
    * reference ids. Parents resolve after the walk, against the whole
    * index, and only the matched nodes are copied. The result is a
    * List, as the sinks' many small groupBy/filter passes over it are
    * cheapest on one.
    */
  private[graft] def assignIdsAndTargets(
      nodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    import scala.collection.mutable.ArrayBuffer
    val sorted = nodes.toArray
    java.util.Arrays.sort(sorted, NodeIdOrder)
    var figN = 0
    var tabN = 0
    val byId = new scala.collection.mutable.LongMap[SemanticNode](sorted.length)
    val labels = ArrayBuffer.empty[SemanticNode]
    val rawTexts = ArrayBuffer.empty[SemanticNode]
    val figureCitations = ArrayBuffer.empty[(Long, String)]
    val tableCitations = ArrayBuffer.empty[(Long, String)]
    val referenceCitations = ArrayBuffer.empty[(Long, String)]
    val demotedIds = new java.util.HashSet[String]
    var i = 0
    while (i < sorted.length) {
      val n = sorted(i)
      n.node_type match {
        case "figure" => sorted(i) = n.copy(content_id = "fig_" + figN); figN += 1
        case "table" => sorted(i) = n.copy(content_id = "tab_" + tabN); tabN += 1
        case "label" => labels += n
        case "raw_reference_text" => rawTexts += n
        case "figure_citation" => figureCitations += n.node_id -> n.text
        case "table_citation" => tableCitations += n.node_id -> n.text
        case "reference_citation" => referenceCitations += n.node_id -> n.text
        case "invalid_reference" => if (n.content_id != null) demotedIds.add(n.content_id)
        case _ => ()
      }
      byId.update(n.node_id, sorted(i))
      i += 1
    }
    def labelsOf(targetType: String): Seq[(String, String)] =
      labels.flatMap { l =>
        byId.get(l.parent_id).filter(_.node_type == targetType)
          .map(p => (p.content_id, l.text))
      }.toSeq
    // reference citations match against reference LABELS ("1.", "[2]"),
    // candidate ids are the b<n> content ids shared by raw + parsed
    // reference nodes. A DEMOTED (invalid) reference is not a citation
    // target: the reference matcher iterates SemanticReference only
    // (processor.py:239-244), so its markers stay unresolved and the
    // TEI never emits a target=#bN with no matching xml:id
    def refTexts(children: ArrayBuffer[SemanticNode]): Seq[(String, String)] =
      children.flatMap { c =>
        byId.get(c.parent_id).filter(p => p.node_type == "raw_reference" &&
            !(p.content_id != null && demotedIds.contains(p.content_id)))
          .map(p => (p.content_id, c.text))
      }.toSeq
    val matched = new scala.collection.mutable.LongMap[String]
    def resolve(found: Map[Long, String]): Unit =
      found.foreach { case (id, target) => matched.update(id, target) }
    if (figureCitations.nonEmpty)
      resolve(matchContentIdsLocal(figureCitations.toSeq, labelsOf("figure")))
    if (tableCitations.nonEmpty)
      resolve(matchContentIdsLocal(tableCitations.toSeq, labelsOf("table")))
    // the vote fallback runs over the RAW REFERENCE TEXTS
    // (processor.py:244-251: ChainedContentIdMatcher of Simple(labels)
    // + Partial(raw texts)); figures/tables chain the Simple matcher
    // only (processor.py:257-267)
    if (referenceCitations.nonEmpty)
      resolve(matchContentIdsLocal(referenceCitations.toSeq, refTexts(labels),
        refTexts(rawTexts)))
    if (matched.nonEmpty) {
      i = 0
      while (i < sorted.length) {
        val id = sorted(i).node_id
        if (matched.contains(id)) sorted(i) = sorted(i).copy(content_id = matched(id))
        i += 1
      }
    }
    sorted.toList
  }

  /** Name model pass on citation authors/editors (reference
    * `processors/fulltext/processor.py:654-717`
    * `_extract_reference_name_lists_from_raw_references`): every
    * `raw_authors`/`raw_editors` node under a parsed reference is
    * replaced in place by the name fold over its text — person nodes
    * (`author`/`editor`) with title-cased given_name/surname children —
    * gated per config flag. Pure per-document function; node ids are
    * renumbered emission-ordered, preserving document order.
    */
  def citationNamePass(docId: Long,
      nodes: Seq[SemanticNode], config: Config = Config()): Seq[SemanticNode] = {
    if (!config.extractCitationAuthors && !config.extractCitationEditors)
      return nodes
    val out = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    var nextId = 0L
    val idMap = scala.collection.mutable.Map.empty[Long, Long]
    def add(tpe: String, text: String, parent: Long, contentId: String,
        coords: String = null, styles: String = null): Long = {
      val id = nextId; nextId += 1
      out += SemanticNode(docId, id, parent, tpe, text, contentId, coords,
        styles)
      id
    }
    def graft(grafted: Seq[SemanticNode], parent: Long): Unit = {
      val gMap = scala.collection.mutable.Map.empty[Long, Long]
      grafted.foreach { g =>
        val mapped = if (g.parent_id < 0) parent else gMap(g.parent_id)
        gMap(g.node_id) = add(g.node_type, g.text, mapped, g.content_id,
          g.coords, g.styles)
      }
    }
    nodes.sortBy(_.node_id).foreach { n =>
      val parent = if (n.parent_id < 0) -1L else idMap.getOrElse(n.parent_id, -1L)
      n.node_type match {
        case "raw_authors" if config.extractCitationAuthors =>
          graft(ModelExtractors.nameFold(docId, nameSpansOf(n.text), "author"),
            parent)
        case "raw_editors" if config.extractCitationEditors =>
          graft(ModelExtractors.nameFold(docId, nameSpansOf(n.text), "editor"),
            parent)
        case _ =>
          idMap(n.node_id) = add(n.node_type, n.text, parent, n.content_id,
            n.coords, n.styles)
      }
    }
    out.toList
  }

  /** Expand header-fold output with name/affiliation model passes —
    * pure per-document function over the node list (node ids are
    * reassigned emission-ordered). */
  def processDocument(docId: Long, headerNodes: Seq[SemanticNode],
      config: Config = Config()): Seq[SemanticNode] = {
    val out = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    var nextId = 0L
    def add(tpe: String, text: String, parent: Long, contentId: String,
        coords: String = null, styles: String = null): Long = {
      val id = nextId; nextId += 1
      out += SemanticNode(docId, id, parent, tpe, text, contentId, coords,
        styles)
      id
    }
    def graft(nodes: Seq[SemanticNode], parent: Long): Unit = {
      val idMap = scala.collection.mutable.Map.empty[Long, Long]
      nodes.foreach { n =>
        val mappedParent = if (n.parent_id < 0) parent else idMap(n.parent_id)
        idMap(n.node_id) = add(n.node_type, n.text, mappedParent, n.content_id,
          n.coords, n.styles)
      }
    }
    val ordered = headerNodes.sortBy(_.node_id)
    val childrenOf = ordered.groupBy(_.parent_id)
    ordered.filter(_.parent_id < 0).foreach { n =>
      n.node_type match {
        case "raw_authors" if config.extractAuthors =>
          val container = add("authors", "", -1L, null)
          graft(ModelExtractors.nameFold(docId, nameSpansOf(n.text)), container)
        case "raw_affiliation_address" if config.extractAffiliations =>
          val kids = childrenOf.getOrElse(n.node_id, Nil)
            .map(c => (c.node_type, c.text, c.coords))
          val folded = ModelExtractors.affiliationFold(docId, affiliationSpansOf(kids))
          graft(folded, -1L)
        case _ =>
          val id = add(n.node_type, n.text, -1L, n.content_id, n.coords,
            n.styles)
          childrenOf.getOrElse(n.node_id, Nil).foreach { c =>
            add(c.node_type, c.text, id, c.content_id, c.coords, c.styles)
          }
      }
    }
    out.toList
  }

  /** DataFrame stage: header semantic nodes → fully processed nodes. */
  def process(headerNodes: DataFrame, config: Config = Config()): Dataset[SemanticNode] = {
    val sparkSession = headerNodes.sparkSession
    import sparkSession.implicits._
    Processor.withCoordsColumn(headerNodes)
      .select(col("doc_id"), col("node_id"), col("parent_id"),
        col("node_type"), col("text"), col("content_id"), col("coords"),
        col("styles"))
      .as[SemanticNode]
      .groupByKey(_.doc_id)
      .flatMapGroups { (docId, it) => processDocument(docId, it.toSeq, config).iterator }
  }

  /** Full header pipeline: token table → labeled → spans → header fold →
    * name/affiliation passes. */
  def headerPipeline(tokens: DataFrame, labeler: SequenceLabeler,
      config: Config = Config()): Dataset[SemanticNode] =
    process(Extractors.headerSemantics(
      BioSpans.spans(labeler.label(tokens))).toDF(), config)

  /** One fulltext-model view, fold form (`processor.py:809-848`
    * `_update_semantic_section_using_segmentation_result_and_fulltext_model`):
    * label the view's tokens with the fulltext model, fold into
    * sections (tagged `sectionType` via the section `content_id`), run
    * the figure/table pass, and shift node ids by `idOffset` so views
    * concatenate in document order.
    */
  private def fulltextViewLocal(docId: Long, viewTokens: IndexedSeq[TokenRow],
      sectionType: String, idOffset: Long): Seq[SemanticNode] =
    figureTablePass(docId, ModelExtractors.fulltextFold(docId,
      LocalLabelers.spansLocal(LocalLabelers.bodyRuleLabels(viewTokens)),
      sectionType)).map(shiftIds(_, idOffset))

  private def shiftIds(n: SemanticNode, idOffset: Long): SemanticNode =
    n.copy(node_id = n.node_id + idOffset,
      parent_id = if (n.parent_id < 0) -1L else n.parent_id + idOffset)

  /** The reference's full document flow for ONE document
    * (processor.py:180-274), entirely local: segmentation routes every
    * token to its `<header>`/`<body>`/`<acknowledgement>`/`<annex>`/
    * `<references>` view, the header model + name/affiliation passes run on
    * the header view, the fulltext fold on the body view and the two
    * back-matter views, and the references chain (reference-segmenter →
    * citation model → citation names, processor.py:529-622,654-717) on
    * the references view. Returns the pre-`assignIdsAndTargets` node
    * union with the view id offsets (header 0, body/ack/annex/refs at
    * multiples of BodyIdOffset), plus the labeled body view — the
    * graphics path derives figure/table candidate boxes from the SAME
    * labeling the fulltext fold consumed (one pass, and the candidate
    * numbering provably matches the node numbering).
    */
  private[pipeline] def processTokensLocalWithBody(docId: Long,
      toks: Seq[TokenRow], config: Config):
      (Seq[SemanticNode], IndexedSeq[(TokenRow, String)]) = {
    val IndexedSeq(headerView, bodyView, ackView, annexView, refsView) =
      LocalLabelers.segmentationViews(LocalLabelers.ordered(toks))

    val headerNodes = processDocument(docId, Extractors.headerFold(docId,
      LocalLabelers.spansLocal(LocalLabelers.headerRuleLabels(headerView))),
      config)
    val bodyLabeled = LocalLabelers.bodyRuleLabels(bodyView)
    val bodyNodes = figureTablePass(docId, ModelExtractors.fulltextFold(docId,
      LocalLabelers.spansLocal(bodyLabeled), "body")).map(shiftIds(_, BodyIdOffset))
    val ackNodes = fulltextViewLocal(docId, ackView,
      "acknowledgement", 2 * BodyIdOffset)
    val annexNodes = fulltextViewLocal(docId, annexView,
      "annex", 3 * BodyIdOffset)
    val refSpans = LocalLabelers.spansLocal(
      LocalLabelers.referenceSegmenterLabels(refsView))
    val refNodes = citationNamePass(docId,
      citationPass(docId, ModelExtractors.referenceSegmenterFold(docId, refSpans)),
      config).map(shiftIds(_, 4 * BodyIdOffset))
    (headerNodes ++ bodyNodes ++ ackNodes ++ annexNodes ++ refNodes, bodyLabeled)
  }

  private def asTokenRows(tokens: DataFrame): Dataset[TokenRow] = {
    val sparkSession = tokens.sparkSession
    import sparkSession.implicits._
    tokens.select(col("doc_id"), col("page_idx"), col("block_idx"),
      col("line_idx"), col("token_idx"), col("text"), col("whitespace"),
      col("font"), col("coords"), col("page_number"), col("page_width"),
      col("page_height")).as[TokenRow]
  }

  /** The reference's full document flow (processor.py:180-274) as ONE
    * per-`doc_id` fold: segmentation, the five view labelers,
    * every model fold, and `assignIdsAndTargets` all run per document
    * inside a single pass — the same shape as the reference's
    * one-document `FullTextProcessor.get_semantic_document`.
    *
    * This replaced a five-branch DataFrame formulation whose per-view
    * window labelers cost ~14 exchanges and 12-13 s at sf1 for
    * p04/p06: labels are per-line/per-block decisions, so the fold
    * computes them locally ([[LocalLabelers]]) and the whole pipeline
    * shuffles the token table at most once (not at all if it is
    * clustered by `doc_id`). At 100 TB that is the difference between
    * one repartition of the corpus and five window sorts of it.
    */
  def documentPipeline(tokens: DataFrame, config: Config = Config(),
      graphics: Option[DataFrame] = None): Dataset[SemanticNode] = {
    val sparkSession = tokens.sparkSession
    import sparkSession.implicits._
    foldDocuments(tokens, config, graphics)((_, ns) => ns.iterator)
  }

  /** [[documentPipeline]] fused straight through to the TEI sink:
    * `(doc_id, tei)` rendered inside the SAME per-doc fold, so the
    * node table never re-shuffles into a separate serialize pass —
    * token ingest + one doc_id exchange is the whole plan. */
  def documentTei(tokens: DataFrame, config: Config = Config(),
      graphics: Option[DataFrame] = None): DataFrame = {
    val sparkSession = tokens.sparkSession
    import sparkSession.implicits._
    foldDocuments(tokens, config, graphics)((docId, ns) =>
      Iterator((docId, graft.sinks.Tei.buildTei(ns)))).toDF("doc_id", "tei")
  }

  /** The per-document fold shared by every pipeline surface: `finish`
    * maps a document's final nodes to output rows (identity for the
    * node table, `buildTei` for the fused TEI sink). Grouping on the
    * `doc_id` column keeps a doc-clustered input's partitioning. */
  private def foldDocuments[T](tokens: DataFrame, config: Config,
      graphics: Option[DataFrame])(
      finish: (Long, Seq[SemanticNode]) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val sparkSession = tokens.sparkSession
    import sparkSession.implicits._
    val toks = asTokenRows(tokens)
    graphics match {
      case None =>
        toks.groupBy(col("doc_id")).as[Long, TokenRow].flatMapGroups {
          (docId, it) => finish(docId, documentNodes(docId, it.toSeq, Nil, config))
        }
      case Some(g) =>
        // the whole graphics chain is per-document by construction, so
        // it runs inside the SAME cogroup as the node fold: at most one
        // shuffle of the token table, one of the (tiny) graphics table,
        // zero extra scans
        val gIn = g.select(col("doc_id"), col("graphic_id"),
            col("graphic_type"), col("x"), col("y"), col("width"),
            col("height"), col("page_number"), col("page_width"),
            col("page_height")).as[GraphicIn]
        toks.groupBy(col("doc_id")).as[Long, TokenRow]
          .cogroup(gIn.groupBy(col("doc_id")).as[Long, GraphicIn]) { (docId, ts, gs) =>
            finish(docId, documentNodes(docId, ts.toSeq, gs.toSeq, config))
          }
    }
  }

  /** ONE document's final semantic nodes — the body of every pipeline
    * fold, and what the service runs per upload: the local document
    * flow and `assignIdsAndTargets`, then, when the document has page
    * graphics, F3 (`processors/fulltext/processor.py:268-273,337-369`
    * `_process_graphics`): candidate boxes off the body labeling, bbox
    * matching, greedy 1–1, and attach — a matched graphic becomes a
    * `graphic` child of its figure node (TEI `<graphic type coords>`,
    * tei/graphic.py:22-55), unmatched ones collect under one
    * `note[unmatched_graphics]` back node (processor.py:343,367-369).
    * With `extractGraphicAssets` the graphic id doubles as the asset's
    * relative path, the A8 zip entry name (`graphic.py:37-39`). */
  private[graft] def documentNodes(docId: Long, tokens: Seq[TokenRow],
      graphics: Seq[GraphicIn], config: Config): Seq[SemanticNode] = {
    val (preNodes, bodyLabeled) =
      processTokensLocalWithBody(docId, tokens, config)
    val nodes = assignIdsAndTargets(preNodes)
    if (graphics.isEmpty) nodes
    else {
      val matched = matchGraphicsLocal(graphics,
        figureCandidatesLocal(docId, bodyLabeled)).toMap
      attachGraphicsLocal(docId, nodes, graphics.map(gr => (docId,
        gr.graphic_id, graphicText(gr, config.extractGraphicAssets),
        matched.getOrElse(gr.graphic_id, null))))
    }
  }

  /** One figure/table candidate box
    * (`processors/fulltext/processor.py:337-369`). */
  private[pipeline] final case class CandidateRow(
      doc_id: Long, candidate_id: String,
      x: Double, y: Double, width: Double, height: Double,
      page_number: Int, page_width: Double, page_height: Double)

  /** Figure/table candidate boxes for ONE document
    * (`processors/fulltext/processor.py:337-369` builds the candidate
    * list from SemanticFigure/SemanticTable layout blocks): one box per
    * `<figure>`/`<table>` span of the body view — the union of its
    * coordinate-bearing tokens — keyed by the `fig_N`/`tab_N` content
    * id the span's node WILL get, which is exactly its per-kind
    * document-order rank (figureTablePass replaces raw figures in
    * place, so span order == node order == `assignIdsAndTargets`
    * numbering). Page anchor is the span's first page (deterministic
    * for spans crossing a page boundary).
    */
  private[pipeline] def figureCandidatesLocal(docId: Long,
      bodyLabeled: IndexedSeq[(TokenRow, String)]): Seq[CandidateRow] = {
    // each figure/table span's tokens with coordinates and page size,
    // in span order; spans split where BioSpans.assignSpanIds starts a
    // new span id (a B- label or a tag change)
    val kept = scala.collection.mutable.ListBuffer.empty[(String, List[TokenRow])]
    var open = false
    var spanTag: String = null
    var spanToks = List.empty[TokenRow]
    def close(): Unit = if (spanToks.nonEmpty) {
      kept += ((spanTag, spanToks.reverse))
      spanToks = Nil
    }
    var lastLabel: String = null
    var tag: String = null
    bodyLabeled.foreach { case (t, label) =>
      if (label == null || (label ne lastLabel)) {
        tag = LocalLabelers.stripTag(label)
        lastLabel = label
      }
      if (!open || label.startsWith("B-") || tag != spanTag) {
        close()
        open = true
        spanTag = tag
      }
      if ((tag == "<figure>" || tag == "<table>") &&
          t.coords.isDefined && t.page_width.isDefined) spanToks = t :: spanToks
    }
    close()
    var figN = 0
    var tabN = 0
    kept.toList.map { case (tag, ts) =>
      val cs = ts.map(_.coords.get)
      val x = cs.map(_.x).min
      val y = cs.map(_.y).min
      val x2 = cs.map(c => c.x + c.width).max
      val y2 = cs.map(c => c.y + c.height).max
      val pg = ts.map(t => (t.page_number, t.page_width.get,
        t.page_height.getOrElse(0.0))).min
      val cid =
        if (tag == "<figure>") { val c = s"fig_$figN"; figN += 1; c }
        else { val c = s"tab_$tabN"; tabN += 1; c }
      CandidateRow(docId, cid, x, y, x2 - x, y2 - y, pg._1, pg._2, pg._3)
    }
  }

  /** One page graphic as [[documentPipeline]]'s graphics input
    * ([[graphicsForMatching]] output row). */
  private[graft] final case class GraphicIn(
      doc_id: Long, graphic_id: String, graphic_type: String,
      x: Double, y: Double, width: Double, height: Double,
      page_number: Int, page_width: Double, page_height: Double)

  /** Per-document F3 bbox matching — the SAME
    * [[GraphicMatching.assignDocument]] the distributed stage runs
    * (zero-area exclusion + exact greedy multi-round assignment over
    * the full sets), computed locally inside the pipeline's cogroup
    * (the reference matches per document too,
    * `processors/graphic_matching.py:371-459`).
    */
  private[pipeline] def matchGraphicsLocal(gs: Seq[GraphicIn],
      cs: Seq[CandidateRow],
      maxDistance: Double = GraphicMatching.DefaultMaxDistance): Seq[(String, String)] = {
    import GraphicMatching.{Box, normalized}
    GraphicMatching.assignDocument(
      // svg graphics never enter the bbox matcher — they represent the
      // whole page, not an image (graphic_matching.py:461-466
      // ignored_graphic_types) — but they stay in the graphics list
      // and land in the unmatched back note
      gs.filter(_.graphic_type != "svg").map(g => g.graphic_id -> Seq(normalized(
        Box(g.x, g.y, g.width, g.height, g.page_number),
        g.page_width, g.page_height))),
      cs.map(c => c.candidate_id -> Seq(normalized(
        Box(c.x, c.y, c.width, c.height, c.page_number),
        c.page_width, c.page_height))),
      maxDistance)
  }

  /** Graphic render text: `<type>|<page,x,y,w,h>[|<url>]`
    * (format_coordinates, tei/common.py:87-94; url when assets are
    * extracted, graphic.py:37-39). */
  private[graft] def graphicText(g: GraphicIn, extractAssets: Boolean): String = {
    val coords = Coordinates.format(g.page_number, g.x, g.y, g.width, g.height)
    if (extractAssets) s"${g.graphic_type}|$coords|${g.graphic_id}"
    else s"${g.graphic_type}|$coords"
  }

  /** Graphics input for [[documentPipeline]] from the ALTO reader's
    * graphic rows: page dimensions joined in from the token table
    * (graphics and tokens share pages; broadcast — pages-per-doc is
    * tiny next to tokens). */
  def graphicsForMatching(tokens: DataFrame, graphicRows: DataFrame): DataFrame = {
    val pageDims = tokens.filter(col("page_width").isNotNull)
      .groupBy(col("doc_id"), col("page_number"))
      .agg(first(col("page_width")).as("page_width"),
        first(col("page_height")).as("page_height"))
    graphicRows.filter(col("coords").isNotNull)
      .join(broadcast(pageDims), Seq("doc_id", "page_number"))
      .select(col("doc_id"), col("file_id").as("graphic_id"),
        col("graphic_type"),
        col("coords.x").as("x"), col("coords.y").as("y"),
        col("coords.width").as("width"), col("coords.height").as("height"),
        col("page_number"), col("page_width"), col("page_height"))
  }

  /** [[graphicsForMatching]] for ONE document's parsed rows: each
    * page's dimensions come from its first token with a width, the
    * join on `page_number` is inner, and graphics without coords drop. */
  private[graft] def graphicsForMatchingLocal(tokens: Seq[TokenRow],
      graphicRows: Seq[GraphicRow]): Seq[GraphicIn] = {
    if (graphicRows.isEmpty) return Nil
    // the first token with a width on each page a graphic is on
    val pages = new scala.collection.mutable.LongMap[Unit]
    graphicRows.foreach(g => pages.update(g.page_number, ()))
    val pageDims = new scala.collection.mutable.LongMap[TokenRow]
    // a page is settled once found or known unwanted: its later
    // tokens are not looked up again
    var settled = false
    var settledPage = 0
    val it = tokens.iterator
    while (pageDims.size < pages.size && it.hasNext) {
      val t = it.next()
      if (!settled || t.page_number != settledPage) {
        if (!pages.contains(t.page_number) || pageDims.contains(t.page_number)) {
          settled = true
          settledPage = t.page_number
        } else if (t.page_width.isDefined) {
          pageDims.update(t.page_number, t)
          settled = true
          settledPage = t.page_number
        }
      }
    }
    for {
      g <- graphicRows
      c <- g.coords
      t <- pageDims.get(g.page_number)
    } yield GraphicIn(g.doc_id, g.file_id, g.graphic_type, c.x, c.y,
      c.width, c.height, g.page_number, t.page_width.get, t.page_height.get)
  }

  /** Per-document attach: matched graphics become `graphic` children
    * of their figure node, strays collect under one
    * `note[unmatched_graphics]` back node. */
  private[pipeline] def attachGraphicsLocal(docId: Long,
      nodes: Seq[SemanticNode],
      gs: Seq[(Long, String, String, String)]): Seq[SemanticNode] = {
    if (gs.isEmpty) return nodes
    val byCand = nodes.filter(n =>
        n.node_type == "figure" || n.node_type == "table")
      .map(n => n.content_id -> n.node_id).toMap
    val extra = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    var nextMatched = 5 * BodyIdOffset
    var nextStray = 6 * BodyIdOffset
    gs.sortBy(_._2).foreach { case (_, gid, gtext, cand) =>
      Option(cand).flatMap(byCand.get) match {
        case Some(figNodeId) =>
          nextMatched += 1
          extra += SemanticNode(docId, nextMatched, figNodeId, "graphic",
            gtext, gid)
        case None =>
          if (nextStray == 6 * BodyIdOffset) extra += SemanticNode(docId,
            nextStray, -1L, "note[unmatched_graphics]", "", null)
          nextStray += 1
          extra += SemanticNode(docId, nextStray, 6 * BodyIdOffset,
            "graphic", gtext, gid)
      }
    }
    nodes ++ extra
  }

  private val BodyIdOffset = 1L << 32
}
