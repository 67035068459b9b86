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
  private[pipeline] def nameSpansOf(text: String): Seq[Span] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var i = 0L
    var expectForename = true
    toks.foreach { t =>
      val bare = t.replaceAll("[,;]", "")
      if (bare.equalsIgnoreCase("and") || bare.isEmpty) {
        // delimiter — no span
      } else if (bare.forall(_.isDigit)) {
        out += Span(i, "<marker>", bare); i += 1
      } else {
        val tag = if (expectForename) "<forename>" else "<surname>"
        // keep the trailing comma visible to the marker-after-comma rule
        out += Span(i, tag, t); i += 1
        expectForename = !expectForename
      }
    }
    out.toList
  }

  /** Rule stand-in for the citation model over one raw reference's
    * text: first two tokens → `<author>`, a trailing 4-digit-year token
    * → `<date>`, everything between → `<title>` — exactly the tag
    * stream [[ModelExtractors.citationFold]] consumes.
    */
  private[pipeline] def citationSpansOf(text: String): Seq[Span] = {
    val toks = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
    if (toks.isEmpty) return Nil
    val (authors, rest0) = toks.splitAt(math.min(2, toks.length))
    val (rest, date) =
      if (rest0.nonEmpty && rest0.last.replaceAll("[^0-9]", "").matches("[0-9]{4}"))
        (rest0.dropRight(1), Some(rest0.last))
      else (rest0, None)
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var i = 0L
    if (authors.nonEmpty) { out += Span(i, "<author>", authors.mkString(" ")); i += 1 }
    if (rest.nonEmpty) { out += Span(i, "<title>", rest.mkString(" ")); i += 1 }
    date.foreach { d => out += Span(i, "<date>", d); i += 1 }
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
  private[pipeline] def citationPass(docId: Long,
      segNodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    var nextId = segNodes.map(_.node_id).maxOption.getOrElse(-1L) + 1
    val textByParent = segNodes.filter(_.node_type == "raw_reference_text")
      .groupBy(_.parent_id)
    val labelByParent = segNodes.filter(_.node_type == "label")
      .groupBy(_.parent_id)
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
    val citNodes = segNodes.filter(_.node_type == "raw_reference").flatMap { r =>
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
  private[pipeline] def renumberReferenceIds(
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
  private[pipeline] def figureSpansOf(text: String): Seq[Span] = {
    val toks = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
    var i = 0
    if (i < toks.length && toks(i).matches("(?i)(figure|fig\\.?|table)")) i += 1
    if (i < toks.length && toks(i).matches("[0-9]+[.,:)]?")) i += 1
    val label = toks.take(i).mkString(" ")
    val rest = toks.drop(i).dropWhile(t => t == ":" || t == "." || t == "-")
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    if (label.nonEmpty) out += Span(0L, "<label>", label)
    if (rest.nonEmpty) out += Span(1L, "<figDesc>", rest.mkString(" "))
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
    val lower = s.toLowerCase
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      i += 1
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
  private[pipeline] def matchContentIdsLocal(
      citations: Seq[(Long, String)],
      candidates: Seq[(String, String)],
      partialCandidates: Seq[(String, String)] = Nil): Map[Long, String] = {
    def prefixKey(s: String, n: Int = 1): String =
      s.split("\\s+").filter(_.nonEmpty).map { t =>
        normKey(if (t.exists(_.isDigit)) t else t.take(n))
      }.mkString
    val byExact = candidates.map { case (id, lt) => normKey(lt) -> id }.toMap
    // no empty-key filter: the reference's prefix dict keeps the ''
    // key, so an all-punctuation prefix matches at this stage
    // (ref_matching.py:51-63)
    val byPrefix = candidates.map { case (id, lt) => prefixKey(lt) -> id }.toMap
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
    val candIndex: Map[String, List[String]] = {
      val m = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ListBuffer[String]]
      partialCandidates.foreach { case (id, lt) =>
        partialTokens(lt).foreach { tok =>
          m.getOrElseUpdate(tok,
            scala.collection.mutable.ListBuffer.empty[String]) += id
        }
      }
      m.view.mapValues(_.toList).toMap
    }
    def partialMatch(text: String): Option[String] = {
      val toks = partialTokens(text)
      if (toks.isEmpty) return None
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      toks.foreach { tok =>
        candIndex.getOrElse(tok, Nil).foreach { id =>
          counts.update(id, counts.getOrElse(id, 0) + 1)
        }
      }
      if (counts.isEmpty) None
      else {
        val keys = counts.keys.toList
        if (keys.sizeIs >= 2 && counts(keys.head) == counts(keys(1))) None
        else Some(keys.head)
      }
    }
    citations.flatMap { case (nid, text) =>
      byExact.get(normKey(text)).orElse(byPrefix.get(prefixKey(text)))
        .orElse(partialMatch(text))
        .map(nid -> _)
    }.toMap
  }

  /** J1 + F2 per document: assign `fig_0…`/`tab_0…` content ids in
    * document order (`utils/misc.py:4-8` iter_ids), then resolve each
    * `figure_citation`/`table_citation` against its document's
    * figure/table LABEL text (`processors/fulltext/processor.py:
    * 239-267`), writing the matched id into the citation's `content_id`
    * (the reference's `target_content_id`; TEI renders it as
    * `<ref target="#fig_N">`). Figures and tables are matched
    * separately, as the reference does.
    */
  private val NodeIdOrder: java.util.Comparator[SemanticNode] =
    (a, b) => java.lang.Long.compare(a.node_id, b.node_id)

  private[pipeline] def assignIdsAndTargets(
      nodes: Seq[SemanticNode]): Seq[SemanticNode] = {
    var figN = 0
    var tabN = 0
    val byNodeId = nodes.toArray
    java.util.Arrays.sort(byNodeId, NodeIdOrder)
    // a List, as the sinks' many small groupBy/filter passes over the
    // result are cheapest on one
    val withIds = byNodeId.toList.map { n =>
      n.node_type match {
        case "figure" => val id = s"fig_$figN"; figN += 1; n.copy(content_id = id)
        case "table" => val id = s"tab_$tabN"; tabN += 1; n.copy(content_id = id)
        case _ => n
      }
    }
    val byId = new scala.collection.mutable.LongMap[SemanticNode](byNodeId.length)
    withIds.foreach(n => byId.update(n.node_id, n))
    def labelsOf(targetType: String): Seq[(String, String)] =
      withIds.filter(_.node_type == "label").flatMap { l =>
        byId.get(l.parent_id).filter(_.node_type == targetType)
          .map(p => (p.content_id, l.text))
      }
    def citationsOf(citType: String): Seq[(Long, String)] =
      withIds.filter(_.node_type == citType).map(n => n.node_id -> n.text)
    // reference citations match against reference LABELS ("1.", "[2]"),
    // candidate ids are the b<n> content ids shared by raw + parsed
    // reference nodes. A DEMOTED (invalid) reference is not a citation
    // target: the reference matcher iterates SemanticReference only
    // (processor.py:239-244), so its markers stay unresolved and the
    // TEI never emits a target=#bN with no matching xml:id
    val demotedIds = withIds.filter(_.node_type == "invalid_reference")
      .flatMap(n => Option(n.content_id)).toSet
    def refTexts(childType: String): Seq[(String, String)] =
      withIds.filter(_.node_type == childType).flatMap { c =>
        byId.get(c.parent_id).filter(p => p.node_type == "raw_reference" &&
            !Option(p.content_id).exists(demotedIds))
          .map(p => (p.content_id, c.text))
      }
    val refCandidates = refTexts("label")
    // the vote fallback runs over the RAW REFERENCE TEXTS
    // (processor.py:244-251: ChainedContentIdMatcher of Simple(labels)
    // + Partial(raw texts)); figures/tables chain the Simple matcher
    // only (processor.py:257-267)
    val refPartial = refTexts("raw_reference_text")
    val matched =
      matchContentIdsLocal(citationsOf("figure_citation"), labelsOf("figure")) ++
        matchContentIdsLocal(citationsOf("table_citation"), labelsOf("table")) ++
        matchContentIdsLocal(citationsOf("reference_citation"), refCandidates,
          refPartial)
    withIds.map(n =>
      matched.get(n.node_id).map(t => n.copy(content_id = t)).getOrElse(n))
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
    * (processor.py:180-274), entirely local: segmentation labels every
    * token `<header>`/`<body>`/`<acknowledgement>`/`<annex>`/
    * `<references>`, the header model + name/affiliation passes run on
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
  /** The segmentation tags [[processTokensLocalWithBody]] splits into
    * views, in the order it destructures them. */
  private val SegmentationViews = IndexedSeq("<header>", "<body>",
    "<acknowledgement>", "<annex>", "<references>")

  private[pipeline] def processTokensLocalWithBody(docId: Long,
      toks: Seq[TokenRow], config: Config):
      (Seq[SemanticNode], IndexedSeq[(TokenRow, String)]) = {
    val ordered = LocalLabelers.ordered(toks)
    val seg = LocalLabelers.segmentationLabels(ordered)
    val IndexedSeq(headerView, bodyView, ackView, annexView, refsView) =
      LocalLabelers.views(seg, SegmentationViews)

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
    bodyLabeled.foreach { case (t, label) =>
      val tag = LocalLabelers.stripTag(label)
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
    val pages = graphicRows.map(_.page_number).toSet
    val pageDims = new scala.collection.mutable.LongMap[TokenRow]
    val it = tokens.iterator
    while (pageDims.size < pages.size && it.hasNext) {
      val t = it.next()
      if (t.page_width.isDefined && pages(t.page_number) &&
          !pageDims.contains(t.page_number))
        pageDims.update(t.page_number, t)
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
