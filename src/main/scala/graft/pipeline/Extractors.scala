package graft.pipeline

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Semantic extraction: ordered span stream → semantic-node rows
  * (SURVEY.md §2.A E1-E8).
  *
  * The reference mutates a `SemanticDocument` tree in place one span at
  * a time (`models/header/extract.py:60-110` etc.); extraction is
  * inherently order-sensitive *within* a document and embarrassingly
  * parallel *across* documents. So: `groupBy(doc_id)` + sorted
  * `collect_list` + a per-doc Scala fold emitting flattened
  * [[SemanticNode]] rows. Span streams are tiny relative to token
  * streams (hundreds per doc), so the collected array is small even for
  * giant documents — the token-level heavy lifting stayed in the
  * distributed stages before this one.
  */
object Extractors {

  /** Fold input: one BIO span. `coords` is the span's merged
    * page-coordinate list already in the TEI attribute format
    * ([[Coordinates.formatList]] of the merged boxes; null when no token carried
    * coordinates — synthesized spans from re-labeled text, fixtures
    * without geometry). `styles` encodes the styled token runs over
    * `text` as `start,end,mask` triples (';'-joined; mask bits
    * 1=bold 2=italic 4=subscript 8=superscript, the
    * tei/common.py:61-71 style order); null when every token is
    * plain. */
  final case class Span(span_id: Long, tag: String, text: String,
      coords: String = null, styles: String = null)

  /** grobid BiblioItem abstract-prefix regex
    * (models/header/extract.py:25). */
  private val AbstractPrefix = Pattern.compile(
    "^(?:(?:abstract|summary|résumé|abrégé|a b s t r a c t)(?:[.:])?)?\\s*(.*)",
    Pattern.CASE_INSENSITIVE)

  /** get_cleaned_abstract_text (models/header/extract.py:35-42). */
  def cleanAbstract(text: String): String = {
    if (text == null || text.isEmpty) return text
    val m = AbstractPrefix.matcher(text)
    if (m.lookingAt()) text.substring(m.start(1)) else text
  }

  /** E1 header fold (models/header/extract.py:64-110): first
    * title/abstract win; affiliation/address runs merge into one
    * raw_affiliation_address parent (a new one starts when an
    * affiliation follows an affiliation/address run); `<author>` spans
    * become raw_authors; unknown tags fall back to notes (E8).
    */
  def headerFold(docId: Long, spans: Seq[Span]): Seq[SemanticNode] = {
    val out = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    var nextId = 0L
    def emit(tpe: String, text: String, parent: Long = -1L,
        coords: String = null, styles: String = null): Long = {
      val id = nextId; nextId += 1
      out += SemanticNode(docId, id, parent, tpe, text, null, coords, styles)
      id
    }
    var hasTitle = false
    var hasAbstract = false
    var affParent = -1L
    var prevLabel = ""
    spans.sortBy(_.span_id).foreach { s =>
      val previous = prevLabel
      prevLabel = s.tag
      s.tag match {
        case "<title>" if !hasTitle =>
          emit("title", s.text, coords = s.coords, styles = s.styles)
          hasTitle = true
        case "<abstract>" if !hasAbstract =>
          val cleaned = cleanAbstract(s.text)
          // the prefix strip shifts every styled run left
          val shifted = if (s.text == null) null
            else StyleRuns.slice(s.styles,
              s.text.length - cleaned.length, s.text.length)
          emit("abstract", cleaned, coords = s.coords, styles = shifted)
          hasAbstract = true
        case t @ ("<affiliation>" | "<address>") =>
          if (affParent >= 0 && t == "<affiliation>" &&
              (previous == "<affiliation>" || previous == "<address>")) {
            affParent = -1L
          }
          if (affParent < 0) affParent = emit("raw_affiliation_address", "")
          emit(if (t == "<affiliation>") "raw_affiliation" else "raw_address",
            s.text, affParent, s.coords, s.styles)
        case other =>
          affParent = -1L
          other match {
            case "<author>" =>
              emit("raw_authors", s.text, coords = s.coords, styles = s.styles)
            case tag => // E8
              emit(s"note[$tag]", s.text, coords = s.coords, styles = s.styles)
          }
      }
    }
    // the <affiliation> element's coords are the merged run
    // (tei/author.py:69-73 get_default_attributes over the whole
    // affiliation-address content) — fill parents from their children
    mergeParentCoords(out.toList, Set("raw_affiliation_address"))
  }

  /** Post-pass: a container node's coords = re-merge of its children's
    * (the reference merges the whole semantic content's tokens; our
    * children carry the spans' formatted boxes). The nodes as given
    * when no container lacks coords. */
  private[pipeline] def mergeParentCoords(nodes: Seq[SemanticNode],
      parentTypes: Set[String]): Seq[SemanticNode] =
    if (!nodes.exists(n => n.coords == null && parentTypes.contains(n.node_type))) nodes
    else {
      val byParent = nodes.groupBy(_.parent_id)
      nodes.map { n =>
        if (!parentTypes.contains(n.node_type) || n.coords != null) n
        else {
          val merged = Coordinates.mergeFormatted(
            byParent.getOrElse(n.node_id, Nil).map(_.coords))
          if (merged == null) n else n.copy(coords = merged)
        }
      }
    }

  /** E7 figure/table fold (models/figure/extract.py:24-44): `<label>` +
    * `<figDesc>`/`<tableDesc>` accumulate into one figure/table node per
    * contiguous run. */
  def figureFold(docId: Long, spans: Seq[Span], kind: String): Seq[SemanticNode] = {
    val out = scala.collection.mutable.ListBuffer.empty[SemanticNode]
    var nextId = 0L
    var parent = -1L
    spans.sortBy(_.span_id).foreach { s =>
      s.tag match {
        case "<label>" | "<figDesc>" | "<tableDesc>" =>
          if (parent < 0) {
            parent = nextId; nextId += 1
            out += SemanticNode(docId, parent, -1L, kind, "", null)
          }
          val tpe = if (s.tag == "<label>") "label" else "caption"
          out += SemanticNode(docId, nextId, parent, tpe, s.text, null,
            s.coords, s.styles)
          nextId += 1
        case _ => parent = -1L
      }
    }
    // <figure>/<table type=figure> element coords span label+caption
    // (tei/figure_table.py:33,66 get_default_attributes)
    mergeParentCoords(out.toList, Set(kind))
  }

  /** Run the header fold over a span DataFrame (BioSpans.spans output). */
  def headerSemantics(spans: DataFrame): Dataset[SemanticNode] = {
    val sparkSession = spans.sparkSession
    import sparkSession.implicits._
    spans.select(col("doc_id"), col("span_id"), col("tag"), col("text"),
        col("coords"), col("styles"))
      .as[(Long, Long, String, String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, it) =>
        headerFold(docId,
          it.map(r => Span(r._2, r._3, r._4, r._5, r._6)).toSeq).iterator
      }
  }

  /** J1 sequential content-id assignment in document order
    * (utils/misc.py:4-8 `iter_ids`): deterministic row_number, not
    * monotonically_increasing_id. */
  def assignContentIds(nodes: DataFrame, nodeType: String, prefix: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("node_id")
    val target = nodes.filter(col("node_type") === nodeType)
      .withColumn("content_id", concat(lit(prefix), row_number().over(w) - 1))
    nodes.filter(col("node_type") =!= nodeType).unionByName(target)
  }
}
