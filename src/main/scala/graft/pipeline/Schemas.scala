package graft.pipeline

import org.apache.spark.sql.Row

/** Engine-internal document data model (SURVEY.md §1.2 / FIXTURES.md §2).
  *
  * The reference keeps one nested Python object tree per document
  * (`sciencebeam_parser/document/layout_document.py:381-447`) and keys
  * everything on object identity (`id(token)`). The Spark model is the
  * exploded token table with stable positional keys
  * `(doc_id, page_idx, block_idx, line_idx, token_idx)` — the
  * load-bearing design change: filters/joins on identity become
  * filters/joins on columns, and any sub-document "view" is just a
  * predicate.
  */
final case class FontInfo(
    font_id: String,
    font_family: String,
    font_size: Option[Double],
    is_bold: Boolean,
    is_italics: Boolean,
    is_subscript: Boolean,
    is_superscript: Boolean)

object FontInfo {
  /** EMPTY_FONT analog (layout_document.py EMPTY_FONT). */
  val empty: FontInfo = FontInfo(null, null, None, false, false, false, false)

  /** The token table's `font` struct, read by field name. */
  def fromRow(f: Row): FontInfo =
    FontInfo(f.getAs[String]("font_id"), f.getAs[String]("font_family"),
      Option(f.getAs[java.lang.Double]("font_size")).map(_.doubleValue),
      f.getAs[Boolean]("is_bold"), f.getAs[Boolean]("is_italics"),
      f.getAs[Boolean]("is_subscript"), f.getAs[Boolean]("is_superscript"))
}

final case class Coords(
    x: Double, y: Double, width: Double, height: Double, page_number: Int)

object Coords {
  /** The token table's `coords` struct, read by field name. */
  def fromRow(c: Row): Coords = Coords(c.getAs("x"), c.getAs("y"),
    c.getAs("width"), c.getAs("height"), c.getAs("page_number"))
}

/** One row per layout token (layout_document.py:121-126 + page meta). */
final case class TokenRow(
    doc_id: Long,
    page_idx: Int,
    block_idx: Int,
    line_idx: Int,
    token_idx: Int,
    text: String,
    whitespace: String,
    font: FontInfo,
    coords: Option[Coords],
    page_number: Int,
    page_width: Option[Double],
    page_height: Option[Double])

/** One row per page graphic (layout_document.py:331-336).
  * `related_block_idx` is the ALTO-adjacent text block (the enclosing
  * block for a nested `<Illustration>`, else the block just completed
  * in reading order) — when present, the F4 text matcher prefers it
  * over the derived page-level/nearest-block linkage.
  */
final case class GraphicRow(
    doc_id: Long,
    page_idx: Int,
    page_number: Int,
    file_id: String,
    graphic_type: String,
    coords: Option[Coords],
    related_block_idx: Option[Int])

/** Flattened semantic-document node (semantic_document.py §1.2 mapping):
  * adjacency rows instead of the reference's mutable tree.
  */
final case class SemanticNode(
    doc_id: Long,
    node_id: Long,
    parent_id: Long,
    node_type: String,
    text: String,
    content_id: String,
    /** Merged page coordinates in the TEI `coords` attribute format
      * (`page,x,y,w,h[;…]`, tei/common.py:87-101); null when the
      * node's source tokens carried no geometry. */
    coords: String = null,
    /** Styled token runs over `text` as `start,end,mask` triples
      * (';'-joined; mask bits 1=bold 2=italic 4=subscript
      * 8=superscript) — the sink renders them as nested
      * `<hi rend="…">` wrappers (tei/common.py:61-84); null = plain. */
    styles: String = null)
