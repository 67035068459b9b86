package graft.sources




import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Coords, FontInfo, GraphicRow, TextNormalization, TokenRow}

/** ALTO v3 XML → exploded token table (+ graphics table).
  *
  * Reference behavior: `sciencebeam_parser/external/pdfalto/parser.py:30-173`
  * (attribute set, font registry, page numbering) followed by
  * `normalize_layout_document` (`app/parser.py:64-79`) = text
  * normalization + retokenization + empty-block removal. The reference
  * parses one document at a time in memory; here parsing is a
  * `flatMap` over (doc_id, xml) rows — each task parses its partition's
  * documents independently, so ingest scales with executors and the
  * shuffle-free output feeds the feature windows directly.
  *
  * PDF ingestion (A1) would wrap this with `spark.read.format
  * ("binaryFile")` + an executor-local `pdfalto` subprocess per
  * partition; kept behind this ALTO entry point so everything
  * downstream is testable without the binary (SURVEY.md §7 step 2).
  */
object AltoReader {

  private val AltoNs = "http://www.loc.gov/standards/alto/ns-v3#"

  /** Parse a corpus of (doc_id, alto_xml) into TokenRows.
    * Retokenizes with the reference delimiter set and drops empty
    * blocks/lines (normalize_layout_document semantics).
    */
  def tokens(docs: Dataset[(Long, String)], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue): Dataset[TokenRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, xml) =>
      parseAll(docId, xml, firstPage, lastPage)._1 }
  }

  def graphics(docs: Dataset[(Long, String)]): Dataset[GraphicRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, xml) => parseGraphics(docId, xml) }
  }

  /** One-pass parse for consumers that need BOTH tokens and graphics
    * (the graphics-wired pipeline): one StAX pass per document instead
    * of separate [[tokens]] + [[graphics]] scans re-parsing the same
    * XML. Callers typically `localCheckpoint()` the result and explode
    * each side with [[tokensOf]]/[[graphicsOf]].
    */
  def parsedDocs(docs: Dataset[(Long, String)], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue):
      Dataset[(Seq[TokenRow], Seq[GraphicRow])] = {
    import docs.sparkSession.implicits._
    docs.map { case (docId, xml) => parseAll(docId, xml, firstPage, lastPage) }
  }

  def tokensOf(parsed: Dataset[(Seq[TokenRow], Seq[GraphicRow])]): Dataset[TokenRow] = {
    import parsed.sparkSession.implicits._
    parsed.flatMap(_._1)
  }

  def graphicsOf(parsed: Dataset[(Seq[TokenRow], Seq[GraphicRow])]): Dataset[GraphicRow] = {
    import parsed.sparkSession.implicits._
    parsed.flatMap(_._2)
  }

  /** Convenience: read a directory of .alto.xml files via binaryFile.
    *
    * doc_id = xxhash64(path): stable, deterministic, and computed
    * map-side — no shuffle, no global ordering. (A `row_number` over a
    * global window would funnel the whole corpus through one task; at
    * corpus scale that is the front-door bottleneck.) Collision chance
    * over 64 bits is ~n²/2⁶⁵ — negligible below billions of files; a
    * strict pipeline can assert `count === countDistinct(doc_id)`.
    */
  /** Corrupt-input guards: at corpus scale some files are always
    * malformed, and an ingest that dies on the first bad byte is wrong
    * at 100 TB — one task failure fails the stage, and a retry hits the
    * same byte. [[tokensPermissive]] drops a corrupt document to zero
    * token rows; [[quarantine]] is the matching dead-letter query
    * (doc_id + parser error) over the same input, so the pipeline keeps
    * an auditable record of everything it skipped. The strict [[tokens]]
    * path stays the default — silently skipping data must be opt-in.
    */
  private[sources] def parseAllSafe(docId: Long, xml: String):
      Either[String, (Seq[TokenRow], Seq[GraphicRow])] =
    try Right(parseAll(docId, xml))
    catch { case e: Exception =>
      Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }

  def tokensPermissive(docs: Dataset[(Long, String)]): Dataset[TokenRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, xml) =>
      parseAllSafe(docId, xml).toOption.map(_._1).getOrElse(Nil)
    }
  }

  def quarantine(docs: Dataset[(Long, String)]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, xml) =>
      parseAllSafe(docId, xml).left.toOption.map(e => (docId, e))
    }.toDF("doc_id", "error")
  }

  def readDirectory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content").cast("string").as("xml"))
    val withId = raw.withColumn("doc_id", xxhash64(col("path")))
    tokens(withId.select($"doc_id", $"xml").as[(Long, String)]).toDF()
  }

  // ------------------------------------------------------------ parsing
  //
  // Single-pass StAX parse (no DOM tree): ALTO files are large and this
  // runs once per document per task — streaming halves the per-doc cost
  // and keeps allocation flat regardless of document size.

  // XMLInputFactory.newInstance does a service-loader scan — far more
  // expensive than the parse of a small document. One factory per task
  // thread (the factory API is not guaranteed thread-safe).
  private val factoryTL: ThreadLocal[javax.xml.stream.XMLInputFactory] =
    ThreadLocal.withInitial { () =>
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      // harden against XXE — documents are untrusted input
      f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }

  private def newStreamReader(xml: String): javax.xml.stream.XMLStreamReader =
    factoryTL.get().createXMLStreamReader(new java.io.StringReader(xml))

  private def attr(r: javax.xml.stream.XMLStreamReader, name: String): Option[String] = {
    val v = r.getAttributeValue(null, name)
    if (v == null || v.isEmpty) None else Some(v)
  }

  /** A coordinate attribute's value as `String.toDouble` reads it; 0.0
    * when absent or empty. */
  private def coord(v: String): Double =
    if (v == null || v.isEmpty) 0.0 else PdfSyntax.decimalValue(v)

  private def coordsOf(r: javax.xml.stream.XMLStreamReader, pageNumber: Int): Coords =
    Coords(
      x = coord(r.getAttributeValue(null, "HPOS")),
      y = coord(r.getAttributeValue(null, "VPOS")),
      width = coord(r.getAttributeValue(null, "WIDTH")),
      height = coord(r.getAttributeValue(null, "HEIGHT")),
      page_number = pageNumber)

  /** The attributes of a `String` element, read in one pass over its
    * attribute list. Each is its first attribute of that local name,
    * in any namespace, as `getAttributeValue(null, name)` finds it; null
    * when absent. */
  private final class StringAttrs {
    var styleRefs: String = null
    var hpos: String = null
    var vpos: String = null
    var width: String = null
    var height: String = null
    var content: String = null

    def read(r: javax.xml.stream.XMLStreamReader): Unit = {
      styleRefs = null; hpos = null; vpos = null
      width = null; height = null; content = null
      val n = r.getAttributeCount
      var i = 0
      while (i < n) {
        r.getAttributeLocalName(i) match {
          case "STYLEREFS" => if (styleRefs == null) styleRefs = r.getAttributeValue(i)
          case "HPOS" => if (hpos == null) hpos = r.getAttributeValue(i)
          case "VPOS" => if (vpos == null) vpos = r.getAttributeValue(i)
          case "WIDTH" => if (width == null) width = r.getAttributeValue(i)
          case "HEIGHT" => if (height == null) height = r.getAttributeValue(i)
          case "CONTENT" => if (content == null) content = r.getAttributeValue(i)
          case _ => ()
        }
        i += 1
      }
    }
  }

  /** `firstPage`/`lastPage` (1-based ordinal, inclusive) prune pages AT
    * THE PARSE: out-of-range pages are skipped wholesale — their
    * strings are never normalized, retokenized or materialized, the
    * reference's pdfalto `-f`/`-l` behavior (the converter only emits
    * the requested range; `external/pdfalto/wrapper.py:20-48`). Kept
    * pages retain their global ordinal `page_idx`, so the output is
    * identical to parsing everything and filtering — minus the work. */
  private[graft] def parseAll(docId: Long, xml: String,
      firstPage: Int = 1,
      lastPage: Int = Int.MaxValue): (Seq[TokenRow], Seq[GraphicRow]) = {
    val r = newStreamReader(xml)
    val rows = new TokenRows(docId)
    val graphics = ListBuffer.empty[GraphicRow]
    val fonts = scala.collection.mutable.Map.empty[String, FontInfo]
    val str = new StringAttrs

    var pageIdx = -1
    var pageInRange = true
    var blockHasTokens = false
    var inBlock = false
    var inLine = false
    // graphics-buffer positions of Illustrations nested in the current
    // block: their related_block_idx is only valid if the block ends up
    // token-bearing (otherwise blockIdx aliases the NEXT non-empty
    // block), so resolution is deferred to the block's END_ELEMENT
    val pendingNested = ListBuffer.empty[Int]

    import javax.xml.stream.XMLStreamConstants.{END_ELEMENT, START_ELEMENT}
    while (r.hasNext) {
      r.next() match {
        case START_ELEMENT if r.getNamespaceURI == AltoNs =>
          r.getLocalName match {
            case "TextStyle" =>
              val styles = attr(r, "FONTSTYLE").getOrElse("").split(' ').toSet
              val id = attr(r, "ID").orNull
              fonts(id) = FontInfo(id, attr(r, "FONTFAMILY").orNull,
                attr(r, "FONTSIZE").map(_.toDouble),
                styles("bold"), styles("italics"),
                styles("subscript"), styles("superscript"))
            case "Page" =>
              pageIdx += 1
              rows.pageIdx = pageIdx
              pageInRange = pageIdx + 1 >= firstPage && pageIdx + 1 <= lastPage
              // a skipped page's attributes are never even read — a
              // malformed out-of-range page must not fail a ranged
              // parse (the ServiceSpec proof that pruning is at the
              // parse, not a post-filter)
              if (pageInRange) {
                rows.pageNumber = attr(r, "PHYSICAL_IMG_NR").map(_.toInt).getOrElse(pageIdx + 1)
                rows.pageWidth = attr(r, "WIDTH").map(_.toDouble)
                rows.pageHeight = attr(r, "HEIGHT").map(_.toDouble)
              }
              rows.blockIdx = 0
            case "TextBlock" if pageInRange =>
              inBlock = true
              rows.lineIdx = 0
              blockHasTokens = false
            case "TextLine" if inBlock =>
              inLine = true
              rows.tokenIdx = 0
            case "String" if inLine =>
              str.read(r)
              rows.font =
                if (str.styleRefs == null || str.styleRefs.isEmpty) FontInfo.empty
                else fonts.getOrElse(str.styleRefs, FontInfo.empty)
              val x = coord(str.hpos)
              val y = coord(str.vpos)
              val w = coord(str.width)
              val h = coord(str.height)
              // normalize + retokenize (B1/B2), pro-rating coordinates
              val before = rows.tokenIdx
              TextNormalization.wordTokens(
                if (str.content == null) "" else str.content, x, y, w, h,
                rows.pageNumber, rows)
              if (rows.tokenIdx > before) blockHasTokens = true
            case "Illustration" if pageInRange =>
              // explicit reading-order adjacency: the enclosing block
              // for a nested Illustration, else the block just
              // completed — F4 prefers this over derived linkage
              val related =
                if (inBlock) Some(rows.blockIdx)
                else if (rows.blockIdx > 0) Some(rows.blockIdx - 1)
                else None
              if (inBlock) pendingNested += graphics.length
              graphics += GraphicRow(docId, pageIdx, rows.pageNumber,
                attr(r, "FILEID").orNull, attr(r, "TYPE").orNull,
                Some(coordsOf(r, rows.pageNumber)), related)
            case _ => ()
          }
        case END_ELEMENT if r.getNamespaceURI == AltoNs =>
          r.getLocalName match {
            case "TextLine" if inLine =>
              inLine = false
              if (rows.tokenIdx > 0) rows.lineIdx += 1 // drop empty lines (B3)
            case "TextBlock" if inBlock =>
              inBlock = false
              // a nested Illustration's enclosing-block adjacency only
              // holds if the block was kept; an empty (dropped) block
              // contributes no index, so the graphic reverts to derived
              // linkage rather than aliasing the next non-empty block
              if (!blockHasTokens) pendingNested.foreach { i =>
                graphics(i) = graphics(i).copy(related_block_idx = None)
              }
              pendingNested.clear()
              if (blockHasTokens) rows.blockIdx += 1 // drop empty blocks (B3)
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    (rows.rows.toList, graphics.toList)
  }

  private[sources] def parseTokens(docId: Long, xml: String): Seq[TokenRow] =
    parseAll(docId, xml)._1

  private[sources] def parseGraphics(docId: Long, xml: String): Seq[GraphicRow] =
    parseAll(docId, xml)._2
}
