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

  private def coordsOf(r: javax.xml.stream.XMLStreamReader, pageNumber: Int): Coords =
    Coords(
      x = attr(r, "HPOS").map(_.toDouble).getOrElse(0.0),
      y = attr(r, "VPOS").map(_.toDouble).getOrElse(0.0),
      width = attr(r, "WIDTH").map(_.toDouble).getOrElse(0.0),
      height = attr(r, "HEIGHT").map(_.toDouble).getOrElse(0.0),
      page_number = pageNumber)

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
    val tokens = ListBuffer.empty[TokenRow]
    val graphics = ListBuffer.empty[GraphicRow]
    val fonts = scala.collection.mutable.Map.empty[String, FontInfo]

    var pageIdx = -1
    var pageInRange = true
    var pageNumber = 0
    var pageW: Option[Double] = None
    var pageH: Option[Double] = None
    var blockIdx = 0
    var lineIdx = 0
    var tokenIdx = 0
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
              pageInRange = pageIdx + 1 >= firstPage && pageIdx + 1 <= lastPage
              // a skipped page's attributes are never even read — a
              // malformed out-of-range page must not fail a ranged
              // parse (the ServiceSpec proof that pruning is at the
              // parse, not a post-filter)
              if (pageInRange) {
                pageNumber = attr(r, "PHYSICAL_IMG_NR").map(_.toInt).getOrElse(pageIdx + 1)
                pageW = attr(r, "WIDTH").map(_.toDouble)
                pageH = attr(r, "HEIGHT").map(_.toDouble)
              }
              blockIdx = 0
            case "TextBlock" if pageInRange =>
              inBlock = true
              lineIdx = 0
              blockHasTokens = false
            case "TextLine" if inBlock =>
              inLine = true
              tokenIdx = 0
            case "String" if inLine =>
              val font = attr(r, "STYLEREFS").flatMap(fonts.get).getOrElse(FontInfo.empty)
              val c = coordsOf(r, pageNumber)
              // normalize + retokenize (B1/B2), pro-rating coordinates
              retokenize(TextNormalization.normalize(attr(r, "CONTENT").getOrElse("")), c)
                .foreach { case (text, whitespace, tc) =>
                  tokens += TokenRow(docId, pageIdx, blockIdx, lineIdx, tokenIdx,
                    text, whitespace, font, Some(tc), pageNumber, pageW, pageH)
                  tokenIdx += 1
                  blockHasTokens = true
                }
            case "Illustration" if pageInRange =>
              // explicit reading-order adjacency: the enclosing block
              // for a nested Illustration, else the block just
              // completed — F4 prefers this over derived linkage
              val related =
                if (inBlock) Some(blockIdx)
                else if (blockIdx > 0) Some(blockIdx - 1)
                else None
              if (inBlock) pendingNested += graphics.length
              graphics += GraphicRow(docId, pageIdx, pageNumber,
                attr(r, "FILEID").orNull, attr(r, "TYPE").orNull,
                Some(coordsOf(r, pageNumber)), related)
            case _ => ()
          }
        case END_ELEMENT if r.getNamespaceURI == AltoNs =>
          r.getLocalName match {
            case "TextLine" if inLine =>
              inLine = false
              if (tokenIdx > 0) lineIdx += 1 // drop empty lines (B3)
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
              if (blockHasTokens) blockIdx += 1 // drop empty blocks (B3)
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    (tokens.toList, graphics.toList)
  }

  private[sources] def parseTokens(docId: Long, xml: String): Seq[TokenRow] =
    parseAll(docId, xml)._1

  private[sources] def parseGraphics(docId: Long, xml: String): Seq[GraphicRow] =
    parseAll(docId, xml)._2

  /** Retokenize one ALTO String token, pro-rating coordinates by char
    * offset (layout_document.py:159-212 `retokenize_layout_token`):
    * whitespace splits attach to the preceding token's `whitespace`.
    */
  private[sources] def retokenize(text: String, c: Coords): Seq[(String, String, Coords)] = {
    if (text.trim.isEmpty) return Nil
    val parts = TextNormalization.tokenize(text, keepWhitespace = true)
    val totalLen = parts.map(_.length).sum.toDouble
    val out = ListBuffer.empty[(String, String, Coords)]
    var pendingText: String = null
    var pendingWs = ""
    var pendingOffset = 0
    var offset = 0
    parts.foreach { p =>
      if (p.trim.isEmpty) {
        pendingWs += p
        offset += p.length
      } else {
        if (pendingText != null) out += ((pendingText, pendingWs, proRate(c, pendingText, pendingOffset, totalLen)))
        pendingText = p
        pendingWs = ""
        pendingOffset = offset
        offset += p.length
      }
    }
    pendingWs += " " // reference default LayoutToken.whitespace = ' '
    if (pendingText != null) out += ((pendingText, pendingWs, proRate(c, pendingText, pendingOffset, totalLen)))
    out.toList
  }

  private def proRate(c: Coords, text: String, offset: Int, totalLen: Double): Coords =
    if (totalLen <= 0) c
    else c.copy(
      x = c.x + c.width * offset / totalLen,
      width = c.width * text.length / totalLen)
}
