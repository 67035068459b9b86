package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{BodyRuleLabeler, GraphicRow, ModelDataGenerators,
  Processor, ReferenceSegmenterRuleLabeler, RuleLabeler,
  SegmentationRuleLabeler, SemanticNode, SequenceLabeler, TokenRow,
  TrainingData}
import graft.sinks.{Assets, Jats, Tei}
import graft.sources.{AltoReader, AltoWriter, DocxReader, PdfReader}

/** Media types the service negotiates (reference
  * `utils/media_types.py:12-31`). */
object MediaTypes {
  val Pdf = "application/pdf"
  val Xml = "application/xml"
  val Zip = "application/zip"
  val TeiXml = "application/tei+xml"
  val JatsXml = "application/vnd.jats+xml"
  val TeiZip = "application/tei+xml+zip"
  val JatsZip = "application/vnd.jats+xml+zip"
  val AltoXml = "application/vnd.alto+xml"
  val Json = "application/json"
  val Docx =
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
  val Doc = "application/msword"
}

/** REST service layer over the [[graft.Graft]] facade — the reference's
  * FastAPI surface (`service/server.py:22-31` mounts the api app at
  * `/api`; `service/api/app.py:23-66` wires the routers) re-expressed
  * on the JDK's built-in HTTP server, so the library needs no
  * framework dependency. Each uploaded document is parsed on the
  * request thread and runs the SAME per-document fold the batch
  * pipeline runs inside its `groupByKey(doc_id)`
  * ([[Processor.documentNodes]]), then the same TEI/JATS/zip sinks, so
  * service responses and corpus-scale runs cannot drift apart — and a
  * document request starts no Spark job, as the reference parses one
  * document in memory per request (`app/parser.py:485-527`). Only the
  * `/api/models/<name>` routes, which have no per-document form yet,
  * run on Spark.
  *
  * Endpoints (paths and semantics mirror the reference):
  *  - `GET  /` and `/api` → `{"links": {}}` (`api/app.py:60-64`)
  *  - `POST /api/convert` — Accept picks TEI/JATS XML or ZIP;
  *    `includes=` comma-list restricts the response to requested
  *    fields (`api/routers/convert.py:35-130`,
  *    `processors/fulltext/config.py:58-83`)
  *  - `POST /api/processHeaderDocument` — front matter only
  *    (`api/routers/grobid.py:28-57`)
  *  - `POST /api/processFulltextDocument` (`grobid.py:59-88`)
  *  - `POST /api/processReferences` — references only
  *    (`grobid.py:90-124`)
  *  - `POST /api/processFulltextAssetDocument` — TEI/JATS zip with
  *    assets (`grobid.py:126-155`)
  *  - `POST /api/pdfalto` — the low-level ALTO surface
  *    (`api/routers/low_level.py:23-37`); PDF/DOCX uploads parse
  *    in-JVM (round 16) and return REAL ALTO XML, ALTO echoes
  *  - `POST /api/models/<name>?output_format=json|raw_data|data|xml`
  *    — per-model feature/label surface
  *    (`api/routers/models.py:47-58,500-638`); `no_use_segmentation`
  *    skips the segmentation view filter (`models.py:205-214`)
  *
  * The model labelers are injectable (the reference swaps Wapiti/
  * DELFT backends the same way); defaults are the deterministic rule
  * stand-ins the batch pipeline uses, so routes whose stand-in never
  * emits a label (affiliation-address under [[RuleLabeler]]) return
  * empty results exactly like the reference logs "empty document for
  * segmentation label" (`models.py:233-239`).
  *
  * Content upload accepts a raw body or a multipart `input`/`file`
  * field (`api/dependencies.py:53-96`); Accept negotiation is the
  * reference's exact-match-or-first rule (`dependencies.py:146-175`).
  */
final class GraftService(
    spark: SparkSession,
    host: String = "127.0.0.1",
    port: Int = 0,
    config: Processor.Config = Processor.Config(),
    segmentationLabeler: SequenceLabeler = new SegmentationRuleLabeler(),
    headerLabeler: SequenceLabeler = new RuleLabeler(),
    bodyLabeler: SequenceLabeler = new BodyRuleLabeler(),
    referenceSegmenterLabeler: SequenceLabeler =
      new ReferenceSegmenterRuleLabeler()) {

  import MediaTypes._

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)

  def boundPort: Int = server.getAddress.getPort

  def start(): GraftService = {
    server.createContext("/", handle(_))
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  // ------------------------------------------------------------ plumbing

  private case class Response(status: Int, contentType: String,
      body: Array[Byte])
  private object Response {
    def text(status: Int, contentType: String, s: String): Response =
      Response(status, contentType, s.getBytes(StandardCharsets.UTF_8))
    def detail(status: Int, msg: String): Response =
      // messages are often built from request content — full JSON string
      // escaping, not just quote rewriting, or the error body itself is
      // invalid JSON
      text(status, Json, s"""{"detail": ${jsonStr(msg)}}""")
  }


  private def handle(ex: HttpExchange): Unit = {
    val r =
      try route(ex)
      catch {
        case na: NotAcceptable => Response.detail(406,
          s"Supported media types: ${na.supported.mkString(", ")}")
        // unsupported REQUEST media type is 406 too (app.py:49-58 maps
        // UnsupportedRequestMediaTypeScienceBeamParserError → 406 with
        // the parser's message, parser.py:479-482)
        case um: UnsupportedRequestMediaType =>
          Response.detail(406, s"unsupported media type: '${um.mediaType}'")
        case pdf: PdfInputNotAvailable => Response.detail(501, pdf.getMessage)
        case e: IllegalArgumentException =>
          Response.detail(400, Option(e.getMessage).getOrElse("bad request"))
        // unhandled → 500 without leaking internals (api/app.py:38-47)
        case scala.util.control.NonFatal(_) =>
          Response.detail(500, "Internal Server Error")
      }
    ex.getResponseHeaders.set("Content-Type", r.contentType)
    ex.sendResponseHeaders(r.status, if (r.body.isEmpty) -1L else r.body.length.toLong)
    if (r.body.nonEmpty) ex.getResponseBody.write(r.body)
    ex.close()
  }

  private def route(ex: HttpExchange): Response = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    (ex.getRequestMethod, path) match {
      case ("GET", "" | "/api") => Response.text(200, Json, """{"links": {}}""")
      case ("POST", "/api/convert") => convert(ex)
      case ("POST", "/api/processHeaderDocument") =>
        processDocument(ex, Seq(TeiXml, JatsXml), frontRoots)
      case ("POST", "/api/processFulltextDocument") =>
        processDocument(ex, Seq(TeiXml, JatsXml), allRoots)
      case ("POST", "/api/processReferences") =>
        processDocument(ex, Seq(TeiXml, JatsXml), referenceRoots)
      case ("POST", "/api/processFulltextAssetDocument") =>
        processDocument(ex, Seq(TeiZip, JatsZip), allRoots)
      case ("POST", "/api/pdfalto") => pdfalto(ex)
      case ("POST", p) if p.startsWith("/api/models/") =>
        modelRoute(ex, p.stripPrefix("/api/models/"))
      case _ => Response.detail(404, "Not Found")
    }
  }

  /** Exact-match-or-first Accept negotiation (`dependencies.py:146-175`,
    * extended to comma lists with `;q=` parameters stripped). */
  private def negotiate(ex: HttpExchange, available: Seq[String]): String = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
      .map(_.trim).filter(_.nonEmpty)
    accept match {
      case None => available.head
      case Some(a) =>
        val entries = a.split(",").map(_.split(";").head.trim).filter(_.nonEmpty)
        if (entries.contains("*/*")) available.head
        else available.find(entries.contains)
          .getOrElse(throw new NotAcceptable(available))
    }
  }

  /** Uploaded source: raw body, or the `input`/`file` part of a
    * multipart form (`api/dependencies.py:53-96`). */
  private def sourceContent(ex: HttpExchange): Array[Byte] = {
    val body = ex.getRequestBody.readAllBytes()
    require(body.nonEmpty, "one of 'file', 'input' or raw body is required")
    val contentType =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (!contentType.startsWith("multipart/form-data")) body
    else {
      val boundary = contentType.split("boundary=").lift(1)
        .map(_.split(";").head.trim.stripPrefix("\"").stripSuffix("\""))
        .getOrElse(throw new IllegalArgumentException("missing multipart boundary"))
      val text = new String(body, StandardCharsets.ISO_8859_1)
      val parts = text.split(java.util.regex.Pattern.quote("--" + boundary))
      parts.collectFirst {
        case p if p.contains("name=\"input\"") || p.contains("name=\"file\"") =>
          val content = p.substring(p.indexOf("\r\n\r\n") + 4)
          content.stripSuffix("\r\n")
            .getBytes(StandardCharsets.ISO_8859_1)
      }.getOrElse(throw new IllegalArgumentException(
        "multipart request without 'input' or 'file' field"))
    }
  }

  /** Request media-type gate for the document-processing routes
    * (`app/parser.py:479-482`: anything that is not a processable type
    * raises UnsupportedRequestMediaType → 406). The effective type is
    * the declared Content-Type (multipart/form wrappers and
    * octet-stream defer to content sniffing, matching
    * `get_data_wrapper_with_improved_media_type_or_filename`). PDF and
    * DOCX process fully in-JVM (round 16: [[graft.sources.PdfReader]]
    * / [[graft.sources.DocxReader]]); legacy OLE `.doc`/`.rtf` still
    * needs the LibreOffice subprocess seam and reports 501.
    */
  private val SniffedTypes =
    Set("", Pdf, Xml, AltoXml, TeiXml, Docx, "text/xml", "text/plain",
      "application/octet-stream")

  private def isPdf(content: Array[Byte]): Boolean =
    content.length >= 4 && content.take(4).sameElements(
      "%PDF".getBytes(StandardCharsets.US_ASCII))

  /** OLE compound-file magic — legacy `.doc`. */
  private def isOleDoc(content: Array[Byte]): Boolean =
    content.length >= 4 &&
      (content(0) & 0xff) == 0xd0 && (content(1) & 0xff) == 0xcf &&
      (content(2) & 0xff) == 0x11 && (content(3) & 0xff) == 0xe0

  private def checkedSource(ex: HttpExchange): Array[Byte] = {
    val content = sourceContent(ex)
    val declared =
      Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        .split(";").head.trim.toLowerCase
    val effective =
      if (declared.startsWith("multipart/form-data") ||
        declared.startsWith("application/x-www-form")) ""
      else declared
    if (!SniffedTypes.contains(effective))
      throw new UnsupportedRequestMediaType(effective)
    if (isOleDoc(content))
      throw new PdfInputNotAvailable(
        "legacy .doc requires the LibreOffice conversion seam; " +
          "submit DOCX, PDF or ALTO XML")
    content
  }

  /** `first_page`/`last_page` request parameters (convert.py:40-58,
    * dependencies.py:105-114): the page range restricts the PARSED
    * document — pdfalto converts only those pages, and the ALTO parse
    * applies the same 1-based inclusive range at the StAX level
    * ([[graft.sources.AltoReader.parseAll]]): out-of-range pages never
    * tokenize, a ServiceSpec-pinned behavior. */
  private def pageBounds(params: Map[String, String]): (Int, Int) = {
    def intParam(name: String): Option[Int] = params.get(name).map { v =>
      try v.toInt
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"invalid $name: $v")
      }
    }
    (intParam("first_page").getOrElse(1),
      intParam("last_page").getOrElse(Int.MaxValue))
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
          case _ => None
        }
      }.toMap

  // ------------------------------------------------------ document flow

  private def docIdOf(content: Array[Byte]): Long =
    math.abs(scala.util.hashing.MurmurHash3.bytesHash(content)).toLong

  /** ALTO parse on the request thread. A malformed ALTO upload is a
    * server-side failure (500, pinned by ServiceSpec): its
    * NumberFormatException would otherwise map to 400. */
  private def parseAlto(docId: Long, xml: String, first: Int, last: Int)
      : (Seq[TokenRow], Seq[GraphicRow]) =
    try AltoReader.parseAll(docId, xml, first, last)
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException("ALTO parse failed", e)
    }

  /** Uploaded source → token rows, sniffing the payload: %PDF parses
    * through the in-JVM [[PdfReader]], an OOXML package through
    * [[DocxReader]] (docx → PDF → tokens, the reference's converter
    * chain in-engine), anything else is ALTO XML. The page range prunes
    * at each parser; a malformed PDF/DOCX upload surfaces as
    * IllegalArgumentException → 400. */
  private def parseTokens(content: Array[Byte],
      params: Map[String, String]): Seq[TokenRow] = {
    val docId = docIdOf(content)
    val (first, last) = pageBounds(params)
    if (isPdf(content)) PdfReader.parseTokens(docId, content, first, last)
    else if (DocxReader.isDocx(content))
      PdfReader.parseTokens(docId, DocxReader.toPdf(content), first, last)
    else parseAlto(docId, new String(content, StandardCharsets.UTF_8),
      first, last)._1
  }

  /** The token table of the model routes, which still run on Spark. */
  private def tokensOf(content: Array[Byte]): DataFrame = {
    import spark.implicits._
    spark.createDataset(parseTokens(content, Map.empty)).toDF()
  }

  /** One upload through the batch pipeline's per-document fold
    * ([[Processor.documentNodes]]): its final nodes, plus the asset
    * files of a zip response. A zip Accept FORCES graphic-asset
    * extraction (`app/parser.py:401-410` flips
    * `extract_graphic_assets=True` for ASSET_ZIP_MEDIA_TYPES regardless
    * of the session config), so the document's page graphics are
    * parsed, matched into figures (F3) and carry `<graphic url=…>`
    * asset ids the zip entries are named by. PDF image XObjects are the
    * graphics and their DECODED payloads become real PNG zip entries;
    * DOCX has no image parts in this subset; an ALTO document's ids
    * hash its XML string. */
  private def documentOf(content: Array[Byte], params: Map[String, String],
      withAssets: Boolean): (Seq[SemanticNode], Seq[Assets.AssetFile]) = {
    def withGraphics(docId: Long, toks: Seq[TokenRow],
        gfx: Seq[GraphicRow]): Seq[SemanticNode] =
      Processor.documentNodes(docId, toks,
        Processor.graphicsForMatchingLocal(toks, gfx),
        config.copy(extractGraphicAssets = true))
    val (first, last) = pageBounds(params)
    if (!withAssets || DocxReader.isDocx(content))
      (Processor.documentNodes(docIdOf(content), parseTokens(content, params),
        Nil, config), Nil)
    else if (isPdf(content)) {
      val docId = docIdOf(content)
      val (toks, gfx, pngs) =
        PdfReader.parseWithAssets(docId, content, first, last)
      (withGraphics(docId, toks, gfx),
        pngs.map { case (id, png) => Assets.AssetFile(s"$id.png", png) })
    } else {
      val xml = new String(content, StandardCharsets.UTF_8)
      val docId = math.abs(scala.util.hashing.MurmurHash3.stringHash(xml)).toLong
      val (toks, gfx) = parseAlto(docId, xml, first, last)
      (withGraphics(docId, toks, gfx), Nil)
    }
  }

  /** Root-subtree filter: keep the listed root node types and all
    * their descendants — the response-shaping counterpart of the
    * reference's per-request processor config
    * (`processors/fulltext/config.py:58-83`). */
  private def subtree(nodes: Seq[SemanticNode],
      keepRoot: String => Boolean): Seq[SemanticNode] = {
    val byParent = nodes.groupBy(_.parent_id)
    val keep = scala.collection.mutable.Set.empty[Long]
    def add(n: SemanticNode): Unit = {
      keep += n.node_id
      byParent.getOrElse(n.node_id, Nil).foreach(add)
    }
    nodes.filter(n => n.parent_id < 0 && keepRoot(n.node_type)).foreach(add)
    nodes.filter(n => keep(n.node_id))
  }

  private val referenceRootTypes = Set("reference", "raw_reference", "heading")
  private val allRoots: String => Boolean = _ => true
  /** FRONT_FIELDS of `config.py:22-27`: everything that is not a body
    * section, reference, or trailing unmatched-graphics note. */
  private val frontRoots: String => Boolean =
    t => !(t == "section" || referenceRootTypes(t) || t.startsWith("note["))
  private val referenceRoots: String => Boolean = referenceRootTypes

  /** `includes=` → root filter (`convert.py:42-53`, `config.py:58-70`;
    * an unrecognized field name keeps the full document, matching
    * `config.py:64-66`). */
  private def includesFilter(includes: Option[String]): String => Boolean = {
    val fields = includes.map(_.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val known = Set("title", "abstract", "authors", "affiliations", "references")
    if (fields.isEmpty || (fields -- known).nonEmpty) allRoots
    else {
      val types = fields.flatMap {
        case "title" => Set("title")
        case "abstract" => Set("abstract")
        case "authors" => Set("authors", "raw_authors")
        case "affiliations" => Set("affiliation_address")
        case "references" => referenceRootTypes
        case _ => Set.empty[String]
      }
      types.contains _
    }
  }

  private def renderDocument(nodes: Seq[SemanticNode],
      mediaType: String, assets: Seq[Assets.AssetFile]): Response = {
    val tei = Tei.buildTei(nodes)
    mediaType match {
      // TEI/JATS XML respond as plain application/xml (`utils.py:19-24`)
      case TeiXml => Response.text(200, Xml, tei)
      case JatsXml => Response.text(200, Xml, Jats.transform(tei))
      // one-document asset zip via the A8 sink (`sinks/Assets.scala`)
      case TeiZip => Response(200, Zip, Assets.buildZip("tei.xml", tei, assets))
      case JatsZip =>
        Response(200, Zip, Assets.buildZip("jats.xml", Jats.transform(tei), assets))
      case other => Response.detail(406, s"unsupported media type $other")
    }
  }

  private def isZip(mediaType: String): Boolean =
    mediaType == JatsZip || mediaType == TeiZip

  private def processDocument(ex: HttpExchange, acceptTypes: Seq[String],
      rootFilter: String => Boolean): Response = {
    val mediaType = negotiate(ex, acceptTypes)
    val params = queryParams(ex)
    val (nodes, assets) = documentOf(checkedSource(ex), params, isZip(mediaType))
    renderDocument(subtree(nodes, rootFilter), mediaType, assets)
  }

  private def convert(ex: HttpExchange): Response = {
    // the reference's full convert priority list INCLUDING the PDF
    // source passthrough (`routers/convert.py:113-124`)
    val mediaType = negotiate(ex, Seq(JatsXml, TeiXml, JatsZip, TeiZip, Pdf))
    val params = queryParams(ex)
    val src = checkedSource(ex)
    if (mediaType == Pdf) {
      // the reference returns the (converted) source PDF: a PDF
      // upload passes through, a DOCX converts in-JVM; an ALTO
      // source has no PDF to return
      if (isPdf(src)) return Response(200, Pdf, src)
      if (DocxReader.isDocx(src))
        return Response(200, Pdf, DocxReader.toPdf(src))
      return Response.detail(501,
        "no PDF source for an ALTO upload; request TEI/JATS")
    }
    val (nodes, assets) = documentOf(src, params, isZip(mediaType))
    renderDocument(
      subtree(nodes, includesFilter(params.get("includes"))),
      mediaType, assets)
  }

  /** Low-level ALTO endpoint (the reference returns the pdfalto output
    * for the uploaded source): PDF and DOCX uploads parse through the
    * in-JVM readers and serialize back as ALTO
    * ([[graft.sources.AltoWriter]]); an ALTO upload IS the source and
    * returns as-is. */
  private def pdfalto(ex: HttpExchange): Response = {
    val content = sourceContent(ex)
    val params = queryParams(ex)
    if (isPdf(content) || DocxReader.isDocx(content))
      Response(200, AltoXml, AltoWriter.toAlto(parseTokens(content, params))
        .getBytes(StandardCharsets.UTF_8))
    else Response(200, AltoXml, content)
  }

  // ------------------------------------------------------- model routes

  private val pos =
    Seq(col("page_idx"), col("block_idx"), col("line_idx"), col("token_idx"))
  private def docOrder = Window.partitionBy("doc_id").orderBy(pos: _*)
  private def lineW =
    Window.partitionBy("doc_id", "page_idx", "block_idx", "line_idx")

  private def tagOf(c: Column): Column =
    regexp_extract(c, "[BI]-(<[^>]+>)", 1)

  private def segView(toks: DataFrame, tags: String*): DataFrame =
    segmentationLabeler.label(toks)
      .filter(tagOf(col("label")).isin(tags: _*)).drop("label")

  private def labelFiltered(labeled: DataFrame, tags: String*): DataFrame =
    labeled.filter(tagOf(col("label")).isin(tags: _*)).drop("label")

  /** Name-model rule labels (`Processor.nameSpansOf` semantics as a
    * window expression): word tokens alternate forename/surname,
    * digits are markers, `and`/bare-comma delimiters are O; every
    * span is single-token, so all labels are `B-`. */
  private def nameLabels(toks: DataFrame): DataFrame = {
    val bare = regexp_replace(col("text"), "[,;]", "")
    val isDelim = lower(bare) === "and" || bare === ""
    val isMarker = bare.rlike("^[0-9]+$")
    val isWord = !isDelim && !isMarker
    val wordsBefore = count(when(isWord, 1))
      .over(docOrder.rowsBetween(Window.unboundedPreceding, -1))
    toks.withColumn("label",
      when(isDelim, "O")
        .when(isMarker, "B-<marker>")
        .when(wordsBefore % 2 === 0, "B-<forename>")
        .otherwise("B-<surname>"))
  }

  /** Citation-model rule labels (`Processor.citationSpansOf` as window
    * expressions over each raw-reference line): first two tokens →
    * author, a trailing 4-digit-year token → date, the middle →
    * title. */
  private def citationLabels(toks: DataFrame): DataFrame = {
    val ord = lineW.orderBy(col("token_idx"))
    val i = row_number().over(ord) - 1
    val n = count(lit(1)).over(lineW)
    val isYear =
      regexp_replace(col("text"), "[^0-9]", "").rlike("^[0-9]{4}$")
    val lastIsDate = i === n - 1 && n > 2 && isYear
    toks.withColumn("label",
      when(i === 0, "B-<author>").when(i === 1, "I-<author>")
        .when(lastIsDate, "B-<date>")
        .when(i === 2, "B-<title>").otherwise("I-<title>"))
  }

  /** Figure/table-model rule labels (`Processor.figureSpansOf`):
    * leading `Figure|Fig.|Table` + number → label, `:`/`.`/`-`
    * delimiters after it → O, the remainder → figDesc. */
  private def figureLabels(toks: DataFrame): DataFrame = {
    val ord = lineW.orderBy(col("token_idx"))
    val i = row_number().over(ord) - 1
    val isNum = col("text").rlike("^[0-9]+[.,:)]?$")
    val t0kw = max(when(i === 0,
      col("text").rlike("(?i)^(figure|fig\\.?|table)$"))).over(lineW)
    val t0num = max(when(i === 0, isNum)).over(lineW)
    val secondNum = max(when(i === 1, isNum)).over(lineW)
    val labelLen = when(t0kw && coalesce(secondNum, lit(false)), 2)
      .when(t0kw || t0num, 1).otherwise(0)
    val isDelim = col("text").isin(":", ".", "-")
    val descFirst = min(when(i >= labelLen && !isDelim, i)).over(lineW)
    toks.withColumn("label",
      when(i < labelLen, when(i === 0, "B-<label>").otherwise("I-<label>"))
        .when(descFirst.isNull || i < descFirst, "O")
        .when(i === descFirst, "B-<figDesc>")
        .otherwise("I-<figDesc>"))
  }

  /** Affiliation-model rule labels (`Processor.affiliationSpansOf`
    * granularity): digit tokens are markers, everything else one
    * institution run. */
  private def affiliationLabels(toks: DataFrame): DataFrame = {
    val isMarker = col("text").rlike("^[0-9]+$")
    val prevMarker = lag(isMarker, 1).over(docOrder)
    toks.withColumn("label",
      when(isMarker, "B-<marker>")
        .when(prevMarker.isNull || prevMarker, "B-<institution>")
        .otherwise("I-<institution>"))
  }

  private case class ModelRoute(
      view: (DataFrame, Boolean) => DataFrame,
      dataLines: DataFrame => DataFrame,
      label: DataFrame => DataFrame,
      trainingXml: DataFrame => DataFrame)

  private def headerView(toks: DataFrame, noSeg: Boolean): DataFrame =
    if (noSeg) toks else segView(toks, "<header>")
  private def fulltextViews(toks: DataFrame, noSeg: Boolean): DataFrame =
    if (noSeg) toks
    else segView(toks, "<body>", "<acknowledgement>", "<annex>")
  private def referencesView(toks: DataFrame, noSeg: Boolean): DataFrame =
    if (noSeg) toks else segView(toks, "<references>")
  private def citationView(toks: DataFrame, noSeg: Boolean): DataFrame =
    labelFiltered(referenceSegmenterLabeler.label(
      referencesView(toks, noSeg)), "<reference>")

  private val figurePaths = Map(
    "<figure_head>" -> Seq("text", "figure", "head"),
    "<label>" -> Seq("text", "figure", "head", "label"),
    "<figDesc>" -> Seq("text", "figure", "figDesc"))
  private val tablePaths = figurePaths.map { case (k, v) =>
    k -> v.map(e => if (e == "figure") """figure[@type="table"]""" else e)
  } ++ Map(
    "<content>" -> Seq("text", """figure[@type="table"]""", "table"),
    "<note>" -> Seq("text", """figure[@type="table"]""", "note"))

  /** The ten model routers of `api/routers/models.py:500-638`. */
  private lazy val modelRoutes: Map[String, ModelRoute] = Map(
    "segmentation" -> ModelRoute(
      (toks, _) => toks,
      graft.pipeline.SegmentationFeatures.dataLines(_),
      segmentationLabeler.label,
      TrainingData.segmentationTrainingXml),
    "header" -> ModelRoute(
      headerView,
      graft.pipeline.HeaderFeatures.dataLines,
      headerLabeler.label,
      TrainingData.headerTrainingXml),
    "name-header" -> ModelRoute(
      (toks, noSeg) =>
        labelFiltered(headerLabeler.label(headerView(toks, noSeg)), "<author>"),
      ModelDataGenerators.nameDataLines(_),
      nameLabels,
      TrainingData.nameTrainingXml),
    "affiliation-address" -> ModelRoute(
      (toks, noSeg) => labelFiltered(
        headerLabeler.label(headerView(toks, noSeg)), "<affiliation>"),
      ModelDataGenerators.affiliationDataLines(_),
      affiliationLabels,
      TrainingData.affiliationTrainingXml),
    "fulltext" -> ModelRoute(
      fulltextViews,
      ModelDataGenerators.fulltextDataLines,
      bodyLabeler.label,
      TrainingData.fulltextTrainingXml),
    "figure" -> ModelRoute(
      (toks, noSeg) => labelFiltered(
        bodyLabeler.label(fulltextViews(toks, noSeg)), "<figure>"),
      ModelDataGenerators.fulltextDataLines,
      figureLabels,
      TrainingData.trainingXml(_, Seq("text", "figure"), figurePaths,
        "tei", None)),
    "table" -> ModelRoute(
      (toks, noSeg) => labelFiltered(
        bodyLabeler.label(fulltextViews(toks, noSeg)), "<table>"),
      ModelDataGenerators.fulltextDataLines,
      figureLabels,
      TrainingData.trainingXml(_, Seq("text", """figure[@type="table"]"""),
        tablePaths, "tei", None)),
    "reference-segmenter" -> ModelRoute(
      referencesView,
      ModelDataGenerators.referenceSegmenterDataLines(_),
      referenceSegmenterLabeler.label,
      TrainingData.referenceSegmenterTrainingXml),
    "citation" -> ModelRoute(
      citationView,
      ModelDataGenerators.citationDataLines(_),
      citationLabels,
      TrainingData.citationTrainingXml),
    "name-citation" -> ModelRoute(
      (toks, noSeg) =>
        labelFiltered(citationLabels(citationView(toks, noSeg)), "<author>"),
      ModelDataGenerators.nameDataLines(_),
      nameLabels,
      TrainingData.nameTrainingXml))

  private val validOutputFormats = Seq("json", "raw_data", "data", "xml")

  private def modelRoute(ex: HttpExchange, name: String): Response =
    modelRoutes.get(name) match {
      case None => Response.detail(404, s"unknown model: $name")
      case Some(route) => runModelRoute(ex, name, route)
    }

  private def runModelRoute(ex: HttpExchange, name: String,
      route: ModelRoute): Response = {
    val params = queryParams(ex)
    val outputFormat = params.getOrElse("output_format", "json")
    require(validOutputFormats.contains(outputFormat),
      s"$outputFormat not in ${validOutputFormats.mkString("[", ", ", "]")}")
    val noSeg = params.get("no_use_segmentation").exists(v =>
      v == "true" || v == "1" || v.isEmpty)
    val view = route.view(tokensOf(checkedSource(ex)), noSeg)

    outputFormat match {
      case "raw_data" =>
        val dl = route.dataLines(view)
        val lines = dl.orderBy(posColsOf(dl): _*)
          .select("data_line").collect().map(_.getString(0))
        Response.text(200, "text/plain", lines.mkString("", "\n", "\n"))
      case "data" =>
        // tag-separated DELFT/GROBID data lines: feature lines joined
        // with their labels (the p15 export per request). Line-level
        // generators (segmentation) take the selected first token's
        // label, token-level ones join 1:1.
        val dl0 = route.dataLines(view)
        val labeled = route.label(view)
        val dl =
          if (dl0.columns.contains("token_idx"))
            dl0.join(labeled.select(
                (Seq(col("doc_id")) ++ pos :+ col("label")): _*),
              Seq("doc_id", "page_idx", "block_idx", "line_idx", "token_idx"))
          else dl0.join(
              labeled.filter(col("token_idx") === 0).select(col("doc_id"),
                col("page_idx"), col("block_idx"), col("line_idx"),
                col("label")),
              Seq("doc_id", "page_idx", "block_idx", "line_idx"))
            .withColumn("token_idx", lit(0))
        val rows = TrainingData.delftData(dl)
          .select("delft_data").collect().map(_.getString(0))
        Response.text(200, "text/plain", rows.mkString("", "\n", "\n"))
      case "xml" =>
        val rows = route.trainingXml(route.label(view))
          .select("training_tei").collect().map(_.getString(0))
        // xml replies stay text/plain like the reference
        // (models.py:144-168 — only json switches the response type)
        Response.text(200, "text/plain", rows.mkString("\n"))
      case _ =>
        val rows = route.label(view).orderBy(pos: _*)
          .select((pos.take(3) :+ col("text") :+ col("label")): _*)
          .collect()
        val lines = rows.groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
          .toSeq.sortBy(_._1)
          .map { case (_, rs) =>
            val toks = rs.map(r => jsonStr(r.getString(3))).mkString("[", ",", "]")
            val labs = rs.map(r => jsonStr(r.getString(4))).mkString("[", ",", "]")
            s"""{"tokens":$toks,"labels":$labs}"""
          }
        Response.text(200, Json,
          s"""{"model":${jsonStr(name)},"lines":${lines.mkString("[", ",", "]")}}""")
    }
  }

  private def posColsOf(df: DataFrame): Seq[Column] =
    Seq("page_idx", "block_idx", "line_idx", "token_idx")
      .filter(df.columns.contains).map(col)

  private def jsonStr(s: String): String = {
    val escaped = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    val sb = new java.lang.StringBuilder(escaped.length + 2)
    sb.append('"')
    escaped.foreach { c =>
      if (c < 0x20) sb.append(f"\\u${c.toInt}%04x") else sb.append(c)
    }
    sb.append('"')
    sb.toString
  }
}

/** 406 carrier (`dependencies.py:169-174`). */
private final class NotAcceptable(val supported: Seq[String])
  extends RuntimeException

/** 406 carrier for unsupported REQUEST media types
  * (`app/parser.py:162-166,479-482` + `app.py:49-58`). */
private final class UnsupportedRequestMediaType(val mediaType: String)
  extends RuntimeException

/** 501 carrier for inputs that still need an external binary: legacy
  * OLE `.doc`/`.rtf` conversion (LibreOffice seam, A3). PDF and DOCX
  * process fully in-JVM since round 16. */
private final class PdfInputNotAvailable(msg: String)
  extends RuntimeException(msg)

/** `graft.service.GraftService --port 8070 [--config config.yml]` —
  * the `server.py:79-95` entrypoint; `--config` boots the service from
  * a configuration file the way `app/parser.py:173-199` builds the
  * reference parser from its `AppConfig`. */
object GraftService {

  /** Boot a service from a config file ([[AppConfig]]): processor
    * flags map through `processors.fulltext.*`, and each model slot
    * (`models.segmentation/header/fulltext/reference_segmenter`) loads
    * its configured engine — a local ONNX file becomes a
    * [[graft.pipeline.NeuralLabeler]], a wapiti model file a
    * [[graft.pipeline.CrfLabeler]], anything unresolvable keeps the
    * deterministic rule labeler (the reference's soft degrade for a
    * missing model directory). */
  def fromConfigFile(spark: SparkSession, configPath: String,
      host: String = "127.0.0.1", port: Int = 0): GraftService = {
    val cfg = AppConfig.fromFile(configPath)
    new GraftService(spark, host = host, port = port,
      config = cfg.processorConfig,
      segmentationLabeler = cfg.labelerFor("segmentation")
        .getOrElse(new SegmentationRuleLabeler()),
      headerLabeler = cfg.labelerFor("header")
        .getOrElse(new RuleLabeler()),
      bodyLabeler = cfg.labelerFor("fulltext")
        .getOrElse(new BodyRuleLabeler()),
      referenceSegmenterLabeler = cfg.labelerFor("reference_segmenter")
        .getOrElse(new ReferenceSegmenterRuleLabeler()))
  }

  def main(args: Array[String]): Unit = {
    val port = args.sliding(2, 1).collectFirst {
      case Array("--port", p) => p.toInt
    }.getOrElse(8070)
    val host = args.sliding(2, 1).collectFirst {
      case Array("--host", h) => h
    }.getOrElse("0.0.0.0")
    val configPath = args.sliding(2, 1).collectFirst {
      case Array("--config", c) => c
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-service")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val service = configPath match {
      case Some(c) => fromConfigFile(spark, c, host = host, port = port).start()
      case None => new GraftService(spark, host = host, port = port).start()
    }
    println(s"graft service listening on $host:${service.boundPort}")
    Thread.currentThread().join()
  }
}
