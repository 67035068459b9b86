package graft

import java.util.Locale
import java.util.regex.Pattern

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Coordinates, Coords, Extractors, FontInfo, LocalLabelers, ModelExtractors,
  Processor, SemanticNode, TextNormalization, TokenRow}
import graft.sources.{PdfReader, PdfSyntax, PdfWriter}
import graft.sources.PdfWriter.{PImage, PTok}

/** Differential specs for the per-document kernels: each char-scan,
  * comparator-sort, scratch-buffer, typed-stack or streaming kernel
  * against the regex / `java.util.Formatter` / boxed-key / allocating
  * form it replaced, kept here as the oracle. The kernels define token
  * identity, token order, glyph positions, span texts and the TEI
  * `coords` bytes, so any difference is an output change.
  */
class TextKernelSpec extends AnyFunSuite {
  import TextKernelSpec.SpanTok

  /** The replaced forms, verbatim. */
  private object Oracle {
    /** `PdfReader.interpret` on a stack of boxed `PdfObj` operands. */
    def interpret(page: PdfReader.PageData)
        : (Seq[PdfReader.Word], Seq[PdfReader.PlacedImage]) = {
      import scala.collection.mutable
      import scala.collection.mutable.ListBuffer
      import PdfSyntax._
      import PdfReader.{FontRes, GlyphMath, PlacedImage, Word}
      type Mat = Array[Double]
      val Id: Mat = Array(1, 0, 0, 1, 0, 0)
      def mul(m1: Mat, m2: Mat): Mat = Array(
        m1(0) * m2(0) + m1(1) * m2(2),
        m1(0) * m2(1) + m1(1) * m2(3),
        m1(2) * m2(0) + m1(3) * m2(2),
        m1(2) * m2(1) + m1(3) * m2(3),
        m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
        m1(4) * m2(1) + m1(5) * m2(3) + m2(5))
      def apply(m: Mat, x: Double, y: Double): (Double, Double) =
        (m(0) * x + m(2) * y + m(4), m(1) * x + m(3) * y + m(5))
      val images = ListBuffer.empty[PlacedImage]
      val words = ListBuffer.empty[Word]
      var ctm: Mat = Id
      val gsStack = mutable.Stack.empty[Mat]
      val g = new GlyphMath
      var tlm: Mat = Id
      var font: FontRes = null
      var size = 0.0
      var charSpace = 0.0
      var wordSpace = 0.0
      var hScale = 1.0
      var leading = 0.0
      var rise = 0.0
      val sb = new StringBuilder
      var wx0 = 0.0
      var wy = 0.0
      var wWidth = 0.0
      var wSize = 0.0
      var wFont: FontRes = null
      var expectX = Double.NaN
      def flush(): Unit = {
        if (sb.nonEmpty && wFont != null) {
          words += Word(sb.toString, wx0,
            page.height - wy - wSize, wWidth, wSize, wFont, wSize)
          sb.clear()
        }
        sb.clear()
        expectX = Double.NaN
      }
      def showString(bytesStr: Array[Byte]): Unit = {
        if (font == null) return
        var i = 0
        while (i < bytesStr.length) {
          val code = bytesStr(i) & 0xff
          val w0 = font.width(code)
          val disp = (w0 / 1000.0 * size + charSpace +
            (if (code == 32) wordSpace else 0.0)) * hScale
          g.place(ctm, size, hScale, rise)
          val gx = g.trm(4) - page.mediaX
          val gy = g.trm(5) - page.mediaY
          val deviceW = disp * g.xScale
          if (code == 32) flush()
          else {
            val effSize = g.effSize(size)
            val continues = !expectX.isNaN &&
              math.abs(gx - expectX) <= 0.18 * math.max(effSize, 1.0) &&
              sb.nonEmpty && (wFont eq font) &&
              math.abs((page.height - gy - effSize) -
                (page.height - wy - wSize)) < 0.01
            if (!continues) {
              flush()
              wx0 = gx
              wy = gy
              wSize = effSize
              wFont = font
              wWidth = 0.0
            }
            sb.append(code.toChar)
            wWidth = (gx + deviceW) - wx0
            expectX = gx + deviceW
          }
          g.translate(disp)
          if (code == 32) expectX = Double.NaN
          i += 1
        }
      }
      val lx = new Lexer(page.content)
      val stack = mutable.ArrayBuffer.empty[PdfObj]
      var tok = lx.nextToken()
      while (tok != null) {
        tok match {
          case o: PdfObj => stack += o
          case Op(op) =>
            def num(i: Int): Double = stack.lift(stack.length - i) match {
              case Some(PNum(v)) => v
              case _ => 0.0
            }
            op match {
              case "q" => gsStack.push(ctm)
              case "Q" => if (gsStack.nonEmpty) ctm = gsStack.pop()
              case "cm" =>
                ctm = mul(Array(num(6), num(5), num(4), num(3), num(2), num(1)), ctm)
              case "BT" => g.setTm(Id); tlm = Id; flush()
              case "ET" => flush()
              case "Tf" =>
                flush()
                size = num(1)
                stack.lift(stack.length - 2) match {
                  case Some(PName(fn)) => font = page.fonts.getOrElse(fn,
                    FontRes(fn, "Helvetica", bold = false, italic = false, 0, null, 0))
                  case _ => ()
                }
              case "Td" =>
                tlm = mul(Array(1, 0, 0, 1, num(2), num(1)), tlm)
                g.setTm(tlm)
                flush()
              case "TD" =>
                leading = -num(1)
                tlm = mul(Array(1, 0, 0, 1, num(2), num(1)), tlm)
                g.setTm(tlm)
                flush()
              case "Tm" =>
                tlm = Array(num(6), num(5), num(4), num(3), num(2), num(1))
                g.setTm(tlm)
                flush()
              case "T*" =>
                tlm = mul(Array(1, 0, 0, 1, 0, -leading), tlm)
                g.setTm(tlm)
                flush()
              case "TL" => leading = num(1)
              case "Tc" => charSpace = num(1)
              case "Tw" => wordSpace = num(1)
              case "Tz" => hScale = num(1) / 100.0
              case "Ts" => rise = num(1)
              case "Tj" =>
                stack.lastOption.foreach {
                  case PStr(b) => showString(b)
                  case _ => ()
                }
              case "'" =>
                tlm = mul(Array(1, 0, 0, 1, 0, -leading), tlm)
                g.setTm(tlm)
                flush()
                stack.lastOption.foreach {
                  case PStr(b) => showString(b)
                  case _ => ()
                }
              case "\"" =>
                wordSpace = num(3)
                charSpace = num(2)
                tlm = mul(Array(1, 0, 0, 1, 0, -leading), tlm)
                g.setTm(tlm)
                flush()
                stack.lastOption.foreach {
                  case PStr(b) => showString(b)
                  case _ => ()
                }
              case "TJ" =>
                stack.lastOption.foreach {
                  case PArr(items) => items.foreach {
                    case PStr(b) => showString(b)
                    case PNum(v) =>
                      val adj = -v / 1000.0 * size * hScale
                      g.translate(adj)
                    case _ => ()
                  }
                  case _ => ()
                }
              case "Do" =>
                stack.lastOption.foreach {
                  case PName(n) if page.imageXObjects.contains(n) =>
                    val corners = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0),
                      (1.0, 1.0)).map { case (ux, uy) => apply(ctm, ux, uy) }
                    val xs = corners.map(_._1 - page.mediaX)
                    val ys = corners.map(_._2 - page.mediaY)
                    val x0 = xs.min; val x1 = xs.max
                    val y0 = ys.min; val y1 = ys.max
                    images += PlacedImage(n, x0, page.height - y1,
                      x1 - x0, y1 - y0)
                  case _ => ()
                }
              case _ => ()
            }
            stack.clear()
          case _ => ()
        }
        tok = lx.nextToken()
      }
      flush()
      (words.toList, images.toList)
    }

    /** `AltoReader.retokenize`: a word's parts as (text, whitespace,
      * coords) triples. */
    def retokenize(text: String, c: Coords): Seq[(String, String, Coords)] = {
      if (isBlank(text)) return Nil
      val parts = TextNormalization.tokenize(text, keepWhitespace = true)
      var chars = 0
      parts.foreach(p => chars += p.length)
      val totalLen = chars.toDouble
      def proRate(c: Coords, text: String, offset: Int, totalLen: Double): Coords =
        if (totalLen <= 0) c
        else c.copy(
          x = c.x + c.width * offset / totalLen,
          width = c.width * text.length / totalLen)
      val out = scala.collection.mutable.ListBuffer.empty[(String, String, Coords)]
      var pendingText: String = null
      var pendingWs = ""
      var pendingOffset = 0
      var offset = 0
      parts.foreach { p =>
        if (isBlank(p)) {
          pendingWs += p
          offset += p.length
        } else {
          if (pendingText != null)
            out += ((pendingText, pendingWs, proRate(c, pendingText, pendingOffset, totalLen)))
          pendingText = p
          pendingWs = ""
          pendingOffset = offset
          offset += p.length
        }
      }
      pendingWs = if (pendingWs.isEmpty) " " else pendingWs + " "
      if (pendingText != null)
        out += ((pendingText, pendingWs, proRate(c, pendingText, pendingOffset, totalLen)))
      out.toList
    }

    /** `SpanAssembly.assemble` over a collected token list. */
    def assemble(toks: Seq[SpanTok]): (String, String, String) = {
      def styleMask(f: FontInfo): Int =
        (if (f != null && f.is_bold) 1 else 0) |
          (if (f != null && f.is_italics) 2 else 0) |
          (if (f != null && f.is_subscript) 4 else 0) |
          (if (f != null && f.is_superscript) 8 else 0)
      val sb = new StringBuilder
      val boxes = scala.collection.mutable.ListBuffer.empty[Coords]
      val runs = scala.collection.mutable.ListBuffer.empty[(Int, Int, Int)]
      var runStart = 0
      var runEnd = 0
      var runMask = 0
      def closeRun(): Unit = {
        if (runMask != 0 && runEnd > runStart) runs += ((runStart, runEnd, runMask))
        runMask = 0
      }
      toks.foreach { t =>
        if (t.text != null && t.whitespace != null) {
          val mask = styleMask(t.font)
          if (mask != runMask) { closeRun(); runStart = sb.length; runMask = mask }
          sb.append(t.text)
          runEnd = sb.length
          sb.append(t.whitespace)
        }
        t.coords.foreach { c =>
          if (boxes.nonEmpty && boxes.last.page_number == c.page_number)
            boxes(boxes.length - 1) = Coordinates.union(boxes.last, c)
          else boxes += c
        }
      }
      var end = sb.length
      while (end > 0 && sb.charAt(end - 1) <= ' ') end -= 1
      closeRun()
      val styles = runs.collect {
        case (s, e, m) if s < end => s"$s,${math.min(e, end)},$m"
      }
      (sb.substring(0, end), Coordinates.formatList(boxes.toList),
        if (styles.isEmpty) null else styles.mkString(";"))
    }

    /** `LocalLabelers.spansLocal` collecting each span's tokens. */
    def spansLocal(labeled: IndexedSeq[(TokenRow, String)]): IndexedSeq[Extractors.Span] = {
      val out = new scala.collection.mutable.ListBuffer[Extractors.Span]
      var spanId = 0L
      var curTag: String = null
      var open = false
      val toks = new scala.collection.mutable.ListBuffer[SpanTok]
      def flush(): Unit = if (open) {
        val (text, coords, styles) = assemble(toks.toList)
        out += Extractors.Span(spanId, curTag, text, coords, styles)
      }
      labeled.foreach { case (t, label) =>
        val tag = LocalLabelers.stripTag(label)
        if (!open || label.startsWith("B-") || tag != curTag) {
          flush()
          spanId += 1
          curTag = tag
          toks.clear()
          open = true
        }
        toks += SpanTok(t.text, t.whitespace, t.coords, t.font)
      }
      flush()
      out.toIndexedSeq
    }

    def normalize(text: String): String = {
      val sb = new StringBuilder(text.length)
      text.foreach(c => sb.append(TextNormalization.replacements.getOrElse(c, c.toString)))
      sb.toString
        .replaceAll("(?U)\\s*\\n\\s*", "\n")
        .replaceAll("(?U)\\s{2,}", " ")
    }

    private val delimiterRegex =
      ("(?U)(" + TextNormalization.delimiters.map(c => Pattern.quote(c.toString)).mkString("|") +
        "|\\s)").r

    private def isBlank(s: String): Boolean =
      s.forall(c => Character.isWhitespace(c) || Character.isSpaceChar(c) ||
        c == '\u0085')

    def tokenize(text: String, keepWhitespace: Boolean): List[String] = {
      val parts = scala.collection.mutable.ListBuffer.empty[String]
      var last = 0
      for (m <- delimiterRegex.findAllMatchIn(text)) {
        if (m.start > last) parts += text.substring(last, m.start)
        parts += m.matched
        last = m.end
      }
      if (last < text.length) parts += text.substring(last)
      if (keepWhitespace) parts.toList
      else parts.toList.filterNot(isBlank)
    }

    def format(c: Coords): String =
      "%d,%.2f,%.2f,%.2f,%.2f".formatLocal(Locale.ROOT,
        c.page_number, c.x, c.y, c.width, c.height)

    def graphicText(g: Processor.GraphicIn, extractAssets: Boolean): String = {
      val coords = "%d,%.2f,%.2f,%.2f,%.2f".formatLocal(java.util.Locale.US,
        g.page_number, g.x, g.y, g.width, g.height)
      if (extractAssets) s"${g.graphic_type}|$coords|${g.graphic_id}"
      else s"${g.graphic_type}|$coords"
    }

    val bareNum = Pattern.compile("^[0-9]+$")
    val numPunct = Pattern.compile("^[0-9]+[.,:)]?$")
    val figWord = Pattern.compile("^(Figure|Fig\\.?)$")
    val markerish = Pattern.compile("^[0-9]+$|^[.)\\]\\[]$")
    def re(p: Pattern, s: String): Boolean = s != null && p.matcher(s).find()

    /** `LocalLabelers.views`: the tokens of each tag, in one pass. */
    def views(labeled: IndexedSeq[(TokenRow, String)],
        tags: IndexedSeq[String]): IndexedSeq[IndexedSeq[TokenRow]] = {
      def hasTag(label: String, tag: String): Boolean =
        if (label.startsWith("B-") || label.startsWith("I-"))
          label.length == tag.length + 2 && label.startsWith(tag, 2)
        else label == tag
      val out = IndexedSeq.fill(tags.length)(IndexedSeq.newBuilder[TokenRow])
      labeled.foreach { case (t, l) =>
        var k = 0
        while (k < tags.length && !hasTag(l, tags(k))) k += 1
        if (k < tags.length) out(k) += t
      }
      out.map(_.result())
    }

    /** `LocalLabelers.segmentationLabels` deciding per token, with a
      * (page, block) map of back-matter headings. */
    def segmentationLabels(toks: IndexedSeq[TokenRow]): IndexedSeq[(TokenRow, String)] = {
      val sizes = toks.flatMap(t => Option(t.font).flatMap(_.font_size))
      val titleBlock =
        if (sizes.isEmpty) None
        else {
          val maxFs = sizes.max
          val blocks = toks.filter(t => t.page_idx == 0 && t.font != null &&
            t.font.font_size.exists(_ == maxFs)).map(_.block_idx)
          if (blocks.isEmpty) None else Some(blocks.min)
        }
      val ack = Pattern.compile("(?i)^acknowledge?ments?$")
      val annex = Pattern.compile("(?i)^(appendix|annex)$")
      val refs = Pattern.compile("(?i)^(references?|bibliography)$")
      val back = scala.collection.mutable.Map.empty[(Int, Int), String]
      toks.foreach { t =>
        if (t.line_idx == 0 && t.token_idx == 0)
          back((t.page_idx, t.block_idx)) =
            if (re(ack, t.text)) "<acknowledgement>"
            else if (re(annex, t.text)) "<annex>"
            else if (re(refs, t.text)) "<references>"
            else null
      }
      toks.map { t =>
        val prefix = if (t.line_idx == 0 && t.token_idx == 0) "B-" else "I-"
        val tag =
          if (t.page_idx == 0 && titleBlock.exists(tb => t.block_idx <= tb + 1)) "<header>"
          else Option(back.getOrElse((t.page_idx, t.block_idx), null)).getOrElse("<body>")
        (t, prefix + tag)
      }
    }

    /** `Coordinates.mergeFormatted` through parse, merge and format. */
    def mergeFormatted(ss: Seq[String]): String =
      Coordinates.formatList(Coordinates.merge(
        ss.filter(s => s != null && s.nonEmpty).flatMap(Coordinates.parse)))

    def normKey(s: String): String = s.toLowerCase.replaceAll("[^a-z0-9]", "")

    def prefixKey(s: String): String =
      s.split("\\s+").filter(_.nonEmpty).map { t =>
        normKey(if (t.exists(_.isDigit)) t else t.take(1))
      }.mkString

    def nameSpansOf(text: String): Seq[Extractors.Span] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val out = scala.collection.mutable.ListBuffer.empty[Extractors.Span]
      var i = 0L
      var expectForename = true
      toks.foreach { t =>
        val bare = t.replaceAll("[,;]", "")
        if (bare.equalsIgnoreCase("and") || bare.isEmpty) {
        } else if (bare.forall(_.isDigit)) {
          out += Extractors.Span(i, "<marker>", bare); i += 1
        } else {
          val tag = if (expectForename) "<forename>" else "<surname>"
          out += Extractors.Span(i, tag, t); i += 1
          expectForename = !expectForename
        }
      }
      out.toList
    }

    def citationSpansOf(text: String): Seq[Extractors.Span] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      if (toks.isEmpty) return Nil
      val (authors, rest0) = toks.splitAt(math.min(2, toks.length))
      val (rest, date) =
        if (rest0.nonEmpty && rest0.last.replaceAll("[^0-9]", "").matches("[0-9]{4}"))
          (rest0.dropRight(1), Some(rest0.last))
        else (rest0, None)
      val out = scala.collection.mutable.ListBuffer.empty[Extractors.Span]
      var i = 0L
      if (authors.nonEmpty) { out += Extractors.Span(i, "<author>", authors.mkString(" ")); i += 1 }
      if (rest.nonEmpty) { out += Extractors.Span(i, "<title>", rest.mkString(" ")); i += 1 }
      date.foreach { d => out += Extractors.Span(i, "<date>", d); i += 1 }
      out.toList
    }

    def figureSpansOf(text: String): Seq[Extractors.Span] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      var i = 0
      if (i < toks.length && toks(i).matches("(?i)(figure|fig\\.?|table)")) i += 1
      if (i < toks.length && toks(i).matches("[0-9]+[.,:)]?")) i += 1
      val label = toks.take(i).mkString(" ")
      val rest = toks.drop(i).dropWhile(t => t == ":" || t == "." || t == "-")
      val out = scala.collection.mutable.ListBuffer.empty[Extractors.Span]
      if (label.nonEmpty) out += Extractors.Span(0L, "<label>", label)
      if (rest.nonEmpty) out += Extractors.Span(1L, "<figDesc>", rest.mkString(" "))
      out.toList
    }

    def matchContentIdsLocal(citations: Seq[(Long, String)],
        candidates: Seq[(String, String)],
        partialCandidates: Seq[(String, String)] = Nil): Map[Long, String] = {
      val byExact = candidates.map { case (id, lt) => normKey(lt) -> id }.toMap
      val byPrefix = candidates.map { case (id, lt) => prefixKey(lt) -> id }.toMap
      def partialTokens(s: String): List[String] =
        TextNormalization.tokenize(s).map(normKey)
      val candIndex: Map[String, List[String]] = {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ListBuffer[String]]
        partialCandidates.foreach { case (id, lt) =>
          partialTokens(lt).foreach { tok =>
            m.getOrElseUpdate(tok, scala.collection.mutable.ListBuffer.empty[String]) += id
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

    /** `Processor.citationPass` with a filter and a groupBy per node type. */
    def citationPass(docId: Long,
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
      Processor.renumberReferenceIds(segNodes ++ citNodes)
    }

    /** `Processor.assignIdsAndTargets` with a filter pass per node type. */
    def assignIdsAndTargets(nodes: Seq[SemanticNode]): Seq[SemanticNode] = {
      var figN = 0
      var tabN = 0
      val withIds = nodes.sortBy(_.node_id).toList.map { n =>
        n.node_type match {
          case "figure" => val id = s"fig_$figN"; figN += 1; n.copy(content_id = id)
          case "table" => val id = s"tab_$tabN"; tabN += 1; n.copy(content_id = id)
          case _ => n
        }
      }
      val byId = new scala.collection.mutable.LongMap[SemanticNode]
      withIds.foreach(n => byId.update(n.node_id, n))
      def labelsOf(targetType: String): Seq[(String, String)] =
        withIds.filter(_.node_type == "label").flatMap { l =>
          byId.get(l.parent_id).filter(_.node_type == targetType)
            .map(p => (p.content_id, l.text))
        }
      def citationsOf(citType: String): Seq[(Long, String)] =
        withIds.filter(_.node_type == citType).map(n => n.node_id -> n.text)
      val demotedIds = withIds.filter(_.node_type == "invalid_reference")
        .flatMap(n => Option(n.content_id)).toSet
      def refTexts(childType: String): Seq[(String, String)] =
        withIds.filter(_.node_type == childType).flatMap { c =>
          byId.get(c.parent_id).filter(p => p.node_type == "raw_reference" &&
              !Option(p.content_id).exists(demotedIds))
            .map(p => (p.content_id, c.text))
        }
      val matched =
        matchContentIdsLocal(citationsOf("figure_citation"), labelsOf("figure")) ++
          matchContentIdsLocal(citationsOf("table_citation"), labelsOf("table")) ++
          matchContentIdsLocal(citationsOf("reference_citation"), refTexts("label"),
            refTexts("raw_reference_text"))
      withIds.map(n =>
        matched.get(n.node_id).map(t => n.copy(content_id = t)).getOrElse(n))
    }
  }

  private def show(s: String): String =
    if (s == null) "null" else s.map(c => f"U+${c.toInt}%04X").mkString(" ")

  private def assertTextKernels(s: String): Unit = {
    assert(TextNormalization.normalize(s) == Oracle.normalize(s),
      s"normalize(${show(s)})")
    assert(TextNormalization.tokenize(s, keepWhitespace = true) ==
      Oracle.tokenize(s, keepWhitespace = true), s"tokenize(${show(s)}, true)")
    assert(TextNormalization.tokenize(s) == Oracle.tokenize(s, keepWhitespace = false),
      s"tokenize(${show(s)}, false)")
  }

  private val unicodeSpace = Pattern.compile("(?U)\\s")

  /** Every `(?U)\s` char of the BMP. */
  private val spaceChars: Seq[Char] =
    (0 to 0xffff).map(_.toChar).filter(c => unicodeSpace.matcher(c.toString).matches())

  test("isSpace is exactly Java's (?U)\\s on every BMP char") {
    (0 to 0xffff).foreach { i =>
      val c = i.toChar
      assert(TextNormalization.isSpace(c) == unicodeSpace.matcher(c.toString).matches(),
        show(c.toString))
    }
    // the no-break spaces are in, the isWhitespace-only separators out
    assert(spaceChars.contains('\u00a0') && spaceChars.contains('\u202f'))
    assert(!spaceChars.contains('\u001c') && Character.isWhitespace('\u001c'))
  }

  test("normalize and tokenize equal their regex forms on every BMP char in context") {
    (0 to 0xffff).foreach { i =>
      val c = i.toChar
      Seq(s"$c", s"a${c}b", s"$c$c", s" $c\n", s"\n$c ", s"x$c$c$c y", s"1$c.",
        "\u00a0" + c + "\u2009").foreach(assertTextKernels)
    }
  }

  test("normalize and tokenize equal their regex forms on random strings " +
      "over whitespace, separators, delimiters, ligatures and a surrogate pair") {
    val alphabet: IndexedSeq[String] =
      (spaceChars ++ ('\u001c' to '\u001f') ++ TextNormalization.delimiters ++
        TextNormalization.replacements.keys ++ "\u2010\u2011\u2012\u2013\u2014\u2015\u2212-ab1Z.").map(_.toString)
        .toIndexedSeq :+ "\ud83d\ude00" :+ "\r\n"
    val rnd = new Random(20261018L)
    (0 until 30000).foreach { _ =>
      assertTextKernels(Seq.fill(rnd.nextInt(25))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
  }

  /** Doubles of every class `%.2f` treats differently. */
  private val formatValues: IndexedSeq[Double] = {
    val rnd = new Random(7L)
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e20, -1e20, Double.MaxValue, -Double.MaxValue,
      Double.MinPositiveValue, -Double.MinPositiveValue, 1e-9, -1e-9, -0.004,
      -0.005, 0.005, 0.015, 0.125, 1.005, 2.675, 0.001, 0.0009999, 9999999.995,
      1e7, 1e7 - 0.005, 1e15 + 0.5, 4503599627370497.0, 612.0, 792.0, 0.1, 0.3,
      // exact halves past 1e7, where Double.toString switches to E-notation
      10000000.125, -10000000.125, 25000000.625, 123456789.375)
    val random = Seq.fill(20000)(rnd.nextDouble() * 1000) ++
      Seq.fill(20000)(rnd.nextDouble() * 2e4 - 1e4) ++
      Seq.fill(20000)(rnd.nextInt(2000000) / 100.0) ++
      Seq.fill(20000)(math.pow(10, rnd.nextInt(30) - 10) * rnd.nextDouble())
    val halves = Seq.fill(20000) {
      val s = f"${rnd.nextInt(100000)}.${rnd.nextInt(100)}%02d5"
      if (rnd.nextBoolean()) s.toDouble else -s.toDouble
    } ++ (0 until 10000).map(k => (k * 10 + 5) / 1000.0)
    val rawBits = Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    (specials ++ random ++ halves ++ rawBits).toIndexedSeq
  }

  test("Coordinates.format equals formatLocal(Locale.ROOT, \"%d,%.2f,…\") on " +
      "random, x.xx5, raw-bit and special doubles") {
    val vs = formatValues
    val pages = IndexedSeq(1, 0, -3, 12, Int.MaxValue, Int.MinValue)
    vs.indices.foreach { i =>
      val c = Coords(vs(i), vs((i + 1) % vs.length), vs((i + 7) % vs.length),
        vs((i + 13) % vs.length), pages(i % pages.length))
      assert(Coordinates.format(c) == Oracle.format(c), c.toString)
    }
    // the list forms inherit the kernel
    val cs = vs.take(40).grouped(4).map(g => Coords(g(0), g(1), g(2), g(3), 2)).toSeq
    assert(Coordinates.formatList(cs) == cs.map(Oracle.format).mkString(";"))
  }

  test("graphicText renders coords like its old formatLocal(Locale.US) form") {
    val vs = formatValues
    (0 until vs.length by 4).foreach { i =>
      val g = Processor.GraphicIn(7L, "g-1", "bitmap", vs(i), vs((i + 1) % vs.length),
        vs((i + 2) % vs.length), vs((i + 3) % vs.length), i % 9, 612.0, 792.0)
      Seq(true, false).foreach { assets =>
        assert(Processor.graphicText(g, assets) == Oracle.graphicText(g, assets), g.toString)
      }
    }
  }

  test("Processor.normKey equals its replaceAll form on random mixed-case " +
      "Unicode strings") {
    def oracle(s: String): String = s.toLowerCase.replaceAll("[^a-z0-9]", "")
    val alphabet = (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).map(_.toString) ++
      Seq("\u0130", "\u212a", "\u00df", "\u00c9", "\u03a3", "\ufb01", "-", ".",
        " ", "\u00a0", "\ud83d\ude00", "\u2019")
    val rnd = new Random(5L)
    (alphabet :+ "").foreach(s => assert(Processor.normKey(s) == oracle(s), show(s)))
    (0 until 30000).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(Processor.normKey(s) == oracle(s), show(s))
    }
  }

  test("LocalLabelers token predicates equal their Pattern.find forms on " +
      "random digit/punctuation/Fig/line-terminator strings") {
    val alphabet = IndexedSeq("0", "7", "12", ".", ",", ":", ")", "(", "]", "[",
      "Fig", "Figure", "Fig.", "F", "i", "g", "ure", "\n", "\r", "\r\n",
      "\u0085", "\u2028", "\u2029", " ", "\u00a0", "\u2009", "x", "-")
    val rnd = new Random(11L)
    val samples = (null: String) +: "" +: alphabet ++:
      Seq.fill(60000)(Seq.fill(rnd.nextInt(5) + 1)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val pairs = Seq[(String, String => Boolean, Pattern)](
      ("bareNum", LocalLabelers.bareNum, Oracle.bareNum),
      ("numPunct", LocalLabelers.numPunct, Oracle.numPunct),
      ("figWord", LocalLabelers.figWord, Oracle.figWord),
      ("markerish", LocalLabelers.markerish, Oracle.markerish))
    samples.foreach { s =>
      pairs.foreach { case (name, kernel, p) =>
        assert(kernel(s) == Oracle.re(p, s), s"$name(${show(s)})")
      }
    }
    // Java's $ also matches before one final line terminator
    assert(LocalLabelers.bareNum("12\n") && LocalLabelers.bareNum("12\r\n"))
    assert(!LocalLabelers.bareNum("12\n\n") && !LocalLabelers.figWord("Fig.\n\r"))
  }

  test("PDF number scan equals String.toDouble on signs, dots, -0, long " +
      "mantissas, long fractions and random strings; malformed input throws alike") {
    def oracle(s: String): Either[Class[_], Long] =
      try Right(java.lang.Double.doubleToRawLongBits(s.toDouble))
      catch { case e: Exception => Left(e.getClass) }
    def kernel(s: String): Either[Class[_], Long] = {
      // embedded in other bytes, as the lexer sees it
      val b = ("x" + s + "y").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      try Right(java.lang.Double.doubleToRawLongBits(
        PdfSyntax.numberValue(b, 1, b.length - 1)))
      catch { case e: Exception => Left(e.getClass) }
    }
    def check(s: String): Unit = assert(kernel(s) == oracle(s), show(s))
    val fixed = Seq("0", "-0", "+0", "-0.0", "-.0", "0.", ".5", "-.5", "+.5", "5.",
      "-5.", "+5", "12", "-12.75", "612", "792.000", "0.1", "0.3", "1.005",
      "123456789012345", "1234567890123456", "12345678901234567",
      "123456789012345678901234567890", "999999999999999", "9999999999999999",
      "0.123456789012345", "0.1234567890123456", "1.23456789012345",
      "12345678.9012345", "000000000000000000000001", "00000000000000000.5",
      "0.0000000000000000000001", "0.00000000000000000000001",
      "1.0000000000000000000000", "1.00000000000000000000000",
      "4503599627370497", "9007199254740993", "0.30000000000000004",
      "1.2.3", "..", ".", "-", "+", "+.", "-.", "", "+-1", "--1", "1-", "1+1",
      " 1", "1 ", "1e5", "1E-3", "NaN", "Infinity", "0x10", "1d", "1f", "١")
    fixed.foreach(check)
    assert(kernel("1.2.3") == Left(classOf[NumberFormatException]))
    val rnd = new Random(29L)
    val alphabet = "0123456789.-+0000999e x"
    (0 until 100000).foreach { _ =>
      check(Seq.fill(rnd.nextInt(26))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    // well-formed decimals of every length around the fast path's limits
    (0 until 100000).foreach { _ =>
      val int = Seq.fill(rnd.nextInt(19))(('0' + rnd.nextInt(10)).toChar).mkString
      val frac = Seq.fill(rnd.nextInt(26))(('0' + rnd.nextInt(10)).toChar).mkString
      val sign = Seq("", "-", "+")(rnd.nextInt(3))
      check(sign + int + (if (frac.nonEmpty || rnd.nextBoolean()) "." + frac else ""))
    }
  }

  test("PDF lexer yields operator keywords and literals as before") {
    val ops = Seq("b", "B", "b*", "B*", "BDC", "BI", "BMC", "BT", "BX", "c", "cm",
      "CS", "cs", "d", "d0", "d1", "Do", "DP", "EI", "EMC", "ET", "EX", "f", "F", "f*",
      "G", "g", "gs", "h", "i", "ID", "j", "J", "K", "k", "l", "m", "M", "MP", "n", "q",
      "Q", "re", "RG", "rg", "ri", "s", "S", "SC", "sc", "SCN", "scn", "sh", "T*", "Tc",
      "Td", "TD", "Tf", "Tj", "TJ", "TL", "Tm", "Tr", "Ts", "Tw", "Tz", "v", "w", "W",
      "W*", "y", "'", "\"", "obj", "endobj", "stream", "Tx", "TTT", "ABCD", "x")
    val src = (ops :+ "true false null [ 1 -2.5 ] << /K 3 0 R >>").mkString(" ")
    val lx = new PdfSyntax.Lexer(src.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val got = Iterator.continually(lx.nextToken()).takeWhile(_ != null).toList
    assert(got == ops.map(PdfSyntax.Op(_)) ++ Seq(PdfSyntax.PBool(true),
      PdfSyntax.PBool(false), PdfSyntax.PNull,
      PdfSyntax.PArr(Vector(PdfSyntax.PNum(1), PdfSyntax.PNum(-2.5))),
      PdfSyntax.PDict(Map("K" -> PdfSyntax.PRef(3, 0)))))
  }

  test("LocalLabelers.ordered equals the 4-tuple sortBy, duplicates in input order") {
    val rnd = new Random(31L)
    (0 until 300).foreach { _ =>
      val n = rnd.nextInt(200)
      val toks = Seq.tabulate(n) { i =>
        TokenRow(1L, rnd.nextInt(3), rnd.nextInt(4), rnd.nextInt(3), rnd.nextInt(5) - 1,
          s"t$i", " ", FontInfo.empty, None, 1, None, None)
      }
      val oracle = toks.sortBy(t => (t.page_idx, t.block_idx, t.line_idx, t.token_idx))
      val got = LocalLabelers.ordered(toks)
      assert(got.length == oracle.length)
      assert(got.zip(oracle).forall { case (a, b) => a eq b })
    }
  }

  test("PdfReader word comparators equal the (yTop, x) and x sortBy, with " +
      "duplicate keys, -0.0 and NaN") {
    val vs = IndexedSeq(0.0, -0.0, 1.5, -1.5, 72.25, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e-300, 700.0)
    val rnd = new Random(37L)
    (0 until 300).foreach { _ =>
      val words = Seq.tabulate(rnd.nextInt(120)) { i =>
        PdfReader.Word(s"w$i", vs(rnd.nextInt(vs.length)), vs(rnd.nextInt(vs.length)),
          1.0, 10.0, null, 10.0)
      }
      def sorted(cmp: java.util.Comparator[PdfReader.Word]) = {
        val a = words.toArray
        java.util.Arrays.sort(a, cmp)
        a.toSeq
      }
      val byTop = sorted(PdfReader.TopThenX)
      assert(byTop.zip(words.sortBy(w => (w.yTop, w.x))).forall { case (a, b) => a eq b })
      val byX = sorted(PdfReader.ByX)
      assert(byX.zip(words.sortBy(_.x)).forall { case (a, b) => a eq b })
    }
  }

  test("GlyphMath's scratch-matrix products equal the allocating mul form, " +
      "bit for bit up to NaN payloads, on random matrices with ±0.0, ∞ and NaN") {
    type Mat = Array[Double]
    def mul(m1: Mat, m2: Mat): Mat = Array(
      m1(0) * m2(0) + m1(1) * m2(2),
      m1(0) * m2(1) + m1(1) * m2(3),
      m1(2) * m2(0) + m1(3) * m2(2),
      m1(2) * m2(1) + m1(3) * m2(3),
      m1(4) * m2(0) + m1(5) * m2(2) + m2(4),
      m1(4) * m2(1) + m1(5) * m2(3) + m2(5))
    val specials = IndexedSeq(0.0, -0.0, 1.0, -1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e308, 4.9e-324)
    val rnd = new Random(41L)
    def v(): Double = rnd.nextInt(4) match {
      case 0 => specials(rnd.nextInt(specials.length))
      case 1 => rnd.nextInt(2000) / 100.0 - 10
      case _ => rnd.nextGaussian() * 100
    }
    // every bit but a NaN's sign and payload, which the JIT may change
    // by commuting the operands of one product
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def same(a: Double, b: Double, what: String) = assert(bits(a) == bits(b), what)
    (0 until 20000).foreach { _ =>
      val g = new PdfReader.GlyphMath
      var tm: Mat = Array.fill(6)(v())
      g.setTm(tm)
      val ctm: Mat = Array.fill(6)(v())
      // several glyphs in a row: the text matrix advances in place
      (0 until 4).foreach { _ =>
        val (size, hScale, rise, disp) = (v(), v(), v(), v())
        g.place(ctm, size, hScale, rise)
        val trm = mul(mul(Array(size * hScale, 0, 0, size, 0, rise), tm), ctm)
        val dev = mul(tm, ctm)
        same(g.trm(4), trm(4), "trm x"); same(g.trm(5), trm(5), "trm y")
        same(g.effSize(size), size * math.sqrt(dev(2) * dev(2) + dev(3) * dev(3)), "effSize")
        same(disp * g.xScale, disp * math.sqrt(dev(0) * dev(0) + dev(1) * dev(1)), "deviceW")
        g.translate(disp)
        tm = mul(Array(1, 0, 0, 1, disp, 0), tm)
        (0 until 6).foreach(k => same(g.tm(k), tm(k), s"tm($k)"))
      }
    }
  }

  /** A double's bits: -0.0 apart from 0.0, NaN payloads aside (the JIT
    * may commute the operands of one product, see the GlyphMath case). */
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def outcome[A](f: => A): Either[(Class[_], String), A] =
    try Right(f)
    catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  /** An interpreter's words and image placements, doubles by bits. */
  private def placed(r: (collection.Seq[PdfReader.Word], collection.Seq[PdfReader.PlacedImage])) =
    (r._1.map(w => (w.text, bits(w.x), bits(w.yTop), bits(w.width), bits(w.height),
      w.font, bits(w.size))).toList,
      r._2.map(i => (i.resName, bits(i.x), bits(i.yTop), bits(i.width), bits(i.height))).toList)

  /** The text-operator fixtures of PdfSpec. */
  private val contentFixtures = Seq(
    """BT /F1 10 Tf 1 0 0 1 50 700 Tm (alpha beta) Tj ET
      |BT /F1 10 Tf 1 0 0 1 50 650 Tm [(ker) -18 (ned)] TJ ET
      |BT /F1 10 Tf 1 0 0 1 50 600 Tm [(two) -300 (words)] TJ ET
      |""".stripMargin,
    """BT /F1 10 Tf 14 TL 1 0 0 1 50 700 Tm (one) Tj T* (two) Tj ET
      |BT /F1 10 Tf 1 0 0 1 50 600 Tm 0 -20 TD (three) Tj ET
      |BT /F1 10 Tf 14 TL 1 0 0 1 50 500 Tm (x) Tj (four) ' ET
      |BT /F2 10 Tf 14 TL 1 0 0 1 50 400 Tm (y) Tj 2 1 (five) " ET
      |q 2 0 0 2 0 0 cm BT /F3 10 Tf 1 0 0 1 40 100 Tm (big) Tj ET Q
      |BT /F4 10 Tf 2 Tc 1 0 0 1 50 300 Tm (spaced) Tj ET
      |""".stripMargin,
    """% a comment line
      |BT /F1 10 Tf 1 0 0 1 50 700 Tm (par\(en\)s \\ \164ab) Tj ET
      |BT /F1 10 Tf 1 0 0 1 50 650 Tm <68657821> Tj ET
      |""".stripMargin)

  private lazy val pdfFixtures: Seq[Array[Byte]] = Seq(
    PdfWriter.build(Seq(
      Seq(PTok("alpha", 50, 60, 10), PTok("\ufb01rst", 120, 60, 10, bold = true),
        PTok("a,b", 200, 60, 10, italic = true), PTok("Fig.\u00a01", 50, 90, 9)),
      Seq(PTok("page2", 50, 60, 10), PTok("(paren)", 50, 80, 12)))),
    PdfWriter.buildWithImages(Seq(
      (Seq(PTok("figure", 50, 60, 10)), Seq(PImage(50, 100, 200, 150))),
      (Seq(PTok("second", 50, 60, 10)), Seq(PImage(10, 10, 30, 30), PImage(300, 400, 90, 60))))),
    PdfWriter.documentPdf(("Neural Parsing of Documents\nAda Lovelace Charles Babbage\n" +
      "Introduction\n" + Seq.fill(40)("Body text with [ 1 ] citations and Figure 2 markers.")
        .mkString(" ") + "\nReferences\n1. A reference entry, 2020.")),
    PdfWriter.buildRawContent(contentFixtures),
    PdfWriter.buildRawContent(contentFixtures, compress = false),
    PdfWriter.buildRawContent(contentFixtures, pdf15 = true))

  test("content-stream interpreter on the typed operand stack equals the " +
      "boxed-operand interpret on every PDF fixture") {
    var words = 0
    var images = 0
    pdfFixtures.foreach { pdf =>
      PdfReader.pages(new PdfReader.PdfDoc(pdf), 1, Int.MaxValue).foreach { case (i, page) =>
        val got = placed(PdfReader.interpret(page))
        assert(got == placed(Oracle.interpret(page)), s"page $i")
        words += got._1.size
        images += got._2.size
      }
    }
    assert(words > 100 && images == 3, (words, images))
  }

  private val pieces = IndexedSeq(
    "0", "1", "12", "-3", "2.5", "-.5", ".25", "+4", "007", "1.2.3", "-", "+", ".", "+.",
    "..", "123456789012345678901", "1e5", "3 0 R", "1 2 R", "4 0 Rx", "5 -1 R", "6 0.5 R",
    "7 0 R/N", "8 1 R(s)", "9 % c\n 0 R", "10 11 12 R",
    "/F1", "/F2", "/Im1", "/Nope", "/A#20B", "/#4", "/", "/Im#31", "/F#zz",
    "(abc)", "(a b  c)", "()", "(x\\(y\\)z)", "(nest (ed) s)", "(oct \\101\\7\\0053)",
    "(line\\\ncont)", "(tab\\t\\q)", "(cr\\\r\n)", "(\u00e9\u00a0x)", "(open",
    "<48656c6c6f>", "<4 8 6>", "<>", "<zz>", "<4g>", "<41",
    "[(ab) -120 (cd) 50]", "[]", "[(a) /N 3 0 R]", "[1 [2] (x)]", "[(k) 250.5 (e)]", "[(a) Tj]",
    "<< /K 1 /L (s) >>", "<< /K >>", "<< 1 2 >>", "<< /A << /B [1 2] >> >>",
    "% comment\n", "%\r", "true", "false", "null",
    "]", ">>", "{", "}", ")", ">x", ">",
    "BT", "ET", "/F1 12 Tf", "/F2 9.5 Tf", "/Nope 10 Tf", "12 Tf", "1 0 0 1 50 700 Tm",
    "0.5 0.1 -0.1 0.5 30 400 Tm", "10 20 Td", "0 -14 TD", "T*", "14 TL", "1 Tc", "2 Tw",
    "90 Tz", "3 Ts", "(text here) Tj", "(tw) Tj", "(x) '", "1 2 (y) \"", "[(a) -50 (b) -400 (c)] TJ",
    "q", "Q", "2 0 0 2 10 10 cm", "0 1 -1 0 300 0 cm", "/Im1 Do", "/Nope Do", "re", "f",
    "/P <</MCID 0>> BDC", "EMC", "ABCD", "endobj", "W*", "0.5 g", "BI /W 2 ID \u0001\u00ff EI",
    "Tx", "d0", "\u00ff\u0080")
  private val separators = IndexedSeq(" ", " ", "\n", "\r\n", "\t", "\u0000", " % c\n", "\f", "")

  test("content-stream interpreter equals interpret on seeded random streams: " +
      "n g R, escaped and nested strings, hex strings, TJ arrays, inline dicts, " +
      "comments, long operators, truncation (same exception class and message)") {
    val fonts = Map(
      "F1" -> PdfReader.FontRes("F1", "Helvetica", bold = false, italic = false, 0, null, 0),
      "F2" -> PdfReader.FontRes("F2", "ABCDEF+Custom-Bold", bold = true, italic = true, 32,
        Array.tabulate(95)(k => if (k % 7 == 0) 0 else 400 + k), 250))
    val rnd = new Random(47L)
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until 20000).foreach { _ =>
      val sb = new StringBuilder
      (0 until rnd.nextInt(40)).foreach { _ =>
        sb ++= pieces(rnd.nextInt(pieces.length))
        sb ++= separators(rnd.nextInt(separators.length))
      }
      val full = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val content =
        if (rnd.nextInt(3) == 0) java.util.Arrays.copyOf(full, rnd.nextInt(full.length + 1))
        else full
      val page = PdfReader.PageData(if (rnd.nextBoolean()) 0.0 else 10.0,
        if (rnd.nextBoolean()) 0.0 else -5.0, 612, 792, fonts, content, Set("Im1"),
        Map.empty, null)
      val got = outcome(placed(PdfReader.interpret(page)))
      assert(got == outcome(placed(Oracle.interpret(page))),
        new String(content, java.nio.charset.StandardCharsets.ISO_8859_1))
      kinds(got match {
        case Left((c, _)) => c.getSimpleName
        case Right((ws, ims)) => if (ws.nonEmpty) "words" else if (ims.nonEmpty) "images" else "empty"
      }) += 1
    }
    // the streams reach every outcome: text, images and each error class
    Seq("words", "images", "empty", "IllegalArgumentException", "NumberFormatException",
      "ClassCastException").foreach(k => assert(kinds(k) > 0, kinds))
  }

  test("the word → token kernel equals retokenize(normalize(_)) on seeded " +
      "random words over delimiters, (?U)\\s, U+001C–U+001F, NBSP, thin space " +
      "and ligatures, coordinates by bits (-0.0, NaN and ∞ included)") {
    val alphabet: IndexedSeq[String] =
      (spaceChars ++ ('\u001c' to '\u001f') ++ TextNormalization.delimiters ++
        TextNormalization.replacements.keys ++ "\u00a0\u2009abcZ19.\u2022").map(_.toString)
        .toIndexedSeq ++ Seq("ab", "word", "x1", "\ud83d\ude00", "\r\n")
    val specials = IndexedSeq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e-300, -1e-300, 12.34, -5.5, 1e300, 612.0)
    val rnd = new Random(53L)
    def v(): Double =
      if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.length))
      else math.rint(rnd.nextDouble() * 60000) / 100
    var split = 0
    (0 until 40000).foreach { _ =>
      val word = Seq.fill(rnd.nextInt(if (rnd.nextBoolean()) 3 else 10))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val (x, y, w, h, page) = (v(), v(), v(), v(), rnd.nextInt(5))
      val got = scala.collection.mutable.ListBuffer.empty[(String, String, Coords)]
      TextNormalization.wordTokens(word, x, y, w, h, page, new TextNormalization.TokenSink {
        def token(text: String, whitespace: String, coords: Coords): Unit =
          got += ((text, whitespace, coords))
      })
      val oracle = Oracle.retokenize(Oracle.normalize(word), Coords(x, y, w, h, page))
      def key(ts: Seq[(String, String, Coords)]) = ts.map { case (t, ws, c) =>
        (t, ws, bits(c.x), bits(c.y), bits(c.width), bits(c.height), c.page_number) }
      assert(key(got.toList) == key(oracle), show(word))
      if (oracle.size > 1) split += 1
      // a word that normalizes to itself is not copied
      if (Oracle.normalize(word) == word) assert(TextNormalization.normalize(word) eq word)
    }
    assert(split > 1000, split)
  }

  test("the ALTO coordinate number path equals String.toDouble on padded, " +
      "signed, long and malformed values, exception class and message included") {
    def run(f: String => Double)(s: String) =
      outcome(java.lang.Double.doubleToRawLongBits(f(s)))
    def check(s: String): Unit =
      assert(run(PdfSyntax.decimalValue)(s) == run(_.toDouble)(s), show(s))
    Seq("0", "-0", "+0", "-0.0", "12", "12.75", "-12.75", ".5", "5.", "+.5", "612.0",
      "0.30000000000000004", "123456789012345", "1234567890123456", "0.0000000000000000000001",
      "0.00000000000000000000001", " 12", "12 ", "\t3.5\n", " -0 ", "\u00a012", "12\u00a0",
      "1e3", "1E-3", "0x1p3", "NaN", " Infinity", "-Infinity", "1_000", "\u0661", "", " ",
      "-", "+", ".", "1.2.3", "--1", "1d", "2f", "12,5").foreach(check)
    val rnd = new Random(59L)
    val alphabet = "0123456789.-+ e\t\u00a0xd"
    (0 until 100000).foreach { _ =>
      check(Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    (0 until 50000).foreach { _ =>
      val int = Seq.fill(rnd.nextInt(19))(('0' + rnd.nextInt(10)).toChar).mkString
      val frac = Seq.fill(rnd.nextInt(26))(('0' + rnd.nextInt(10)).toChar).mkString
      val pad = Seq("", " ", "\t")(rnd.nextInt(3))
      check(pad + Seq("", "-", "+")(rnd.nextInt(3)) + int +
        (if (frac.nonEmpty || rnd.nextBoolean()) "." + frac else "") + pad)
    }
  }

  test("streaming spansLocal equals the collect-then-assemble form on random " +
      "labelings: null text or whitespace, page changes and style runs") {
    val labels = IndexedSeq("B-<a>", "I-<a>", "<a>", "B-<b>", "I-<b>", "<b>", "O", "B-", "I-")
    val fonts = IndexedSeq(null, FontInfo.empty,
      FontInfo("f", "F", Some(9.0), true, false, false, false),
      FontInfo("f", "F", None, false, true, false, false),
      FontInfo("f", "F", None, true, true, true, false),
      FontInfo("f", "F", None, false, false, false, true))
    val texts = IndexedSeq(null, "", "a", "bc", " ", "x ", "\u00a0", "d\t", "\u0001")
    val spaces = IndexedSeq(null, "", " ", " ", "  ", "\n", "\u00a0")
    val specials = IndexedSeq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, -3.5, 1e-9)
    val rnd = new Random(61L)
    def v(): Double =
      if (rnd.nextInt(8) == 0) specials(rnd.nextInt(specials.length))
      else rnd.nextInt(80000) / 100.0
    var styled = 0
    var multiPage = 0
    (0 until 5000).foreach { _ =>
      var page = 1
      val labeled = IndexedSeq.tabulate(rnd.nextInt(60)) { i =>
        if (rnd.nextInt(10) == 0) page += rnd.nextInt(3) - 1
        val coords = if (rnd.nextInt(5) == 0) None else Some(Coords(v(), v(), v(), v(), page))
        (TokenRow(1L, 0, 0, 0, i, texts(rnd.nextInt(texts.length)),
          spaces(rnd.nextInt(spaces.length)), fonts(rnd.nextInt(fonts.length)), coords, page,
          None, None), labels(rnd.nextInt(labels.length)))
      }
      val got = LocalLabelers.spansLocal(labeled)
      assert(got == Oracle.spansLocal(labeled))
      styled += got.count(_.styles != null)
      multiPage += got.count(s => s.coords != null && s.coords.contains(";"))
    }
    assert(styled > 1000 && multiPage > 100, (styled, multiPage))
  }

  test("Coordinates.format's %.2f fast path equals Formatter near ties, at its " +
      "bounds and on random doubles") {
    val rnd = new Random(67L)
    val ties = Seq.fill(40000) {
      val t = f"${rnd.nextInt(10000000)}.${rnd.nextInt(100)}%02d5".toDouble
      Seq(t, math.nextUp(t), math.nextDown(t))
    }.flatten
    val edges = Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.004, -0.001, -0.0049999, -0.005, -0.0050001, 0.001, math.nextDown(0.001),
      math.nextUp(0.001), 9.99e-4, 1e-3, 1e7, math.nextDown(1e7), math.nextUp(1e7),
      9999999.994, 9999999.995, 9999999.996, 12345678.125, 1e-4, 5e-3, 0.0049999999)
    val random = Seq.fill(100000)(rnd.nextDouble() * 1e4) ++
      Seq.fill(100000)(math.pow(10, rnd.nextInt(14) - 4) * rnd.nextDouble()) ++
      Seq.fill(20000)(rnd.nextInt(100000000) / 1000.0) ++
      Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val vs = (ties ++ edges ++ random).flatMap(v => Seq(v, -v)).toIndexedSeq
    (0 until vs.length by 4).foreach { i =>
      val c = Coords(vs(i), vs((i + 1) % vs.length), vs((i + 2) % vs.length),
        vs((i + 3) % vs.length), i % 7)
      assert(Coordinates.format(c) == Oracle.format(c), c.toString)
    }
  }

  test("Coordinates.mergeFormatted equals parse, merge and format on random " +
      "lists with page changes and null or empty entries") {
    val rnd = new Random(71L)
    val specials = IndexedSeq(0.0, -0.0, -0.004, 1e7 + 0.125, 1e16, Double.NaN,
      Double.NegativeInfinity, 2.675, 0.125)
    def v(): Double =
      if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.length))
      else rnd.nextInt(120000) / 100.0 - 100
    var merged = 0
    (0 until 20000).foreach { _ =>
      var page = rnd.nextInt(3)
      val ss = Seq.fill(rnd.nextInt(8)) {
        rnd.nextInt(6) match {
          case 0 => null
          case 1 => ""
          case _ =>
            Coordinates.formatList(Seq.fill(rnd.nextInt(3) + 1) {
              if (rnd.nextInt(4) == 0) page += rnd.nextInt(3) - 1
              Coords(v(), v(), v(), v(), page)
            })
        }
      }
      val got = Coordinates.mergeFormatted(ss)
      assert(got == Oracle.mergeFormatted(ss), ss)
      if (got != null && ss.count(s => s != null && s.nonEmpty) > 1) merged += 1
    }
    assert(merged > 5000, merged)
  }

  test("segmentationViews equals views(segmentationLabels(_)), both old forms") {
    val texts = IndexedSeq(null, "", "x", "Acknowledgements", "acknowledgment",
      "Appendix", "ANNEX", "References", "reference", "Bibliography", "References\n",
      "Refs", "1.", "Abstract")
    val fonts = IndexedSeq(null, FontInfo.empty, FontInfo("f", "F", Some(9.0), false, false, false, false),
      FontInfo("f", "F", Some(12.0), true, false, false, false),
      FontInfo("f", "F", Some(14.0), false, false, false, false))
    val rnd = new Random(73L)
    var blocks = Set.empty[String]
    (0 until 3000).foreach { _ =>
      val toks = LocalLabelers.ordered(IndexedSeq.fill(rnd.nextInt(120)) {
        TokenRow(1L, rnd.nextInt(3), rnd.nextInt(6), rnd.nextInt(3), rnd.nextInt(4),
          texts(rnd.nextInt(texts.length)), " ", fonts(rnd.nextInt(fonts.length)), None,
          1, None, None)
      })
      val labels = LocalLabelers.segmentationLabels(toks)
      assert(labels == Oracle.segmentationLabels(toks))
      assert(LocalLabelers.segmentationViews(toks) ==
        Oracle.views(labels, LocalLabelers.SegmentationTags))
      blocks ++= labels.map(l => LocalLabelers.stripTag(l._2))
    }
    assert(blocks == LocalLabelers.SegmentationTags.toSet, blocks)
  }

  test("LocalLabelers.views' old form splits a labeling like five collects") {
    val tags = LocalLabelers.SegmentationTags
    val labels = tags.flatMap(t => Seq("B-" + t, "I-" + t, t)) ++
      Seq("O", "B-", "I-", "B-<bodyx>", "I-<body", "<body>x", "b-<body>", "B-B-<body>")
    val rnd = new Random(43L)
    (0 until 300).foreach { _ =>
      val labeled = IndexedSeq.tabulate(rnd.nextInt(150)) { i =>
        (TokenRow(1L, 0, 0, 0, i, s"t$i", " ", FontInfo.empty, None, 1, None, None),
          labels(rnd.nextInt(labels.length)))
      }
      val got = Oracle.views(labeled, tags)
      tags.indices.foreach { k =>
        val oracle = labeled.collect { case (t, l) if LocalLabelers.stripTag(l) == tags(k) => t }
        assert(got(k) == oracle, tags(k))
      }
    }
  }

  /** Words and separators of the rule stand-ins' inputs: Java's `\s`
    * chars, Unicode spaces it does not match, figure words in mixed
    * case, ASCII and non-ASCII digits, and the delimiters. */
  private val standInAlphabet = IndexedSeq(" ", " ", "\t", "\n", "\u000B", "\f", "\r",
    "\u00a0", "\u2009", "\u0085", "Figure", "FIG", "fig.", "Fig", "tAbLe", "Table",
    "figures", "\u017fig", "\u212aey", "1", "12.", "3)", "4:", "5,", "7;", "2020", "19a99",
    "\u0661\u0662", "\u0661\u0662\u0663\u0664", "and", "AND", "And,", ",", ";", ":", ".", "-",
    "Smith", "J.", "\u0130stanbul", "x", "\ud83d\ude00", "(2019)")

  test("the rule stand-ins equal their split/replaceAll/matches forms on " +
      "random text with \\u000B, NBSP and non-ASCII digits") {
    val rnd = new Random(79L)
    val samples = "" +: standInAlphabet ++:
      Seq.fill(60000)(Seq.fill(rnd.nextInt(9))(standInAlphabet(rnd.nextInt(standInAlphabet.length))).mkString)
    samples.foreach { s =>
      assert(Processor.nameSpansOf(s) == Oracle.nameSpansOf(s), show(s))
      assert(Processor.citationSpansOf(s) == Oracle.citationSpansOf(s), show(s))
      assert(Processor.figureSpansOf(s) == Oracle.figureSpansOf(s), show(s))
    }
  }

  test("content-id keys equal their toLowerCase/split forms, in a Turkish " +
      "default locale too") {
    val rnd = new Random(83L)
    val samples = "" +: standInAlphabet ++:
      Seq.fill(30000)(Seq.fill(rnd.nextInt(7))(standInAlphabet(rnd.nextInt(standInAlphabet.length))).mkString)
    val default = Locale.getDefault
    try {
      Seq(Locale.ROOT, Locale.forLanguageTag("tr-TR")).foreach { locale =>
        Locale.setDefault(locale)
        (samples :+ "ISTANBUL Iİ").foreach { s =>
          assert(Processor.normKey(s) == Oracle.normKey(s), s"$locale ${show(s)}")
          assert(Processor.prefixKey(s) == Oracle.prefixKey(s), s"$locale ${show(s)}")
        }
      }
    } finally Locale.setDefault(default)
  }

  test("assignIdsAndTargets equals its filter-per-type form on random node sets") {
    val types = IndexedSeq("figure", "table", "label", "figure_citation", "table_citation",
      "reference_citation", "raw_reference", "raw_reference_text", "invalid_reference",
      "reference", "section", "text", "caption")
    val texts = IndexedSeq("", "1", "1.", "[2]", "2.", "Figure 1", "fig. 2", "Table 1",
      "Smith 2020", "Jones et al. 2021", "(2)", "3", "\u0661", "A title", ".", "\u0130 1")
    val cids = IndexedSeq(null, null, "b0", "b1", "b2", "invalid_ref_0", "x")
    val rnd = new Random(89L)
    var resolved = 0
    (0 until 4000).foreach { _ =>
      val n = rnd.nextInt(40)
      val nodes = Seq.fill(n) {
        SemanticNode(1L, rnd.nextInt(n + 5).toLong, rnd.nextInt(n + 5).toLong - 2,
          types(rnd.nextInt(types.length)), texts(rnd.nextInt(texts.length)),
          cids(rnd.nextInt(cids.length)), null, null)
      }
      val got = Processor.assignIdsAndTargets(nodes)
      assert(got == Oracle.assignIdsAndTargets(nodes), nodes)
      resolved += got.count(x => x.node_type.endsWith("_citation") && x.content_id != null)
    }
    assert(resolved > 2000, resolved)
  }

  test("decimalValue equals String.toDouble on 16–25-digit decimals, in place too") {
    def run(f: => Double) = outcome(java.lang.Double.doubleToRawLongBits(f))
    val rnd = new Random(97L)
    (0 until 100000).foreach { _ =>
      val digits = Seq.fill(16 + rnd.nextInt(10))(('0' + rnd.nextInt(10)).toChar).mkString
      val dot = rnd.nextInt(digits.length + 1)
      val s = Seq("", "-", "+")(rnd.nextInt(3)) + digits.take(dot) + "." + digits.drop(dot)
      assert(run(PdfSyntax.decimalValue(s)) == run(s.toDouble), s)
      val padded = "1,x" + s + ";"
      assert(run(PdfSyntax.decimalValue(padded, 3, 3 + s.length)) == run(s.toDouble), s)
    }
    // Double.toString's 16–17-digit coordinates, as an ALTO writer prints them
    (0 until 100000).foreach { _ =>
      val d = rnd.nextInt(100000) / 1000.0 + rnd.nextInt(7) * 0.1
      val s = java.lang.Double.toString(d)
      assert(PdfSyntax.decimalValue(s) == d, s)
    }
    Seq("1.", "+.5", "-.12345678901234567", "00000000000000000001.5", "1.0000000000000000000000001",
      "1..2", "1.2.3", "-", ".", "1e5").foreach { s =>
      assert(run(PdfSyntax.decimalValue(s)) == run(s.toDouble), s)
      assert(run(PdfSyntax.decimalValue("#" + s + "#", 1, s.length + 1)) == run(s.toDouble), s)
    }
  }

  test("ModelExtractors' whitespace scans equal their split/replaceAll forms") {
    val alphabet = standInAlphabet ++ IndexedSeq("\u0001", "\u001f", "10.1234/x y", "PMC 12",
      "1999", "19 99", " ")
    val rnd = new Random(101L)
    val samples = "" +: alphabet ++:
      Seq.fill(60000)(Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    samples.foreach { s =>
      assert(TextNormalization.withoutRegexSpace(s) == s.replaceAll("\\s", ""), show(s))
      assert(ModelExtractors.looksLikeReference(s) ==
        (s.trim.split("\\s+").count(_.nonEmpty) > 3), show(s))
      val m = Pattern.compile("(\\d{4})").matcher(s.replaceAll("\\s", ""))
      assert(ModelExtractors.parseYear(s) == (if (m.find()) Some(m.group(1).toInt) else None),
        show(s))
    }
  }

  test("citationPass equals its filter-and-groupBy form on random segmenter nodes") {
    val types = IndexedSeq("raw_reference", "raw_reference", "raw_reference_text", "label",
      "heading", "note[x]")
    val texts = IndexedSeq("", "1.", "[2]", "Smith J. A title. Journal 2020",
      "Jones K. Other paper 2021", "x", "A B", "Doe 1999 x")
    val cids = IndexedSeq(null, "b0", "b1", "b2", "b3")
    val rnd = new Random(103L)
    var references = 0
    (0 until 3000).foreach { _ =>
      val n = rnd.nextInt(24)
      val nodes = List.fill(n) {
        SemanticNode(1L, rnd.nextInt(n + 4).toLong - (if (rnd.nextInt(8) == 0) 9 else 0),
          rnd.nextInt(n + 4).toLong - 2, types(rnd.nextInt(types.length)),
          texts(rnd.nextInt(texts.length)), cids(rnd.nextInt(cids.length)), null, null)
      }
      val got = Processor.citationPass(1L, nodes)
      assert(got == Oracle.citationPass(1L, nodes), nodes)
      references += got.count(_.node_type == "reference")
    }
    assert(references > 1000, references)
  }
}

object TextKernelSpec {
  /** A span token as the replaced `SpanAssembly` collected it. */
  final case class SpanTok(text: String, whitespace: String,
      coords: Option[Coords], font: FontInfo)
}
