package graft.sources

import scala.collection.mutable
import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Coords, FontInfo, TextNormalization, TokenRow}

import PdfSyntax._

/** In-JVM PDF text extraction — the A1 seam made real. The reference
  * shells out to `pdfalto` to turn PDF bytes into the token table
  * (`external/pdfalto/wrapper.py:20-48`, target schema
  * `external/pdfalto/parser.py:30-173`); this reader produces the SAME
  * exploded [[TokenRow]] table straight from the PDF bytes using the
  * public ISO 32000 file format: xref (classic tables, xref streams,
  * and a rebuild scan for broken offsets), FlateDecode content
  * streams, `BT/ET` text operators (`Tj TJ ' " Td TD Tm Tstar Tf TL
  * Tc Tw Tz Ts` plus `q Q cm` graphics state), standard-14 font
  * widths ([[PdfFonts]]) with embedded `/Widths` override, and
  * bold/italic from the font descriptor flags or name.
  *
  * Downstream parity: extracted words run through the SAME word →
  * token kernel as the ALTO path ([[TextNormalization.wordTokens]],
  * normalize + retokenize, B1/B2/B3), so every pipeline stage —
  * features, labelers, extractors, TEI — consumes PDF-parsed tokens
  * identically to ALTO-parsed ones (PdfSpec pins the equivalence).
  *
  * Layout segmentation subset: words group into lines by shared
  * baseline, lines into blocks by vertical gap (> 1.8× line height
  * starts a new block) — the single-column segmentation the engine's
  * fixtures exercise; pdfalto's multi-column analysis remains the
  * declared swap for complex print layouts.
  *
  * Scale shape: one task per PDF file (`binaryFile` rows), the parse
  * is pure row-local CPU, and page pruning happens before any page is
  * read: out-of-range pages never resolve their resources or decode
  * their content streams — the `-f/-l` behavior.
  */
object PdfReader {

  // ---------------------------------------------------------- document

  /** Lazily-resolving PDF document over raw bytes. */
  private[graft] final class PdfDoc(val bytes: Array[Byte]) {
    // object number -> either direct file offset or (objstm num, index)
    private val offsets = mutable.Map.empty[Int, Long]
    private val inObjStm = mutable.Map.empty[Int, (Int, Int)]
    private val cache = mutable.Map.empty[Int, PdfObj]
    private val objStmCache = mutable.Map.empty[Int, IndexedSeq[PdfObj]]
    private var trailerDict: PDict = PDict(Map.empty)

    require(bytes.length > 8 &&
      new String(bytes, 0, 5, java.nio.charset.StandardCharsets.ISO_8859_1)
        .startsWith("%PDF-"), "missing %PDF- header")
    loadXref()
    require(trailerDict.get("Encrypt").isEmpty,
      "encrypted documents are not supported")

    def trailer: PDict = trailerDict

    def resolve(o: PdfObj): PdfObj = o match {
      case PRef(n, _) => resolve(obj(n))
      case other => other
    }

    def obj(num: Int): PdfObj = cache.getOrElseUpdate(num, loadObj(num))

    private def loadObj(num: Int): PdfObj =
      offsets.get(num) match {
        case Some(off) => parseIndirectAt(off)._2
        case None => inObjStm.get(num) match {
          case Some((stmNum, idx)) =>
            objStmObjects(stmNum).lift(idx).getOrElse(PNull)
          case None => PNull // dangling refs resolve to null per spec
        }
      }

    private def objStmObjects(stmNum: Int): IndexedSeq[PdfObj] =
      objStmCache.getOrElseUpdate(stmNum, {
        resolve(obj(stmNum)) match {
          case s: PStream =>
            val data = decodeStream(s, resolve)
            val n = resolve(s.dict.get("N").getOrElse(PNull)) match {
              case PNum(v) => v.toInt; case _ => 0 }
            val first = resolve(s.dict.get("First").getOrElse(PNull)) match {
              case PNum(v) => v.toInt; case _ => 0 }
            val head = new Lexer(data)
            val offs = (0 until n).map { _ =>
              head.parseNumber() // object number (positional, unused)
              head.parseNumber().int
            }
            offs.map { o =>
              val lx = new Lexer(data, first + o)
              lx.nextObj()
            }
          case _ => IndexedSeq.empty
        }
      })

    /** `num gen obj <object> [stream ... endstream] endobj` at offset. */
    private def parseIndirectAt(off: Long): (Int, PdfObj) = {
      val lx = new Lexer(bytes, off.toInt)
      val num = lx.parseNumber().int
      lx.parseNumber() // gen
      lx.expectKeyword("obj")
      val o = lx.nextObj()
      lx.skipWs()
      val save = lx.pos
      val isStream = {
        val kw = new String(bytes, lx.pos,
          math.min(6, bytes.length - lx.pos),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        kw == "stream"
      }
      if (!isStream) return (num, o)
      lx.pos += 6
      if (lx.pos < bytes.length && bytes(lx.pos) == '\r') lx.pos += 1
      if (lx.pos < bytes.length && bytes(lx.pos) == '\n') lx.pos += 1
      val dict = o match {
        case d: PDict => d
        case _ => throw new IllegalArgumentException("stream without dict")
      }
      val start = lx.pos
      val len = resolve(dict.get("Length").getOrElse(PNull)) match {
        case PNum(v) => v.toInt
        case _ => -1
      }
      val end =
        if (len >= 0 && start + len <= bytes.length &&
            endstreamFollows(start + len)) start + len
        else { // recover from a wrong /Length: scan for endstream
          val idx = indexOf(bytes, "endstream", start)
          require(idx >= 0, "unterminated stream")
          var e = idx
          // back off the EOL that precedes the keyword
          if (e > start && bytes(e - 1) == '\n') e -= 1
          if (e > start && bytes(e - 1) == '\r') e -= 1
          e
        }
      val raw = java.util.Arrays.copyOfRange(bytes, start, end)
      (num, PStream(dict, raw))
    }

    private def endstreamFollows(from: Int): Boolean = {
      var i = from
      while (i < bytes.length && (bytes(i) == '\r' || bytes(i) == '\n' ||
        bytes(i) == ' ')) i += 1
      i + 9 <= bytes.length &&
        new String(bytes, i, 9,
          java.nio.charset.StandardCharsets.ISO_8859_1) == "endstream"
    }

    // ------------------------------------------------------------ xref

    private def loadXref(): Unit = {
      try {
        val sx = lastIndexOf(bytes, "startxref")
        require(sx >= 0, "missing startxref")
        val lx = new Lexer(bytes, sx + 9)
        val off = lx.parseNumber().long
        val seen = mutable.Set.empty[Long]
        loadXrefAt(off, seen)
        require(trailerDict.get("Root").isDefined, "trailer missing /Root")
      } catch {
        case scala.util.control.NonFatal(_) => rebuildScan()
      }
    }

    private def loadXrefAt(off: Long, seen: mutable.Set[Long]): Unit = {
      if (off < 0 || off >= bytes.length || !seen.add(off)) return
      val lx = new Lexer(bytes, off.toInt)
      lx.skipWs()
      if (bytes.length - lx.pos >= 4 &&
          new String(bytes, lx.pos, 4,
            java.nio.charset.StandardCharsets.ISO_8859_1) == "xref") {
        lx.pos += 4
        // classic table: subsections of `start count` + 20-byte entries
        var parsing = true
        while (parsing) {
          lx.skipWs()
          if (lx.pos < bytes.length &&
              bytes(lx.pos) >= '0' && bytes(lx.pos) <= '9') {
            val start = lx.parseNumber().int
            val count = lx.parseNumber().int
            lx.skipWs()
            (0 until count).foreach { i =>
              val line = new String(bytes, lx.pos, 20,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              lx.pos += 20
              val objNum = start + i
              if (line.length >= 18 && line.charAt(17) == 'n' &&
                  !offsets.contains(objNum) && !inObjStm.contains(objNum))
                offsets(objNum) = line.substring(0, 10).trim.toLong
            }
          } else parsing = false
        }
        lx.expectKeyword("trailer")
        val t = lx.nextObj().asInstanceOf[PDict]
        if (trailerDict.m.isEmpty) trailerDict = t
        // hybrid files: /XRefStm points at a stream with the real
        // entries for 1.5+ readers; load it before the /Prev chain
        t.get("XRefStm").foreach { case PNum(v) => loadXrefAt(v.toLong, seen)
          case _ => () }
        t.get("Prev").foreach { case PNum(v) => loadXrefAt(v.toLong, seen)
          case _ => () }
      } else {
        // xref STREAM: `num gen obj << /Type /XRef ... >> stream`
        val (_, o) = parseIndirectAt(off)
        val s = o match {
          case st: PStream => st
          case _ => throw new IllegalArgumentException(
            s"no xref table or stream at $off")
        }
        val data = decodeStream(s, resolve)
        val w = resolve(s.dict.get("W").getOrElse(PNull)) match {
          case PArr(items) => items.map {
            case PNum(v) => v.toInt
            case _ => 0
          }
          case _ => throw new IllegalArgumentException("xref stream missing /W")
        }
        val size = resolve(s.dict.get("Size").getOrElse(PNull)) match {
          case PNum(v) => v.toInt; case _ => 0 }
        val index: Seq[(Int, Int)] =
          resolve(s.dict.get("Index").getOrElse(PNull)) match {
            case PArr(items) =>
              items.map { case PNum(v) => v.toInt
                case _ => 0 }.grouped(2).collect {
                case Seq(a, b) => (a, b) }.toSeq
            case _ => Seq((0, size))
          }
        val rowLen = w.sum
        var p = 0
        index.foreach { case (start, count) =>
          (0 until count).foreach { i =>
            if (p + rowLen <= data.length) {
              var vals = new Array[Long](w.length)
              var fi = 0
              var q = p
              while (fi < w.length) {
                var v = 0L
                (0 until w(fi)).foreach { _ =>
                  v = (v << 8) | (data(q) & 0xff); q += 1 }
                vals(fi) = v
                fi += 1
              }
              val tpe = if (w(0) == 0) 1L else vals(0)
              val objNum = start + i
              if (!offsets.contains(objNum) && !inObjStm.contains(objNum)) {
                if (tpe == 1L) offsets(objNum) = vals(1)
                else if (tpe == 2L)
                  inObjStm(objNum) = (vals(1).toInt, vals(2).toInt)
              }
            }
            p += rowLen
          }
        }
        if (trailerDict.m.isEmpty) trailerDict = s.dict
        s.dict.get("Prev").foreach { case PNum(v) => loadXrefAt(v.toLong, seen)
          case _ => () }
      }
    }

    /** Recovery: scan the whole file for `N G obj` markers (the LAST
      * occurrence of each object number wins — incremental updates
      * append) and take the last trailer-like dict carrying /Root. */
    private def rebuildScan(): Unit = {
      offsets.clear(); inObjStm.clear()
      val pat = java.util.regex.Pattern.compile(
        "(?<![0-9])(\\d{1,9})\\s+(\\d{1,5})\\s+obj\\b")
      val text = new String(bytes,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = pat.matcher(text)
      while (m.find()) offsets(m.group(1).toInt) = m.start(1).toLong
      // trailer: prefer an explicit trailer dict, else any /Catalog obj
      var ti = text.lastIndexOf("trailer")
      var found = false
      while (ti >= 0 && !found) {
        try {
          val lx = new Lexer(bytes, ti + 7)
          lx.nextObj() match {
            case d: PDict if d.get("Root").isDefined =>
              trailerDict = d; found = true
            case _ => ()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        ti = text.lastIndexOf("trailer", ti - 1)
      }
      if (!found) {
        val cat = offsets.keys.toSeq.sorted.reverseIterator.find { n =>
          resolve(obj(n)) match {
            case d: PDict => d.get("Type").contains(PName("Catalog"))
            case _ => false
          }
        }
        cat.foreach(n => trailerDict = PDict(Map("Root" -> PRef(n, 0))))
      }
      require(trailerDict.get("Root").isDefined,
        "rebuild scan found no document catalog")
    }
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = math.max(0, from)
    while (i <= hay.length - n.length) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  private def lastIndexOf(hay: Array[Byte], needle: String): Int = {
    val n = needle.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = hay.length - n.length
    while (i >= 0) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i -= 1
    }
    -1
  }

  // ------------------------------------------------------------- pages

  private[graft] final case class FontRes(resName: String, baseFont: String,
      bold: Boolean, italic: Boolean,
      firstChar: Int, widths: Array[Int], missingWidth: Int) {
    // the standard-14 table, resolved once per font, not per glyph
    private val stdWidths =
      if (widths == null) PdfFonts.widthTable(baseFont) else null

    def width(code: Int): Int =
      if (widths != null && code >= firstChar &&
          code - firstChar < widths.length) {
        val w = widths(code - firstChar)
        if (w > 0) w else missingWidth
      } else if (widths != null) missingWidth
      else PdfFonts.width(stdWidths, code)
  }

  private[graft] final case class PageData(mediaX: Double, mediaY: Double,
      width: Double, height: Double, fonts: Map[String, FontRes],
      content: Array[Byte], imageXObjects: Set[String],
      imageStreams: Map[String, PStream], doc: PdfDoc)

  /** A leaf of the page tree with the resources and media box it
    * inherits, not yet read. */
  private final case class PageRef(page: PDict, res: Option[PDict],
      box: Option[PArr])

  /** The pages `firstPage` to `lastPage` (1-based, inclusive) as
    * (page index, page), read before the first is interpreted. The
    * others are never read. */
  private[graft] def pages(doc: PdfDoc, firstPage: Int, lastPage: Int)
      : Seq[(Int, PageData)] =
    pagesOf(doc).zipWithIndex.collect {
      case (p, i) if i + 1 >= firstPage && i + 1 <= lastPage =>
        (i, pageData(doc, p.page, p.res, p.box))
    }

  private def pagesOf(doc: PdfDoc): Seq[PageRef] = {
    val root = doc.resolve(doc.trailer.get("Root").getOrElse(PNull)) match {
      case d: PDict => d
      case _ => throw new IllegalArgumentException("bad /Root")
    }
    val out = ListBuffer.empty[PageRef]
    val visited = mutable.Set.empty[PdfObj]
    def walk(nodeRef: PdfObj, inhRes: Option[PDict],
        inhBox: Option[PArr]): Unit = {
      if (!visited.add(nodeRef) || visited.size > 100000) return
      doc.resolve(nodeRef) match {
        case d: PDict =>
          val res = d.get("Resources").map(doc.resolve).collect {
            case r: PDict => r }.orElse(inhRes)
          val box = d.get("MediaBox").map(doc.resolve).collect {
            case b: PArr => b }.orElse(inhBox)
          d.get("Type") match {
            case Some(PName("Pages")) | None
                if d.get("Kids").isDefined =>
              doc.resolve(d.get("Kids").get) match {
                case PArr(kids) => kids.foreach(walk(_, res, box))
                case _ => ()
              }
            case Some(PName("Page")) =>
              out += PageRef(d, res, box)
            case _ => ()
          }
        case _ => ()
      }
    }
    walk(root.get("Pages").getOrElse(PNull), None, None)
    out.toList
  }

  private def pageData(doc: PdfDoc, page: PDict, res: Option[PDict],
      box: Option[PArr]): PageData = {
    val b = box.map(_.items.map(o => doc.resolve(o) match {
      case PNum(v) => v
      case _ => 0.0
    })).getOrElse(Vector(0.0, 0.0, 612.0, 792.0))
    val (x0, y0, x1, y1) = (b(0), b(1), b(2), b(3))
    val fonts: Map[String, FontRes] = res.flatMap(_.get("Font"))
      .map(doc.resolve).collect { case fd: PDict =>
        fd.m.map { case (name, ref) =>
          name -> fontRes(doc, name, doc.resolve(ref))
        }
      }.getOrElse(Map.empty)
    val content: Array[Byte] =
      page.get("Contents").map(doc.resolve) match {
        case Some(s: PStream) => decodeStream(s, doc.resolve)
        case Some(PArr(items)) =>
          val parts = items.map(doc.resolve).collect {
            case s: PStream => decodeStream(s, doc.resolve) }
          val out = new java.io.ByteArrayOutputStream()
          parts.foreach { p => out.write(p); out.write('\n') }
          out.toByteArray
        case _ => Array.emptyByteArray
      }
    val imageStreams: Map[String, PStream] = res.flatMap(_.get("XObject"))
      .map(doc.resolve).collect { case xd: PDict =>
        xd.m.keys.flatMap { name =>
          doc.resolve(xd.m(name)) match {
            case s: PStream
                if s.dict.get("Subtype").contains(PName("Image")) =>
              Some(name -> s)
            case _ => None
          }
        }.toMap
      }.getOrElse(Map.empty)
    PageData(x0, y0, x1 - x0, y1 - y0, fonts, content,
      imageStreams.keySet, imageStreams, doc)
  }

  /** Decode an embedded image XObject (8-bit DeviceGray/DeviceRGB,
    * any supported stream filter) to PNG bytes via the JDK encoder;
    * None for unsupported color configurations (the graphic row still
    * exists — only the extractable payload is absent, the reference's
    * behavior for undecodable embedded images). */
  private def decodeImagePng(doc: PdfDoc, s: PStream): Option[Array[Byte]] = {
    try {
      def num(k: String): Int = doc.resolve(s.dict.get(k).getOrElse(PNull)) match {
        case PNum(v) => v.toInt
        case _ => -1
      }
      val w = num("Width")
      val h = num("Height")
      val bpc = num("BitsPerComponent")
      val cs = doc.resolve(s.dict.get("ColorSpace").getOrElse(PNull))
      if (w <= 0 || h <= 0 || bpc != 8) return None
      val data = decodeStream(s, doc.resolve)
      val img = cs match {
        case PName("DeviceGray") if data.length >= w * h =>
          val im = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          im.getRaster.setDataElements(0, 0, w, h,
            java.util.Arrays.copyOf(data, w * h))
          Some(im)
        case PName("DeviceRGB") if data.length >= w * h * 3 =>
          val im = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var i = 0
          var p = 0
          while (i < w * h) {
            val r = data(p) & 0xff; val g = data(p + 1) & 0xff
            val b = data(p + 2) & 0xff
            im.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
            i += 1; p += 3
          }
          Some(im)
        case _ => None
      }
      img.map { im =>
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "png", out)
        out.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def fontRes(doc: PdfDoc, resName: String, o: PdfObj): FontRes =
    o match {
      case d: PDict =>
        val base = doc.resolve(d.get("BaseFont").getOrElse(PNull)) match {
          case PName(n) => n
          case _ => "Helvetica"
        }
        val desc = d.get("FontDescriptor").map(doc.resolve).collect {
          case fd: PDict => fd }
        val flags = desc.flatMap(_.get("Flags")).map(doc.resolve).collect {
          case PNum(v) => v.toInt }.getOrElse(0)
        val italic = (flags & 0x40) != 0 || PdfFonts.isItalicName(base)
        val bold = (flags & 0x40000) != 0 || PdfFonts.isBoldName(base) ||
          desc.flatMap(_.get("StemV")).map(doc.resolve).collect {
            case PNum(v) => v }.exists(_ >= 140)
        val firstChar = doc.resolve(d.get("FirstChar").getOrElse(PNull)) match {
          case PNum(v) => v.toInt; case _ => 0 }
        val widths = doc.resolve(d.get("Widths").getOrElse(PNull)) match {
          case PArr(items) => items.map(doc.resolve).map {
            case PNum(v) => v.toInt
            case _ => 0
          }.toArray
          case _ => null
        }
        val missing = desc.flatMap(_.get("MissingWidth")).map(doc.resolve)
          .collect { case PNum(v) => v.toInt }.getOrElse(0)
        FontRes(resName, base, bold, italic, firstChar, widths, missing)
      case _ =>
        FontRes(resName, "Helvetica", bold = false, italic = false,
          0, null, 0)
    }

  // ------------------------------------------- content-stream interpreter

  /** One extracted word: device-space position with TOP-DOWN y
    * (ALTO convention), box height = effective font size. */
  private[graft] final case class Word(text: String, x: Double, yTop: Double,
      width: Double, height: Double, font: FontRes, size: Double)

  /** Reading order of a page's words: by `yTop`, then `x`, under
    * `Double.compare`. */
  private[graft] val TopThenX: java.util.Comparator[Word] = (a, b) => {
    val c = java.lang.Double.compare(a.yTop, b.yTop)
    if (c != 0) c else java.lang.Double.compare(a.x, b.x)
  }

  /** Order of the words inside a line. */
  private[graft] val ByX: java.util.Comparator[Word] =
    (a, b) => java.lang.Double.compare(a.x, b.x)

  /** 2D affine `[a b c d e f]` (PDF order). */
  private type Mat = Array[Double]
  private val Id: Mat = Array(1, 0, 0, 1, 0, 0)

  /** `out = m1 × m2`; `out` is neither `m1` nor `m2`. */
  private def mulInto(m1: Mat, m2: Mat, out: Mat): Unit = {
    out(0) = m1(0) * m2(0) + m1(1) * m2(2)
    out(1) = m1(0) * m2(1) + m1(1) * m2(3)
    out(2) = m1(2) * m2(0) + m1(3) * m2(2)
    out(3) = m1(2) * m2(1) + m1(3) * m2(3)
    out(4) = m1(4) * m2(0) + m1(5) * m2(2) + m2(4)
    out(5) = m1(4) * m2(1) + m1(5) * m2(3) + m2(5)
  }

  private def mul(m1: Mat, m2: Mat): Mat = {
    val out = new Array[Double](6)
    mulInto(m1, m2, out)
    out
  }

  /** The text matrix and each glyph's products, in matrices reused
    * from glyph to glyph: `tm × ctm` is computed once per glyph and no
    * matrix is allocated per glyph. */
  private[graft] final class GlyphMath {
    /** The text matrix, owned: `translate` rewrites it. */
    private[graft] var tm: Mat = Id.clone()
    private var spare: Mat = new Array[Double](6)
    private val step: Mat = Id.clone()
    private val scale: Mat = new Array[Double](6)
    private val scaled: Mat = new Array[Double](6)
    /** The glyph's rendering matrix `[size·hScale 0 0 size 0 rise] ×
      * tm × ctm`; its translation is the glyph origin. */
    val trm: Mat = new Array[Double](6)
    /** `tm × ctm`. */
    val dev: Mat = new Array[Double](6)

    def setTm(m: Mat): Unit = System.arraycopy(m, 0, tm, 0, 6)

    /** `trm` and `dev` for the next glyph. */
    def place(ctm: Mat, size: Double, hScale: Double, rise: Double): Unit = {
      scale(0) = size * hScale; scale(1) = 0; scale(2) = 0
      scale(3) = size; scale(4) = 0; scale(5) = rise
      mulInto(scale, tm, scaled)
      mulInto(scaled, ctm, trm)
      mulInto(tm, ctm, dev)
    }

    /** Effective device size: `size` through the vertical scale of
      * `dev` (identity matrices give `size` back). */
    def effSize(size: Double): Double =
      size * math.sqrt(dev(2) * dev(2) + dev(3) * dev(3))

    /** The horizontal scale of `dev`. */
    def xScale: Double = math.sqrt(dev(0) * dev(0) + dev(1) * dev(1))

    /** `tm = [1 0 0 1 tx 0] × tm`. */
    def translate(tx: Double): Unit = {
      step(4) = tx
      mulInto(step, tm, spare)
      val t = tm
      tm = spare
      spare = t
    }
  }
  private def apply(m: Mat, x: Double, y: Double): (Double, Double) =
    (m(0) * x + m(2) * y + m(4), m(1) * x + m(3) * y + m(5))

  /** One placed image: resource name + device-space TOP-DOWN box. */
  private[graft] final case class PlacedImage(resName: String, x: Double,
      yTop: Double, width: Double, height: Double)

  /** A page's words and image placements, in content-stream order. */
  private[graft] def interpret(page: PageData)
      : (collection.IndexedSeq[Word], collection.IndexedSeq[PlacedImage]) =
    new Interpreter(page).run()

  /** The content-stream interpreter of one page. Operands wait on a
    * typed stack (parallel kind / `double` / payload arrays, filled
    * from [[ContentLexer]]), so no operand is boxed; `num(i)` reads the
    * i-th operand from the top as a number, and anything else as 0.0.
    * Every operator clears the stack. Text and line matrices live in
    * reused arrays. */
  private final class Interpreter(page: PageData) {
    import ContentLexer.{Arr, End, Name, Num, Operator, Str}

    private val images = mutable.ArrayBuffer.empty[PlacedImage]
    private val words = mutable.ArrayBuffer.empty[Word]
    private var ctm: Mat = Id
    private val gsStack = mutable.Stack.empty[Mat]
    private val g = new GlyphMath
    /** The text line matrix, owned: [[moveLine]] writes the next one
      * into `spareTlm` and swaps. */
    private var tlm: Mat = Id.clone()
    private var spareTlm: Mat = new Array[Double](6)
    private val lineStep: Mat = Id.clone()
    private var font: FontRes = null
    private var size = 0.0
    private var charSpace = 0.0
    private var wordSpace = 0.0
    private var hScale = 1.0
    private var leading = 0.0
    private var rise = 0.0

    // current word accumulator
    private val sb = new java.lang.StringBuilder
    private var wx0 = 0.0
    private var wy = 0.0
    private var wWidth = 0.0
    private var wSize = 0.0
    private var wFont: FontRes = null
    private var expectX = Double.NaN

    // operand stack
    private var kinds = new Array[Int](16)
    private var nums = new Array[Double](16)
    private var refs = new Array[AnyRef](16)
    private var depth = 0

    private def push(kind: Int, num: Double, ref: AnyRef): Unit = {
      if (depth == kinds.length) {
        kinds = java.util.Arrays.copyOf(kinds, depth * 2)
        nums = java.util.Arrays.copyOf(nums, depth * 2)
        refs = java.util.Arrays.copyOf(refs, depth * 2)
      }
      kinds(depth) = kind
      nums(depth) = num
      refs(depth) = ref
      depth += 1
    }

    private def num(i: Int): Double = {
      val k = depth - i
      if (k >= 0 && kinds(k) == Num) nums(k) else 0.0
    }

    /** The top operand's payload if it is of `kind`, else null. */
    private def top(kind: Int): AnyRef =
      if (depth > 0 && kinds(depth - 1) == kind) refs(depth - 1) else null

    private def flush(): Unit = {
      if (sb.length > 0 && wFont != null) {
        words += Word(sb.toString, wx0,
          page.height - wy - wSize, wWidth, wSize, wFont, wSize)
      }
      sb.setLength(0)
      expectX = Double.NaN
    }

    private def showString(bytesStr: Array[Byte]): Unit = {
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
          // effective device size from the text+current matrices
          val effSize = g.effSize(size)
          val continues = !expectX.isNaN &&
            math.abs(gx - expectX) <= 0.18 * math.max(effSize, 1.0) &&
            sb.length > 0 && (wFont eq font) &&
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

    /** `tlm = [1 0 0 1 tx ty] × tlm`, then the text matrix follows. */
    private def moveLine(tx: Double, ty: Double): Unit = {
      lineStep(4) = tx
      lineStep(5) = ty
      mulInto(lineStep, tlm, spareTlm)
      val t = tlm
      tlm = spareTlm
      spareTlm = t
      g.setTm(tlm)
    }

    private def showTop(): Unit = {
      val b = top(Str)
      if (b != null) showString(b.asInstanceOf[Array[Byte]])
    }

    private def operator(op: String): Unit = op match {
      case "q" => gsStack.push(ctm)
      case "Q" => if (gsStack.nonEmpty) ctm = gsStack.pop()
      case "cm" =>
        ctm = mul(Array(num(6), num(5), num(4), num(3), num(2), num(1)), ctm)
      case "BT" =>
        g.setTm(Id)
        System.arraycopy(Id, 0, tlm, 0, 6)
        flush()
      case "ET" => flush()
      case "Tf" =>
        flush()
        size = num(1)
        if (depth >= 2 && kinds(depth - 2) == Name) {
          val fn = refs(depth - 2).asInstanceOf[String]
          font = page.fonts.getOrElse(fn,
            FontRes(fn, "Helvetica", bold = false, italic = false, 0, null, 0))
        }
      case "Td" =>
        moveLine(num(2), num(1))
        flush()
      case "TD" =>
        leading = -num(1)
        moveLine(num(2), num(1))
        flush()
      case "Tm" =>
        tlm(0) = num(6); tlm(1) = num(5); tlm(2) = num(4)
        tlm(3) = num(3); tlm(4) = num(2); tlm(5) = num(1)
        g.setTm(tlm)
        flush()
      case "T*" =>
        moveLine(0, -leading)
        flush()
      case "TL" => leading = num(1)
      case "Tc" => charSpace = num(1)
      case "Tw" => wordSpace = num(1)
      case "Tz" => hScale = num(1) / 100.0
      case "Ts" => rise = num(1)
      case "Tj" => showTop()
      case "'" =>
        moveLine(0, -leading)
        flush()
        showTop()
      case "\"" =>
        wordSpace = num(3)
        charSpace = num(2)
        moveLine(0, -leading)
        flush()
        showTop()
      case "TJ" =>
        val a = top(Arr)
        if (a != null) a.asInstanceOf[PArr].items.foreach {
          case PStr(b) => showString(b)
          case PNum(v) =>
            val adj = -v / 1000.0 * size * hScale
            g.translate(adj)
          case _ => ()
        }
      case "Do" =>
        // image XObject placement: the unit square through the
        // CTM — corners transformed, box = min/max (handles
        // scale+translate exactly; rotations box-bound)
        val n = top(Name).asInstanceOf[String]
        if (n != null && page.imageXObjects.contains(n)) {
          val corners = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0),
            (1.0, 1.0)).map { case (ux, uy) => apply(ctm, ux, uy) }
          val xs = corners.map(_._1 - page.mediaX)
          val ys = corners.map(_._2 - page.mediaY)
          val x0 = xs.min; val x1 = xs.max
          val y0 = ys.min; val y1 = ys.max
          images += PlacedImage(n, x0, page.height - y1,
            x1 - x0, y1 - y0)
        }
      case _ => () // path/color operators: no text effect
    }

    def run(): (collection.IndexedSeq[Word], collection.IndexedSeq[PlacedImage]) = {
      val lx = new ContentLexer(page.content)
      var kind = lx.next()
      while (kind != End) {
        if (kind == Operator) {
          operator(lx.ref.asInstanceOf[Op].name)
          java.util.Arrays.fill(refs, 0, depth, null)
          depth = 0
        } else push(kind, lx.num, lx.ref)
        kind = lx.next()
      }
      flush()
      (words, images)
    }
  }

  // ------------------------------------------------ token-table assembly

  /** Parse one document's bytes into TokenRows — words → baselines →
    * lines → blocks, then the word → token kernel the ALTO reader
    * shares ([[TextNormalization.wordTokens]]). `firstPage`/`lastPage`
    * prune before any page is read (1-based, inclusive): out-of-range
    * pages never decode or interpret their content streams. */
  def parseTokens(docId: Long, bytes: Array[Byte], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue): Seq[TokenRow] =
    parseAll(docId, bytes, firstPage, lastPage)._1

  /** One-pass parse of tokens AND page graphics (image XObject
    * placements → [[graft.pipeline.GraphicRow]], the ALTO
    * `Illustration` analog) — the AltoReader.parseAll twin, feeding
    * the F3 graphic-matching pipeline from PDF bytes. */
  def parseAll(docId: Long, bytes: Array[Byte], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue)
      : (Seq[TokenRow], Seq[graft.pipeline.GraphicRow]) = {
    val (t, g, _) = parseWithAssets(docId, bytes, firstPage, lastPage,
      decodeAssets = false)
    (t, g)
  }

  /** [[parseAll]] plus EXTRACTED image payloads: each graphic's
    * embedded XObject decodes to PNG bytes keyed by its `file_id` —
    * the A8 asset-zip input, the reference's extracted-graphics
    * behavior from real PDF data. Undecodable images (unsupported
    * colorspace/bit depth) keep their graphic row but ship no asset. */
  def parseWithAssets(docId: Long, bytes: Array[Byte], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue, decodeAssets: Boolean = true)
      : (Seq[TokenRow], Seq[graft.pipeline.GraphicRow],
        Seq[(String, Array[Byte])]) = {
    val doc = new PdfDoc(bytes)
    val rows = new TokenRows(docId)
    val graphics = ListBuffer.empty[graft.pipeline.GraphicRow]
    val assets = ListBuffer.empty[(String, Array[Byte])]
    val fonts = new FontInfos
    pages(doc, firstPage, lastPage).foreach { case (pageIdx, page) =>
      val (words, imgs) = interpret(page)
      val pngCache = scala.collection.mutable.Map.empty[String, Option[Array[Byte]]]
      imgs.zipWithIndex.foreach { case (im, k) =>
        val fileId = s"img-$docId-p${pageIdx + 1}-${im.resName}-$k"
        graphics += graft.pipeline.GraphicRow(docId, pageIdx,
          pageIdx + 1,
          file_id = fileId,
          graphic_type = "image",
          coords = Some(Coords(r2(im.x), r2(im.yTop), r2(im.width),
            r2(im.height), pageIdx + 1)),
          related_block_idx = None)
        if (decodeAssets) {
          val png = pngCache.getOrElseUpdate(im.resName,
            page.imageStreams.get(im.resName)
              .flatMap(decodeImagePng(page.doc, _)))
          png.foreach(p => assets += ((fileId, p)))
        }
      }
      rows.pageIdx = pageIdx
      rows.pageNumber = pageIdx + 1
      rows.pageWidth = Some(page.width)
      rows.pageHeight = Some(page.height)
      rows.blockIdx = 0
      rows.lineIdx = 0
      // lines: runs of words by baseline proximity to the run's first
      // word (tolerance scales with the glyph size), x-sorted inside
      // a line
      val sorted = words.toArray
      java.util.Arrays.sort(sorted, TopThenX)
      // blocks: a WHITESPACE gap (previous line's bottom to this
      // line's top) larger than 0.9× the smaller line height starts
      // a new block — body leading (~1.2–1.5× size, gap ≤ 0.5×)
      // merges, heading/paragraph breaks (gap ≥ 1×) split (the
      // single-column segmentation subset)
      var prevTop = Double.NaN
      var prevH = 0.0
      var start = 0
      while (start < sorted.length) {
        val head = sorted(start)
        var end = start + 1
        while (end < sorted.length && math.abs(head.yTop - sorted(end).yTop) <=
            0.3 * math.max(head.height, sorted(end).height)) end += 1
        java.util.Arrays.sort(sorted, start, end, ByX)
        val top = sorted(start).yTop
        var h = sorted(start).height
        var k = start + 1
        while (k < end) {
          // `Seq.max`: the first of the largest under `Double.compare`
          if (java.lang.Double.compare(h, sorted(k).height) < 0) h = sorted(k).height
          k += 1
        }
        if (!prevTop.isNaN &&
            top - (prevTop + prevH) > 0.9 * math.min(h, prevH)) {
          rows.blockIdx += 1
          rows.lineIdx = 0
        }
        rows.tokenIdx = 0
        k = start
        while (k < end) {
          val w = sorted(k)
          rows.font = fonts(w.font, w.size)
          TextNormalization.wordTokens(w.text, r2(w.x), r2(w.yTop),
            r2(w.width), r2(w.height), pageIdx + 1, rows)
          k += 1
        }
        rows.lineIdx += 1
        prevTop = top
        prevH = h
        start = end
      }
    }
    (rows.rows.toList, graphics.toList, assets.toList)
  }

  /** The [[FontInfo]] of a word, shared by consecutive words of one
    * font and size. */
  private final class FontInfos {
    private var font: FontRes = null
    private var sizeBits = 0L
    private var info: FontInfo = null

    def apply(f: FontRes, size: Double): FontInfo = {
      val bits = java.lang.Double.doubleToRawLongBits(size)
      if (!(f eq font) || bits != sizeBits || info == null) {
        font = f
        sizeBits = bits
        info = FontInfo(
          font_id = f.resName,
          font_family = PdfFonts.familyOf(f.baseFont),
          font_size = Some(math.rint(size * 10) / 10),
          is_bold = f.bold,
          is_italics = f.italic,
          is_subscript = false,
          is_superscript = false)
      }
      info
    }
  }

  /** One-pass Dataset of (tokens, graphics) per doc — the
    * AltoReader.parsedDocs convention for graphics-wired pipelines. */
  def parsedDocs(docs: Dataset[(Long, Array[Byte])], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue)
      : Dataset[(Seq[TokenRow], Seq[graft.pipeline.GraphicRow])] = {
    import docs.sparkSession.implicits._
    docs.map { case (docId, bytes) =>
      parseAll(docId, bytes, firstPage, lastPage) }
  }

  private def r2(v: Double): Double = math.rint(v * 100) / 100

  // --------------------------------------------------- Spark entry points

  /** Parse a corpus of (doc_id, pdf_bytes) into TokenRows — the A1
    * front door, one row-local parse per document. */
  def tokens(docs: Dataset[(Long, Array[Byte])], firstPage: Int = 1,
      lastPage: Int = Int.MaxValue): Dataset[TokenRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, bytes) =>
      parseTokens(docId, bytes, firstPage, lastPage) }
  }

  private[sources] def parseSafe(docId: Long, bytes: Array[Byte]):
      Either[String, Seq[TokenRow]] =
    try Right(parseTokens(docId, bytes))
    catch { case e: Exception =>
      Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }

  /** Corrupt-tolerant variant (the AltoReader quarantine discipline):
    * a malformed document yields zero rows instead of a task failure. */
  def tokensPermissive(docs: Dataset[(Long, Array[Byte])]): Dataset[TokenRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, bytes) =>
      parseSafe(docId, bytes).toOption.getOrElse(Nil) }
  }

  /** Dead-letter query over the same input: (doc_id, parser error). */
  def quarantine(docs: Dataset[(Long, Array[Byte])]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (docId, bytes) =>
      parseSafe(docId, bytes).left.toOption.map(e => (docId, e))
    }.toDF("doc_id", "error")
  }

  /** Read a directory of .pdf files via binaryFile — doc_id =
    * xxhash64(path), the AltoReader.readDirectory convention (map-side,
    * no shuffle, no global ordering). */
  def readDirectory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.format("binaryFile").load(path)
      .select(xxhash64(col("path")).as("doc_id"), col("content"))
    tokens(raw.as[(Long, Array[Byte])]).toDF()
  }
}
