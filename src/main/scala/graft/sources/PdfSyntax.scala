package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** PDF object syntax — the COS layer of the public PDF 1.x
  * specification (ISO 32000): tokens, objects, classic xref tables,
  * cross-reference streams, and stream filters. This is the in-JVM
  * replacement for the parsing half of the reference's `pdfalto`
  * subprocess seam (`external/pdfalto/wrapper.py:20-48`): everything
  * here is written from the published file format, no external binary.
  *
  * Scope (declared subset): FlateDecode (+ PNG/TIFF predictors) and
  * ASCIIHexDecode filters, classic xref chains via /Prev, xref streams
  * (/Type /XRef with /W field widths and /Index), literal/hex strings,
  * and a full-file `N G obj` rebuild scan as the recovery path for
  * documents with broken xref offsets — the same tolerance class
  * pdfalto applies. Object streams (/Type /ObjStm) are supported so
  * PDF 1.5+ writers parse. Encrypted documents are out of scope and
  * fail loudly (the reference also rejects them).
  */
private[graft] object PdfSyntax {

  sealed trait PdfObj
  final case class PNum(v: Double) extends PdfObj {
    def int: Int = v.toInt
    def long: Long = v.toLong
  }
  final case class PStr(bytes: Array[Byte]) extends PdfObj {
    def text: String = new String(bytes, StandardCharsets.ISO_8859_1)
  }
  final case class PName(v: String) extends PdfObj
  final case class PArr(items: Vector[PdfObj]) extends PdfObj
  final case class PDict(m: Map[String, PdfObj]) extends PdfObj {
    def get(k: String): Option[PdfObj] = m.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends PdfObj
  final case class PBool(v: Boolean) extends PdfObj
  case object PNull extends PdfObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PdfObj

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Positioned recursive-descent parser over the raw bytes. Also used
    * for content streams, where bare keywords are operators —
    * [[Lexer.nextToken]] surfaces them as [[Op]].
    */
  final case class Op(name: String)

  private val CloseArray = Op("]")
  private val CloseDict = Op(">>")

  /** The content-stream operators of up to three bytes (ISO 32000
    * Table A.1), one shared [[Op]] each, keyed by [[opKey]]: the lexer
    * builds no `String` and no `Op` for them. */
  private val Ops: scala.collection.mutable.LongMap[Op] = {
    val m = new scala.collection.mutable.LongMap[Op]
    Seq("b", "B", "b*", "B*", "BDC", "BI", "BMC", "BT", "BX", "c", "cm",
      "CS", "cs", "d", "d0", "d1", "Do", "DP", "EI", "EMC", "ET", "EX", "f",
      "F", "f*", "G", "g", "gs", "h", "i", "ID", "j", "J", "K", "k", "l", "m",
      "M", "MP", "n", "q", "Q", "re", "RG", "rg", "ri", "s", "S", "SC", "sc",
      "SCN", "scn", "sh", "T*", "Tc", "Td", "TD", "Tf", "Tj", "TJ", "TL",
      "Tm", "Tr", "Ts", "Tw", "Tz", "v", "w", "W", "W*", "y", "'", "\"",
      "obj").foreach { name =>
      val b = name.getBytes(StandardCharsets.ISO_8859_1)
      m.update(opKey(b, 0, b.length), Op(name))
    }
    m
  }

  /** The bytes `[start, start + n)`, n ≤ 3, and their count as one key. */
  private def opKey(bytes: Array[Byte], start: Int, n: Int): Long = {
    var k = n.toLong
    var i = start
    while (i < start + n) { k = (k << 8) | (bytes(i) & 0xff); i += 1 }
    k
  }

  /** Exact powers of ten: every double from 1e0 to 1e22 is. */
  private val ExactPow10: Array[Double] = Array(1e0, 1e1, 1e2, 1e3, 1e4,
    1e5, 1e6, 1e7, 1e8, 1e9, 1e10, 1e11, 1e12, 1e13, 1e14, 1e15, 1e16, 1e17,
    1e18, 1e19, 1e20, 1e21, 1e22)

  /** `bytes[start, end)` read as `String.toDouble` reads it (ISO-8859-1).
    * A plain decimal (`[+-]?` digits with at most one '.') of at most 15
    * significant digits and 22 fraction digits takes Clinger's fast
    * path: its digits as a long, divided by an exact power of ten. Both
    * operands are exact, so the division's one rounding gives the
    * correctly rounded value, as `parseDouble` does. Everything else,
    * malformed input included, goes through `parseDouble`, and throws
    * where it throws. */
  private[graft] def numberValue(bytes: Array[Byte], start: Int, end: Int): Double = {
    var i = start
    val neg = i < end && bytes(i) == '-'
    if (i < end && (bytes(i) == '+' || bytes(i) == '-')) i += 1
    var mantissa = 0L // wraps past 18 digits, but is only read at ≤ 15
    var significant = 0
    var digits = 0
    var fraction = -1 // digits after the '.', -1 before it
    var plain = true
    while (i < end && plain) {
      val c = bytes(i)
      if (c >= '0' && c <= '9') {
        digits += 1
        if (fraction >= 0) fraction += 1
        if (significant > 0 || c != '0') {
          significant += 1
          mantissa = mantissa * 10 + (c - '0')
        }
      } else if (c == '.' && fraction < 0) fraction = 0
      else plain = false
      i += 1
    }
    if (plain && digits > 0 && significant <= 15 && fraction <= 22)
      exactValue(neg, mantissa, fraction)
    else
      java.lang.Double.parseDouble(
        new String(bytes, start, end - start, StandardCharsets.ISO_8859_1))
  }

  /** `s.toDouble`, on [[numberValue]]'s fast path over the chars: the
    * same plain decimals take it, and everything else, padded or
    * malformed input included, goes through `parseDouble` and throws
    * where it throws. For the ALTO readers' coordinate attributes. */
  private[graft] def decimalValue(s: String): Double = decimalValue(s, 0, s.length)

  /** [[decimalValue]] of `s.substring(from, until)`, read in place. A
    * plain decimal past the exact path (16 or more significant digits,
    * as `Double.toString` writes many coordinates) goes to jackson-core's
    * FastDoubleParser, which rounds correctly as `parseDouble` does. */
  private[graft] def decimalValue(s: String, from: Int, until: Int): Double = {
    var i = from
    val neg = i < until && s.charAt(i) == '-'
    if (i < until && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    var mantissa = 0L
    var significant = 0
    var digits = 0
    var fraction = -1
    var plain = true
    while (i < until && plain) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        digits += 1
        if (fraction >= 0) fraction += 1
        if (significant > 0 || c != '0') {
          significant += 1
          mantissa = mantissa * 10 + (c - '0')
        }
      } else if (c == '.' && fraction < 0) fraction = 0
      else plain = false
      i += 1
    }
    if (plain && digits > 0 && significant <= 15 && fraction <= 22)
      exactValue(neg, mantissa, fraction)
    else {
      val part = if (from == 0 && until == s.length) s else s.substring(from, until)
      if (plain && digits > 0)
        com.fasterxml.jackson.core.io.NumberInput.parseDouble(part, true)
      else java.lang.Double.parseDouble(part)
    }
  }

  /** A fast-path decimal: `mantissa` (at most 15 digits) over 10^`fraction`. */
  private def exactValue(neg: Boolean, mantissa: Long, fraction: Int): Double = {
    val v = if (fraction > 0) mantissa / ExactPow10(fraction) else mantissa.toDouble
    if (neg) -v else v
  }

  final class Lexer(val bytes: Array[Byte], var pos: Int = 0) {

    def atEnd: Boolean = pos >= bytes.length

    def skipWs(): Unit = {
      while (pos < bytes.length &&
          (isWs(bytes(pos) & 0xff) || bytes(pos) == '%')) {
        if (bytes(pos) == '%') {
          while (pos < bytes.length && bytes(pos) != '\n' && bytes(pos) != '\r')
            pos += 1
        } else pos += 1
      }
    }

    private def skipBare(): Unit =
      while (pos < bytes.length && !isWs(bytes(pos) & 0xff) &&
          !isDelim(bytes(pos) & 0xff)) pos += 1

    private def bareToken(): String = {
      val start = pos
      skipBare()
      new String(bytes, start, pos - start, StandardCharsets.ISO_8859_1)
    }

    /** Next object OR operator keyword (content-stream mode). */
    def nextToken(): Any = {
      skipWs()
      if (atEnd) return null
      val c = bytes(pos) & 0xff
      c match {
        case '/' => parseName()
        case '(' => parseLiteralString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PdfObj]
          var t = nextToken()
          while (t != CloseArray) {
            require(t != null, "EOF inside array")
            items += t.asInstanceOf[PdfObj]
            t = nextToken()
          }
          PArr(items.result())
        case ']' => pos += 1; CloseArray
        case '<' =>
          if (pos + 1 < bytes.length && bytes(pos + 1) == '<') parseDict()
          else parseHexString()
        case '>' =>
          require(pos + 1 < bytes.length && bytes(pos + 1) == '>',
            "stray '>'")
          pos += 2; CloseDict
        case '{' => pos += 1; Op("{")
        case '}' => pos += 1; Op("}")
        case ')' => throw new IllegalArgumentException("stray ')'")
        case _ if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          parseNumberOrRef()
        case _ =>
          val start = pos
          skipBare()
          val n = pos - start
          val op = if (n > 0 && n <= 3) Ops.getOrNull(opKey(bytes, start, n)) else null
          if (op != null) op
          else new String(bytes, start, n, StandardCharsets.ISO_8859_1) match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case "" => pos += 1; nextToken() // unexpected delimiter; skip
            case kw => Op(kw)
          }
      }
    }

    /** Next PDF OBJECT (document mode — operators are an error). */
    def nextObj(): PdfObj = nextToken() match {
      case o: PdfObj => o
      case Op(kw) => throw new IllegalArgumentException(
        s"expected object, got keyword '$kw' at $pos")
      case null => throw new IllegalArgumentException("EOF, expected object")
    }

    private def parseName(): PName = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (pos < bytes.length && !isWs(bytes(pos) & 0xff) &&
          !isDelim(bytes(pos) & 0xff)) {
        val c = bytes(pos) & 0xff
        if (c == '#' && pos + 2 < bytes.length) {
          val h = Integer.parseInt(
            new String(bytes, pos + 1, 2, StandardCharsets.ISO_8859_1), 16)
          sb.append(h.toChar)
          pos += 3
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def parseLiteralString(): PStr = {
      pos += 1 // '('
      val out = new ByteArrayOutputStream(32)
      var depth = 1
      while (depth > 0) {
        require(pos < bytes.length, "EOF inside string")
        val c = bytes(pos) & 0xff
        pos += 1
        c match {
          case '\\' =>
            require(pos < bytes.length, "EOF after backslash")
            val e = bytes(pos) & 0xff
            pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => // line continuation
                if (pos < bytes.length && bytes(pos) == '\n') pos += 1
              case '\n' => ()
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < bytes.length &&
                    bytes(pos) >= '0' && bytes(pos) <= '7') {
                  v = v * 8 + (bytes(pos) - '0')
                  pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other) // spec: backslash ignored
            }
          case '(' => depth += 1; out.write('(')
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
          case other => out.write(other)
        }
      }
      PStr(out.toByteArray)
    }

    private def parseHexString(): PStr = {
      pos += 1 // '<'
      val out = new ByteArrayOutputStream(32)
      var hi = -1
      var stop = false
      while (!stop) {
        require(pos < bytes.length, "EOF inside hex string")
        val c = bytes(pos) & 0xff
        pos += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4) // odd count: pad with 0
          stop = true
        } else if (!isWs(c)) {
          val v = Character.digit(c, 16)
          // thrown as `require` would, without its message closure per digit
          if (v < 0) throw new IllegalArgumentException(
            "requirement failed: bad hex digit '" + c.toChar + "'")
          if (hi < 0) hi = v
          else { out.write((hi << 4) | v); hi = -1 }
        }
      }
      PStr(out.toByteArray)
    }

    private def parseDict(): PdfObj = {
      pos += 2 // '<<'
      val m = Map.newBuilder[String, PdfObj]
      var t = nextToken()
      while (t != CloseDict) {
        require(t != null, "EOF inside dict")
        val key = t match {
          case PName(n) => n
          case other => throw new IllegalArgumentException(
            s"dict key must be a name, got $other")
        }
        m += key -> nextObj()
        t = nextToken()
      }
      PDict(m.result())
    }

    /** `12 0 R` needs two-token lookahead from a number. */
    private def parseNumberOrRef(): PdfObj = {
      val n1 = parseNumber()
      if (n1.v != math.floor(n1.v) || n1.v < 0) return n1
      val save = pos
      skipWs()
      if (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        val n2 = parseNumber()
        if (n2.v == math.floor(n2.v) && n2.v >= 0) {
          skipWs()
          if (pos < bytes.length && bytes(pos) == 'R' &&
              (pos + 1 >= bytes.length || isWs(bytes(pos + 1) & 0xff) ||
                isDelim(bytes(pos + 1) & 0xff))) {
            pos += 1
            return PRef(n1.int, n2.int)
          }
        }
      }
      pos = save // not a ref — rewind so following tokens re-parse
      n1
    }

    def parseNumber(): PNum = PNum(scanNumber())

    /** [[parseNumber]]'s value, unboxed. */
    private[sources] def scanNumber(): Double = {
      skipWs()
      val start = pos
      if (pos < bytes.length && (bytes(pos) == '+' || bytes(pos) == '-'))
        pos += 1
      while (pos < bytes.length &&
          ((bytes(pos) >= '0' && bytes(pos) <= '9') || bytes(pos) == '.'))
        pos += 1
      // thrown as `require` would, without its message closure per number
      if (pos <= start) throw new IllegalArgumentException(
        "requirement failed: expected number at " + start)
      numberValue(bytes, start, pos)
    }

    /** Consume an expected bare keyword. */
    def expectKeyword(kw: String): Unit = {
      skipWs()
      val got = bareToken()
      // thrown as `require` would, without its message closure per object
      if (got != kw) throw new IllegalArgumentException(
        s"requirement failed: expected '$kw', got '$got' at $pos")
    }

    def readLineRaw(): String = {
      val start = pos
      while (pos < bytes.length && bytes(pos) != '\n' && bytes(pos) != '\r')
        pos += 1
      val s = new String(bytes, start, pos - start, StandardCharsets.ISO_8859_1)
      if (pos < bytes.length && bytes(pos) == '\r') pos += 1
      if (pos < bytes.length && bytes(pos) == '\n') pos += 1
      s
    }
  }

  /** A content stream read token by token, as [[Lexer.nextToken]]
    * reads it, into typed fields instead of boxed objects: [[next]]
    * returns the token's kind and leaves a number in [[num]] and any
    * other payload in [[ref]].
    *
    * Numbers, shared operators, plain literal strings (no `\`, no
    * nested parentheses: one copy of their bytes) and names without
    * `#` escapes are read in place. Every other token is read by
    * `nextToken` at the same position, so it keeps its value and any
    * exception its class and message. The `n g R` look-ahead after a
    * non-negative integer is kept, and the number it reads is
    * remembered, so the next token does not scan it again. */
  private[sources] final class ContentLexer(bytes: Array[Byte]) {
    import ContentLexer._

    private val lx = new Lexer(bytes)
    /** The value of a [[Num]]. */
    var num: Double = 0.0
    /** The bytes of a [[Str]], the `String` of a [[Name]], the [[PArr]]
      * of an [[Arr]], the [[PdfObj]] of an [[Obj]] or the [[Op]] of an
      * [[Operator]]. */
    var ref: AnyRef = null
    // the number the last look-ahead read: its start, end and value
    private var aheadStart = -1
    private var aheadEnd = 0
    private var aheadValue = 0.0

    /** The kind of the next token, or [[End]]. */
    def next(): Int = {
      lx.skipWs()
      if (lx.atEnd) return End
      val c = bytes(lx.pos) & 0xff
      if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) numberOrRef()
      else if (c == '(') literal()
      else if (c == '/') name()
      else if (isDelim(c)) fallback()
      else keyword()
    }

    private def number(): Double =
      if (lx.pos == aheadStart) { lx.pos = aheadEnd; aheadValue }
      else lx.scanNumber()

    /** `Lexer.parseNumberOrRef`. */
    private def numberOrRef(): Int = {
      val v = number()
      if (v != math.floor(v) || v < 0) { num = v; return Num }
      val save = lx.pos
      lx.skipWs()
      val start = lx.pos
      if (start < bytes.length && bytes(start) >= '0' && bytes(start) <= '9') {
        val v2 = lx.scanNumber()
        aheadStart = start
        aheadEnd = lx.pos
        aheadValue = v2
        if (v2 == math.floor(v2) && v2 >= 0) {
          lx.skipWs()
          val p = lx.pos
          if (p < bytes.length && bytes(p) == 'R' &&
              (p + 1 >= bytes.length || isWs(bytes(p + 1) & 0xff) ||
                isDelim(bytes(p + 1) & 0xff))) {
            lx.pos = p + 1
            ref = PRef(v.toInt, v2.toInt)
            return Obj
          }
        }
      }
      lx.pos = save
      num = v
      Num
    }

    private def literal(): Int = {
      val start = lx.pos + 1
      var p = start
      while (p < bytes.length && bytes(p) != ')' && bytes(p) != '\\' &&
          bytes(p) != '(') p += 1
      if (p < bytes.length && bytes(p) == ')') {
        ref = java.util.Arrays.copyOfRange(bytes, start, p)
        lx.pos = p + 1
        Str
      } else fallback()
    }

    private def name(): Int = {
      val start = lx.pos + 1
      var p = start
      while (p < bytes.length && !isWs(bytes(p) & 0xff) && !isDelim(bytes(p) & 0xff)) {
        if (bytes(p) == '#') return fallback()
        p += 1
      }
      ref = new String(bytes, start, p - start, StandardCharsets.ISO_8859_1)
      lx.pos = p
      Name
    }

    private def keyword(): Int = {
      val start = lx.pos
      var p = start
      while (p < bytes.length && !isWs(bytes(p) & 0xff) && !isDelim(bytes(p) & 0xff))
        p += 1
      val n = p - start
      val op = if (n > 0 && n <= 3) Ops.getOrNull(opKey(bytes, start, n)) else null
      if (op == null) fallback()
      else { lx.pos = p; ref = op; Operator }
    }

    private def fallback(): Int = lx.nextToken() match {
      case PNum(v) => num = v; Num
      case PStr(b) => ref = b; Str
      case PName(n) => ref = n; Name
      case a: PArr => ref = a; Arr
      case o: PdfObj => ref = o; Obj
      case op: Op => ref = op; Operator
      case _ => End
    }
  }

  private[sources] object ContentLexer {
    final val End = 0
    final val Num = 1
    final val Str = 2
    final val Name = 3
    final val Arr = 4
    final val Obj = 5
    final val Operator = 6
  }

  // -------------------------------------------------------------- filters

  def flateDecode(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream(math.max(64, data.length * 4))
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) {
          if (inf.needsDictionary())
            throw new IllegalArgumentException("flate needs dictionary")
          if (inf.needsInput()) return out.toByteArray // truncated: keep what decoded
        }
        out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"bad flate data: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    var stop = false
    while (i < data.length && !stop) {
      val c = data(i) & 0xff
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        stop = true
      } else if (!isWs(c)) {
        val v = Character.digit(c, 16)
        require(v >= 0, s"bad hex digit in ASCIIHexDecode")
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    out.toByteArray
  }

  /** PNG (predictors 10–15) / TIFF (2) predictor post-pass for Flate
    * streams — required by real-world xref streams, which near-
    * universally ship `/DecodeParms << /Predictor 12 /Columns n >>`. */
  def applyPredictor(data: Array[Byte], predictor: Int, colors: Int,
      bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal differencing (8-bit only)
      require(bpc == 8, "TIFF predictor supported for 8-bit components")
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        val base = r * rowLen
        var i = bpp
        while (i < rowLen && base + i < out.length) {
          out(base + i) = ((out(base + i) + out(base + i - bpp)) & 0xff).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    // PNG: each row prefixed by a filter-type byte
    val stride = rowLen + 1
    val nRows = data.length / stride
    val out = new Array[Byte](nRows * rowLen)
    val prev = new Array[Byte](rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * stride) & 0xff
      val row = new Array[Byte](rowLen)
      System.arraycopy(data, r * stride + 1, row, 0, rowLen)
      var i = 0
      while (i < rowLen) {
        val left = if (i >= bpp) row(i - bpp) & 0xff else 0
        val up = prev(i) & 0xff
        val ul = if (i >= bpp) prev(i - bpp) & 0xff else 0
        val raw = row(i) & 0xff
        val rec = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case other =>
            throw new IllegalArgumentException(s"bad PNG filter type $other")
        }
        row(i) = (rec & 0xff).toByte
        i += 1
      }
      System.arraycopy(row, 0, out, r * rowLen, rowLen)
      System.arraycopy(row, 0, prev, 0, rowLen)
      r += 1
    }
    out
  }

  /** Decode a stream's data through its /Filter chain. */
  def decodeStream(s: PStream, resolve: PdfObj => PdfObj): Array[Byte] = {
    val filters = resolve(s.dict.get("Filter").getOrElse(PNull)) match {
      case PName(n) => Seq(n)
      case PArr(items) => items.map { case PName(n) => n
        case other => throw new IllegalArgumentException(s"bad filter $other") }
      case PNull => Seq.empty
      case other => throw new IllegalArgumentException(s"bad /Filter $other")
    }
    val parmsList: Seq[Option[PDict]] =
      resolve(s.dict.get("DecodeParms").getOrElse(PNull)) match {
        case d: PDict => Seq(Some(d))
        case PArr(items) => items.map(resolve).map {
          case d: PDict => Some(d)
          case _ => None
        }
        case _ => Seq.fill(filters.length)(None)
      }
    var data = s.raw
    filters.zipWithIndex.foreach { case (f, i) =>
      val parms = parmsList.lift(i).flatten
      def pInt(k: String, dflt: Int) = parms.flatMap(_.get(k)).map {
        case PNum(v) => v.toInt
        case _ => dflt
      }.getOrElse(dflt)
      data = f match {
        case "FlateDecode" | "Fl" =>
          applyPredictor(flateDecode(data), pInt("Predictor", 1),
            pInt("Colors", 1), pInt("BitsPerComponent", 8),
            pInt("Columns", 1))
        case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
        case other =>
          throw new IllegalArgumentException(s"unsupported filter /$other")
      }
    }
    data
  }
}
