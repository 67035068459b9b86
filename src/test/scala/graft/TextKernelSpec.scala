package graft

import java.util.Locale
import java.util.regex.Pattern

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Coordinates, Coords, FontInfo, LocalLabelers, Processor,
  TextNormalization, TokenRow}
import graft.sources.{PdfReader, PdfSyntax}

/** Differential specs for the per-document kernels: each char-scan,
  * comparator-sort or scratch-buffer kernel against the regex /
  * `java.util.Formatter` / boxed-key / allocating form it replaced, kept
  * here as the oracle. The kernels define token identity, token order,
  * glyph positions and the TEI `coords` bytes, so any difference is an
  * output change.
  */
class TextKernelSpec extends AnyFunSuite {

  /** The replaced forms, verbatim. */
  private object Oracle {
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

  test("LocalLabelers.views splits a labeling like five collects") {
    val tags = IndexedSeq("<header>", "<body>", "<acknowledgement>", "<annex>", "<references>")
    val labels = tags.flatMap(t => Seq("B-" + t, "I-" + t, t)) ++
      Seq("O", "B-", "I-", "B-<bodyx>", "I-<body", "<body>x", "b-<body>", "B-B-<body>")
    val rnd = new Random(43L)
    (0 until 300).foreach { _ =>
      val labeled = IndexedSeq.tabulate(rnd.nextInt(150)) { i =>
        (TokenRow(1L, 0, 0, 0, i, s"t$i", " ", FontInfo.empty, None, 1, None, None),
          labels(rnd.nextInt(labels.length)))
      }
      val got = LocalLabelers.views(labeled, tags)
      tags.indices.foreach { k =>
        val oracle = labeled.collect { case (t, l) if LocalLabelers.stripTag(l) == tags(k) => t }
        assert(got(k) == oracle, tags(k))
      }
    }
  }
}
