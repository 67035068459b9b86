package graft.pipeline

import java.math.{BigDecimal, RoundingMode}

/** Page-coordinate merging and the TEI `coords` attribute format
  * (reference `document/layout_document.py:65-98` get_merged_with /
  * get_merged_coordinates_list and `document/tei/common.py:87-101`
  * format_coordinates / format_coordinates_list).
  *
  * The merge folds an ordered coordinate list pairwise: a pending box
  * absorbs the next one while they share a page (union bbox), a page
  * change flushes the pending box. Tokens arrive in reading order, so
  * the result is one box per visited page, in visit order.
  */
object Coordinates {

  /** Union bbox of two same-page boxes (layout_document.py:65-77). */
  def union(a: Coords, b: Coords): Coords = {
    require(a.page_number == b.page_number,
      "cannot merge coordinates on different pages")
    val x = math.min(a.x, b.x)
    val y = math.min(a.y, b.y)
    Coords(x, y,
      math.max(a.x + a.width, b.x + b.width) - x,
      math.max(a.y + a.height, b.y + b.height) - y,
      a.page_number)
  }

  /** Pairwise ordered merge (layout_document.py:80-98). */
  def merge(cs: Seq[Coords]): Seq[Coords] = {
    val out = scala.collection.mutable.ListBuffer.empty[Coords]
    var pending: Coords = null
    cs.foreach { c =>
      if (pending == null) pending = c
      else if (c.page_number != pending.page_number) {
        out += pending; pending = c
      } else pending = union(pending, c)
    }
    if (pending != null) out += pending
    out.toList
  }

  /** "%d,%.2f,%.2f,%.2f,%.2f" (tei/common.py:87-94), built without a
    * `java.util.Formatter` (one per call, with its locale symbols, cost
    * a quarter of the per-document fold); equal to
    * `formatLocal(Locale.ROOT, …)` on every double. */
  def format(c: Coords): String =
    format(c.page_number, c.x, c.y, c.width, c.height)

  private[graft] def format(page: Int, x: Double, y: Double, width: Double,
      height: Double): String =
    appendTo(new java.lang.StringBuilder(40), page, x, y, width, height).toString

  /** [[format]] appended to `sb`. */
  private[graft] def appendTo(sb: java.lang.StringBuilder, page: Int, x: Double,
      y: Double, width: Double, height: Double): java.lang.StringBuilder = {
    sb.append(page)
    appendFixed2(sb.append(','), x)
    appendFixed2(sb.append(','), y)
    appendFixed2(sb.append(','), width)
    appendFixed2(sb.append(','), height)
    sb
  }

  /** `%.2f` as `Formatter` prints it: the shortest decimal form
    * (`Double.toString`) rounded half-up to two places (1.005 → 1.01,
    * 0.125 → 0.13), a '-' on every negative value including -0.0 and
    * those that round to 0.00, and `NaN` / `Infinity` as words.
    *
    * Coordinates stay doubles until this call. For 1e-3 <= |v| < 1e7
    * the hundredths are the nearest integer to |v|·100 unless that
    * product lies within 1e-6 of a half-integer: the product is within
    * 1.1e-7 of 100·|v|, and the shortest decimal within 9.4e-8 of it, so
    * away from a tie both round alike. Ties and every other value take
    * the `Double.toString` digits. */
  private def appendFixed2(sb: java.lang.StringBuilder, v: Double): Unit = {
    val a = math.abs(v)
    if (a >= 1e-3 && a < 1e7) {
      val h = a * 100
      val whole = math.floor(h)
      val frac = h - whole
      if (math.abs(frac - 0.5) > 1e-6) {
        if (v < 0) sb.append('-')
        appendHundredths(sb, whole.toLong + (if (frac > 0.5) 1 else 0))
        return
      }
    }
    appendFixed2Digits(sb, v)
  }

  private def appendHundredths(sb: java.lang.StringBuilder, hundredths: Long): Unit = {
    val frac = (hundredths % 100).toInt
    sb.append(hundredths / 100).append('.')
    if (frac < 10) sb.append('0')
    sb.append(frac)
  }

  /** [[appendFixed2]] from the `Double.toString` digits. */
  private def appendFixed2Digits(sb: java.lang.StringBuilder, v: Double): Unit =
    if (v.isNaN) sb.append("NaN")
    else {
      if (java.lang.Double.compare(v, 0.0) < 0) sb.append('-')
      val a = math.abs(v)
      if (a.isInfinite) sb.append("Infinity")
      else {
        val s = java.lang.Double.toString(a)
        // plain "ddd.ddd" for 1e-3 <= a < 1e7, so the digits fit a long
        val dot = if (s.indexOf('E') >= 0) -1 else s.indexOf('.')
        if (dot < 0)
          sb.append(new BigDecimal(s).setScale(2, RoundingMode.HALF_UP).toPlainString)
        else {
          var hundredths = 0L
          var i = 0
          while (i < dot) { hundredths = hundredths * 10 + (s.charAt(i) - '0'); i += 1 }
          // Double.toString prints at least one fraction digit
          hundredths = hundredths * 10 + (s.charAt(dot + 1) - '0')
          hundredths = hundredths * 10 + (if (dot + 2 < s.length) s.charAt(dot + 2) - '0' else 0)
          if (dot + 3 < s.length && s.charAt(dot + 3) >= '5') hundredths += 1
          appendHundredths(sb, hundredths)
        }
      }
    }

  /** ';'-joined list (tei/common.py:97-101); null when empty so a
    * missing attribute and an absent coordinate list are the same. */
  def formatList(cs: Seq[Coords]): String =
    if (cs.isEmpty) null else cs.map(format).mkString(";")

  /** Inverse of [[formatList]]. */
  def parse(s: String): Seq[Coords] =
    if (s == null || s.isEmpty) Nil
    else s.split(";").toSeq.map { part =>
      val f = part.split(",")
      Coords(f(1).toDouble, f(2).toDouble, f(3).toDouble, f(4).toDouble,
        f(0).toInt)
    }

  /** Re-merge formatted child coords into a parent attribute value —
    * `formatList(merge(ss.flatMap(parse)))` — so derived elements (a
    * `<p>` fragment, a figure wrapper) need no raw boxes threaded
    * through every node. Null-safe: children without coords contribute
    * nothing; null when nothing contributes. One [[BoxMerge]] scan over
    * the children's chars, no `split` and no `Coords`. */
  def mergeFormatted(ss: Seq[String]): String = {
    val m = new BoxMerge
    ss.foreach(m.addFormatted)
    m.result()
  }

  /** The pairwise ordered merge ([[merge]]) over boxes given as four
    * doubles and a page, formatted as each box closes: a box on the
    * pending box's page grows it by [[union]]'s formula, another page
    * formats it and starts the next. [[result]] returns the ';'-joined
    * list, or null with no box, and starts over. */
  private[graft] final class BoxMerge {
    private val out = new java.lang.StringBuilder
    private var pending = false
    private var page = 0
    private var x = 0.0
    private var y = 0.0
    private var w = 0.0
    private var h = 0.0

    def add(bx: Double, by: Double, bw: Double, bh: Double, bpage: Int): Unit =
      if (pending && bpage == page) {
        val ux = math.min(x, bx)
        val uy = math.min(y, by)
        w = math.max(x + w, bx + bw) - ux
        h = math.max(y + h, by + bh) - uy
        x = ux
        y = uy
      } else {
        flush()
        pending = true
        page = bpage
        x = bx; y = by; w = bw; h = bh
      }

    /** Every box of a [[formatList]] string (null or empty: none). The
      * fields read back exactly: our own format writes at most two
      * decimals, which [[graft.sources.PdfSyntax.decimalValue]] reads
      * on its exact path. */
    def addFormatted(s: String): Unit =
      if (s != null) {
        var i = 0
        while (i < s.length) {
          var end = s.indexOf(';', i)
          if (end < 0) end = s.length
          val c1 = s.indexOf(',', i)
          val c2 = s.indexOf(',', c1 + 1)
          val c3 = s.indexOf(',', c2 + 1)
          val c4 = s.indexOf(',', c3 + 1)
          add(decimal(s, c1 + 1, c2), decimal(s, c2 + 1, c3), decimal(s, c3 + 1, c4),
            decimal(s, c4 + 1, end), Integer.parseInt(s, i, c1, 10))
          i = end + 1
        }
      }

    private def decimal(s: String, from: Int, until: Int): Double =
      graft.sources.PdfSyntax.decimalValue(s, from, until)

    private def flush(): Unit = if (pending) {
      if (out.length > 0) out.append(';')
      appendTo(out, page, x, y, w, h)
    }

    def result(): String = {
      flush()
      val s = if (out.length == 0) null else out.toString
      clear()
      s
    }

    def clear(): Unit = {
      pending = false
      out.setLength(0)
    }
  }
}

/** Span assembly: a span's ordered tokens → (text, coords, styles),
  * streamed token by token. The one implementation behind both span
  * forms: [[LocalLabelers.spansLocal]] feeds it the labeled
  * [[TokenRow]]s of each span, and the [[BioSpans.spans]] UDF the
  * collected token structs, so LabelerParitySpec's span parity covers
  * all three fields by construction.
  *
  * - text: `text + whitespace` of each token whose two fields are both
  *   non-null (concat_ws skips the element when concat(text,
  *   whitespace) is null), trailing chars <= U+0020 trimmed
  *   (UTF8String.trimRight).
  * - coords: one box per run of same-page tokens, grown with
  *   [[Coordinates.union]]'s arithmetic, kept as four doubles; a page
  *   change formats the pending box ([[Coordinates.BoxMerge]]).
  * - styles: styled runs — same-style neighbours merge with the joining
  *   whitespace inside, boundary whitespace stays plain
  *   (tei/common.py:115-151), `start,end,mask` clipped to the text.
  *
  * Reused from span to span: [[start]] clears it, [[finish]] sets
  * [[text]], [[coords]] and [[styles]]. */
private[graft] final class SpanAssembly {
  private val sb = new java.lang.StringBuilder(256)
  // closed styled runs, (start, end, mask) triples
  private var runs = new Array[Int](24)
  private var nRuns = 0
  private var runStart = 0
  private var runEnd = 0
  private var runMask = 0
  private val boxes = new Coordinates.BoxMerge

  var text: String = null
  var coords: String = null
  var styles: String = null

  def start(): Unit = {
    sb.setLength(0)
    nRuns = 0
    runStart = 0
    runEnd = 0
    runMask = 0
    boxes.clear()
  }

  private def closeRun(): Unit = {
    if (runMask != 0 && runEnd > runStart) {
      if (nRuns * 3 == runs.length) runs = java.util.Arrays.copyOf(runs, runs.length * 2)
      runs(nRuns * 3) = runStart
      runs(nRuns * 3 + 1) = runEnd
      runs(nRuns * 3 + 2) = runMask
      nRuns += 1
    }
    runMask = 0
  }

  /** A token's text, its whitespace and its [[SpanAssembly.styleMask]]. */
  def add(text: String, whitespace: String, mask: Int): Unit =
    if (text != null && whitespace != null) {
      if (mask != runMask) { closeRun(); runStart = sb.length; runMask = mask }
      sb.append(text)
      runEnd = sb.length
      sb.append(whitespace)
    }

  /** A token's box. */
  def box(x: Double, y: Double, width: Double, height: Double, page: Int): Unit =
    boxes.add(x, y, width, height, page)

  def finish(): Unit = {
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) <= ' ') end -= 1
    closeRun()
    text = sb.substring(0, end)
    coords = boxes.result()
    var style: java.lang.StringBuilder = null
    var k = 0
    while (k < nRuns) {
      val s = runs(k * 3)
      if (s < end) {
        if (style == null) style = new java.lang.StringBuilder
        else style.append(';')
        style.append(s).append(',').append(math.min(runs(k * 3 + 1), end))
          .append(',').append(runs(k * 3 + 2))
      }
      k += 1
    }
    styles = if (style == null) null else style.toString
  }
}

object SpanAssembly {
  /** Style bits: 1 bold, 2 italic, 4 subscript, 8 superscript. */
  def styleMask(f: FontInfo): Int =
    if (f == null) 0
    else styleMask(f.is_bold, f.is_italics, f.is_subscript, f.is_superscript)

  def styleMask(bold: Boolean, italic: Boolean, subscript: Boolean,
      superscript: Boolean): Int =
    (if (bold) 1 else 0) | (if (italic) 2 else 0) |
      (if (subscript) 4 else 0) | (if (superscript) 8 else 0)
}

/** Styled token runs over a span/node text, encoded `start,end,mask`
  * (';'-joined; mask bits 1=bold 2=italic 4=subscript 8=superscript —
  * the tei/common.py:61-71 style order). The TEI sink renders them as
  * nested `<hi rend="…">` wrappers; folds that cut or shift a node's
  * text re-base the runs with [[slice]]. */
object StyleRuns {

  def parse(s: String): Seq[(Int, Int, Int)] =
    if (s == null || s.isEmpty) Nil
    else s.split(";").toSeq.map { r =>
      val f = r.split(",")
      (f(0).toInt, f(1).toInt, f(2).toInt)
    }

  def format(runs: Seq[(Int, Int, Int)]): String =
    if (runs.isEmpty) null
    else runs.map { case (a, b, m) => s"$a,$b,$m" }.mkString(";")

  /** Runs for `text.substring(from, until)`, re-based to 0; runs
    * falling outside the window are clipped or dropped. */
  def slice(s: String, from: Int, until: Int): String =
    format(parse(s).flatMap { case (a, b, m) =>
      val a2 = math.max(a, from)
      val b2 = math.min(b, until)
      if (b2 > a2) Some((a2 - from, b2 - from, m)) else None
    })
}
