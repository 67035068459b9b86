package graft.sources

/** Standard-14 font metrics — glyph advance widths (1/1000 em units)
  * for the base fonts every PDF consumer must know without embedded
  * metrics (ISO 32000 §9.6.2.2). Values are the published Adobe AFM
  * data for the Helvetica and Courier families, codes 32–126
  * (WinAnsi/ASCII overlap); oblique/italic cuts share their upright's
  * widths, which is exact per the AFMs. Fonts outside the subset fall
  * back to Helvetica widths — embedded `/Widths` arrays (which real
  * PDFs ship for non-standard fonts) take precedence in the reader, so
  * the fallback only feeds width estimates for exotic unembedded
  * fonts.
  */
private[graft] object PdfFonts {

  // Helvetica, codes 32..126 (Adobe AFM)
  private val helvetica: Array[Int] = Array(
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, // sp ! " # $ % & ' ( )
    389, 584, 278, 333, 278, 278,                     // * + , - . /
    556, 556, 556, 556, 556, 556, 556, 556, 556, 556, // 0-9
    278, 278, 584, 584, 584, 556, 1015,               // : ; < = > ? @
    667, 667, 722, 722, 667, 611, 778, 722, 278, 500, // A-J
    667, 556, 833, 722, 778, 667, 778, 722, 667, 611, // K-T
    722, 667, 944, 667, 667, 611,                     // U-Z
    278, 278, 278, 469, 556, 333,                     // [ \ ] ^ _ `
    556, 556, 500, 556, 556, 278, 556, 556, 222, 222, // a-j
    500, 222, 833, 556, 556, 556, 556, 333, 500, 278, // k-t
    556, 500, 722, 500, 500, 500,                     // u-z
    334, 260, 334, 584)                               // { | } ~

  // Helvetica-Bold, codes 32..126 (Adobe AFM)
  private val helveticaBold: Array[Int] = Array(
    278, 333, 474, 556, 556, 889, 722, 238, 333, 333,
    389, 584, 278, 333, 278, 278,
    556, 556, 556, 556, 556, 556, 556, 556, 556, 556,
    333, 333, 584, 584, 584, 611, 975,
    722, 722, 722, 722, 667, 611, 778, 722, 278, 556,
    722, 611, 833, 722, 778, 667, 778, 722, 667, 611,
    722, 667, 944, 667, 667, 611,
    333, 278, 333, 584, 556, 333,
    556, 611, 556, 611, 556, 333, 611, 611, 278, 278,
    556, 278, 889, 611, 611, 611, 611, 389, 556, 333,
    611, 556, 778, 556, 556, 500,
    389, 280, 389, 584)

  // Courier and its cuts are monospace: every glyph 600
  private val courier: Array[Int] = Array.fill(95)(600)

  /** The width table (codes 32–126) for base font name `baseFont`
    * (subset prefixes like `ABCDEF+` already stripped by the caller). */
  def widthTable(baseFont: String): Array[Int] = {
    val name = if (baseFont == null) "" else baseFont
    if (name.startsWith("Courier")) courier
    else if (name.startsWith("Helvetica-Bold") || name.contains("BoldObl") ||
        (name.contains("Bold") && name.startsWith("Helvetica")))
      helveticaBold
    else helvetica
  }

  /** Advance width in 1/1000 em for `code` in a [[widthTable]]. Unknown
    * codes get the font's space width — the estimate-not-fail rule for
    * binary-corpus robustness. */
  def width(table: Array[Int], code: Int): Int =
    if (code >= 32 && code <= 126) table(code - 32) else table(0)

  /** Advance width in 1/1000 em for `code` under base font name
    * `baseFont`. */
  def width(baseFont: String, code: Int): Int = width(widthTable(baseFont), code)

  /** Width of a whole string at `size` points. */
  def stringWidth(baseFont: String, s: String, size: Double): Double = {
    var w = 0
    var i = 0
    while (i < s.length) { w += width(baseFont, s.charAt(i)); i += 1 }
    w * size / 1000.0
  }

  def isBoldName(baseFont: String): Boolean =
    baseFont != null && baseFont.toLowerCase.contains("bold")

  def isItalicName(baseFont: String): Boolean = {
    if (baseFont == null) return false
    val l = baseFont.toLowerCase
    l.contains("italic") || l.contains("oblique")
  }

  /** Family name from a base font: strip the `ABCDEF+` subset tag and
    * the style suffix after '-' (`Helvetica-BoldOblique` → `Helvetica`),
    * the same reading pdfalto applies to `-fullFontName` output. */
  def familyOf(baseFont: String): String = {
    if (baseFont == null) return null
    val noSubset = if (baseFont.length > 7 && baseFont.charAt(6) == '+' &&
      baseFont.take(6).forall(c => c >= 'A' && c <= 'Z'))
      baseFont.substring(7) else baseFont
    val dash = noSubset.indexOf('-')
    if (dash > 0) noSubset.substring(0, dash) else noSubset
  }
}
