package graft.pipeline

/** Text normalization + tokenization with the reference's exact
  * character tables (they define downstream token identity, so they are
  * ported verbatim):
  * - ligature/quote/dash folding map: `sciencebeam_parser/utils/text.py:7-47`
  * - delimiter set: `sciencebeam_parser/utils/tokenizer.py:10-15`
  *
  * JVM-side functions on the per-document path: the ALTO and PDF
  * readers' normalize/retokenize chain, the PDF writer's text escape and
  * the reference matcher's partial tokens — the relational surface uses
  * built-in Catalyst string functions instead. Every function is a
  * single char scan over lookup tables: they run once per layout token,
  * where a `Pattern` per call dominated the parse.
  */
object TextNormalization {

  private[graft] val replacements: Map[Char, String] = Map(
    '`' -> "'",
    'ﬀ' -> "ff", 'ﬁ' -> "fi", 'ﬂ' -> "fl",
    'ﬃ' -> "ffi", 'ﬄ' -> "ffl", 'ﬅ' -> "ft", 'ﬆ' -> "st",
    'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE",
    '‐' -> "-", '‑' -> "-", '‒' -> "-",
    '–' -> "-", '—' -> "-", '―' -> "-",
    '“' -> "\"", '”' -> "\"", '„' -> "\"", '‟' -> "\"",
    '’' -> "'", '‘' -> "'",
    '•' -> "•", '‣' -> "•", '⁃' -> "•", '⁌' -> "•",
    '⁍' -> "•", '∙' -> "•", '◉' -> "•", '◘' -> "•",
    '◦' -> "•", '☙' -> "•", '❥' -> "•", '❧' -> "•",
    '⦾' -> "•", '⦿' -> "•", '∗' -> "*",
  )

  /** [[replacements]] indexed by char; null = kept as is. */
  private val replacementTable: Array[String] = {
    val t = new Array[String](replacements.keys.max + 1)
    replacements.foreach { case (c, s) => t(c) = s }
    t
  }

  /** Java's `(?U)\s` (Unicode White_Space): the Zs/Zl/Zp separators,
    * U+0009–U+000D and U+0085. Like the reference regexes' Python `\s`
    * it takes the thin space, NBSP and ideographic space, which Java's
    * default `\s` does not; it is NOT `Character.isWhitespace`, which
    * drops the no-break spaces and adds U+001C–U+001F. */
  private[graft] def isSpace(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r')
    else c == '\u0085' || {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    }

  /** Java's default `\s`, without UNICODE_CHARACTER_CLASS:
    * `[ \t\n\x0B\f\r]` — what `split("\\s+")` and
    * `replaceAll("\\s", …)` match. */
  private[graft] def isRegexSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `s.replaceAll("\\s", "")`: `s` itself when it has no [[isRegexSpace]] char. */
  private[graft] def withoutRegexSpace(s: String): String = {
    var i = 0
    while (i < s.length && !isRegexSpace(s.charAt(i))) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      sb.append(s, 0, i)
      while (i < s.length) {
        val c = s.charAt(i)
        if (!isRegexSpace(c)) sb.append(c)
        i += 1
      }
      sb.toString
    }
  }

  /** normalize_text (utils/text.py:55-65): fold chars, collapse
    * whitespace-around-newlines to '\n', collapse runs of whitespace.
    * One scan: a maximal whitespace run containing '\n' becomes "\n",
    * any other run of two or more chars becomes " ", a lone whitespace
    * char is kept as it is (the reference's `\s*\n\s*` then `\s{2,}`).
    * No folded char or replacement is whitespace, so folding and run
    * collapsing do not interact.
    */
  def normalize(text: String): String = {
    val n = text.length
    // the input itself when no char folds and no whitespace run collapses
    var i = 0
    var same = true
    while (i < n && same) {
      val c = text.charAt(i)
      if (isSpace(c)) same = i + 1 == n || !isSpace(text.charAt(i + 1))
      else {
        val r = if (c < replacementTable.length) replacementTable(c) else null
        same = r == null || (r.length == 1 && r.charAt(0) == c)
      }
      i += 1
    }
    if (same) return text
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isSpace(c)) {
        val start = i
        var newline = false
        while (i < n && isSpace(text.charAt(i))) {
          if (text.charAt(i) == '\n') newline = true
          i += 1
        }
        sb.append(if (newline) '\n' else if (i - start == 1) c else ' ')
      } else {
        val r = if (c < replacementTable.length) replacementTable(c) else null
        if (r == null) sb.append(c) else sb.append(r)
        i += 1
      }
    }
    sb.toString
  }

  /** Delimiters (utils/tokenizer.py:10-15): DELFT/GROBID sets + common
    * affiliation markers.
    */
  private[graft] val delimiters: String =
    "\n\r\t\f ([ •*,:;?.!/#)-−–‐\"“”‘’'`$]*♦♥♣♠ @" +
      "†‡§¶⁋ǂ"

  /** Each delimiter as its one-char part, indexed by char; null = not
    * in [[delimiters]]. */
  private val delimiterParts: Array[String] = {
    val t = new Array[String](delimiters.max + 1)
    delimiters.foreach(c => t(c) = c.toString)
    t
  }

  /** Blank in the Python `str.strip()` sense: Unicode whitespace
    * including the Zs spaces (NBSP, thin space) Java's `trim`/
    * `isWhitespace` alone would miss. */
  private[graft] def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // U+0085 NEL: Python \s and (?U)\s both match it, but neither
      // Character.isWhitespace nor isSpaceChar does on the JVM
      if (!(Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'))
        return false
      i += 1
    }
    true
  }

  /** Whether [[tokenize]] splits `text`: it holds a delimiter or a
    * `(?U)\s` char. */
  private def splits(text: String): Boolean = {
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c < delimiterParts.length && delimiterParts(c) != null) || isSpace(c))
        return true
      i += 1
    }
    false
  }

  /** iter_tokenized_tokens: split keeping the delimiters as tokens —
    * every delimiter and every `(?U)\s` char ([[isSpace]]; a
    * thin-space (U+2009) separated pair must split, and the thin-space
    * token must count as blank) is its own one-char part, the runs
    * between them are the other parts; blank parts dropped unless
    * `keepWhitespace`.
    */
  def tokenize(text: String, keepWhitespace: Boolean = false): List[String] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    def add(p: String): Unit = if (keepWhitespace || !isBlank(p)) parts += p
    val n = text.length
    var last = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      val d = if (c < delimiterParts.length) delimiterParts(c) else null
      if (d != null || isSpace(c)) {
        if (i > last) add(text.substring(last, i))
        add(if (d != null) d else String.valueOf(c))
        last = i + 1
      }
      i += 1
    }
    if (last < n) add(text.substring(last))
    parts.toList
  }

  /** Receives the tokens of a layout word, in order. */
  private[graft] trait TokenSink {
    def token(text: String, whitespace: String, coords: Coords): Unit
  }

  /** One layout word's tokens, for both readers: [[normalize]], then
    * retokenize with pro-rated coordinates (layout_document.py:159-212
    * `retokenize_layout_token`). The box `(x, y, width, height)` on
    * `page` is split by char offset; whitespace parts attach to the
    * preceding token's `whitespace`, and the last token's ends with
    * the reference default " ". Blank is the reference's `str.strip()`
    * test ([[isBlank]]): a blank word has no token, and an NBSP or
    * thin-space part is whitespace, not a token (`String.trim` only
    * strips <= U+0020).
    *
    * A word [[tokenize]] does not split is one token, whose box takes
    * the same pro-rating arithmetic; nothing but its row is allocated.
    */
  private[graft] def wordTokens(word: String, x: Double, y: Double,
      width: Double, height: Double, page: Int, sink: TokenSink): Unit = {
    val text = normalize(word)
    if (isBlank(text)) return
    val totalLen = text.length.toDouble
    def proRated(part: String, offset: Int): Coords =
      Coords(x + width * offset / totalLen, y, width * part.length / totalLen,
        height, page)
    if (!splits(text)) {
      sink.token(text, " ", proRated(text, 0))
      return
    }
    var parts = tokenize(text, keepWhitespace = true)
    var pendingText: String = null
    var pendingWs = ""
    var pendingOffset = 0
    var offset = 0
    while (parts.nonEmpty) {
      val p = parts.head
      if (isBlank(p)) pendingWs += p
      else {
        if (pendingText != null)
          sink.token(pendingText, pendingWs, proRated(pendingText, pendingOffset))
        pendingText = p
        pendingWs = ""
        pendingOffset = offset
      }
      offset += p.length
      parts = parts.tail
    }
    if (pendingText != null)
      sink.token(pendingText, if (pendingWs.isEmpty) " " else pendingWs + " ",
        proRated(pendingText, pendingOffset))
  }
}
