package graft.perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import graft.pipeline.{Coords, FontInfo, TokenRow}
import graft.sources.{AltoWriter, PdfFonts, PdfWriter}

/** Seeded input generators. The same seed gives byte-identical inputs.
  *
  * The paper generator lays out each synthetic paper once (words with
  * positions, fonts and page figures) and renders that layout either as
  * ALTO XML through the program's own [[AltoWriter]] or as PDF through
  * [[PdfWriter.buildWithImages]]. The dedup generator plants
  * near-duplicate clusters of heavy-tailed size, one of them hot.
  */
object Gen {

  // ------------------------------------------------------------ words

  private val Syllables = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "ze", "pa", "do", "gu", "he", "ji", "fo", "ba", "ce", "ly",
    "wo", "xi", "on", "ar", "el", "is", "um")

  /** A fixed vocabulary (independent of the seed), so seeds differ only
    * in which words they draw. */
  val Vocabulary: Vector[String] = {
    val r = new scala.util.Random(7L)
    Vector.tabulate(6000) { i =>
      val n = 1 + (i % 3) + r.nextInt(2)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString + (i % 97)
    }.distinct
  }

  /** Zipf-like draw: index = floor(V * u^2.2) favours the head without a
    * single dominant word. */
  private def word(r: scala.util.Random): String =
    Vocabulary((Vocabulary.length * math.pow(r.nextDouble(), 2.2)).toInt)

  private def words(r: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(word(r))

  /** Heavy-tailed (Pareto, shape `alpha`) integer sizes at the midpoints
    * of `n` quantile strata, ascending. They do not depend on the seed:
    * seeds change content, not the amount or order of work. */
  def heavyTailedSizes(n: Int, alpha: Double, min: Int, max: Int): Vector[Int] =
    Vector.tabulate(n) { i =>
      val q = (i + 0.5) / n
      math.min(max, (min * math.pow(1.0 - q, -1.0 / alpha)).toInt)
    }

  // ----------------------------------------------------------- papers

  final case class Word(text: String, x: Double, y: Double, width: Double,
      size: Double, bold: Boolean)
  final case class Figure(fileId: String, x: Double, y: Double,
      width: Double, height: Double)
  /** One page: blocks of lines of words, plus placed figures. */
  final case class Page(blocks: Vector[Vector[Vector[Word]]],
      figures: Vector[Figure])
  final case class Paper(key: String, pages: Vector[Page]) {
    def words: Int = pages.map(_.blocks.map(_.map(_.size).sum).sum).sum
  }

  val PageW = 612.0
  val PageH = 792.0
  private val Left = 50.0
  private val Right = 562.0
  private val Top = 60.0
  private val Bottom = 750.0
  private val BodySize = 9.5
  private val Leading = 14.0
  private val BlockGap = 12.0

  private def fontName(bold: Boolean) =
    if (bold) "Helvetica-Bold" else "Helvetica"

  /** Lay out one paper of about `targetPages` pages: title and author
    * blocks (the header), an abstract, numbered sections whose
    * paragraphs carry citation markers and figure references, figures
    * with captions, acknowledgements and a numbered reference list. */
  def paper(seed: Long, key: String, targetPages: Int): Paper = {
    val r = new scala.util.Random(seed)
    val pages = ArrayBuffer.empty[Page]
    var blocks = ArrayBuffer.empty[Vector[Vector[Word]]]
    var figures = ArrayBuffer.empty[Figure]
    var y = Top
    var figN = 0
    def newPage(): Unit = {
      pages += Page(blocks.toVector, figures.toVector)
      blocks = ArrayBuffer.empty
      figures = ArrayBuffer.empty
      y = Top
    }
    def wrap(ws: Seq[String], size: Double, bold: Boolean): Vector[Vector[String]] = {
      val lines = ArrayBuffer(ArrayBuffer.empty[String])
      var x = Left
      val space = PdfFonts.width(fontName(bold), ' ') * size / 1000.0
      ws.foreach { w =>
        val wd = PdfFonts.stringWidth(fontName(bold), w, size)
        if (x + wd > Right && lines.last.nonEmpty) {
          lines += ArrayBuffer.empty[String]
          x = Left
        }
        lines.last += w
        x += wd + space
      }
      lines.map(_.toVector).toVector
    }
    /** Place a block; lines that do not fit continue as a new block on
      * the next page. */
    def block(lines: Vector[Vector[String]], size: Double,
        boldFirstLine: Boolean = false, leading: Double = Leading): Unit = {
      val placed = ArrayBuffer.empty[Vector[Word]]
      lines.zipWithIndex.foreach { case (ws, li) =>
        if (y + size > Bottom) {
          if (placed.nonEmpty) blocks += placed.toVector
          placed.clear()
          newPage()
        }
        val bold = boldFirstLine && li == 0
        var x = Left
        val space = PdfFonts.width(fontName(bold), ' ') * size / 1000.0
        placed += ws.map { w =>
          val wd = PdfFonts.stringWidth(fontName(bold), w, size)
          val out = Word(w, x, y, wd, size, bold)
          x += wd + space
          out
        }
        y += leading
      }
      if (placed.nonEmpty) blocks += placed.toVector
      y += BlockGap
    }
    // the structure is fixed and only the words are drawn from the
    // seed, so seeds do not change the amount of work
    var sentences = 0
    def sentence(n: Int, refs: Int): Vector[String] = {
      sentences += 1
      val ws = words(r, n).to(ArrayBuffer)
      ws(0) = ws(0).capitalize
      // citation markers "[k]" and figure references "Figure k"
      if (refs > 0 && sentences % 2 == 0)
        ws.insert(1 + sentences % (n - 1), s"[${1 + sentences % refs}]")
      if (figN > 0 && sentences % 5 == 0) {
        val at = 1 + (sentences * 7) % (n - 1)
        ws.insert(at, s"${1 + sentences % figN}")
        ws.insert(at, "Figure")
      }
      ws.toVector.updated(ws.length - 1, ws.last + ".")
    }
    val nRefs = 10

    // header: title (largest font on page 1) then the author block
    block(wrap(words(r, 8).map(_.capitalize), 18.0, bold = true),
      18.0, boldFirstLine = true, leading = 22.0)
    val authors = (0 until 3).flatMap(_ =>
      Vector(word(r).capitalize, word(r).capitalize + ",")).toVector
    block(wrap(authors, BodySize, bold = false), BodySize)
    block(Vector(Vector("Abstract")) ++
      wrap((0 until 4).flatMap(_ => sentence(14, 0)), BodySize, bold = false),
      BodySize, boldFirstLine = true)

    var section = 1
    // on the last page, stop while acknowledgements and references fit
    def lastPage = pages.length >= targetPages - 1
    while (!lastPage || y < Bottom - 460) {
      val heading = Vector(s"$section", word(r).capitalize, word(r))
      val paras = (0 until 3).flatMap(_ => (0 until 4).flatMap(_ => sentence(14, nRefs)))
      block(Vector(heading) ++ wrap(paras, BodySize, bold = false), BodySize,
        boldFirstLine = true)
      if (section % 2 == 1 && !(lastPage && y + 160 + 260 > Bottom)) {
        val h = 120.0
        if (y + h + 30 > Bottom) newPage()
        figN += 1
        figures += Figure(s"fig-${key}-${figN}", Left, y, 320.0, h)
        y += h + 6
        block(Vector(Vector("Figure", s"$figN.") ++ words(r, 7)), BodySize)
      }
      section += 1
    }

    block(Vector(Vector("Acknowledgements")) ++
      wrap(sentence(18, 0), BodySize, bold = false), BodySize, boldFirstLine = true)
    // the reference list stays one block: it starts a page if it would split
    val refLines = Vector(Vector("References")) ++ (1 to nRefs).map { k =>
      Vector(s"$k.", s"${word(r).capitalize},", s"${word(r).take(1).toUpperCase}.",
        word(r), word(r), word(r) + ".", word(r).capitalize, s"${1990 + r.nextInt(35)}.")
    }
    if (y + refLines.length * Leading > Bottom) newPage()
    block(refLines, BodySize)
    newPage()
    Paper(key, pages.toVector)
  }

  /** The program's token rows for a layout: one token per word, in the
    * ALTO reading order (page, block, line, word). */
  def tokenRows(p: Paper, docId: Long): Seq[TokenRow] = {
    p.pages.zipWithIndex.flatMap { case (page, pi) =>
      page.blocks.zipWithIndex.flatMap { case (lines, bi) =>
        lines.zipWithIndex.flatMap { case (ws, li) =>
          ws.zipWithIndex.map { case (w, ti) =>
            val font = FontInfo(s"font-${w.size}-${w.bold}", "Helvetica",
              Some(w.size), w.bold, false, false, false)
            TokenRow(docId, pi, bi, li, ti, w.text, " ", font,
              Some(Coords(w.x, w.y, w.width, w.size, pi + 1)), pi + 1,
              Some(PageW), Some(PageH))
          }
        }
      }
    }
  }

  /** ALTO rendering: [[AltoWriter.toAlto]] of the token rows, with each
    * page's figures added as `Illustration` elements (the writer emits
    * text only). */
  def alto(p: Paper): String = {
    val xml = AltoWriter.toAlto(tokenRows(p, 0L))
    val pageEnd = "</PrintSpace></Page>"
    val parts = xml.split(java.util.regex.Pattern.quote(pageEnd), -1)
    require(parts.length == p.pages.length + 1, "one ALTO page per layout page")
    val sb = new StringBuilder(xml.length + 256)
    p.pages.zipWithIndex.foreach { case (page, i) =>
      sb ++= parts(i)
      page.figures.foreach { f =>
        sb ++= s"""<Illustration ID="${f.fileId}" FILEID="${f.fileId}" TYPE="image" """ +
          s"""HPOS="${f.x}" VPOS="${f.y}" WIDTH="${f.width}" HEIGHT="${f.height}"/>"""
      }
      sb ++= pageEnd
    }
    sb ++= parts.last
    sb.toString
  }

  /** PDF rendering of the same layout, figures as embedded images. */
  def pdf(p: Paper): Array[Byte] =
    PdfWriter.buildWithImages(p.pages.map { page =>
      val toks = page.blocks.flatten.flatten.map(w =>
        PdfWriter.PTok(w.text, w.x, w.y, w.size, bold = w.bold))
      val imgs = page.figures.map(f =>
        PdfWriter.PImage(f.x, f.y, f.width, f.height, 16, 16))
      (toks, imgs)
    }, PageW, PageH)

  /** One input document: its id, format and rendered bytes. */
  final case class Doc(id: Long, isPdf: Boolean, bytes: Array[Byte],
      pages: Int, words: Int) {
    def xml: String = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** `n` papers, ids 1 to `n`, with heavy-tailed page counts (1 to
    * `maxPages`, Pareto shape `alpha`, ascending), alternating ALTO and
    * PDF so both halves share one size distribution. */
  def papers(seed: Long, n: Int, maxPages: Int, alpha: Double = 1.4): Vector[Doc] = {
    val pages = heavyTailedSizes(n, alpha, min = 1, max = maxPages)
    pages.zipWithIndex.map { case (pg, i) =>
      val id = i + 1L
      val p = paper(seed * 1000003L + i, s"$id", pg)
      val isPdf = i % 2 == 1
      val bytes = if (isPdf) pdf(p)
        else alto(p).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Doc(id, isPdf, bytes, p.pages.length, p.words)
    }
  }

  // ------------------------------------------------------ dedup corpus

  /** Text corpus with planted near-duplicate clusters. `cluster(i)` is
    * the planted cluster of doc i (-1 for a singleton). */
  final case class DedupCorpus(texts: Vector[String], cluster: Vector[Int]) {
    def ids: Vector[Long] = texts.indices.map(i => i.toLong + 1).toVector
    def clusterSizes: Vector[Int] =
      cluster.filter(_ >= 0).groupBy(identity).values.map(_.size).toVector
    /** Number of planted near-duplicate pairs (same-cluster pairs). */
    def plantedPairs: Long = clusterSizes.map(s => s.toLong * (s - 1) / 2).sum
  }

  /** `n` docs of `wordsPerDoc` words: one hot cluster of `hot`
    * members, Pareto-sized clusters (2 to 60 members) covering about a
    * third of the rest, singletons for the remainder. A member is its
    * cluster's base text with ~3% of words substituted. Doc order is
    * shuffled so cluster members do not sit together. */
  def dedupCorpus(seed: Long, n: Int, hot: Int, wordsPerDoc: Int): DedupCorpus = {
    val r = new scala.util.Random(seed)
    // cluster sizes at the midpoints of k Pareto strata, k as large as
    // the target allows: the same for every seed, so seeds change texts
    // and order, not the amount of work
    def strata(k: Int) = Vector.tabulate(k)(i =>
      math.min(60, (2 * math.pow(1.0 - (i + 0.5) / k, -1.0 / 1.3)).toInt))
    val target = (n - hot) / 3
    val k = Iterator.from(1).takeWhile(strata(_).sum <= target).toSeq.lastOption.getOrElse(0)
    val sizes = hot +: strata(k)
    val texts = ArrayBuffer.empty[String]
    val cluster = ArrayBuffer.empty[Int]
    sizes.zipWithIndex.foreach { case (s, c) =>
      val base = words(r, wordsPerDoc)
      (0 until s).foreach { _ =>
        texts += base.map(w => if (r.nextDouble() < 0.03) word(r) else w).mkString(" ")
        cluster += c
      }
    }
    while (texts.length < n) {
      texts += words(r, wordsPerDoc).mkString(" ")
      cluster += -1
    }
    val order = r.shuffle(texts.indices.toVector)
    DedupCorpus(order.map(texts), order.map(cluster))
  }

  // ---------------------------------------------------------- digests

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def digestDocs(docs: Seq[Doc]): String =
    sha256(docs.iterator.flatMap(d => Iterator(
      s"${d.id}:${d.isPdf}:".getBytes("UTF-8"), d.bytes)))

  def digestTexts(texts: Seq[String]): String =
    sha256(texts.iterator.map(t => (t + "\n").getBytes("UTF-8")))
}
