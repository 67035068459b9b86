package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Graphic ↔ figure bounding-box matching (SURVEY.md F3; reference
  * `processors/graphic_matching.py:97-494`).
  *
  * Scale shape: the corpus fans out by document — one tagged-union
  * shuffle co-locates each document's graphics and candidates (both a
  * handful of rows per document), and the greedy multi-round 1–1
  * assignment (matched candidates absorb the graphic's box and
  * re-match) runs as the reference's exact in-process loop per doc.
  * No pairwise pre-filter join: the O(graphics × candidates) distance
  * work is per-document-bounded, and absorbed-box continuation chains
  * keep the reference's unbounded reach.
  */
object GraphicMatching {

  /** Default acceptance threshold (config.yml `max_graphic_distance`). */
  val DefaultMaxDistance = 0.3

  final case class Box(x: Double, y: Double, width: Double, height: Double,
      pageNumber: Int)

  /** Page-normalized box (graphic_matching.py:215-227): coordinates
    * scaled to page size, y offset by page number so cross-page
    * distances are comparable. */
  def normalized(b: Box, pageWidth: Double, pageHeight: Double): Box =
    Box(
      x = b.x / pageWidth,
      y = b.y / pageHeight + b.pageNumber,
      width = b.width / pageWidth,
      height = b.height / pageHeight,
      pageNumber = b.pageNumber)

  /** Rectangle gap distance (graphic_matching.py:112-135): Euclidean
    * norm of the axis gaps (0 when overlapping on an axis). */
  def distance(a: Box, b: Box): Double = {
    val dx = math.max(0, math.max(b.x - (a.x + a.width), a.x - (b.x + b.width)))
    val dy = math.max(0, math.max(b.y - (a.y + a.height), a.y - (b.y + b.height)))
    math.sqrt(dx * dx + dy * dy)
  }

  private def minDistance(as: Seq[Box], bs: Seq[Box]): Double =
    (for (a <- as; b <- bs) yield distance(a, b)).min

  /** Greedy multi-round 1–1 assignment
    * (graphic_matching.py:371-459): each round, every unmatched graphic
    * proposes its closest candidate; per candidate only the best
    * proposal wins; winners absorb the graphic's boxes (so subsequent
    * rounds measure against the union) and matched graphics leave the
    * pool. Rounds repeat until no graphic matches. Acceptance is the
    * reference's strict bound (`euclidean_distance < max_distance`,
    * graphic_matching.py:334-335).
    */
  def greedyAssign(
      graphics: Seq[(String, Seq[Box])],
      candidates: Seq[(String, Seq[Box])],
      maxDistance: Double = DefaultMaxDistance): Seq[(String, String)] = {
    var remainingGraphics = graphics
    var cands = candidates
    val matches = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var done = false
    while (!done && remainingGraphics.nonEmpty) {
      // per graphic: closest candidate, if acceptable
      val proposals = remainingGraphics.flatMap { case (gid, gBoxes) =>
        val scored = cands.map { case (cid, cBoxes) =>
          (cid, cBoxes, minDistance(gBoxes, cBoxes))
        }
        if (scored.isEmpty) None
        else {
          val best = scored.minBy(_._3)
          if (best._3 < maxDistance) Some((gid, gBoxes, best._1, best._3)) else None
        }
      }
      // per candidate: best proposal wins — first proposal holds the
      // slot unless a later one is STRICTLY better (is_better_than,
      // graphic_matching.py:383-408), preserving proposal order
      val winners = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, Seq[Box], String, Double)]
      proposals.foreach { p =>
        winners.get(p._3) match {
          case Some(prev) if prev._4 <= p._4 => ()
          case _ => winners.update(p._3, p)
        }
      }
      if (winners.isEmpty) done = true
      else {
        matches ++= winners.values.map(w => (w._1, w._3))
        val matchedG = winners.values.map(_._1).toSet
        // ONLY the candidates matched this round survive into the next
        // one, in match-insertion order, with the winner's boxes
        // absorbed (iter_remaining_candidate_bounding_box_refs,
        // graphic_matching.py:410-417 — an unmatched candidate never
        // re-enters the pool). Every winner's id was scored from the
        // current pool, so the lookup cannot miss.
        val byId = cands.toMap
        cands = winners.values.map(w => (w._3, byId(w._3) ++ w._2)).toSeq
        remainingGraphics = remainingGraphics.filterNot(g => matchedG(g._1))
      }
    }
    matches.sortBy(identity).toList
  }

  private val TrailingDigits = "([0-9]+)$".r

  /** Natural (trailing-number-aware) id order: `fig_2` before
    * `fig_10`, `b9` before `b10` — document order for the
    * `iter_ids`-generated ids, so exact-distance ties resolve the way
    * the reference's document-ordered candidate list does. The digit
    * run compares as (length, digits) — numeric order without parsing,
    * so an id ending in more digits than a Long holds cannot crash
    * the matching task. */
  private def naturalKey(id: String): (String, Int, String) =
    TrailingDigits.findFirstIn(id) match {
      case Some(d) => (id.dropRight(d.length), d.length, d)
      case None => (id, -1, "")
    }

  /** Exact per-document assignment, shared by the distributed stage
    * and the pipeline's in-fold matcher ([[Processor]]): entries with
    * the same id merge into one multi-box ref, zero-area GRAPHIC
    * boxes never enter the matcher (a falsy `LayoutPageCoordinates`
    * is excluded from the graphics ref list, graphic_matching.py:
    * 299-316 with layout_document.py:56-57 — graphic_matching_test.py
    * test_should_not_match_empty_graphic; candidate boxes carry no
    * such guard in the reference either), ids sort for a
    * deterministic proposal/winner order, then the greedy multi-round
    * loop runs over the FULL per-document sets — no pairwise
    * pre-filter, so continuation chains through absorbed boxes are
    * never pruned away regardless of the absorbed extent. */
  def assignDocument(
      graphics: Seq[(String, Seq[Box])],
      candidates: Seq[(String, Seq[Box])],
      maxDistance: Double = DefaultMaxDistance): Seq[(String, String)] = {
    def grouped(xs: Seq[(String, Seq[Box])]): Seq[(String, Seq[Box])] =
      xs.groupBy(_._1).map { case (id, es) =>
        (id, es.flatMap(_._2).distinct)
      }.toSeq
    val gs = grouped(graphics)
      .map { case (id, bs) => (id, bs.filter(b => b.width > 0 && b.height > 0)) }
      .filter(_._2.nonEmpty).sortBy(e => naturalKey(e._1))
    val cs = grouped(candidates).filter(_._2.nonEmpty)
      .sortBy(e => naturalKey(e._1))
    greedyAssign(gs, cs, maxDistance)
  }

  /** Distributed stage: both sides shuffle ONCE by doc_id (a tagged
    * union, not a join — graphics and candidates per document are a
    * handful of rows, so the per-doc sets are tiny), then
    * [[assignDocument]] runs the reference's exact greedy loop on the
    * full sets. This schema carries no graphic type: exclude ignored
    * types (svg, graphic_matching.py:461-466) BEFORE calling, as the
    * pipeline's [[Processor]] fold form does.
    *
    * @param graphics  (doc_id, graphic_id, x, y, width, height, page_number,
    *                  page_width, page_height)
    * @param candidates same schema with candidate_id
    * @return (doc_id, graphic_id, candidate_id)
    */
  def matchGraphics(graphics: DataFrame, candidates: DataFrame,
      maxDistance: Double = DefaultMaxDistance): DataFrame = {
    val sparkSession = graphics.sparkSession
    import sparkSession.implicits._

    def norm(df: DataFrame, idCol: String, side: String): DataFrame =
      df.select(col("doc_id"), lit(side).as("side"), col(idCol).as("id"),
        (col("x") / col("page_width")).as("nx"),
        (col("y") / col("page_height") + col("page_number")).as("ny"),
        (col("width") / col("page_width")).as("nw"),
        (col("height") / col("page_height")).as("nh"),
        col("page_number"))

    norm(graphics, "graphic_id", "g")
      .unionByName(norm(candidates, "candidate_id", "c"))
      .as[(Long, String, String, Double, Double, Double, Double, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, it) =>
        val all = it.toSeq
        def boxes(side: String): Seq[(String, Seq[Box])] =
          all.filter(_._2 == side)
            .map(r => (r._3, Seq(Box(r._4, r._5, r._6, r._7, r._8))))
        // assignDocument merges same-id entries into multi-box refs
        assignDocument(boxes("g"), boxes("c"), maxDistance).iterator
          .map { case (gid, cid) => (docId, gid, cid) }
      }
      .toDF("doc_id", "graphic_id", "candidate_id")
  }

  // ------------------------------------------------- F4: text matching

  /** F4: match graphics to figure/table candidates by TEXT — the
    * related-block (or OCR) lines of each graphic against the
    * candidates' label text, reference
    * `AbstractGraphicTextGraphicMatcher`
    * (`processors/graphic_matching.py:497-563`): per line, the
    * SimpleContentIdMatcher chain with `prefixLength` 3 (exact
    * normalized key, then digit-preserving token-prefix key); the first
    * line with any match wins the graphic.
    *
    * Spark shape: explode lines, two compact-key left joins, first
    * matching line per graphic via one window — no per-document
    * dictionaries, joins fan out by (doc_id, key).
    *
    * @param graphicLines (doc_id, graphic_id, lines: array&lt;string&gt;)
    * @param candidates (doc_id, candidate_id, label_text)
    * @return (doc_id, graphic_id, candidate_id)
    */
  def matchGraphicsByText(graphicLines: DataFrame, candidates: DataFrame,
      prefixLength: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = candidates.select(col("doc_id"), col("candidate_id"),
      RefMatching.normalizedKey(col("label_text")).as("k1"),
      RefMatching.tokenPrefixKey(col("label_text"), prefixLength).as("k2"))
    // duplicate keys: the reference's dict comprehension keeps the
    // LAST candidate in document order — [[RefMatching.lastIdNatural]]
    // is the deterministic analog for iter_ids-generated ids. The ''
    // key stays (SimpleContentIdMatcher keeps it): a label-less
    // candidate can match a punctuation-only line
    val c1 = cand.groupBy("doc_id", "k1")
      .agg(RefMatching.lastIdNatural(col("candidate_id")).as("m1"))
    val c2 = cand.groupBy("doc_id", "k2")
      .agg(RefMatching.lastIdNatural(col("candidate_id")).as("m2"))
    // only STRICTLY empty lines are skipped (graphic_matching.py:533-535
    // `if not graphic_text_line`); a whitespace-only line still probes
    // the matcher with its ''-normalized key
    val lines = graphicLines.select(col("doc_id"), col("graphic_id"),
        posexplode(col("lines")).as(Seq("line_idx", "line")))
      .filter(col("line") =!= "")
    val joined = lines
      .withColumn("k1", RefMatching.normalizedKey(col("line")))
      .withColumn("k2", RefMatching.tokenPrefixKey(col("line"), prefixLength))
      .join(c1, Seq("doc_id", "k1"), "left")
      .join(c2, Seq("doc_id", "k2"), "left")
      .withColumn("m", coalesce(col("m1"), col("m2")))
      .filter(col("m").isNotNull)
    val w = Window.partitionBy("doc_id", "graphic_id").orderBy("line_idx")
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("graphic_id"), col("m").as("candidate_id"))
  }

  /** Per-line text + bounding box off the token table (reading order
    * within the line). */
  private def lineTextOf(tokens: DataFrame): DataFrame = tokens
    .groupBy("doc_id", "page_idx", "block_idx", "line_idx")
    .agg(
      rtrim(concat_ws("", transform(
        array_sort(collect_list(struct(col("token_idx"),
          col("text"), col("whitespace")))),
        t => concat(t.getField("text"), t.getField("whitespace"))))).as("line"),
      min(col("coords.x")).as("x0"), min(col("coords.y")).as("y0"),
      max(col("coords.x") + col("coords.width")).as("x1"),
      max(col("coords.y") + col("coords.height")).as("y1"))

  /** The reference's related-block linkage
    * (`graphic_provider.py:203-275`): a graphic that is the ONLY
    * graphic on its page takes the page's entire text — its tokens in
    * reading order — as the related block the F4 text matcher consumes;
    * graphics sharing a page have no page-level linkage and fall back
    * to [[relatedBlockLines]] (nearest block by gap distance, the
    * engine's derived stand-in). Pure dataframe logic: a per-page
    * window count splits the two populations, page lines come from one
    * aggregation, the fallback join only runs on the shared-page rows.
    *
    * @param graphics (doc_id, graphic_id, page_idx, x, y, width, height)
    * @param tokens the token table
    * @return (doc_id, graphic_id, lines)
    */
  def relatedLines(graphics: DataFrame, tokens: DataFrame,
      maxDistance: Double = Double.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explicit ALTO adjacency (AltoReader's related_block_idx, parsed
    // off the <Illustration> position in reading order) wins over ANY
    // derived linkage: those graphics take exactly their adjacent
    // block's lines via a direct equi-join, and only the remainder
    // goes through the page-level/nearest-block derivation
    val hasExplicit = graphics.columns.contains("related_block_idx")
    lazy val blockLines = lineTextOf(tokens)
      .groupBy("doc_id", "page_idx", "block_idx")
      .agg(transform(
        array_sort(collect_list(struct(col("line_idx"), col("line")))),
        l => l.getField("line")).as("lines"))
    val (explicit, derived) =
      if (hasExplicit) {
        val exp = graphics.filter(col("related_block_idx").isNotNull)
        val keyed = blockLines.select(col("doc_id").as("b_doc"),
          col("page_idx").as("b_page"), col("block_idx").as("b_block"))
        val cond = exp("doc_id") === col("b_doc") &&
          exp("page_idx") === col("b_page") &&
          exp("related_block_idx") === col("b_block")
        // an explicit adjacency that resolves to a block with no lines
        // (token-free block) falls back to the derived page/nearest-
        // block path instead of silently dropping the graphic
        (exp.join(keyed, cond, "left_semi"),
          graphics.filter(col("related_block_idx").isNull)
            .unionByName(exp.join(keyed, cond, "left_anti"))
            .drop("related_block_idx"))
      } else (null, graphics)
    val byPage = Window.partitionBy("doc_id", "page_idx")
    val counted = derived.withColumn("_n_on_page", count(lit(1)).over(byPage))
    val only = counted.filter(col("_n_on_page") === 1).drop("_n_on_page")
    val shared = counted.filter(col("_n_on_page") > 1).drop("_n_on_page")
    val pageLines = lineTextOf(tokens)
      .groupBy("doc_id", "page_idx")
      .agg(transform(
        array_sort(collect_list(struct(col("block_idx"), col("line_idx"), col("line")))),
        l => l.getField("line")).as("lines"))
    val onlyLines = only.join(pageLines, Seq("doc_id", "page_idx"))
      .select(col("doc_id"), col("graphic_id"), col("lines"))
    val derivedLines =
      onlyLines.union(relatedBlockLines(shared, tokens, maxDistance))
    if (!hasExplicit) derivedLines
    else {
      val explicitLines = explicit
        .join(blockLines,
          explicit("doc_id") === blockLines("doc_id") &&
            explicit("page_idx") === blockLines("page_idx") &&
            explicit("related_block_idx") === blockLines("block_idx"))
        .select(explicit("doc_id"), col("graphic_id"), col("lines"))
      explicitLines.union(derivedLines)
    }
  }

  /** Nearest-block fallback provider for [[matchGraphicsByText]]: the
    * closest text block to each graphic's bounding box (gap distance,
    * same page), its lines in reading order — used when the
    * [[relatedLines]] page-level linkage does not apply.
    *
    * @param graphics (doc_id, graphic_id, page_idx, x, y, width, height)
    * @param tokens the token table
    * @return (doc_id, graphic_id, lines)
    */
  def relatedBlockLines(graphics: DataFrame, tokens: DataFrame,
      maxDistance: Double = Double.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lineText = lineTextOf(tokens)
    val blocks = lineText.groupBy("doc_id", "page_idx", "block_idx")
      .agg(
        transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
          l => l.getField("line")).as("lines"),
        min(col("x0")).as("bx0"), min(col("y0")).as("by0"),
        max(col("x1")).as("bx1"), max(col("y1")).as("by1"))
    val dx = greatest(lit(0.0), col("bx0") - (col("x") + col("width")),
      col("x") - col("bx1"))
    val dy = greatest(lit(0.0), col("by0") - (col("y") + col("height")),
      col("y") - col("by1"))
    val paired = graphics.join(blocks, Seq("doc_id", "page_idx"))
      .withColumn("dist", sqrt(dx * dx + dy * dy))
      .filter(col("dist") <= maxDistance)
    val w = Window.partitionBy("doc_id", "graphic_id")
      .orderBy(col("dist"), col("block_idx"))
    paired.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("graphic_id"), col("lines"))
  }

  /** D6 OCR seam + F4's OCR branch
    * (`ocr_models/tesserocr_ocr_model.py:32-71`,
    * `graphic_matching.py:566-593`): binary graphic → text lines via an
    * injectable OCR function (tesserocr/subprocess in production, a
    * deterministic fake in tests — this container has no OCR binary).
    * Runs `mapPartitions` so an executor-local OCR session amortizes
    * over the partition. Feed the result to [[matchGraphicsByText]].
    *
    * @param graphics (doc_id, graphic_id, image: binary)
    */
  def ocrLines(graphics: DataFrame, ocr: Array[Byte] => String): DataFrame = {
    val sparkSession = graphics.sparkSession
    import sparkSession.implicits._
    graphics.select(col("doc_id"), col("graphic_id"), col("image"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (d, g, img) =>
          // raw splitlines output, untrimmed: the matcher itself skips
          // only STRICTLY empty lines (graphic_matching.py:578-593 +
          // 533-535), so a whitespace-only OCR line still probes the
          // '' key like the reference. CRLF/CR split like python's
          // splitlines, so a blank CRLF line is strictly empty, not
          // a stray "\r" that would probe the '' key
          val lines = if (img == null || img.isEmpty) Array.empty[String]
            else ocr(img).split("\r\n|\r|\n")
          (d, g, lines)
        }
      }
      .toDF("doc_id", "graphic_id", "lines")
  }
}
