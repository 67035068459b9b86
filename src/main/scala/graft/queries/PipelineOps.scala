package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{BioSpans, Extractors, Features, RuleLabeler}
import graft.sinks.Tei
import graft.sources.AltoReader

/** Document-pipeline operators as declared queries (SURVEY.md §2.A /
  * §3's Spark lifecycle): ALTO → token table → features → labels →
  * BIO spans → semantic fold → TEI.
  *
  * The driver's corpus has no ALTO files, so a deterministic ALTO
  * document is synthesized per `documents` row (title block = first
  * tokens at a larger font; body block = the rest), which lets the
  * full pipeline run — and be benchmarked — at every scale factor.
  * Rows-only checks (no SQL equivalent by construction); value-level
  * pipeline correctness is covered by the ScalaTest golden/fixture
  * suites.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Deterministic per-row ALTO synthesis (one page: title block,
    * author block, body block — the segmentation labeler's header
    * region is the first two blocks). */
  private[graft] def altoOf(docId: Long, text: String): String = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val (titleToks, rest) = toks.splitAt(math.min(3, toks.length))
    val (authorToks, bodyToks) = rest.splitAt(math.min(2, rest.length))
    def line(ts: Seq[String], y: Int, font: String): String =
      if (ts.isEmpty) ""
      else {
        val strings = ts.zipWithIndex.map { case (t, i) =>
          s"""<String CONTENT="${xmlEscape(t)}" HPOS="${50 + i * 40}" VPOS="$y" WIDTH="36" HEIGHT="12" STYLEREFS="$font"/>"""
        }.mkString
        s"<TextBlock><TextLine>$strings</TextLine></TextBlock>"
      }
    // body split into lines of 12 tokens inside one block, plus a
    // figure/table citation-marker line (exercises the marker →
    // figure_citation → target-id chain in the fulltext pass)
    val nBodyLines = (bodyToks.length + 11) / 12
    val markerLine = {
      val ts = Seq("see", "Figure", "1", "and", "Table", "1", "[", "1", "]", "here")
      val strings = ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="$t" HPOS="${50 + i * 40}" VPOS="${120 + nBodyLines * 14}" WIDTH="36" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString
      s"<TextLine>$strings</TextLine>"
    }
    val bodyLines = bodyToks.grouped(12).zipWithIndex.map { case (ts, li) =>
      val strings = ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="${xmlEscape(t)}" HPOS="${50 + i * 40}" VPOS="${120 + li * 14}" WIDTH="36" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString
      s"<TextLine>$strings</TextLine>"
    }.mkString + markerLine
    // caption blocks: parsed by the figure/table model pass into
    // label + figDesc, assigned fig_0/tab_0, matched by the markers
    def captionBlock(kind: String, y: Int, desc: Seq[String]): String = {
      val ts = Seq(kind, "1", ":") ++ desc
      val strings = ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="${xmlEscape(t)}" HPOS="${50 + i * 40}" VPOS="$y" WIDTH="36" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString
      s"<TextBlock><TextLine>$strings</TextLine></TextBlock>"
    }
    val captions =
      captionBlock("Figure", 600, Seq("sample", "caption")) +
      captionBlock("Table", 620, Seq("data", "summary"))
    // acknowledgement block: heading line + text line (exercises the
    // <acknowledgement> segmentation view → back-matter TEI div)
    def ln(ts: Seq[String], y: Int): String =
      "<TextLine>" + ts.zipWithIndex.map { case (t, i) =>
        s"""<String CONTENT="${xmlEscape(t)}" HPOS="${50 + i * 40}" VPOS="$y" WIDTH="36" HEIGHT="10" STYLEREFS="font1"/>"""
      }.mkString + "</TextLine>"
    val ack = "<TextBlock>" + ln(Seq("Acknowledgements"), 660) +
      ln(Seq("we", "thank", "the", "funders"), 674) + "</TextBlock>"
    // references block: heading + two labeled references (exercises the
    // segmentation <references> view → reference-segmenter → citation →
    // citation-name chain and the body "[ 1 ]" marker target)
    val refs = {
      val t1 = titleToks.headOption.getOrElse("work")
      "<TextBlock>" + ln(Seq("References"), 700) +
        ln(Seq("1.", "Alice", "Smith", "Measuring", t1, "2020"), 714) +
        ln(Seq("2.", "Bob", "Jones", "Deep", "Analysis", "2021"), 728) + "</TextBlock>"
    }
    // two page graphics: one just above the figure caption (bbox-matches
    // fig_0 in the p13 graphic pass), one at the page top (unmatched →
    // back-matter note)
    val graphics =
      s"""<Illustration FILEID="img-$docId-near.png" TYPE="png" HPOS="50" VPOS="560" WIDTH="200" HEIGHT="30"/>
         |<Illustration FILEID="img-$docId-far.png" TYPE="png" HPOS="400" VPOS="20" WIDTH="50" HEIGHT="30"/>""".stripMargin
    s"""<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">
       |<Styles>
       |<TextStyle ID="font0" FONTFAMILY="Times" FONTSIZE="18.0" FONTSTYLE="bold"/>
       |<TextStyle ID="font1" FONTFAMILY="Times" FONTSIZE="9.5" FONTSTYLE=""/>
       |</Styles>
       |<Layout><Page PHYSICAL_IMG_NR="1" WIDTH="612" HEIGHT="792"><PrintSpace>
       |${line(titleToks.toIndexedSeq, 60, "font0")}
       |${line(authorToks.toIndexedSeq, 90, "font1")}
       |<TextBlock>$bodyLines</TextBlock>
       |$captions
       |$ack
       |$refs
       |$graphics
       |</PrintSpace></Page></Layout></alto>""".stripMargin
  }

  private def altoCorpus(s: SparkSession, d: String): Dataset[(Long, String)] = {
    import s.implicits._
    // repartition BEFORE the synthesis+parse: the documents table is a
    // single parquet file at bench scale, so without the fan-out every
    // downstream per-doc map (ALTO synthesis, StAX parse, retokenize)
    // runs in one task until the first shuffle. On a real corpus the
    // binaryFile scan is already many-partitioned and this is a no-op
    // cost-wise (one narrow shuffle of raw text).
    Tables(s, d).documents.select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .as[(Long, String)].map { case (id, t) => (id, altoOf(id, t)) }
  }

  /** The parsed-and-retokenized token table — the hub input every
    * pipeline query consumes. Registered as a SHARED cache (the
    * [[graft.operators.TextAnalysis.tokenPairs]] rule): the
    * CacheManager keys on the canonicalized plan, so in a warm session
    * the StAX parse + retokenize pass runs once for the whole p01-p16
    * family instead of once per query per run; ephemeral releases
    * leave it warm, `Graft.releaseCaches(includeShared = true)` drops
    * it. */
  /** P11's wapiti template set over the 32-column header data line
    * (columns per [[graft.pipeline.HeaderFeatures]]): the largest-font
    * flag (28) with its ±1 context — the title signal — plus block /
    * line status (10, 11) and capitalization (17) for the
    * block-boundary and author-region structure, a constant `b` for
    * label-pair priors, and data-dependent bigrams on the font
    * boundary and the previous token's block status (the author span
    * ends where its block does). */
  private val P11Templates = Seq(
    "u00:%x[0,28]", "u01:%x[-1,28]", "u02:%x[1,28]",
    "u03:%x[-1,28]/%x[0,28]",
    "u04:%x[0,10]", "u05:%x[-1,10]", "u06:%x[0,11]", "u07:%x[0,17]",
    "b",
    "b00:%x[-1,28]/%x[0,28]", "b01:%x[-1,10]")

  private[graft] def tokenTable(s: SparkSession, d: String): DataFrame =
    // keyed, not plan-keyed: the StAX parse plan embeds fresh lambda
    // instances per call, so canonical-plan dedupe can never hit and a
    // warm session would rebuild (and leak) one parse cache per query
    graft.CacheRegistry.persistKeyed(s, s"alto-tokens:$d") {
      // Partition + sort the CACHE, not each consumer (optimization
      // round r16): the StAX parse's mapPartitions erases partitioning
      // info, so every window/groupBy consumer of the hub paid its own
      // hash(doc…) exchange + sort of the full token table.
      // InMemoryTableScan reports the cached plan's output
      // partitioning/ordering, so shuffling+sorting once at build time
      // lets every doc-clustered consumer (the whole p01–p23 family)
      // start shuffle-free (guide §2.4). One extra token-row exchange
      // per cache build; at corpus scale the consumers' saved
      // exchanges dominate it strictly.
      AltoReader.tokens(altoCorpus(s, d)).toDF()
        .repartition(col("doc_id"))
        .sortWithinPartitions("doc_id", "page_idx", "block_idx",
          "line_idx", "token_idx")
    }

  /** P01 ALTO scan + parse + retokenize → token counts per doc. */
  def p01(s: SparkSession, d: String): DataFrame =
    tokenTable(s, d).groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("block_idx")).as("n_blocks"))
      .orderBy("doc_id")

  /** P02 CRF feature generation: exact 32-feature header-model token
    * vectors (doc-partitioned windows). */
  def p02(s: SparkSession, d: String): DataFrame =
    graft.pipeline.HeaderFeatures.dataLines(tokenTable(s, d))
      .filter(col("doc_id") <= 5)
      .select(col("doc_id"), col("page_idx"), col("block_idx"),
        col("line_idx"), col("token_idx"), col("data_line"))
      .orderBy("doc_id", "page_idx", "block_idx", "line_idx", "token_idx")

  /** P03 label → BIO span table (rule labeler, D4 span grouping). */
  def p03(s: SparkSession, d: String): DataFrame =
    BioSpans.spans(new RuleLabeler().label(tokenTable(s, d)))
      .orderBy("doc_id", "span_id")

  /** P04 full slice: segmentation → header view (header fold +
    * name/affiliation passes) + body view (fulltext fold) → TEI with
    * body sections (the reference's complete processor DAG). */
  def p04(s: SparkSession, d: String): DataFrame =
    // localCheckpoint before the report sort: orderBy's range sampling
    // re-executes its child once to pick boundaries, which would run
    // the whole fused parse+fold+TEI fold twice; checkpointing the
    // (small) tei table caps the double execution at a block read
    graft.pipeline.Processor.documentTei(tokenTable(s, d))
      .transform(graft.CacheRegistry.localCheckpoint(_))
      .orderBy("doc_id")

  /** P13 graphics-wired pipeline (F3 in the main DAG,
    * `processors/fulltext/processor.py:268-273`): ALTO page graphics →
    * bbox match against the figure/table candidates → `<graphic>` in
    * TEI figures, unmatched ones in the back-matter note. Every doc
    * synthesizes one matchable and one stray graphic, so the expected
    * per-doc counts are (2 graphics, 1 unmatched). Rows-only. */
  def p13(s: SparkSession, d: String): DataFrame = {
    // one StAX pass shared by the token AND graphic sides (then
    // checkpointed): tokens feed pageDims + two pipeline folds, so an
    // unshared plan re-parsed the corpus four times. Keyed shared
    // cache: p09/p13 and repeated runs share ONE StAX parse by object
    // identity (canonical-plan dedupe cannot hit a fresh-lambda plan)
    val parsed = graft.CacheRegistry.persistKeyed(s, s"alto-parsed:$d") {
      AltoReader.parsedDocs(altoCorpus(s, d))
    }
    val tokens = AltoReader.tokensOf(parsed).toDF()
    val graphics = graft.pipeline.Processor.graphicsForMatching(
      tokens, AltoReader.graphicsOf(parsed).toDF())
    graft.pipeline.Processor.documentTei(
        tokens, graft.pipeline.Processor.Config(), Some(graphics))
      .transform(graft.CacheRegistry.localCheckpoint(_)) // cap orderBy's sampling re-execution (see p04)
      .select(col("doc_id"),
        (size(split(col("tei"), "<graphic ")) - 1).cast("bigint").as("n_graphics"),
        col("tei").contains("unmatched_graphics").cast("int").cast("bigint")
          .as("has_unmatched"))
      .orderBy("doc_id")
  }

  /** P14 training-data generation (reference per-model
    * `training_data.py`): header-model training TEI per document —
    * the artifact a user regenerates to retrain models. Rows-only. */
  def p14(s: SparkSession, d: String): DataFrame = {
    val labeled = new graft.pipeline.RuleLabeler().label(tokenTable(s, d))
    graft.pipeline.TrainingData.headerTrainingXml(labeled)
      .select(col("doc_id"),
        length(col("training_tei")).cast("bigint").as("tei_len"),
        col("training_tei").contains("<docTitle>").cast("int").cast("bigint")
          .as("has_title"))
      .orderBy("doc_id")
  }

  /** P15 DELFT training-data export (reference
    * `training/cli/generate_delft_data.py`): per-document tag-separated
    * DELFT data — header-model CRF feature lines with GROBID-translated
    * tags — the second training artifact a retraining user needs
    * (p14 covers the TEI side). Rows-only. */
  def p15(s: SparkSession, d: String): DataFrame = {
    val dl = graft.pipeline.HeaderFeatures.dataLines(tokenTable(s, d))
    graft.pipeline.TrainingData.delftData(
        new graft.pipeline.RuleLabeler().label(dl))
      .select(col("doc_id"),
        size(split(col("delft_data"), "\n")).cast("bigint").as("n_lines"),
        col("delft_data").contains("I-<title>").cast("int").cast("bigint")
          .as("has_title"))
      .orderBy("doc_id")
  }

  /** P05 multimodal image: binary media column → batched REAL ImageIO
    * decode (docs rendered as actual PNGs, pixels decoded back) → typed
    * features (rows-only). */
  def p05(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageFeatures(
        Multimodal.mediaFromDocuments(Tables(s, d).documents))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("n_bytes"))
      .orderBy("doc_id")
  }

  /** P12 multimodal audio: docs rendered as real 16-bit PCM WAVs, RIFF
    * chunk-walk decode → per-doc audio features (rows-only). */
  def p12(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.audioFeatures(
        Multimodal.wavFromDocuments(Tables(s, d).documents))
      .toDF()
      .select(col("doc_id"), col("channels"), col("sample_rate"),
        col("n_samples"), col("duration_ms"), round(col("rms"), 4).as("rms"))
      .orderBy("doc_id")
  }

  /** P06 JATS: TEI strings → JATS via XSLT (A7). */
  def p06(s: SparkSession, d: String): DataFrame =
    graft.sinks.Jats.serialize(p04(s, d)).orderBy("doc_id")

  /** P07 segmentation data lines: the exact 34-feature per-line CRF
    * input vector (C6/C15/C16/C17). */
  def p07(s: SparkSession, d: String): DataFrame =
    graft.pipeline.SegmentationFeatures.dataLines(tokenTable(s, d))
      .filter(col("doc_id") <= 20)
      .orderBy("doc_id", "page_idx", "block_idx", "line_idx")

  /** P08 references pipeline: reference-segmenter fold (E6) chained
    * into the citation model fold (E3) per raw reference, then the name
    * model pass over each reference's `raw_authors` (E4;
    * `processor.py:529-622,654-717`) — over a synthesized references
    * section per document. Outputs per-doc reference + parsed-person
    * statistics (rows-only).
    */
  def p08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.{Extractors, ModelExtractors, Processor, SemanticNode}
    val nodes = Tables(s, d).documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        // synthetic references section: label + reference line per 6 tokens
        val spans = toks.grouped(6).zipWithIndex.flatMap { case (ts, i) =>
          Seq(Extractors.Span(2L * i, "<label>", s"${i + 1}."),
            Extractors.Span(2L * i + 1, "<reference>", ts.mkString(" ") + " (2020)"))
        }.toSeq
        val segNodes = ModelExtractors.referenceSegmenterFold(id, spans)
        var nextId = segNodes.map(_.node_id).maxOption.getOrElse(-1L) + 1
        val textByParent = segNodes.filter(_.node_type == "raw_reference_text")
          .groupBy(_.parent_id)
        val citNodes = segNodes.filter(_.node_type == "raw_reference").flatMap { r =>
          textByParent.getOrElse(r.node_id, Nil).flatMap { t =>
            val ts = t.text.split(" ")
            val citSpans = Seq(
              Extractors.Span(0L, "<author>", ts.take(2).mkString(" ")),
              Extractors.Span(1L, "<title>", ts.slice(2, ts.length - 1).mkString(" ")),
              Extractors.Span(2L, "<date>", ts.last))
            val folded = ModelExtractors.citationFold(id, citSpans, r.content_id)
            val offset = nextId
            nextId += folded.size
            folded.map(n => n.copy(
              node_id = n.node_id + offset,
              parent_id = if (n.parent_id < 0) -1L else n.parent_id + offset))
          }
        }
        // citation-author name pass: raw_authors under each parsed
        // reference replaced by person nodes (reference default config:
        // authors on, editors off)
        Processor.citationNamePass(id, segNodes ++ citNodes)
      }
    nodes.toDF()
      .groupBy("doc_id")
      .agg(
        sum(when(col("node_type") === "raw_reference", 1).otherwise(0)).as("n_raw_refs"),
        sum(when(col("node_type") === "reference", 1).otherwise(0)).as("n_parsed_refs"),
        sum(when(col("node_type") === "invalid_reference", 1).otherwise(0)).as("n_invalid"),
        sum(when(col("node_type") === "date", 1).otherwise(0)).as("n_dates"),
        sum(when(col("node_type") === "author", 1).otherwise(0)).as("n_authors"),
        sum(when(col("node_type") === "surname", 1).otherwise(0)).as("n_surnames"))
      .orderBy("doc_id")
  }

  /** P09 page-image pipeline: A9 render (stand-in command) → G5/G6/I1
    * candidate-page pruning → D5 detection (stand-in detector) → F5
    * CV-box reconciliation — the reference's CV graphic-provider flow
    * end-to-end (`processors/graphic_provider.py`,
    * `cv_graphic_provider.py:38-80`), rows-only. Page dims and embedded
    * graphics are synthesized deterministically per doc_id so the
    * pruning gates select a stable subset.
    */
  def p09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.GraphicProvider
    import graft.sources.Subprocess
    val docs = Tables(s, d).documents.select(col("doc_id"), col("text"))
    // Page metadata comes from the layout document — dims are known
    // BEFORE any page is rendered (the reference reads them off the
    // ALTO <Page> elements), so the G5/G6/I1/I2 gates run on cheap
    // metadata and the subprocess render only ever sees the pruned
    // candidate set. (A first formulation synthesized the metadata FROM
    // the rendered images, which both rendered everything and re-ran
    // the render once per plan reference — 72 s at sf0.01 vs ~1 s.)
    // Pages 1-2 modal; every 3rd doc gets an uncommon third-page
    // dimension (the G5 gate).
    val pages = docs.select(col("doc_id"),
        explode(sequence(lit(1), lit(3))).as("page_number"))
      .withColumn("width", lit(612.0))
      .withColumn("height",
        when(col("page_number") === 3 && pmod(col("doc_id"), lit(3)) === 0, 500.0)
          .otherwise(792.0))
    // embedded graphics: page-3 bitmap, mostly-bitmap for every 6th doc
    // (the G6 gate removes those pages from the CV candidates)
    val gWidth = when(pmod(col("doc_id"), lit(6)) === 0, lit(600.0))
      .otherwise(lit(100.0))
    val graphicsNested = docs
      .select(col("doc_id"), lit(3).as("page_number"),
        concat(lit("g"), col("doc_id")).as("graphic_id"),
        lit("png").as("graphic_type"),
        struct(lit(0.0).as("x"), lit(0.0).as("y"),
          gWidth.as("width"), lit(450.0).as("height")).as("coords"))
    val graphicsFlat = graphicsNested.select(col("doc_id"), col("page_number"),
      col("graphic_id"), col("coords.x").as("x"), col("coords.y").as("y"),
      col("coords.width").as("width"), col("coords.height").as("height"),
      col("graphic_type"))
    val candidates = GraphicProvider.withNextPages(
      GraphicProvider.cvCandidatePages(pages, graphicsNested), pages)
    // render ONLY documents with candidate pages, keep only candidate
    // pages; persist so the render subprocess runs exactly once however
    // many downstream branches consume the images (at cluster scale
    // this materialization is a checkpoint to storage)
    // repartition: the candidate set comes off a single parquet scan
    // partition — without the fan-out the whole render runs in ONE task
    // (26 s at sf0.1 vs ~2 s spread over the cluster)
    val pdfs = docs
      .join(candidates.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .repartition(col("doc_id"))
      .as[(Long, String)].map { case (id, t) => (id, t.getBytes("UTF-8")) }
    // stand-in renderer: every "PDF" becomes three page images (one
    // process per PARTITION — per-doc spawns dominate at corpus scale).
    // Pure bash builtins ($(<f) + printf): the earlier `cp`-per-page
    // formulation spawned ~3 processes per document, which at sf1
    // (25k pages) cost 260 s of pure fork/exec — stand-in overhead
    // that would drown the engine numbers the bench exists to measure.
    val images = Subprocess.renderPageImagesBatched(pdfs,
      Seq("/bin/bash", "-c",
        "for f in {inDir}/*.pdf; do b=${f##*/}; b=${b%.pdf}; c=$(<\"$f\"); " +
          "for p in 1 2 3; do printf '%s' \"$c\" > {outDir}/$b-$p.png; done; done"))
    val candidateImages = images.join(candidates, Seq("doc_id", "page_number"),
      "left_semi")
    // stand-in scored detector: box shape keyed off the image bytes; a
    // low-score second box exercises the production score-threshold +
    // overlap-suppression layer (reference config score_threshold 0.1)
    val cvBoxes = GraphicProvider.detectBoxesScored(candidateImages, img =>
      if (img.length % 2 == 0)
        Seq((0.0, 0.0, 100.0, 450.0, "FIGURE", 0.9),
          (5.0, 5.0, 100.0, 450.0, "FIGURE", 0.05))
      else Seq((10.0, 10.0, 200.0, 150.0, "FIGURE", 0.9)))
    // outer reconcile keeps unmatched boxes → ONE pass over the
    // render+detect stage yields both per-doc counts (the previous
    // two-consumer formulation needed a persist that leaked cached
    // blocks into long-lived sessions)
    GraphicProvider.reconcileCvBoxesOuter(cvBoxes, graphicsFlat)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_cv_boxes"),
        count(col("graphic_id")).as("n_reconciled"))
      .orderBy("doc_id")
  }

  /** P10 asset-ZIP sink (A8): TEI + per-doc graphic assets zipped,
    * reporting entry count and zip size (rows-only; zip bytes are
    * deterministic — fixed entry timestamps).
    */
  def p10(s: SparkSession, d: String): DataFrame = {
    val tei = p04(s, d)
    val withAssets = tei.withColumn("assets", array(struct(
      concat(lit("figures/fig"), col("doc_id"), lit(".png")).as("path"),
      col("tei").cast("binary").as("content"))))
    graft.sinks.Assets.zipAssets(withAssets)
      .select(col("doc_id"), col("n_entries"),
        length(col("zip")).cast("bigint").as("zip_bytes"))
      .orderBy("doc_id")
  }

  /** P11 CRF inference (D1) with a SELF-TRAINED model: the corpus's
    * own header data lines + rule labels train a linear-chain CRF
    * in-repo ([[graft.pipeline.CrfTrainer]] — distributed averaged
    * perceptron, the in-engine stand-in for the reference's
    * `wapiti train` step), the model is saved in wapiti's NATIVE
    * format gzipped (`model.wapiti.gz`, exactly the artifact layout
    * the reference ships, `models/wapiti_model_impl.py:40`) and the
    * pure-JVM Viterbi labeler loads it back through the same
    * gzip + native-format path a reference-shipped model would take.
    * Real end-to-end train → serialize → load → decode across the
    * corpus; rows-only per-doc span stats. Train/save happens once
    * per scale dir (the q102b state-dir discipline). */
  def p11(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.{BioSpans, CrfLabeler, CrfTrainer, RuleLabeler}
    val lines = graft.pipeline.HeaderFeatures.dataLines(tokenTable(s, d))
      .withColumnRenamed("data_line", "features")
    val modelFile = new java.io.File(ScaleOps.servedState(
        "graft-p11-crf-" + ScaleOps.stateKeyDigest(d)) { dir =>
      val trained = CrfTrainer.train(new RuleLabeler().label(lines),
        P11Templates, epochs = 8)
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, "model.wapiti.gz")))
      try out.write(graft.pipeline.CrfModel.toWapitiNative(trained.model)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }, "model.wapiti.gz")
    val labeled = CrfLabeler.fromFile(modelFile.getPath).label(lines)
    BioSpans.spans(labeled)
      .groupBy("doc_id")
      .agg(
        sum(when(col("tag") === "<title>", 1).otherwise(0)).as("n_title_spans"),
        sum(when(col("tag") === "<title>", col("n_tokens")).otherwise(0))
          .as("n_title_tokens"),
        count(lit(1)).as("n_spans"))
      .orderBy("doc_id")
  }

  /** P16 multimodal video: docs rendered as real MJPEG-in-AVI
    * containers, RIFF frame walk + per-frame ImageIO JPEG decode →
    * one row per sampled frame with the 4x4 luma-grid embedding
    * (rows-only; JPEG decode floats make a hash oracle meaningless).
    */
  /** Per-scale-dir AVI fixture cache: `aviFromDocuments` synthesis
    * (JPEG+RIFF ENCODING of every document) dominated the p16 line
    * ~90% and measures fixture construction, not the video operator.
    * Materialize the deterministic media rows once per scale dir into
    * a tmp-dir parquet (atomic rename against concurrent builders) so
    * the benchmarked pass is container-walk + frame DECODE — the work
    * the operator would actually do over a real corpus. */
  private[graft] def aviFixture(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val dest = ScaleOps.servedState(s"graft-p16-avi-$key.parquet") { dir =>
      Multimodal.aviFromDocuments(Tables(s, d).documents)
        .toDF().write.mode("overwrite").parquet(dir.getPath)
    }
    s.read.parquet(dest.getPath)
  }

  def p16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    Multimodal.videoFeatures(
        aviFixture(s, d).as[Multimodal.MediaRow])
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("duration_ms"), col("frame_idx"),
        round(col("embedding")(0), 4).as("luma0"))
      .orderBy("doc_id", "frame_idx")
  }

  /** P17 image perceptual-hash dedup (rows-only): docs rendered as real
    * PNGs, REAL ImageIO decode → 9×8 dHash → 4×16-bit pigeonhole
    * Hamming-≤3 pairs (the image analog of q37's text SimHash; exact
    * text dups render byte-identical PNGs, so the pair list is the
    * image-side view of q31's exact groups plus render-level near
    * dups). Media bytes never shuffle — the join carries 8-byte
    * signatures. */
  def p17(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageNearDupPairs(
        Multimodal.mediaFromDocuments(Tables(s, d).documents))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** P18 audio fingerprint dedup (rows-only): the corpus's WAV renders
    * plus a RE-NORMALIZED re-delivery (every sample at half gain, ids
    * offset by 10⁷) — the cross-delivery audio dedup scenario. The
    * 65-window energy-delta fingerprint is gain-invariant, so every
    * original pairs its re-render at Hamming 0 through the same
    * pigeonhole pair join as p17/q37; md5 of the bytes would pair
    * nothing. */
  def p18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val orig = Multimodal.wavFromDocuments(Tables(s, d).documents)
    val redelivered = orig.map(m => m.copy(
      doc_id = m.doc_id + 10000000L,
      content = Multimodal.scaleWavGain(m.content, 1, 2)))
    Multimodal.audioNearDupPairs(orig.union(redelivered))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** P19 video near-dup (rows-only): the corpus's MJPEG-AVI renders
    * plus a RE-MUXED re-delivery (same JPEG frames, different frame
    * rate and container bytes, ids offset by 10⁷) — re-containerized
    * copies must pair on shared frame dHashes where byte digests pair
    * nothing. Background frames shared by >20 videos are df-pruned. */
  def p19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val orig = aviFixture(s, d).as[Multimodal.MediaRow]
    val remuxed = orig.map(m => m.copy(
      doc_id = m.doc_id + 10000000L,
      content = Multimodal.remuxAvi(m.content, fps = 8)))
    Multimodal.videoNearDupPairs(orig.union(remuxed))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** P17b image dedup ACROSS a stored signature index (rows-only): the
    * corpus's dHash table is built ONCE per scale dir and served from
    * parquet (the q102b state-dir discipline); the delivery — every
    * 7th doc RE-RENDERED (byte-identical PNG → identical dHash), ids
    * offset by 10⁷ — decodes only itself and band-joins the index at
    * Hamming 0 ([[graft.operators.Multimodal.imageNearDupPairsAcross]]).
    * A landing zone re-ingesting media pays O(delivery) decode +
    * band join, never a corpus re-decode or self re-pair. */
  def p17b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val docs = Tables(s, d).documents
    val (sigs, chunks, keepers) = flaggedSigState(s, d, "p17",
      () => Multimodal.imageHashes(Multimodal.mediaFromDocuments(docs)).toDF())
    val delivery = Multimodal
      .mediaFromDocuments(docs.filter(col("doc_id") % 7 === 0))
      .map(m => m.copy(doc_id = m.doc_id + 10000000L))
    Multimodal.imageNearDupPairsAcross(sigs, delivery,
        overCapChunks = Some(chunks), starKeepers = Some(keepers))
      .orderBy("corpus_id", "batch_id")
  }

  /** Shared p17b/p18b sign-time state: the flagged signature table
    * plus its cap BOOKKEEPING (over-cap chunk list + star keepers),
    * built once per scale dir — a delivery then broadcasts/scans them
    * instead of re-aggregating the corpus (the q102b discipline: the
    * three tables are published together by [[ScaleOps.servedState]]). */
  private def flaggedSigState(s: SparkSession, d: String, tag: String,
      build: () => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Multimodal
    val stateDir = ScaleOps.servedState(
        s"graft-$tag-idx-" + ScaleOps.stateKeyDigest(d)) { dir =>
      build().write.mode("overwrite").parquet(s"$dir/sigs")
      val signed = s.read.parquet(s"$dir/sigs")
      Multimodal.flaggedOverCapChunks(signed)
        .write.mode("overwrite").parquet(s"$dir/chunks")
      Multimodal.flaggedSignatureKeepers(signed)
        .write.mode("overwrite").parquet(s"$dir/keepers")
    }
    (s.read.parquet(s"$stateDir/sigs"), s.read.parquet(s"$stateDir/chunks"),
      s.read.parquet(s"$stateDir/keepers"))
  }

  /** P18b audio dedup ACROSS a stored fingerprint index (rows-only):
    * p18's re-normalized re-delivery (every 7th doc's WAV at HALF
    * GAIN, ids offset by 10⁷) as the delivery-time operator — the
    * gain-invariant energy-delta fingerprint pairs each re-render with
    * its stored original at Hamming 0 through
    * [[graft.operators.Multimodal.audioNearDupPairsAcross]], decoding
    * only the delivery. */
  def p18b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val docs = Tables(s, d).documents
    val (sigs, chunks, keepers) = flaggedSigState(s, d, "p18",
      () => Multimodal.audioHashes(Multimodal.wavFromDocuments(docs)).toDF())
    val delivery = Multimodal
      .wavFromDocuments(docs.filter(col("doc_id") % 7 === 0))
      .map(m => m.copy(doc_id = m.doc_id + 10000000L,
        content = Multimodal.scaleWavGain(m.content, 1, 2)))
    Multimodal.audioNearDupPairsAcross(sigs, delivery,
        overCapChunks = Some(chunks), starKeepers = Some(keepers))
      .orderBy("corpus_id", "batch_id")
  }

  /** P19b video dedup ACROSS a stored frame-hash index (rows-only):
    * p19's re-muxed re-delivery as the delivery-time operator. The
    * corpus's per-frame dHash index — plus its sign-time sizes and
    * df tables — is decoded and persisted ONCE per scale dir; the
    * delivery (every 7th video RE-MUXED at a different frame rate,
    * ids offset by 10⁷) decodes only itself and pairs each re-mux
    * with its stored original on shared frame signatures, with the
    * background-frame prune applied at the UNION doc frequency
    * exactly as the batch operator would
    * ([[graft.operators.Multimodal.videoNearDupPairsAcross]]). */
  def p19b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val orig = aviFixture(s, d).as[Multimodal.MediaRow]
    val stateDir = ScaleOps.servedState(
        "graft-p19-idx-" + ScaleOps.stateKeyDigest(d)) { dir =>
      Multimodal.videoFrameIndex(orig)
        .write.mode("overwrite").parquet(s"$dir/frames")
      val signed = s.read.parquet(s"$dir/frames")
      Multimodal.videoFrameSizes(signed)
        .write.mode("overwrite").parquet(s"$dir/sizes")
      Multimodal.videoFrameDfs(signed)
        .write.mode("overwrite").parquet(s"$dir/dfs")
    }
    val framesDir = s"$stateDir/frames"
    val sizesDir = s"$stateDir/sizes"
    val dfsDir = s"$stateDir/dfs"
    val delivery = orig.filter((m: Multimodal.MediaRow) => m.doc_id % 7 == 0)
      .map(m => m.copy(doc_id = m.doc_id + 10000000L,
        content = Multimodal.remuxAvi(m.content, fps = 8)))
    Multimodal.videoNearDupPairsAcross(
        s.read.parquet(framesDir), s.read.parquet(sizesDir),
        s.read.parquet(dfsDir), delivery)
      .orderBy("corpus_id", "batch_id")
  }

  /** P20 in-JVM OCR graphic matching (D6 REAL + F4 end-to-end;
    * reference `ocr_models/tesserocr_ocr_model.py:32-71` +
    * `graphic_matching.py:566-593`): each document renders a REAL PNG
    * of a figure graphic ([[graft.pipeline.GlyphOcr.renderTextImage]]
    * — machine-rendered label text, exactly the input class the
    * reference OCRs), the template-correlation OCR reads the pixels
    * back on the executors through the D6 seam, and the recovered
    * lines select the right candidate among SEVEN figure labels per
    * document through the F4 text matcher — the OCR text is the only
    * signal that can pick it. Rows-only (pixel rendering is not
    * SQL-expressible); spec-pinned to the exact expected assignment.
    *
    * Scale shape: render + OCR are row-local `mapPartitions` work
    * (glyph templates are a per-executor lazy singleton); the matcher
    * joins on the per-doc normalized key — nothing corpus-scale
    * shuffles but (doc_id, key) rows. */
  def p20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.{GlyphOcr, GraphicMatching}
    // the every-7th slice is the declared graphics-bearing sub-corpus
    // (the delivery-slice convention): render + OCR are ~2 ms/image
    // row-local work, so the entry demonstrates the full D6+F4 path
    // without turning the sweep into an image-codec benchmark
    val docs = Tables(s, d).documents.select("doc_id")
      .filter(col("doc_id") % 7 === 0)
    val graphics = docs.as[Long].mapPartitions { it =>
      it.map { id =>
        val png = GlyphOcr.renderTextImage(Seq(
          "Measured throughput",
          s"Figure ${id / 7 % 7 + 1}"))
        (id, s"g$id", png)
      }
    }.toDF("doc_id", "graphic_id", "image")
    val lines = GraphicMatching.ocrLines(graphics,
      GlyphOcr.recognize(_))
    val cands = docs
      .select(col("doc_id"), explode(sequence(lit(1), lit(7))).as("n"))
      .select(col("doc_id"),
        concat(lit("fig_"), col("n")).as("candidate_id"),
        concat(lit("Figure "), col("n")).as("label_text"))
    GraphicMatching.matchGraphicsByText(lines, cands)
      .select(col("doc_id"), col("candidate_id"))
      .orderBy("doc_id")
  }

  /** P21 neural header inference (D2) with a SELF-TRAINED ONNX model —
    * p11's discipline on the neural seam: the corpus's own header data
    * lines + rule labels fit a per-token softmax scoring head
    * ([[graft.pipeline.NeuralTrainer]], bounded deterministic
    * driver-side GD), the head exports to a REAL ONNX file (the
    * artifact layout a DELFT-exported model ships as), and the
    * pure-JVM session loads it back through
    * [[graft.pipeline.Onnx.labelerFromFile]] — batched inference +
    * BIO-masked Viterbi decode across the corpus, train → serialize →
    * load → decode fully in-engine. Train/save once per scale dir
    * (the q102b state-dir discipline). Rows-only per-doc span stats,
    * p11's report shape. */
  def p21(s: SparkSession, d: String): DataFrame = {
    import graft.pipeline.{BioSpans, NeuralLabeler, NeuralTrainer, Onnx, RuleLabeler}
    val featDim = 64
    val lines = graft.pipeline.HeaderFeatures.dataLines(tokenTable(s, d))
      .withColumnRenamed("data_line", "features")
    val stateDir = ScaleOps.servedState(
        "graft-p21-onnx-" + ScaleOps.stateKeyDigest(d)) { dir =>
      val (labels, bytes) = NeuralTrainer.trainDenseHead(
        new RuleLabeler().label(lines),
        NeuralLabeler.positionalHashingEncoder(featDim), featDim)
      java.nio.file.Files.write(new java.io.File(dir, "labels.txt").toPath,
        labels.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(new java.io.File(dir, "model.onnx").toPath, bytes)
    }
    val modelFile = new java.io.File(stateDir, "model.onnx")
    val labelsFile = new java.io.File(stateDir, "labels.txt")
    val labels = new String(
      java.nio.file.Files.readAllBytes(labelsFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").toIndexedSeq
    val labeler = Onnx.labelerFromFile(modelFile.getPath, labels,
      NeuralLabeler.positionalHashingEncoder(featDim), featDim,
      transitionMask = Some(NeuralLabeler.bioMask(labels))).get
    BioSpans.spans(labeler.label(lines))
      .groupBy("doc_id")
      .agg(
        sum(when(col("tag") === "<title>", 1).otherwise(0)).as("n_title_spans"),
        sum(when(col("tag") === "<title>", col("n_tokens")).otherwise(0))
          .as("n_title_tokens"),
        count(lit(1)).as("n_spans"))
      .orderBy("doc_id")
  }

  /** P22 WARC crawl ingestion (round 15; the Common Crawl shape —
    * `.warc.gz` archives with one gzip member per record): the corpus
    * is exported ONCE per scale dir into real multi-member WARC
    * archives (one per hash partition, each document wrapped in HTML
    * with title/nav boilerplate, entities escaped), then every query
    * STREAMS the archives back through
    * [[graft.sources.WarcReader.records]] →
    * [[graft.sources.WarcReader.textDocuments]] (HTTP parse + HTML
    * boilerplate-stripped text, all row-local) and verifies each
    * document's extracted text against the expected extraction —
    * title line + nav line + entity-decoded body. Rows-only
    * (gzip/HTTP framing is not SQL-expressible); spec-pinned to all-ok
    * plus the framing/truncation/quarantine cases in WarcSpec.
    *
    * Scale shape: file-granular streaming parallelism (one task per
    * archive, no archive ever materializes whole), row-local
    * extraction, one join back to the source table on doc_id. */
  /** The corpus exported ONCE per scale dir as real multi-member WARC
    * archives (one per hash partition) — shared by p22 and the q125
    * crawl-to-corpus composition. URLs carry the q124 curation
    * structure (www-subdomain every 5th doc, `/ads/` path every 7th,
    * host from the `source` column) so the crawl IS a curatable crawl,
    * and every path ends `/doc/<id>` for the round-trip join. */
  private[graft] def warcFixtureDir(s: SparkSession, d: String): String = {
    import s.implicits._
    import graft.sources.WarcReader
    val docs = Tables(s, d).documents.select("doc_id", "source", "text")
    ScaleOps.servedState("graft-p22-warc2-" + ScaleOps.stateKeyDigest(d)) { fixDir =>
      val dirPath = fixDir.getPath
      docs.repartition(8, pmod(col("doc_id"), lit(8)))
        .as[(Long, String, String)]
        .foreachPartition { (it: Iterator[(Long, String, String)]) =>
          val rows = it.toArray.sortBy(_._1)
          if (rows.nonEmpty) {
            val responses = rows.toSeq.map { case (id, source, text) =>
              val host = (if (id % 5 == 0) "www." else "") +
                s"$source.example"
              val path = (if (id % 7 == 0) "ads" else "article") +
                s"/doc/$id"
              (s"https://$host/$path",
                f"2026-01-${id % 28 + 1}%02dT00:00:00Z",
                s"<html><head><title>doc $id</title>" +
                  "<script>var x = 1 < 2;</script></head>" +
                  "<body><nav>home &amp; about</nav>" +
                  s"<p>${WarcReader.htmlEscape(text)}</p></body></html>")
            }
            val bytes = WarcReader.buildWarcGz(s"part-${rows.head._1}",
              responses)
            java.nio.file.Files.write(new java.io.File(dirPath,
              s"part-${rows.head._1}.warc.gz").toPath, bytes)
            ()
          }
        }
    }.getPath
  }

  /** Corpus-shared WARC extraction hub: the unfiltered response frame
    * over the scale dir's archives, keyed-shared (the alto-tokens
    * discipline — the crawl scan is the front door p22 and q125 both
    * walk through; one cache serves every consumer and every rep). */
  private[graft] def warcDocsAll(s: SparkSession, d: String): DataFrame = {
    import graft.sources.WarcReader
    val fixPath = warcFixtureDir(s, d)
    graft.CacheRegistry.persistKeyed(s, s"warc-docs:$d") {
      WarcReader.textDocumentsAll(
        WarcReader.records(s, fixPath + "/*.warc.gz", minPartitions = 8))
    }
  }

  def p22(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d).documents.select("doc_id", "text")
    val extracted = warcDocsAll(s, d)
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("text").as("extracted"))
    val collapsed = trim(regexp_replace(col("text"), "\\s+", " "))
    val expected = docs.select(col("doc_id"),
      concat(lit("doc "), col("doc_id"), lit("\nhome & about"),
        when(collapsed === "", lit(""))
          .otherwise(concat(lit("\n"), collapsed))).as("expect"))
    extracted.join(expected, Seq("doc_id"))
      .select(col("doc_id"),
        length(col("extracted")).cast("bigint").as("n_chars"),
        (col("extracted") === col("expect")).cast("int").cast("bigint")
          .as("ok"))
      .orderBy("doc_id")
  }

  /** P23 in-JVM PDF ingestion (round 16; the A1 seam made real): the
    * corpus slice (`doc_id % 5 = 0`, the p20 delivery-slice
    * convention) is exported ONCE per scale dir as REAL PDF files
    * ([[graft.sources.PdfWriter.documentPdf]]: FlateDecode content
    * streams, classic xref, standard-14 fonts, title/author/body
    * layout), then every run parses them back with the in-JVM reader
    * ([[graft.sources.PdfReader]]: xref → page tree → BT/ET text
    * interpreter → token table) and drives the header pipeline on the
    * PDF-parsed tokens. The per-doc check is CROSS-PARSER: the TEI
    * `<title>` extracted from the PDF path must equal the `<title>`
    * the ALTO path extracts for the same document — downstream can
    * never see which parser ran. Rows-only (binary PDF framing is not
    * SQL-expressible); PdfSpec pins the full operator/geometry
    * matrix.
    *
    * Scale shape: file-granular parallelism (one row-local parse per
    * PDF off the binaryFile scan), TEI folds run only on the slice,
    * and the ALTO side reuses the corpus-shared parse cache; the only
    * shuffle is the per-doc join of two slice-sized TEI tables. */
  def p23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{PdfReader, PdfWriter}
    val docs = Tables(s, d).documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 5 === 0)
    val fixDir = ScaleOps.servedState(
        "graft-p23-pdf-" + ScaleOps.stateKeyDigest(d)) { dir =>
      val dirPath = dir.getPath
      docs.repartition(8, pmod(col("doc_id"), lit(8)))
        .as[(Long, String)]
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          it.foreach { case (id, text) =>
            java.nio.file.Files.write(new java.io.File(dirPath, s"doc-$id.pdf").toPath,
              PdfWriter.documentPdf(text))
          }
        }
    }
    val pdfTokens = PdfReader.tokens(
      s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
        .load(fixDir.getPath)
        .select(
          regexp_extract(col("path"), "doc-([0-9]+)\\.pdf$", 1).cast("long")
            .as("doc_id"),
          col("content"))
        .as[(Long, Array[Byte])]).toDF()
    val titleOf = (teiCol: org.apache.spark.sql.Column) =>
      regexp_extract(teiCol, "(?s)<title(?:\\s[^>]*)?>(.*?)</title>", 1)
    val pdfTei = graft.pipeline.Processor.documentTei(pdfTokens)
      .select(col("doc_id"), titleOf(col("tei")).as("pdf_title"))
    val altoTei = graft.pipeline.Processor.documentTei(
        tokenTable(s, d).filter(col("doc_id") % 5 === 0))
      .select(col("doc_id"), titleOf(col("tei")).as("alto_title"))
    val counts = pdfTokens.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("page_idx")).as("n_pages"))
    counts.join(pdfTei, Seq("doc_id")).join(altoTei, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_pages"),
        (col("pdf_title") === col("alto_title") && col("pdf_title") =!= "")
          .cast("int").cast("bigint").as("title_ok"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "p01_alto_tokens" -> p01,
    "p02_features" -> p02,
    "p03_bio_spans" -> p03,
    "p04_header_tei" -> p04,
    "p05_multimodal" -> p05,
    "p06_jats" -> p06,
    "p07_segmentation_lines" -> p07,
    "p08_references" -> p08,
    "p09_page_pruning" -> p09,
    "p10_asset_zip" -> p10,
    "p11_crf_header" -> p11,
    "p12_audio" -> p12,
    "p13_graphic_tei" -> p13,
    "p14_training_data" -> p14,
    "p15_delft_data" -> p15,
    "p16_video" -> p16,
    "p17_image_dedup" -> p17,
    "p17b_image_dedup_across" -> p17b,
    "p18_audio_dedup" -> p18,
    "p18b_audio_dedup_across" -> p18b,
    "p19_video_dedup" -> p19,
    "p19b_video_dedup_across" -> p19b,
    "p20_ocr_match" -> p20,
    "p21_neural_header" -> p21,
    "p22_warc_ingest" -> p22,
    "p23_pdf_roundtrip" -> p23,
  )
}
