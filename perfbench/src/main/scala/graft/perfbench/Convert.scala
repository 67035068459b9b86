package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, regexp_extract}

import graft.pipeline.{GraphicRow, Processor, TokenRow}
import graft.sinks.{Assets, Jats, Tei}
import graft.sources.{AltoReader, PdfReader}

/** corpus_convert: a seeded corpus of multi-page papers, half ALTO and
  * half PDF, converted in batch: parse → `Processor.documentTei` with
  * page graphics attached → `Jats.serialize` and asset zips → write.
  * The batch ETL path: the work sits in sources, pipeline and sinks
  * behind one document shuffle, and the service and dedup operators are
  * never touched. */
final class Convert(seed: Long) extends Workload {
  import Convert._

  private var docs: Vector[Gen.Doc] = Vector.empty
  private var inputs: Inputs = _
  private var outRoot: Path = _
  private var lastOut: Path = _
  private var passCounts = Vector.empty[(Long, Long, Long)]

  def generate(dir: Path): Seq[String] = {
    docs = Gen.papers(seed, NumDocs, MaxPages)
    inputs = write(docs, dir.resolve("corpus"))
    outRoot = dir.getParent.resolve("out")
    val pages = docs.map(_.pages)
    Seq(
      s"docs ${docs.size} (${docs.count(!_.isPdf)} ALTO, ${docs.count(_.isPdf)} PDF)",
      s"pages ${pages.sum} (per doc min ${pages.min} median ${Stats.median(pages.map(_.toDouble))} max ${pages.max})",
      s"tokens ${docs.map(_.words.toLong).sum} (one per laid-out word)",
      s"bytes ${docs.map(_.bytes.length.toLong).sum}")
  }

  override def sessionConf: Map[String, String] = Main.BatchConf

  def inputDigest: String = Gen.digestDocs(docs)

  /** The warm-up pass is a full pass: the JVM outlives the sessions, so
    * the set-ups leave the measured passes with a warm JIT. */
  def setUp(spark: SparkSession): Unit =
    pass(spark, inputs, outRoot.resolve("warm"), None, 0L)

  def measure(spark: SparkSession, seconds: Double, trace: Option[Traced]): Window = {
    trace.foreach(_.sparkTrace.reset())
    val n = docs.size
    def out(i: Int) = outRoot.resolve(s"pass-$i-${trace.isDefined}")
    val counts0 = passCounts.size
    val p = Passes.run(seconds)(i => pass(spark, inputs, out(i), trace, i.toLong)) { i =>
      // every pass must write one row per document to each output
      passCounts :+= rowCounts(spark, out(i))
      if (lastOut != null) Main.deleteTree(lastOut)
      lastOut = out(i)
    }
    trace.foreach { t =>
      def med(f: PassCounts => Long) = Stats.median(p.results.map(f(_).toDouble))
      t.layer = p.layer(t) ++ Seq(
        ("sources.tokens", med(_.tokens), "count"),
        ("pipeline.nodes", med(_.nodes), "count"),
        ("sinks.bytes_out", med(_.bytesOut), "bytes")) ++
        Trace.selfMsPerUnit(t.tracer.all, p.size, SpanMetrics)
    }
    val missing = passCounts.drop(counts0).map { case (a, b, c) =>
      math.max(0L, n - Seq(a, b, c).min) }.sum
    Window(p.endToEnd(n), n.toLong * p.size, missing, Seq(p.note(n)))
  }

  private def rowCounts(spark: SparkSession, out: Path): (Long, Long, Long) = {
    def c(t: String) = spark.read.parquet(out.resolve(t).toString).count()
    (c("tei"), c("jats"), c("zip"))
  }

  def check(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val tei = spark.read.parquet(lastOut.resolve("tei").toString).as[(Long, String)].collect().toSeq
    val jats = spark.read.parquet(lastOut.resolve("jats").toString).as[(Long, String)].collect().toSeq
    val zips = spark.read.parquet(lastOut.resolve("zip").toString)
      .select("doc_id", "zip").as[(Long, Array[Byte])].collect().toSeq
    val n = docs.size.toLong
    val short = passCounts.filter(_ != ((n, n, n)))
    Checks.convertOutputs(docs.map(_.id).toSet, tei, jats, zips) ++
      short.headOption.map(c => s"convert: ${short.size} passes wrote row counts $c, not $n each")
  }
}

object Convert {
  val NumDocs = 32
  val MaxPages = 12
  val Cfg: Processor.Config = Processor.Config(extractGraphicAssets = true)

  final case class Inputs(alto: String, pdf: String)
  final case class PassCounts(tokens: Long, nodes: Long, bytesOut: Long)

  val SpanMetrics: Seq[(String, String)] = Seq(
    "sources.alto_parse" -> "sources.alto_parse_ms",
    "sources.pdf_parse" -> "sources.pdf_parse_ms",
    "pipeline.fold" -> "pipeline.fold_ms",
    "sinks.tei" -> "sinks.tei_ms",
    "sinks.jats" -> "sinks.jats_ms",
    "sinks.zip" -> "sinks.zip_ms",
    "sinks.write" -> "sinks.write_ms")

  /** One file per document, `<id>.alto.xml` or `<id>.pdf`: the shape a
    * corpus arrives in. */
  private def write(docs: Seq[Gen.Doc], dir: Path): Inputs = {
    val in = Inputs(dir.resolve("alto").toString, dir.resolve("pdf").toString)
    Files.createDirectories(dir.resolve("alto"))
    Files.createDirectories(dir.resolve("pdf"))
    docs.foreach { d =>
      val f = if (d.isPdf) dir.resolve("pdf").resolve(s"${d.id}.pdf")
        else dir.resolve("alto").resolve(s"${d.id}.alto.xml")
      Files.write(f, d.bytes)
    }
    in
  }

  /** (doc_id, content) of every file in `dir`, the id read from the
    * file name. */
  private def files(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir).select(
      regexp_extract(col("path"), "/([0-9]+)[.][^/]*$", 1).cast("long").as("doc_id"),
      col("content"))

  /** PDF parse with decoded image assets: (doc_id, tokens, graphics,
    * asset files named by graphic id). */
  private def pdfParsed(spark: SparkSession, in: Inputs)
      : Dataset[(Long, Seq[TokenRow], Seq[GraphicRow], Seq[Assets.AssetFile])] = {
    import spark.implicits._
    files(spark, in.pdf).as[(Long, Array[Byte])].map { case (id, bytes) =>
      val (t, g, a) = PdfReader.parseWithAssets(id, bytes)
      (id, t, g, a.map { case (fid, png) => Assets.AssetFile(s"$fid.png", png) })
    }
  }

  /** One pass over the corpus. Untraced it is the production flow
    * (fused `documentTei`); traced, every layer call is materialized at
    * its boundary inside its own span, and `documentPipeline` +
    * `Tei.serialize` stand in for the fused TEI fold so the fold and
    * the TEI sink are timed apart. */
  def pass(spark: SparkSession, in: Inputs, out: Path, trace: Option[Traced],
      group: Long): PassCounts = {
    import spark.implicits._
    def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.tracer.span(name, group)(body))
    def cp[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint()

    span("pass") {
      val alto = span("sources.alto_parse") {
        cp(AltoReader.parsedDocs(files(spark, in.alto)
          .select(col("doc_id"), col("content").cast("string")).as[(Long, String)]))
      }
      val pdf = span("sources.pdf_parse")(cp(pdfParsed(spark, in)))
      val tokens = AltoReader.tokensOf(alto).union(pdf.flatMap(_._2)).toDF()
      val graphicRows = AltoReader.graphicsOf(alto).union(pdf.flatMap(_._3)).toDF()
      val assets = pdf.map(p => (p._1, p._4)).toDF("doc_id", "assets")
      val graphics = Processor.graphicsForMatching(tokens, graphicRows)
      val (tei, nodes) = trace match {
        case None =>
          (cp(Processor.documentTei(tokens, Cfg, Some(graphics))), -1L)
        case Some(_) =>
          val nodes = span("pipeline.fold")(cp(Processor.documentPipeline(tokens, Cfg, Some(graphics))))
          (span("sinks.tei")(cp(Tei.serialize(nodes.toDF()))), nodes.count())
      }
      val jats = span("sinks.jats")(maybeCp(trace, Jats.serialize(tei)))
      val zips = span("sinks.zip") {
        maybeCp(trace, Assets.zipAssets(tei.join(broadcast(assets), Seq("doc_id"), "left")))
      }
      span("sinks.write") {
        tei.write.mode(SaveMode.Overwrite).parquet(out.resolve("tei").toString)
        jats.write.mode(SaveMode.Overwrite).parquet(out.resolve("jats").toString)
        zips.write.mode(SaveMode.Overwrite).parquet(out.resolve("zip").toString)
      }
      if (trace.isEmpty) PassCounts(-1, -1, -1)
      else PassCounts(tokens.count(), nodes, dirBytes(out))
    }
  }

  private def maybeCp(trace: Option[Traced], df: DataFrame): DataFrame =
    if (trace.isDefined) df.localCheckpoint() else df

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
