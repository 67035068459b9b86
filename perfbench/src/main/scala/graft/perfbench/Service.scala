package graft.perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Processor, SemanticNode}
import graft.service.{GraftService, MediaTypes}
import graft.sinks.{Assets, Jats, Tei}
import graft.sources.{AltoReader, PdfReader}

/** service_mixed: an in-process [[GraftService]] serving two
  * closed-loop clients (each sends its next request when the previous
  * reply arrives), six routes in turn, over a pool of seeded ALTO and
  * PDF papers of 1 to 20 pages. Each request is one document through
  * Spark, so per-request fixed cost dominates: job scheduling, the
  * driver gap, stylesheet compilation and queueing on the service's
  * single dispatcher thread. Same fold as corpus_convert, opposite
  * shape. */
final class Service(seed: Long) extends Workload {
  import Service._

  private var pool: Vector[Gen.Doc] = Vector.empty
  private var service: GraftService = _
  private val samples = ArrayBuffer.empty[Sample]

  def generate(dir: Path): Seq[String] = {
    pool = Gen.papers(seed, PoolSize, MaxPages)
    val pages = pool.map(_.pages)
    Seq(
      s"pool ${pool.size} docs (${pool.count(!_.isPdf)} ALTO, ${pool.count(_.isPdf)} PDF), " +
        s"pages ${pages.sum}, per doc ${pages.mkString(",")}",
      s"tokens ${pool.map(_.words.toLong).sum} (one per laid-out word)",
      s"bytes ${pool.map(_.bytes.length.toLong).sum}",
      s"routes ${Routes.map(_.name).mkString(",")}; $Clients closed-loop clients")
  }

  def inputDigest: String = Gen.digestDocs(pool)

  def setUp(spark: SparkSession): Unit = {
    service = new GraftService(spark).start()
    // warm-up: every route once, on mid-sized ALTO and PDF papers
    Routes.zipWithIndex.foreach { case (r, i) =>
      val (status, _) = post(service.boundPort, r, pool(pool.size / 2 + i))
      require(status == 200, s"warm-up ${r.name} returned $status")
    }
  }

  override def tearDown(): Unit = if (service != null) { service.stop(); service = null }

  def measure(spark: SparkSession, seconds: Double, trace: Option[Traced]): Window = {
    trace.foreach(_.sparkTrace.reset())
    val floor = Jvm.collect()
    val gc0 = Jvm.gcMs()
    val w0 = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val port = service.boundPort
    val got = ArrayBuffer.empty[Sample]
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        // each client walks its half of the pool in a fixed stride order
        // that starts at its largest paper and spreads the sizes, routes
        // in turn, in step with the other client: every window holds the
        // same mix, whatever the seed
        val mine = ArrayBuffer.empty[Sample]
        val mineDocs = (pool.size - 1 - c to 0 by -Clients).toVector
        var j = 0
        while (System.nanoTime() < deadline) {
          val doc = mineDocs((j * Stride) % mineDocs.size)
          val route = Routes(j % Routes.size)
          j += 1
          val t0 = System.nanoTime()
          val w = System.currentTimeMillis()
          val (status, body) =
            try post(port, route, pool(doc))
            catch { case _: java.io.IOException => (-1, Array.emptyByteArray) }
          val t1 = System.nanoTime()
          mine += Sample(c, doc, route.name, status, t0, t1, w,
            Gen.sha256(Iterator(body)), body.length)
        }
        got.synchronized(got ++= mine)
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val w1 = System.currentTimeMillis()
    val gcMs = Jvm.gcMs() - gc0
    Thread.sleep(20)
    val heap = Jvm.peakOldAfterGc(w0, w1, floor)
    samples ++= got
    val all = got.toVector
    val ok = all.filter(_.status == 200)
    val wallS = (w1 - w0) / 1000.0
    // a failed request counts as missing any latency limit: it enters the
    // percentiles as long as the whole window
    val lat = all.map(s => if (s.status == 200) s.latencyMs else wallS * 1000)
    val tail = Stats.tailPercentile(lat.size)
    val endToEnd = Seq(
      ("docs_per_s", ok.size / wallS, "docs/s"),
      ("latency_p50_ms", Stats.median(lat), "ms"),
      ("peak_heap_mb", heap / Jvm.MB, "MB"))
    val notes = Seq(
      f"requests ${all.size} (${ok.size} ok) in $wallS%.2f s: requests_per_s ${ok.size / wallS}%.3f",
      s"latency samples ${lat.size}; highest percentile with ten samples beyond it: " +
        tail.fold("none")(p => s"p${Stats.fmt(p)} = ${Stats.fmt(Stats.percentile(lat, p))} ms") +
        f"; p95 ${Stats.percentile(lat, 95)}%.1f ms (below the rule under 200 samples)",
      "per route p50 ms: " + Routes.map { r =>
        val l = ok.filter(_.route == r.name).map(_.latencyMs)
        s"${r.name}=${if (l.isEmpty) "-" else f"${Stats.median(l)}%.1f"}"
      }.mkString(" "),
      "p50 ms by quarter of the window: " + ok.groupBy(s => 4 * (s.startMs - w0) / (w1 - w0 + 1))
        .toSeq.sortBy(_._1).map { case (_, q) => f"${Stats.median(q.map(_.latencyMs))}%.1f" }
        .mkString(" "))
    trace.foreach { t =>
      all.foreach(s => t.tracer.record("service.request", s.id, s.startNs, s.endNs))
      val n = math.max(1, all.size)
      val perReq = attribute(all, t.sparkTrace.jobIntervals)
      val sparkLayer = t.sparkTrace.metrics(all.size, perReq.map(_._2))
      val counts = layerCounts(spark, pool, all.map(_.doc).distinct)
      def perRequest(f: Sample => Double) = all.map(f).sum / n
      t.layer = sparkLayer ++ Seq(
        ("sources.tokens", perRequest(s => counts(s.doc)._1.toDouble), "count"),
        ("pipeline.nodes", perRequest(s => counts(s.doc)._2.toDouble), "count"),
        ("service.spark_jobs_per_request", perReq.map(_._3).sum.toDouble / n, "count"),
        ("service.spark_job_ms_per_request", perReq.map(_._4).sum / n, "ms"),
        ("service.outside_spark_ms_per_request",
          perReq.map { case (s, _, _, jobMs) => s.latencyMs - jobMs }.sum / n, "ms"),
        ("sinks.bytes_out", all.map(_.bytes.toDouble).sum / n, "bytes"),
        ("jvm.gc_ms", gcMs.toDouble / n, "ms"),
        ("jvm.peak_heap_mb", heap / Jvm.MB, "MB"))
    }
    Window(endToEnd, all.size.toLong, all.count(_.status != 200).toLong, notes)
  }

  def check(spark: SparkSession): Seq[String] = {
    val expected = expectedDigests(spark, pool, samples.map(s => (s.doc, s.route)).toSet)
    Checks.serviceResponses(samples.toSeq, expected)
  }
}

object Service {
  val PoolSize = 48
  val MaxPages = 20
  val Clients = 2
  /** Coprime with the 24 papers per client: visits them all, sizes mixed. */
  val Stride = 7

  final case class Route(name: String, path: String, accept: String)

  val Routes: Vector[Route] = Vector(
    Route("fulltext_tei", "/api/processFulltextDocument", MediaTypes.TeiXml),
    Route("fulltext_jats", "/api/processFulltextDocument", MediaTypes.JatsXml),
    Route("header", "/api/processHeaderDocument", MediaTypes.TeiXml),
    Route("references", "/api/processReferences", MediaTypes.TeiXml),
    Route("convert", "/api/convert", MediaTypes.JatsXml),
    Route("asset_zip", "/api/processFulltextAssetDocument", MediaTypes.TeiZip))

  /** One request as the client saw it. */
  final case class Sample(client: Int, doc: Int, route: String, status: Int,
      startNs: Long, endNs: Long, startMs: Long, digest: String, bytes: Int) {
    def latencyMs: Double = (endNs - startNs) / 1e6
    def id: Long = client.toLong << 40 | (startNs & ((1L << 40) - 1))
    def endMs: Long = startMs + (endNs - startNs) / 1000000L
  }

  def post(port: Int, route: Route, doc: Gen.Doc): (Int, Array[Byte]) = {
    val c = new URL(s"http://127.0.0.1:$port${route.path}").openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Accept", route.accept)
      c.setRequestProperty("Content-Type",
        if (doc.isPdf) MediaTypes.Pdf else MediaTypes.AltoXml)
      c.getOutputStream.write(doc.bytes)
      c.getOutputStream.close()
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      (status, if (in == null) Array.emptyByteArray else in.readAllBytes())
    } finally c.disconnect()
  }

  /** The service handles one request at a time, in arrival order, so
    * the request served k-th (by completion) started server-side when
    * both it had arrived and the (k-1)-th had finished. Spark jobs that
    * start inside that window are that request's. Returns per request:
    * (sample, server-side window in epoch ms, jobs, wall ms covered by
    * its jobs). */
  def attribute(samples: Seq[Sample], jobs: Seq[(Long, Long)])
      : Seq[(Sample, (Long, Long), Int, Double)] = {
    var prevEnd = Long.MinValue
    samples.sortBy(_.endNs).map { s =>
      val start = math.max(s.startMs, prevEnd)
      prevEnd = s.endMs
      val mine = jobs.filter { case (js, _) => js >= start && js <= s.endMs }
      (s, (start, s.endMs), mine.size, Trace.unionNs(mine).toDouble)
    }
  }

  private def docIdOf(d: Gen.Doc): Long =
    // the id the service derives from an upload; asset ids embed it
    math.abs(scala.util.hashing.MurmurHash3.bytesHash(d.bytes)).toLong

  private def altoAssetDocIdOf(d: Gen.Doc): Long =
    math.abs(scala.util.hashing.MurmurHash3.stringHash(d.xml)).toLong

  /** FRONT_FIELDS and the reference roots: the response shaping of the
    * header and references routes, applied to the batch node table. */
  private val ReferenceRoots = Set("reference", "raw_reference", "heading")
  private def frontRoot(t: String) =
    !(t == "section" || ReferenceRoots(t) || t.startsWith("note["))

  private def subtree(nodes: Seq[SemanticNode], keep: String => Boolean): Seq[SemanticNode] = {
    val byParent = nodes.groupBy(_.parent_id)
    val kept = scala.collection.mutable.Set.empty[Long]
    def add(n: SemanticNode): Unit = {
      kept += n.node_id
      byParent.getOrElse(n.node_id, Nil).foreach(add)
    }
    nodes.filter(n => n.parent_id < 0 && keep(n.node_type)).foreach(add)
    nodes.filter(n => kept(n.node_id))
  }

  /** Expected response digest for each wanted (pool index, route),
    * computed with the batch entry points over the same bytes. Each
    * batch call gets only the documents a wanted route needs. */
  def expectedDigests(spark: SparkSession, pool: Seq[Gen.Doc],
      wanted: Set[(Int, String)]): Map[(Int, String), String] = {
    import spark.implicits._
    def docs(routes: String*) =
      wanted.collect { case (i, r) if routes.contains(r) => i }.toSeq.sorted
    val ids = pool.map(docIdOf)
    def tokens(is: Seq[Int]) = tokenTable(spark, pool, is)
    val tei = Processor.documentTei(tokens(docs("fulltext_tei", "fulltext_jats", "convert")))
      .as[(Long, String)].collect().toMap
    val nodes = Processor.documentPipeline(tokens(docs("header", "references")))
      .collect().toSeq.groupBy(_.doc_id)
    val zipDocs = docs("asset_zip")
    val zips = zipDocs.zip(assetZips(spark, zipDocs.map(pool))).toMap
    def d(s: String) = Gen.sha256(Iterator(s.getBytes(StandardCharsets.UTF_8)))
    wanted.iterator.map { case (i, route) =>
      (i, route) -> (route match {
        case "fulltext_tei" => d(tei(ids(i)))
        case "fulltext_jats" | "convert" => d(Jats.transform(tei(ids(i))))
        case "header" => d(Tei.buildTei(subtree(nodes(ids(i)), frontRoot)))
        case "references" => d(Tei.buildTei(subtree(nodes(ids(i)), ReferenceRoots)))
        case "asset_zip" => Gen.sha256(Iterator(zips(i)))
      })
    }.toMap
  }

  /** The token table the source readers give for the pool documents
    * `is`, under the ids the service derives from their bytes. */
  private def tokenTable(spark: SparkSession, pool: Seq[Gen.Doc], is: Seq[Int]): DataFrame = {
    import spark.implicits._
    val (pdfs, altos) = is.partition(pool(_).isPdf)
    spark.createDataset(
      pdfs.flatMap(i => PdfReader.parseTokens(docIdOf(pool(i)), pool(i).bytes)) ++
        AltoReader.tokens(altos.map(i => (docIdOf(pool(i)), pool(i).xml)).toDS()).collect()
    ).toDF()
  }

  /** Tokens the source readers yield and nodes the fold yields, per pool
    * document of `is`: batch calls over the same bytes, whose output the
    * service's must equal. */
  def layerCounts(spark: SparkSession, pool: Seq[Gen.Doc], is: Seq[Int]): Map[Int, (Long, Long)] = {
    import spark.implicits._
    val toks = tokenTable(spark, pool, is)
    def perDoc(df: DataFrame) = df.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val (t, n) = (perDoc(toks), perDoc(Processor.documentPipeline(toks).toDF()))
    is.map { i => val id = docIdOf(pool(i)); i -> (t.getOrElse(id, 0L), n.getOrElse(id, 0L)) }.toMap
  }

  /** Batch asset zips, one per doc of `docs`, in order: `documentTei` with graphics
    * attached and asset extraction on, zipped with the decoded PDF
    * images. */
  private def assetZips(spark: SparkSession, docs: Seq[Gen.Doc]): Seq[Array[Byte]] = {
    import spark.implicits._
    val altoIds = docs.filterNot(_.isPdf).map(altoAssetDocIdOf)
    val alto = altoIds.zip(AltoReader.parsedDocs(
      docs.filterNot(_.isPdf).zip(altoIds).map { case (d, id) => (id, d.xml) }.toDS())
      .collect()).toMap
    val parsed = docs.map { doc =>
      if (doc.isPdf) {
        val id = docIdOf(doc)
        val (t, g, a) = PdfReader.parseWithAssets(id, doc.bytes)
        (id, t, g, a.map { case (f, png) => Assets.AssetFile(s"$f.png", png) })
      } else {
        val id = altoAssetDocIdOf(doc)
        (id, alto(id)._1, alto(id)._2, Seq.empty[Assets.AssetFile])
      }
    }
    val toks = spark.createDataset(parsed.flatMap(_._2)).toDF()
    val gfx = spark.createDataset(parsed.flatMap(_._3)).toDF()
    val tei = Processor.documentTei(toks, Processor.Config(extractGraphicAssets = true),
      Some(Processor.graphicsForMatching(toks, gfx))).as[(Long, String)].collect().toMap
    val zips = Assets.zipAssets(parsed.map(p => (p._1, tei(p._1), p._4))
        .toDF("doc_id", "xml", "assets"), xmlCol = "xml", xmlName = "tei.xml")
      .select("doc_id", "zip").as[(Long, Array[Byte])].collect().toMap
    parsed.map(p => zips(p._1))
  }
}
