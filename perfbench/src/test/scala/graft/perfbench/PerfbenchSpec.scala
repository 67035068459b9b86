package graft.perfbench

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PdfReader

class PerfbenchSpec extends AnyFunSuite {

  test("tail percentile: the highest reportable one with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(xs.count(_ > Stats.percentile(xs, 75)) == 10)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time is the span minus the union of its children, clipped to it") {
    val spans = Seq(
      Span(1, "pass", 0, 1, 0, 100),
      Span(2, "a", 1, 1, 10, 30),
      Span(3, "b", 1, 1, 20, 50), // overlaps a: 10..50 counted once
      Span(4, "c", 1, 1, 90, 120), // runs past its parent: 90..100 counts
      Span(5, "d", 3, 1, 25, 35))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20)
    assert(self(3) == 30 - 10)
    assert(self(4) == 30)
    assert(self(5) == 10)
    assert(Trace.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (30L, 31L))) == 26)
    val byName = Trace.byName(spans).map(r => r._1 -> r._4).toMap
    assert(byName("pass") == 50 / 1e6)
  }

  test("spans nest by thread and share their group id") {
    val t = new Tracer
    t.span("outer", 7) { t.span("inner", 7)(()) }
    val Seq(inner, outer) = t.all.sortBy(_.name)
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(inner.group == 7 && outer.group == 7)
  }

  test("generators are deterministic per seed") {
    assert(Gen.digestDocs(Gen.papers(5, 4, 4)) == Gen.digestDocs(Gen.papers(5, 4, 4)))
    assert(Gen.digestDocs(Gen.papers(5, 4, 4)) != Gen.digestDocs(Gen.papers(6, 4, 4)))
    val a = Gen.dedupCorpus(5, 300, 30, 20)
    val b = Gen.dedupCorpus(5, 300, 30, 20)
    assert(a == b)
    assert(Gen.digestTexts(a.texts) != Gen.digestTexts(Gen.dedupCorpus(6, 300, 30, 20).texts))
  }

  test("page counts are heavy-tailed, and the same for every seed") {
    val p = Gen.heavyTailedSizes(48, 1.4, 1, 12)
    assert(p == p.sorted && p.head == 1 && p.max == 12 && Stats.median(p.map(_.toDouble)) <= 2)
    val targets = Gen.heavyTailedSizes(8, 0.9, 1, 20)
    Seq(1L, 2L).foreach { seed =>
      Gen.papers(seed, 8, 20, 0.9).map(_.pages).zip(targets).foreach { case (got, want) =>
        assert(got >= want && got <= want + 1) // the reference list may open one more page
      }
    }
  }

  test("the dedup corpus plants one hot cluster and smaller ones") {
    val c = Gen.dedupCorpus(3, 1000, 100, 30)
    assert(c.texts.size == 1000)
    assert(c.clusterSizes.max == 100)
    assert(c.clusterSizes.count(_ < 100) > 10)
    assert(c.plantedPairs == c.clusterSizes.map(s => s.toLong * (s - 1) / 2).sum)
  }

  test("the PDF rendering of a layout carries the layout's text") {
    val p = Gen.paper(11, "x", 3)
    val words = p.pages.flatMap(_.blocks.flatten.flatten).map(_.text).mkString
    val toks = PdfReader.parseTokens(1L, Gen.pdf(p)).map(_.text).mkString
    assert(toks == words)
    assert(p.pages.map(_.figures.size).sum > 0)
    assert(Gen.alto(p).contains("<Illustration "))
  }

  test("result line: metric names match the pattern and values are numbers") {
    assert(Stats.MetricName.matches("spark.task_ms"))
    assert(Stats.MetricName.matches("operators.dedup.verify_ratio"))
    assert(!Stats.MetricName.matches("latency p50"))
    assert(!Stats.MetricName.matches("a/b"))
    Main.PerLayer.foreach { case (n, _) => assert(Stats.MetricName.matches(n), n) }
    val line = Stats.resultJson(true, 3, 0, Seq(("setup_s", 1.5, "s")))
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}""")
    intercept[IllegalArgumentException](Stats.resultJson(true, 1, 0, Seq(("bad name", 1.0, "s"))))
    intercept[IllegalArgumentException](Stats.resultJson(true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }

  test("BENCHMARK.json names the metrics the benchmark prints") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "run from the perfbench directory of a checkout")
    val json = scala.io.Source.fromFile(f, "UTF-8").mkString
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val names = """"name": "([^"]+)"""".r
    assert(names.findAllMatchIn(perLayer).map(_.group(1)).toSeq == Main.PerLayer.map(_._1))
    val e2e = json.substring(json.indexOf("\"end_to_end\""), json.indexOf("\"per_layer\""))
    assert(names.findAllMatchIn(e2e).map(_.group(1)).toSeq ==
      Seq("setup_s", "docs_per_s", "latency_p50_ms", "peak_heap_mb"))
  }

  private def zip(name: String, xml: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    z.putNextEntry(new ZipEntry(name))
    z.write(xml.getBytes("UTF-8"))
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  test("convert check: passes good output, fails corrupted TEI, JATS or zip") {
    val tei = Seq(1L -> "<TEI><text/></TEI>", 2L -> "<TEI><text><body/></text></TEI>")
    val jats = Seq(1L -> "<article/>", 2L -> "<article><body/></article>")
    val zips = tei.map { case (id, x) => id -> zip("tei.xml", x) }
    val ids = Set(1L, 2L)
    assert(Checks.convertOutputs(ids, tei, jats, zips).isEmpty)
    val badTei = Seq(1L -> "<TEI><text>", 2L -> tei(1)._2)
    assert(Checks.convertOutputs(ids, badTei, jats, badTei.map { case (i, x) => i -> zip("tei.xml", x) })
      .exists(_.startsWith("tei:")))
    assert(Checks.convertOutputs(ids, tei, Seq(1L -> "", 2L -> jats(1)._2), zips).exists(_.startsWith("jats:")))
    assert(Checks.convertOutputs(ids, tei, jats.take(1), zips).exists(_.contains("without a row")))
    assert(Checks.convertOutputs(ids, tei, jats :+ (2L -> "<article/>"), zips).exists(_.contains("more than one")))
    assert(Checks.convertOutputs(ids, tei, jats, Seq(1L -> zips(0)._2, 2L -> zip("tei.xml", "<TEI/>")))
      .exists(_.startsWith("zip:")))
  }

  test("service check: a 200 response that differs from the batch answer fails") {
    def s(doc: Int, route: String, status: Int, digest: String) =
      Service.Sample(0, doc, route, status, 0L, 1L, 0L, digest, 1)
    val expected = Map((0, "header") -> "aa", (1, "header") -> "bb")
    assert(Checks.serviceResponses(
      Seq(s(0, "header", 200, "aa"), s(1, "header", 500, "")), expected).isEmpty)
    assert(Checks.serviceResponses(Seq(s(1, "header", 200, "aa")), expected).size == 1)
  }

  test("service: Spark jobs go to the request the single dispatcher was serving") {
    def s(c: Int, start: Long, end: Long) =
      Service.Sample(c, 0, "header", 200, start * 1000000L, end * 1000000L, start, "", 1)
    // both sent at 0: client 0 served 0..100, client 1 waits, served 100..180
    val a = Service.attribute(Seq(s(1, 0, 180), s(0, 0, 100)), Seq((10L, 40L), (50L, 90L), (120L, 170L)))
    assert(a.map(r => (r._1.client, r._2, r._3, r._4)) ==
      Seq((0, (0L, 100L), 2, 70.0), (1, (100L, 180L), 1, 50.0)))
  }

  test("dedup check: fails a changed or unstable keeper set and low recall") {
    val k = Checks.keeperDigest(Seq(3L, 1L, 2L))
    assert(k == Checks.keeperDigest(Seq(1L, 2L, 3L)))
    assert(Checks.dedupOutputs(Seq(k, k), Some(k), 1.0, 0.95).isEmpty)
    val corrupted = Checks.keeperDigest(Seq(1L, 2L))
    assert(Checks.dedupOutputs(Seq(k, corrupted), None, 1.0, 0.95).nonEmpty)
    assert(Checks.dedupOutputs(Seq(corrupted), Some(k), 1.0, 0.95).nonEmpty)
    assert(Checks.dedupOutputs(Seq(k), Some(k), 0.9, 0.95).nonEmpty)
  }

  test("planted-pair recall counts same-cluster pairs kept in one component") {
    // cluster 0 = docs 0,1,2 (3 pairs); cluster 1 = docs 3,4 (1 pair); doc 5 alone
    val cluster = Seq(0, 0, 0, 1, 1, -1)
    assert(Checks.plantedRecall(cluster, Seq(10L, 10L, 10L, 13L, 13L, 15L)) == 1.0)
    assert(Checks.plantedRecall(cluster, Seq(10L, 10L, 12L, 13L, 13L, 15L)) == 2.0 / 4)
  }
}
