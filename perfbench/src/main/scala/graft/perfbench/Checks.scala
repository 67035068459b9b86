package graft.perfbench

import java.io.{ByteArrayInputStream, StringReader}
import java.util.zip.ZipInputStream

import javax.xml.parsers.SAXParserFactory
import org.xml.sax.InputSource
import org.xml.sax.helpers.DefaultHandler

/** Output checks. Each returns the problems it found (empty = pass),
  * so a run can print them and the benchmark's tests can feed them
  * deliberately corrupted outputs. */
object Checks {

  private val sax: ThreadLocal[javax.xml.parsers.SAXParser] =
    ThreadLocal.withInitial { () =>
      val f = SAXParserFactory.newInstance()
      f.setNamespaceAware(true)
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      f.newSAXParser()
    }

  def parsesAsXml(s: String): Boolean =
    s != null && s.nonEmpty && {
      try { sax.get.parse(new InputSource(new StringReader(s)), new DefaultHandler); true }
      catch { case _: Exception => false }
    }

  /** corpus_convert: exactly one non-empty, well-formed TEI and JATS
    * row per input document, and one zip per document whose `tei.xml`
    * entry is that document's TEI. */
  def convertOutputs(docIds: Set[Long], tei: Seq[(Long, String)],
      jats: Seq[(Long, String)], zips: Seq[(Long, Array[Byte])]): Seq[String] = {
    def rows[T](what: String, rs: Seq[(Long, T)]): Seq[String] = {
      val ids = rs.map(_._1)
      val dup = ids.diff(ids.distinct).distinct
      val missing = docIds -- ids
      val extra = ids.toSet -- docIds
      Seq(
        if (dup.nonEmpty) Some(s"$what: ${dup.size} documents with more than one row") else None,
        if (missing.nonEmpty) Some(s"$what: ${missing.size} documents without a row") else None,
        if (extra.nonEmpty) Some(s"$what: ${extra.size} rows for unknown documents") else None
      ).flatten
    }
    val badTei = tei.count { case (_, x) => !parsesAsXml(x) }
    val badJats = jats.count { case (_, x) => !parsesAsXml(x) }
    val teiById = tei.toMap
    val badZip = zips.count { case (id, z) => !zipHasXml(z, "tei.xml", teiById.get(id).orNull) }
    rows("tei", tei) ++ rows("jats", jats) ++ rows("zip", zips) ++
      Seq(
        if (badTei > 0) Some(s"tei: $badTei rows empty or not well-formed XML") else None,
        if (badJats > 0) Some(s"jats: $badJats rows empty or not well-formed XML") else None,
        if (badZip > 0) Some(s"zip: $badZip zips without the document's tei.xml") else None
      ).flatten
  }

  /** The zip's first entry is `name` holding exactly `xml`. */
  def zipHasXml(zip: Array[Byte], name: String, xml: String): Boolean =
    xml != null && zip != null && {
      val in = new ZipInputStream(new ByteArrayInputStream(zip))
      try {
        val e = in.getNextEntry
        e != null && e.getName == name &&
          new String(in.readAllBytes(), "UTF-8") == xml
      } finally in.close()
    }

  /** service_mixed: every 200 response equals the batch answer for the
    * same document and route (other statuses count as failed requests,
    * not here). */
  def serviceResponses(responses: Seq[Service.Sample],
      expected: Map[(Int, String), String]): Seq[String] =
    responses.filter(r => r.status == 200 &&
        !expected.get((r.doc, r.route)).contains(r.digest))
      .map(r => (r.doc, r.route)).distinct.sorted.map { case (d, rt) =>
        s"service: route $rt on document $d differs from the batch output"
      }

  /** corpus_dedup: every pass kept the same documents, the keeper set
    * matches the recorded digest for this seed (when one is recorded),
    * and recall of planted near-duplicate pairs is at least `floor`. */
  def dedupOutputs(passDigests: Seq[String], recorded: Option[String],
      recall: Double, floor: Double): Seq[String] =
    Seq(
      if (passDigests.distinct.size > 1)
        Some(s"dedup: keeper sets differ between passes (${passDigests.distinct.size} distinct)")
      else None,
      recorded.filter(r => passDigests.headOption.exists(_ != r)).map(r =>
        s"dedup: keeper digest ${passDigests.head} differs from the recorded $r"),
      if (recall < floor) Some(f"dedup: planted-pair recall $recall%.4f below the floor $floor%.2f")
      else None
    ).flatten

  def keeperDigest(keepers: Seq[Long]): String =
    Gen.sha256(Iterator(keepers.sorted.mkString(",").getBytes("UTF-8")))

  /** Share of planted same-cluster pairs whose members ended in one
    * component. `comp(i)` is doc i's component (its own id if none). */
  def plantedRecall(cluster: Seq[Int], comp: Seq[Long]): Double = {
    val byCluster = cluster.zip(comp).filter(_._1 >= 0).groupBy(_._1)
    var planted = 0L
    var found = 0L
    byCluster.values.foreach { members =>
      val s = members.size.toLong
      planted += s * (s - 1) / 2
      members.groupBy(_._2).values.foreach { g =>
        val k = g.size.toLong
        found += k * (k - 1) / 2
      }
    }
    if (planted == 0) 1.0 else found.toDouble / planted
  }
}
