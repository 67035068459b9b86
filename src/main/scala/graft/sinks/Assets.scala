package graft.sinks

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asset ZIP sink (SURVEY.md A8; reference
  * `app/parser.py:102-127` `create_asset_zip_for_semantic_document`):
  * one ZIP per document containing the serialized XML (TEI or JATS) at
  * a fixed relative name plus every graphic asset at its relative path.
  *
  * Spark shape: a row-local projection — each document's zip is built
  * in memory from its own row (XML string + collected asset structs),
  * so the stage is embarrassingly parallel and the output column can go
  * to any binary sink (parquet, files via foreachPartition). Zip
  * entries are written with fixed timestamps so the bytes are
  * deterministic for a given input.
  */
object Assets {

  final case class AssetFile(path: String, content: Array[Byte])

  private[graft] def buildZip(xmlName: String, xml: String,
      assets: Seq[AssetFile]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def put(name: String, bytes: Array[Byte]): Unit = {
      val e = new ZipEntry(name)
      e.setTime(0L) // deterministic output bytes
      zip.putNextEntry(e)
      zip.write(bytes)
      zip.closeEntry()
    }
    put(xmlName, if (xml == null) Array.empty[Byte] else xml.getBytes("UTF-8"))
    assets.foreach(a => put(a.path,
      if (a.content == null) Array.empty[Byte] else a.content))
    zip.close()
    bos.toByteArray
  }

  /** Build one asset zip per document.
    *
    * @param docs (doc_id, `xmlCol`: string,
    *             assets: array&lt;struct&lt;path: string, content: binary&gt;&gt;)
    * @param xmlName relative filename of the XML inside the zip
    * @return (doc_id, zip: binary, n_entries)
    */
  def zipAssets(docs: DataFrame, xmlCol: String = "tei",
      xmlName: String = "tei.xml"): DataFrame = {
    val sparkSession = docs.sparkSession
    import sparkSession.implicits._
    docs.select(col("doc_id"), col(xmlCol), col("assets"))
      .as[(Long, String, Seq[AssetFile])]
      .map { case (docId, xml, assets) =>
        val safeAssets = Option(assets).getOrElse(Nil)
        (docId, buildZip(xmlName, xml, safeAssets), (1 + safeAssets.size).toLong)
      }
      .toDF("doc_id", "zip", "n_entries")
  }
}
