package graft.sinks

import java.io.{StringReader, StringWriter}
import javax.xml.transform.{OutputKeys, Transformer, TransformerFactory}
import javax.xml.transform.stream.{StreamResult, StreamSource}

import org.apache.spark.sql.DataFrame

/** TEI → JATS transformation (SURVEY.md A7; reference
  * `transformers/xslt.py:1-67` applies an XSLT stylesheet the same
  * way — the stylesheet here is graft's own minimal mapping for the
  * TEI subset graft emits, not a copy).
  *
  * The stylesheet compiles once per JVM into one `Templates`, which is
  * thread-safe under the JAXP contract; each call or partition takes its
  * own `Transformer` from it (a `Transformer` is not thread-safe).
  */
object Jats {

  private val Stylesheet =
    """<?xml version="1.0"?>
      |<xsl:stylesheet version="1.0"
      |    xmlns:xsl="http://www.w3.org/1999/XSL/Transform"
      |    xmlns:xlink="http://www.w3.org/1999/xlink"
      |    xmlns:tei="http://www.tei-c.org/ns/1.0">
      |  <xsl:output method="xml" omit-xml-declaration="yes"/>
      |  <!-- the reference sheet's parameter set (tei-to-jats.xsl:11-16):
      |       styled runs unwrap by default, opt-in <b>/<i>; figures
      |       without a graphic emit an empty <graphic/> unless disabled;
      |       acknowledgement/annex route to ack/back/body/app targets -->
      |  <xsl:param name="output_bold" select="'false'"/>
      |  <xsl:param name="output_italic" select="'false'"/>
      |  <xsl:param name="output_empty_figure_graphic" select="'true'"/>
      |  <xsl:param name="acknowledgement_target" select="'ack'"/>
      |  <xsl:param name="annex_target" select="'back'"/>
      |  <xsl:template match="/tei:TEI">
      |    <article article-type="research-article">
      |      <front>
      |        <xsl:apply-templates select="tei:teiHeader"/>
      |      </front>
      |      <body>
      |        <xsl:apply-templates select="tei:text/tei:body"/>
      |        <!-- tei-to-jats.xsl:25-38: body-routed back matter -->
      |        <xsl:if test="$acknowledgement_target = 'body'">
      |          <xsl:apply-templates select="tei:text/tei:back/tei:div[@type='acknowledgement']/tei:div
      |            | tei:text/tei:back/tei:div[@type='acknowledgement'][not(tei:div)]"/>
      |        </xsl:if>
      |        <xsl:if test="$annex_target = 'body'">
      |          <xsl:call-template name="annexSections"/>
      |        </xsl:if>
      |      </body>
      |      <back>
      |        <xsl:apply-templates select="tei:text/tei:back"/>
      |      </back>
      |    </article>
      |  </xsl:template>
      |  <!-- front matter (tei-to-jats.xsl:46-138) -->
      |  <xsl:template match="tei:teiHeader">
      |    <xsl:if test="tei:fileDesc/tei:sourceDesc/tei:biblStruct/tei:monogr/tei:title">
      |      <journal-meta>
      |        <journal-title-group>
      |          <journal-title><xsl:value-of
      |            select="tei:fileDesc/tei:sourceDesc/tei:biblStruct/tei:monogr/tei:title"/></journal-title>
      |        </journal-title-group>
      |      </journal-meta>
      |    </xsl:if>
      |    <article-meta>
      |      <title-group>
      |        <article-title>
      |          <xsl:apply-templates select="tei:fileDesc/tei:titleStmt/tei:title"/>
      |        </article-title>
      |      </title-group>
      |      <!-- header authors ONLY (no contrib-group at all without
      |           them); bibliography persons stay in the back matter -->
      |      <xsl:if test="tei:fileDesc/tei:sourceDesc/tei:biblStruct/tei:analytic/tei:author">
      |        <contrib-group content-type="author">
      |          <xsl:for-each select="tei:fileDesc/tei:sourceDesc/tei:biblStruct/tei:analytic/tei:author">
      |            <contrib contrib-type="person">
      |              <xsl:apply-templates select="tei:persName"/>
      |              <xsl:if test="tei:email">
      |                <email><xsl:value-of select="tei:email"/></email>
      |              </xsl:if>
      |              <xsl:if test="tei:affiliation">
      |                <xref ref-type="aff">
      |                  <xsl:attribute name="rid"><xsl:value-of
      |                    select="tei:affiliation/@key"/></xsl:attribute>
      |                </xref>
      |              </xsl:if>
      |            </contrib>
      |          </xsl:for-each>
      |        </contrib-group>
      |      </xsl:if>
      |      <xsl:for-each select="tei:fileDesc/tei:sourceDesc/tei:biblStruct/tei:analytic/tei:author/tei:affiliation">
      |        <aff>
      |          <xsl:attribute name="id"><xsl:value-of select="@key"/></xsl:attribute>
      |          <xsl:if test="tei:orgName[@type='institution']">
      |            <institution content-type="orgname"><xsl:value-of
      |              select="tei:orgName[@type='institution']"/></institution>
      |          </xsl:if>
      |          <xsl:if test="tei:orgName[@type='department']">
      |            <institution content-type="orgdiv1"><xsl:value-of
      |              select="tei:orgName[@type='department']"/></institution>
      |          </xsl:if>
      |          <xsl:if test="tei:orgName[@type='laboratory']">
      |            <institution content-type="orgdiv2"><xsl:value-of
      |              select="tei:orgName[@type='laboratory']"/></institution>
      |          </xsl:if>
      |          <xsl:if test="tei:address/tei:settlement">
      |            <city><xsl:value-of select="tei:address/tei:settlement"/></city>
      |          </xsl:if>
      |          <xsl:if test="tei:address/tei:country">
      |            <country><xsl:value-of select="tei:address/tei:country"/></country>
      |          </xsl:if>
      |        </aff>
      |      </xsl:for-each>
      |      <abstract>
      |        <xsl:apply-templates select="tei:profileDesc/tei:abstract"/>
      |      </abstract>
      |    </article-meta>
      |  </xsl:template>
      |  <xsl:template match="tei:body">
      |    <xsl:apply-templates select="tei:div"/>
      |    <xsl:if test="tei:figure">
      |      <sec id="figures">
      |        <title>Figures</title>
      |        <xsl:apply-templates select="tei:figure"/>
      |      </sec>
      |    </xsl:if>
      |  </xsl:template>
      |  <!-- back matter (tei-to-jats.xsl:209-246). The ack selector
      |       takes nested section divs OR the flat head/p form — the
      |       TEI emitter writes the flat form (tei_document_test.py
      |       test_should_create_acknowledgment_section), which the
      |       nested-only selector would silently drop -->
      |  <xsl:template match="tei:back">
      |    <xsl:if test="$acknowledgement_target = 'ack'">
      |      <xsl:if test="tei:div[@type='acknowledgement']">
      |        <ack>
      |          <xsl:apply-templates select="tei:div[@type='acknowledgement']/tei:div
      |            | tei:div[@type='acknowledgement'][not(tei:div)]"/>
      |        </ack>
      |      </xsl:if>
      |    </xsl:if>
      |    <xsl:if test="$annex_target = 'back'">
      |      <xsl:call-template name="annexSections"/>
      |    </xsl:if>
      |    <xsl:apply-templates select="tei:div/tei:listBibl"/>
      |    <xsl:if test="$annex_target = 'app'">
      |      <xsl:if test="tei:div[@type='annex']">
      |        <app-group>
      |          <app id="appendix-1">
      |            <title>Appendix 1</title>
      |            <xsl:apply-templates select="tei:div[@type='annex']/tei:div"/>
      |            <xsl:apply-templates select="tei:div[@type='annex']/tei:figure"/>
      |          </app>
      |        </app-group>
      |      </xsl:if>
      |    </xsl:if>
      |  </xsl:template>
      |  <xsl:template name="annexSections">
      |    <xsl:for-each select="tei:div[@type='annex'] | tei:text/tei:back/tei:div[@type='annex']">
      |      <xsl:apply-templates select="tei:div"/>
      |      <xsl:if test="tei:figure">
      |        <sec id="annex_figures">
      |          <title>Annex Figures</title>
      |          <xsl:apply-templates select="tei:figure"/>
      |        </sec>
      |      </xsl:if>
      |    </xsl:for-each>
      |  </xsl:template>
      |  <!-- references (tei-to-jats.xsl:247-341) -->
      |  <xsl:template match="tei:listBibl">
      |    <xsl:if test="tei:biblStruct">
      |      <ref-list id="ref-list-1">
      |        <xsl:apply-templates select="tei:biblStruct"/>
      |      </ref-list>
      |    </xsl:if>
      |  </xsl:template>
      |  <xsl:template match="tei:biblStruct">
      |    <ref>
      |      <xsl:attribute name="id"><xsl:value-of select="@xml:id"/></xsl:attribute>
      |      <element-citation publication-type="journal">
      |        <!-- article title falls back to the collection (monogr)
      |             title; only one renders -->
      |        <xsl:choose>
      |          <xsl:when test="tei:analytic/tei:title[@type='main']">
      |            <article-title><xsl:value-of
      |              select="tei:analytic/tei:title[@type='main']"/></article-title>
      |          </xsl:when>
      |          <xsl:when test="tei:monogr/tei:title[@type='main']">
      |            <article-title><xsl:value-of
      |              select="tei:monogr/tei:title[@type='main']"/></article-title>
      |          </xsl:when>
      |        </xsl:choose>
      |        <xsl:if test="tei:monogr/tei:title[@level='j']">
      |          <source><xsl:value-of select="tei:monogr/tei:title[@level='j']"/></source>
      |        </xsl:if>
      |        <xsl:if test="tei:monogr/tei:imprint/tei:date[@type='published']">
      |          <xsl:call-template name="dateParts">
      |            <xsl:with-param name="value"
      |              select="tei:monogr/tei:imprint/tei:date[@type='published']/@when"/>
      |          </xsl:call-template>
      |        </xsl:if>
      |        <xsl:if test="tei:monogr/tei:imprint/tei:biblScope[@unit='volume']">
      |          <volume><xsl:value-of
      |            select="tei:monogr/tei:imprint/tei:biblScope[@unit='volume']"/></volume>
      |        </xsl:if>
      |        <xsl:if test="tei:monogr/tei:imprint/tei:biblScope[@unit='issue']">
      |          <issue><xsl:value-of
      |            select="tei:monogr/tei:imprint/tei:biblScope[@unit='issue']"/></issue>
      |        </xsl:if>
      |        <!-- page range from/to; a single page number fills both -->
      |        <xsl:choose>
      |          <xsl:when test="tei:monogr/tei:imprint/tei:biblScope[@unit='page'][@from or @to]">
      |            <xsl:if test="tei:monogr/tei:imprint/tei:biblScope[@unit='page']/@from">
      |              <fpage><xsl:value-of
      |                select="tei:monogr/tei:imprint/tei:biblScope[@unit='page']/@from"/></fpage>
      |            </xsl:if>
      |            <xsl:if test="tei:monogr/tei:imprint/tei:biblScope[@unit='page']/@to">
      |              <lpage><xsl:value-of
      |                select="tei:monogr/tei:imprint/tei:biblScope[@unit='page']/@to"/></lpage>
      |            </xsl:if>
      |          </xsl:when>
      |          <xsl:when test="tei:monogr/tei:imprint/tei:biblScope[@unit='page']/text()">
      |            <fpage><xsl:value-of
      |              select="tei:monogr/tei:imprint/tei:biblScope[@unit='page']"/></fpage>
      |            <lpage><xsl:value-of
      |              select="tei:monogr/tei:imprint/tei:biblScope[@unit='page']"/></lpage>
      |          </xsl:when>
      |        </xsl:choose>
      |        <xsl:if test="tei:monogr/tei:idno[@type='doi']">
      |          <pub-id pub-id-type="doi"><xsl:value-of
      |            select="tei:monogr/tei:idno[@type='doi']"/></pub-id>
      |        </xsl:if>
      |        <xsl:if test="tei:analytic/tei:author/tei:persName">
      |          <person-group person-group-type="author">
      |            <xsl:apply-templates select="tei:analytic/tei:author/tei:persName"/>
      |          </person-group>
      |        </xsl:if>
      |        <xsl:if test="tei:monogr/tei:author/tei:persName">
      |          <person-group person-group-type="author">
      |            <xsl:apply-templates select="tei:monogr/tei:author/tei:persName"/>
      |          </person-group>
      |        </xsl:if>
      |      </element-citation>
      |    </ref>
      |  </xsl:template>
      |  <!-- shared persName -> name: given-names joins EVERY forename
      |       (first + middle) with spaces (tei-to-jats.xsl:342-356) -->
      |  <xsl:template match="tei:persName">
      |    <name>
      |      <surname><xsl:value-of select="tei:surname"/></surname>
      |      <given-names>
      |        <xsl:for-each select="tei:forename">
      |          <xsl:if test="position() &gt; 1"><xsl:value-of select="' '"/></xsl:if>
      |          <xsl:value-of select="string(.)"/>
      |        </xsl:for-each>
      |      </given-names>
      |    </name>
      |  </xsl:template>
      |  <!-- ISO date "2001" / "2001-02" / "2001-02-03" ->
      |       year / +month / +month+day (tei-to-jats.xsl:424-478) -->
      |  <xsl:template name="dateParts">
      |    <xsl:param name="value"/>
      |    <xsl:choose>
      |      <xsl:when test="contains($value, '-')">
      |        <year><xsl:value-of select="substring-before($value, '-')"/></year>
      |        <xsl:variable name="rest" select="substring-after($value, '-')"/>
      |        <xsl:choose>
      |          <xsl:when test="contains($rest, '-')">
      |            <month><xsl:value-of select="substring-before($rest, '-')"/></month>
      |            <day><xsl:value-of select="substring-after($rest, '-')"/></day>
      |          </xsl:when>
      |          <xsl:otherwise>
      |            <month><xsl:value-of select="$rest"/></month>
      |          </xsl:otherwise>
      |        </xsl:choose>
      |      </xsl:when>
      |      <xsl:otherwise>
      |        <year><xsl:value-of select="$value"/></year>
      |      </xsl:otherwise>
      |    </xsl:choose>
      |  </xsl:template>
      |  <!-- body structure (tei-to-jats.xsl:202-207,387-399): div -> sec,
      |       head -> title, p -> p with inline xrefs. DECLARED
      |       DIVERGENCE: section-nested figures render inside their sec
      |       (the reference sheet's div template silently drops them
      |       even though its TEI emitter nests figures in section divs,
      |       tei_document_test.py test_should_add_section_figures_to_body) -->
      |  <xsl:template match="tei:div">
      |    <sec>
      |      <xsl:apply-templates select="tei:head"/>
      |      <xsl:apply-templates select="tei:p"/>
      |      <xsl:apply-templates select="tei:figure"/>
      |    </sec>
      |  </xsl:template>
      |  <xsl:template match="tei:head">
      |    <title><xsl:apply-templates select="node()"/></title>
      |  </xsl:template>
      |  <xsl:template match="tei:title">
      |    <xsl:apply-templates select="node()"/>
      |  </xsl:template>
      |  <xsl:template match="tei:p">
      |    <p><xsl:apply-templates select="node()"/></p>
      |  </xsl:template>
      |  <!-- citation markers -> typed xrefs; only the three known
      |       types with a target become xrefs, anything else renders
      |       as plain text (tei-to-jats.xsl:358-386) -->
      |  <xsl:template match="tei:ref">
      |    <xsl:choose>
      |      <xsl:when test="(@type='bibr' or @type='figure' or @type='table') and @target">
      |        <xref>
      |          <xsl:attribute name="ref-type">
      |            <xsl:choose>
      |              <xsl:when test="@type='figure'">fig</xsl:when>
      |              <xsl:otherwise><xsl:value-of select="@type"/></xsl:otherwise>
      |            </xsl:choose>
      |          </xsl:attribute>
      |          <xsl:attribute name="rid">
      |            <xsl:value-of select="substring-after(@target, '#')"/>
      |          </xsl:attribute>
      |          <xsl:value-of select="."/>
      |        </xref>
      |      </xsl:when>
      |      <xsl:otherwise><xsl:value-of select="."/></xsl:otherwise>
      |    </xsl:choose>
      |  </xsl:template>
      |  <!-- figures / tables (tei-to-jats.xsl:150-200) -->
      |  <xsl:template match="tei:graphic">
      |    <graphic>
      |      <xsl:if test="@url">
      |        <xsl:attribute name="xlink:href"><xsl:value-of select="@url"/></xsl:attribute>
      |      </xsl:if>
      |    </graphic>
      |  </xsl:template>
      |  <xsl:template match="tei:figure[not(@type='table')]">
      |    <fig>
      |      <xsl:attribute name="id"><xsl:value-of select="@xml:id"/></xsl:attribute>
      |      <object-id><xsl:value-of select="@xml:id"/></object-id>
      |      <label><xsl:value-of select="tei:head"/></label>
      |      <caption>
      |        <xsl:apply-templates select="tei:head"/>
      |        <p><xsl:apply-templates select="tei:figDesc"/></p>
      |      </caption>
      |      <xsl:apply-templates select="tei:graphic"/>
      |      <xsl:if test="$output_empty_figure_graphic = 'true'">
      |        <xsl:if test="not(tei:graphic)">
      |          <graphic/>
      |        </xsl:if>
      |      </xsl:if>
      |    </fig>
      |  </xsl:template>
      |  <!-- the reference sheet reads a nested tei:table cell; the TEI
      |       emitter's table figure carries its content directly
      |       (figure_table.py TableTeiElementFactory emits no tei:table
      |       child), so the direct-content form is the fallback -->
      |  <xsl:template match="tei:figure[@type='table']">
      |    <table-wrap>
      |      <xsl:attribute name="id"><xsl:value-of select="@xml:id"/></xsl:attribute>
      |      <label><xsl:value-of select="tei:head"/></label>
      |      <caption>
      |        <xsl:apply-templates select="tei:head"/>
      |        <p><xsl:apply-templates select="tei:figDesc"/></p>
      |      </caption>
      |      <table><tbody><tr><td>
      |        <xsl:choose>
      |          <xsl:when test="tei:table"><xsl:value-of select="tei:table"/></xsl:when>
      |          <xsl:otherwise><xsl:apply-templates select="node()[not(self::tei:head
      |            |self::tei:label|self::tei:figDesc|self::tei:graphic)]"/></xsl:otherwise>
      |        </xsl:choose>
      |      </td></tr></tbody></table>
      |    </table-wrap>
      |  </xsl:template>
      |  <!-- tei-to-jats.xsl:401-422 -->
      |  <xsl:template match="tei:hi[@rend='italic']">
      |    <xsl:choose>
      |      <xsl:when test="$output_italic = 'true'">
      |        <i><xsl:apply-templates select="node()"/></i>
      |      </xsl:when>
      |      <xsl:otherwise><xsl:apply-templates select="node()"/></xsl:otherwise>
      |    </xsl:choose>
      |  </xsl:template>
      |  <xsl:template match="tei:hi[@rend='bold']">
      |    <xsl:choose>
      |      <xsl:when test="$output_bold = 'true'">
      |        <b><xsl:apply-templates select="node()"/></b>
      |      </xsl:when>
      |      <xsl:otherwise><xsl:apply-templates select="node()"/></xsl:otherwise>
      |    </xsl:choose>
      |  </xsl:template>
      |</xsl:stylesheet>""".stripMargin

  private lazy val templates =
    TransformerFactory.newInstance()
      .newTemplates(new StreamSource(new StringReader(Stylesheet)))

  private def newTransformer(): Transformer = {
    val t = templates.newTransformer()
    t.setOutputProperty(OutputKeys.OMIT_XML_DECLARATION, "yes")
    t
  }

  private def run(t: Transformer, tei: String): String = {
    val out = new StringWriter()
    t.transform(new StreamSource(new StringReader(tei)), new StreamResult(out))
    out.toString
  }

  def transform(tei: String,
      params: Map[String, String] = Map.empty): String = {
    val t = newTransformer()
    params.foreach { case (k, v) => t.setParameter(k, v) }
    run(t, tei)
  }

  /** (doc_id, tei) → (doc_id, jats); one `Transformer` per partition:
    * a partition iterator is single-threaded and sequential reuse is
    * part of the javax.xml.transform contract. */
  def serialize(teiDf: DataFrame): DataFrame = {
    val sparkSession = teiDf.sparkSession
    import sparkSession.implicits._
    teiDf.select("doc_id", "tei").as[(Long, String)]
      .mapPartitions { it =>
        val t = newTransformer()
        it.map { case (id, tei) => (id, run(t, tei)) }
      }
      .toDF("doc_id", "jats")
  }
}
