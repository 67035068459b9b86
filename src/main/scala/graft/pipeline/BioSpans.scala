package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BIO span grouping (SURVEY.md D4; reference
  * `models/model.py:61-79` `iter_entities_including_other` +
  * `utils/labels.py:4-16`): a new span starts on a `B-` prefix or on a
  * stripped-tag change; `O` runs form spans too.
  *
  * Sessionization pattern: boundary flag via lag, running sum assigns
  * span ids, then one groupBy — a single shuffle on `doc_id`, and the
  * span id is deterministic (ordered by position, not
  * `monotonically_increasing_id`).
  */
object BioSpans {

  private val pos = Seq(col("page_idx"), col("block_idx"), col("line_idx"), col("token_idx"))

  /** strip_tag_prefix (utils/labels.py:4-8). */
  def strippedTag(label: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(label.startsWith("B-") || label.startsWith("I-"), substring(label, 3, Int.MaxValue))
      .otherwise(label)

  /** Adds `tag` (stripped label) and `span_id` columns. */
  def assignSpanIds(labeled: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy(pos: _*)
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled
      .withColumn("tag", strippedTag(col("label")))
      .withColumn("_new_span",
        when(col("label").startsWith("B-") ||
          lag(col("tag"), 1).over(byDoc).isNull ||
          col("tag") =!= lag(col("tag"), 1).over(byDoc), 1).otherwise(0))
      .withColumn("span_id", sum(col("_new_span")).over(run))
      .drop("_new_span")
  }

  /** Seq[Row] of the collected token structs → (text, coords, styles)
    * through the [[SpanAssembly]] the local span form streams into —
    * one implementation, provable parity. A UDF (not HOF expressions)
    * because the styled-run offset fold has no clean Column form; the
    * per-span arrays are small and this DataFrame path is the
    * secondary entry (the documentPipeline fold never goes through
    * Catalyst for span assembly at all). */
  private val assembleUdf = udf { toks: Seq[Row] =>
    val asm = new SpanAssembly
    asm.start()
    toks.foreach { r =>
      val f = r.getAs[Row]("font")
      asm.add(r.getAs[String]("text"), r.getAs[String]("whitespace"),
        if (f == null) 0
        else SpanAssembly.styleMask(f.getAs[Boolean]("is_bold"),
          f.getAs[Boolean]("is_italics"), f.getAs[Boolean]("is_subscript"),
          f.getAs[Boolean]("is_superscript")))
      val c = r.getAs[Row]("coords")
      if (c != null)
        asm.box(c.getAs[Double]("x"), c.getAs[Double]("y"), c.getAs[Double]("width"),
          c.getAs[Double]("height"), c.getAs[Int]("page_number"))
    }
    asm.finish()
    (asm.text, asm.coords, asm.styles)
  }

  /** Collapse to one row per span: ordered text reassembly
    * (`text + whitespace` per token, trailing whitespace trimmed —
    * LayoutBlock text semantics) + first-token position keys.
    */
  def spans(labeled: DataFrame): DataFrame = {
    // tolerate geometry-/font-less token frames (synthetic labels in
    // tests, re-labeled text): typed null structs assemble to nulls
    var withGeom = labeled
    if (!withGeom.columns.contains("coords"))
      withGeom = withGeom.withColumn("coords", lit(null).cast(
        "struct<x:double,y:double,width:double,height:double,page_number:int>"))
    if (!withGeom.columns.contains("font"))
      withGeom = withGeom.withColumn("font", lit(null).cast(
        "struct<font_id:string,font_family:string,font_size:double," +
          "is_bold:boolean,is_italics:boolean,is_subscript:boolean," +
          "is_superscript:boolean>"))
    val withIds = assignSpanIds(withGeom)
    withIds
      .groupBy("doc_id", "span_id")
      .agg(
        first(col("tag")).as("tag"),
        array_sort(collect_list(struct(
          col("page_idx"), col("block_idx"), col("line_idx"), col("token_idx"),
          col("text"), col("whitespace"), col("coords"), col("font"))))
          .as("_toks"),
        min(struct(pos: _*)).as("first_pos"),
        count(lit(1)).as("n_tokens"))
      .withColumn("_asm", assembleUdf(col("_toks")))
      .select(col("doc_id"), col("span_id"), col("tag"),
        col("_asm._1").as("text"),
        col("first_pos.page_idx").as("first_page_idx"),
        col("first_pos.block_idx").as("first_block_idx"),
        col("first_pos.line_idx").as("first_line_idx"),
        col("first_pos.token_idx").as("first_token_idx"),
        col("n_tokens"),
        col("_asm._2").as("coords"),
        col("_asm._3").as("styles"))
  }

  /** B4 filter-by-label: keep tokens of the given stripped tags —
    * sub-document views are just predicates on the token table
    * (replaces the reference's id()-set filtering,
    * models/model.py:112-171). */
  def filterByTags(labeled: DataFrame, tags: Seq[String]): DataFrame =
    labeled.filter(strippedTag(col("label")).isin(tags: _*))
}
