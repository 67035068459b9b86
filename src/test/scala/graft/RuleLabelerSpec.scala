package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline._
import graft.sources.AltoReader

/** The contract of [[PerDocumentLabeler]], the DataFrame form of every
  * rule labeler: each input row comes out once, unchanged, with a
  * `label` column set. What the labels are is pinned by
  * LabelerParitySpec's golden cases.
  */
class RuleLabelerSpec extends SparkSuite {
  import spark.implicits._

  private val labelers: Seq[SequenceLabeler] = Seq(new RuleLabeler(),
    new SegmentationRuleLabeler(), new BodyRuleLabeler(),
    new ReferenceSegmenterRuleLabeler())

  /** Two documents with a header, a body line and a `features` column
    * next to the tokens, as the CRF training frames carry. */
  private def tokens: DataFrame = {
    val xml = new PipelineSpec().altoXml
    AltoReader.tokens(Seq((0L, xml), (7L, xml)).toDS()).toDF()
      .withColumn("features", concat_ws(" ", col("text"), lit("f")))
  }

  private def labelsOf(labeled: DataFrame): Seq[(Long, Int, Int, Int, Int, String)] =
    labeled.select("doc_id", "page_idx", "block_idx", "line_idx", "token_idx", "label")
      .as[(Long, Int, Int, Int, Int, String)].collect().toSeq.sorted

  test("every input row and column passes through unchanged, with a label") {
    val in = tokens
    labelers.foreach { l =>
      val out = l.label(in)
      assert(out.columns.toSeq == in.columns.toSeq :+ "label", l)
      assert(out.count() == in.count(), l)
      val kept = out.drop("label")
      assert(kept.exceptAll(in).isEmpty && in.exceptAll(kept).isEmpty, l)
      assert(out.filter(col("label").isNull).isEmpty, l)
    }
    // the fixture is not vacuous: the header labeler finds the title
    assert(labelsOf(new RuleLabeler().label(in)).map(_._6).contains("B-<title>"))
  }

  test("an existing label column is replaced in place, not duplicated") {
    val in = tokens
    val stale = in.withColumn("label", lit("stale"))
      .select((Seq(col("label")) ++ in.columns.map(col)): _*)
    labelers.foreach { l =>
      val out = l.label(stale)
      assert(out.columns.count(_ == "label") == 1, out.columns.toSeq)
      assert(out.columns.toSeq == stale.columns.toSeq, l)
      assert(labelsOf(out) == labelsOf(l.label(in)), l)
    }
  }

  test("a frame without coords labels the same as one with it") {
    val in = tokens
    labelers.foreach { l =>
      assert(labelsOf(l.label(in.drop("coords"))) == labelsOf(l.label(in)), l)
    }
  }
}
