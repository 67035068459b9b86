package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Sequence-labeler abstraction (SURVEY.md §7 step 5).
  *
  * The reference runs Wapiti CRF as a persistent subprocess
  * (`models/wapiti_model_impl.py:25-164`) or DELFT in-process; both are
  * per-token-sequence taggers. The engine isolates that behind this
  * trait: input is the token table (with a `features` column), output
  * adds a BIO `label` column. Backends:
  * - [[ScriptedLabeler]]: deterministic label map (the reference's
  *   `tests/processors/fulltext/model_mocks.py` pattern) — broadcast
  *   join on the positional key; drives all pipeline tests.
  * - [[RuleLabeler]] and the other rule labelers: heuristic layout
  *   rules, good enough to exercise the full pipeline without model
  *   artifacts (zero-egress build) — each a [[PerDocumentLabeler]] over
  *   the one [[LocalLabelers]] implementation the pipeline fold runs.
  * - A Wapiti/ONNX backend plugs in as `mapPartitions` with an
  *   executor-local subprocess/session; same contract.
  */
trait SequenceLabeler {
  def label(tokens: DataFrame): DataFrame
}

/** Shared sequence scoping for the model-backed labelers
  * ([[CrfLabeler]]/[[WapitiLabeler]]/[[NeuralLabeler]]): project the
  * labeling columns, shuffle each SEQUENCE onto one partition, sort it
  * contiguous, and group the partition iterator back into sequences.
  *
  * Two scopes:
  *  - '''document''' (default) — one sequence per `doc_id`, the
  *    reference's own unit (`models/model.py:289-331` batches per
  *    document).
  *  - '''page''' (`perPage = true`) — one sequence per
  *    `(doc_id, page_idx)`: the giant-document skew mitigation
  *    (SURVEY §4). A 10k-page PDF is ONE task under document scope and
  *    stalls its stage at 100× scale; page scope fans it out across
  *    the cluster. Viterbi context then restarts at page boundaries —
  *    for the segmentation model, whose lines carry their page context
  *    in the feature vector itself (relative page position, repetitive-
  *    pattern flags), LabelerParitySpec's page-scoped case pins
  *    page-scoped CRF output ≡ document-scoped on a multi-page
  *    fixture; models whose spans legitimately cross pages (fulltext)
  *    should stay doc-scoped.
  */
private[pipeline] object SequenceScope {

  type In = (Long, Int, Int, Int, Int, String, String, String)

  /** Repartition on the scope key and sort sequence-contiguous. */
  def contiguous(tokens: DataFrame, fCol: String,
      perPage: Boolean): DataFrame = {
    val cols = Seq("doc_id", "page_idx", "block_idx", "line_idx",
      "token_idx", "text", "whitespace", fCol)
    val keys = if (perPage) Seq(col("doc_id"), col("page_idx"))
      else Seq(col("doc_id"))
    tokens.select(cols.map(col): _*)
      .repartition(keys: _*)
      .sortWithinPartitions("doc_id", "page_idx", "block_idx", "line_idx",
        "token_idx")
  }

  /** Group a sequence-contiguous partition iterator into one Vector per
    * sequence; only the current sequence is materialized. */
  def sequences(it: Iterator[In], perPage: Boolean): Iterator[Vector[In]] = {
    val src = it.buffered
    new Iterator[Vector[In]] {
      override def hasNext: Boolean = src.hasNext
      override def next(): Vector[In] = {
        val d = src.head._1
        val p = src.head._2
        val b = Vector.newBuilder[In]
        while (src.hasNext && src.head._1 == d &&
          (!perPage || src.head._2 == p)) b += src.next()
        b.result()
      }
    }
  }
}

/** Fixed (doc_id, page, block, line, token) → BIO label map. Unlisted
  * tokens get "O". */
final class ScriptedLabeler(spark: SparkSession,
    labels: Seq[((Long, Int, Int, Int, Int), String)]) extends SequenceLabeler {

  override def label(tokens: DataFrame): DataFrame = {
    import spark.implicits._
    val lm = labels.map { case ((d, p, b, l, t), lab) => (d, p, b, l, t, lab) }
      .toDF("doc_id", "page_idx", "block_idx", "line_idx", "token_idx", "label_s")
    tokens.join(broadcast(lm),
        Seq("doc_id", "page_idx", "block_idx", "line_idx", "token_idx"), "left")
      .withColumn("label", coalesce(col("label_s"), lit("O")))
      .drop("label_s")
  }
}

/** The rule labelers' DataFrame form: one [[LocalLabelers]] rule run
  * per document, grouped on the `doc_id` column itself so a token table
  * already clustered by document (the `alto-tokens` hub) labels without
  * an exchange. Every input row comes out unchanged with `label` set,
  * an existing `label` replaced in place as `withColumn` does. `font`
  * and `coords` are read only when the frame has them. */
class PerDocumentLabeler(
    rule: IndexedSeq[TokenRow] => IndexedSeq[(TokenRow, String)])
    extends SequenceLabeler {

  override def label(tokens: DataFrame): DataFrame = {
    val in = tokens.schema
    val Seq(page, block, line, token, text, font, coords, labelAt) =
      Seq("page_idx", "block_idx", "line_idx", "token_idx", "text", "font",
        "coords", "label").map(in.fieldNames.indexOf(_))
    val labelField = StructField("label", StringType, nullable = false)
    val out = if (labelAt < 0) in.add(labelField)
      else StructType(in.fields.updated(labelAt, labelField))
    val f = rule // the closure must not capture this (not Serializable)
    tokens.groupBy(col("doc_id"))
      .as[Long, Row](Encoders.scalaLong, Encoders.row(in))
      .flatMapGroups { (docId, it) =>
        val rows = it.toArray
        val rowOf = new java.util.IdentityHashMap[TokenRow, Row](rows.length)
        val toks = rows.map { r =>
          val t = TokenRow(docId, r.getInt(page), r.getInt(block),
            r.getInt(line), r.getInt(token), r.getString(text), null,
            if (font < 0 || r.isNullAt(font)) null
            else FontInfo.fromRow(r.getStruct(font)),
            if (coords < 0 || r.isNullAt(coords)) None
            else Some(Coords.fromRow(r.getStruct(coords))),
            0, None, None)
          rowOf.put(t, r)
          t
        }
        f(LocalLabelers.ordered(toks)).iterator.map { case (t, l) =>
          val vals = rowOf.get(t).toSeq
          Row.fromSeq(if (labelAt < 0) vals :+ l else vals.updated(labelAt, l))
        }
      }(Encoders.row(out))
  }
}

/** Segmentation-stage rule labeler ([[LocalLabelers.segmentationLabels]]). */
final class SegmentationRuleLabeler extends PerDocumentLabeler(LocalLabelers.segmentationLabels)

/** Reference-segmenter-stage rule labeler ([[LocalLabelers.referenceSegmenterLabels]]). */
final class ReferenceSegmenterRuleLabeler extends PerDocumentLabeler(LocalLabelers.referenceSegmenterLabels)

/** Body-stage rule labeler ([[LocalLabelers.bodyRuleLabels]]). */
final class BodyRuleLabeler extends PerDocumentLabeler(LocalLabelers.bodyRuleLabels)

/** Header-stage layout-heuristic labeler ([[LocalLabelers.headerRuleLabels]]). */
final class RuleLabeler extends PerDocumentLabeler(LocalLabelers.headerRuleLabels)
