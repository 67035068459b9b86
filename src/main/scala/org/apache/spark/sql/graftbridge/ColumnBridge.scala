package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor (the
  * Column API is backend-agnostic now); the classic-backend conversion
  * lives in `ExpressionUtils`, scoped to the sql package tree. This
  * bridge re-exports it for graft's custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `SparkSessionExtensions.registerFunctions` is `private[sql]` —
  * production code never needs it (the session applies extensions at
  * build time via `spark.sql.extensions`), but tests sharing one
  * long-lived session do: this re-export applies an extensions
  * instance's injected functions to an existing registry.
  */
object ExtensionsBridge {
  def registerFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)
}

/** `AbstractDataType` (the `inputTypes` element type of
  * `ImplicitCastInputTypes`) is `private[sql]`, so an expression outside
  * the sql package tree cannot declare its input types directly. These
  * mixins pin the common graft signatures from inside the bridge, giving
  * external expressions analysis-time casts/rejection instead of
  * execution-time ClassCastExceptions.
  */
trait LongInputType
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType)
}

/** (score: double, id: long) input signature — the bounded
  * top-k-by-score aggregate's two children. */
trait DoubleLongInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType,
      org.apache.spark.sql.types.LongType)
}

/** (score: double, value: string) input signature — the bounded
  * top-k-by-score aggregate's string-payload variant. */
trait DoubleStringInputTypes
  extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType,
      org.apache.spark.sql.types.StringType)
}
