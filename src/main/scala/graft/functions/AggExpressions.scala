package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge, DoubleLongInputTypes,
  DoubleStringInputTypes, LongInputType}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Bounded collection aggregates.
  *
  * `collect_min_k` keeps the `k` SMALLEST distinct long values per
  * group — the bounded form of `sort_array(collect_list(..))[1:k]`.
  * The unbounded form buffers the whole group before truncating (a
  * stopword's posting list is O(corpus), which is exactly the buffer a
  * 100 TB aggregation cannot hold); this aggregate's partial and final
  * buffers never exceed `k` elements, merge map-side like any other
  * partial aggregate, and need no per-group sort exchange (the
  * window-rank formulation costs a full shuffle+sort of every pair —
  * measured 3.1× DuckDB on the inverted-index build before this
  * kernel).
  */
object BoundedAgg {
  def collect_min_k(c: Column, k: Int): Column =
    ColumnBridge.column(
      CollectMinK(ColumnBridge.expression(c), k).toAggregateExpression())

  /** The `k` smallest (score, id) pairs per group, ordered by
    * (score asc, id asc) — the bounded form of a per-group
    * `row_number() OVER (ORDER BY score, id) <= k` window. The window
    * formulation shuffles and sorts EVERY scored row (Q·N rows for a
    * batch ANN search); this aggregate's partial buffers truncate to
    * `k` pairs map-side and merge like any partial aggregate, so one
    * hash-agg exchange of ≤ k·groups rows replaces the full sort.
    * Emitted ascending, so `posexplode` yields the rank directly.
    */
  def collect_min_k_by(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      CollectMinKByScore(ColumnBridge.expression(score),
        ColumnBridge.expression(id), k).toAggregateExpression())

  /** The `k` smallest (score, value) pairs per group with a STRING
    * payload, ordered (score asc, value binary-asc) — the bounded form
    * of a per-group top-k over labeled rows (heavy hitters: score =
    * -count, value = the token). Same bounded-buffer discipline as
    * [[collect_min_k_by]]; binary UTF8 ordering on the payload matches
    * the engines' default (collation-free) string sort.
    */
  def collect_min_k_by_str(score: Column, value: Column, k: Int): Column =
    ColumnBridge.column(
      CollectMinKByScoreStr(ColumnBridge.expression(score),
        ColumnBridge.expression(value), k).toAggregateExpression())
}

/** Smallest-k distinct values of a non-null long child, emitted as a
  * sorted ascending array. Buffer = a TreeSet capped at `k`: insert,
  * then drop the largest while over capacity.
  */
case class CollectMinK(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Long]]
  with UnaryLike[Expression] with LongInputType {
  // LongInputType: collect_min_k is on the SQL surface (GraftExtensions) —
  // declare the long input type so an int child is cast at analysis time
  // instead of ClassCastException-ing inside update() at execution time
  require(k > 0, "collect_min_k requires k > 0")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_min_k"

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def add(buf: java.util.TreeSet[Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) { buf.add(v); if (buf.size > k) buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[Long],
      input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[Long],
      other: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CollectMinK =
    copy(child = c)
}

/** Smallest-k (score, id) pairs of non-null (double, long) children,
  * ordered (score asc, id asc) with IEEE total order on the score
  * (`java.lang.Double.compare` — NaN sorts last, matching SQL sort
  * semantics closely enough for the finite scores ANN produces), and
  * emitted as an ascending `array<struct<score:double, id:bigint>>`.
  * Buffer = a TreeSet capped at `k`, exactly the [[CollectMinK]]
  * discipline widened to a pair.
  */
case class CollectMinKByScore(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]]
  with BinaryLike[Expression] with DoubleLongInputTypes {
  require(k > 0, "collect_min_k_by requires k > 0")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_min_k_by"

  private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](ord)

  private def add(buf: java.util.TreeSet[(Double, Long)],
      v: (Double, Long)): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (ord.compare(v, buf.last) < 0) {
      buf.add(v); if (buf.size > k) buf.pollLast(); ()
    }
  }

  override def update(buf: java.util.TreeSet[(Double, Long)],
      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null) {
      // match window-sort semantics: Spark's NormalizeFloatingNumbers
      // folds -0.0 into +0.0 before sorting; Double.compare would not
      val sv = s.asInstanceOf[Double]
      add(buf, (if (sv == 0.0d) 0.0d else sv, i.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (s, id) = it.next()
      out(i) = new GenericInternalRow(Array[Any](s, id))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (s, id) = it.next(); bb.putDouble(s); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[(Double, Long)](ord)
    var i = 0
    while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CollectMinKByScore = copy(left = l, right = r)
}

/** Smallest-k (score, value) pairs with a string payload, ordered
  * (score asc — IEEE total order with -0.0 folded to +0.0 — then value
  * by binary UTF-8 bytes ascending), emitted as an ascending
  * `array<struct<score:double, value:string>>`. The [[CollectMinKByScore]]
  * discipline with the long id widened to UTF8String: partial buffers
  * truncate to `k` map-side, merge like any partial aggregate, no
  * per-group sort exchange. Incoming UTF8Strings are cloned on insert —
  * eval hands out pointers into reused row buffers.
  */
case class CollectMinKByScoreStr(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, UTF8String)]]
  with BinaryLike[Expression] with DoubleStringInputTypes {
  require(k > 0, "collect_min_k_by_str requires k > 0")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("value", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_min_k_by_str"

  private val ord: Ordering[(Double, UTF8String)] =
    new Ordering[(Double, UTF8String)] {
      def compare(a: (Double, UTF8String), b: (Double, UTF8String)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else a._2.binaryCompare(b._2)
      }
    }

  override def createAggregationBuffer(): java.util.TreeSet[(Double, UTF8String)] =
    new java.util.TreeSet[(Double, UTF8String)](ord)

  private def add(buf: java.util.TreeSet[(Double, UTF8String)],
      v: (Double, UTF8String)): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (ord.compare(v, buf.last) < 0) {
      buf.add(v); if (buf.size > k) buf.pollLast(); ()
    }
  }

  override def update(buf: java.util.TreeSet[(Double, UTF8String)],
      input: InternalRow): java.util.TreeSet[(Double, UTF8String)] = {
    val s = left.eval(input)
    val v = right.eval(input)
    if (s != null && v != null) {
      val sv = s.asInstanceOf[Double]
      add(buf, (if (sv == 0.0d) 0.0d else sv,
        v.asInstanceOf[UTF8String].clone()))
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[(Double, UTF8String)],
      other: java.util.TreeSet[(Double, UTF8String)]): java.util.TreeSet[(Double, UTF8String)] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, UTF8String)]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (s, v) = it.next()
      out(i) = new GenericInternalRow(Array[Any](s, v))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, UTF8String)]): Array[Byte] = {
    // 8-byte score + 4-byte length + payload per entry
    var bytes = 0
    val sit = buf.iterator()
    while (sit.hasNext) bytes += 12 + sit.next()._2.numBytes()
    val bb = ByteBuffer.allocate(4 + bytes)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val (s, v) = it.next()
      bb.putDouble(s)
      val b = v.getBytes
      bb.putInt(b.length)
      bb.put(b)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, UTF8String)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[(Double, UTF8String)](ord)
    var i = 0
    while (i < n) {
      val s = bb.getDouble
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.add((s, UTF8String.fromBytes(b)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinKByScoreStr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinKByScoreStr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CollectMinKByScoreStr = copy(left = l, right = r)
}
