package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator,
  GenericInternalRow, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge, DoubleLongInputTypes,
  DoubleStringInputTypes, LongInputType, LongLongInputTypes}
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

  /** Capped member-list collect of non-null longs: accumulation STOPS
    * at `cap`+1 elements, so per-group aggregation state is bounded by
    * the declared cap on EVERY partial and final buffer — the
    * scale-safe form of `collect_list` for df-capped inverted-index
    * member lists. A group at or under the cap collects completely; a
    * group over the cap yields a (cap+1)-element SENTINEL list the
    * caller's `size(..) <= cap` filter drops — exactly the groups the
    * unbounded collect-then-filter would drop, without a hot key
    * (stopword gram, degenerate bucket) ever holding a corpus-scale
    * buffer. Element order is accumulation order, NOT collect_list's
    * input order: callers must be order-insensitive (pair-explode +
    * re-aggregate shapes are).
    */
  def collect_capped(c: Column, cap: Long): Column =
    ColumnBridge.column(
      CollectCappedLongs(ColumnBridge.expression(c), cap)
        .toAggregateExpression())

  /** [[collect_capped]] widened to an (id, payload) long pair, emitted
    * as `array<struct<id:bigint, v:bigint>>` — the member-list form
    * that carries a per-member attribute (set size, signature) through
    * the one exchange. Same bounded-buffer sentinel discipline.
    */
  def collect_capped_pair(id: Column, v: Column, cap: Long): Column =
    ColumnBridge.column(
      CollectCappedLongPairs(ColumnBridge.expression(id),
        ColumnBridge.expression(v), cap).toAggregateExpression())

  /** Every member pair `(a, b)` with `b.id > a.id` of one member list,
    * as a generator — the row-local pair explode of the member-list
    * shape. A [[collect_capped]] list (`array<bigint>`) yields
    * `(ida, idb)`; a [[collect_capped_pair]] list
    * (`array<struct<id, v>>`) yields `(ida, va, idb, vb)`. Pairs stream
    * from an iterator, so a list of `m` members holds O(m) state while
    * its C(m, 2) pairs flow through `GenerateExec` one at a time. Same
    * multiset as exploding the nested `transform(ms, a =>
    * transform(filter(ms, b => b > a), …))` lambdas, which built all
    * C(m, 2) structs in one row (DedupSpec pins the parity, duplicate
    * and negative ids included): null members and null ids never
    * pair, a null list yields no rows. */
  def member_pairs(ms: Column): Column =
    ColumnBridge.column(MemberPairsExpr(ColumnBridge.expression(ms)))

  /** [[MemberPairsExpr]] kernel: the pairs of `ms` in the nested
    * form's order (outer member, then inner member, both in list
    * order). One output row is reused across `next()` calls —
    * `GenerateExec` copies or consumes each row before asking for the
    * next. */
  def memberPairs(ms: ArrayData, withPayload: Boolean): Iterator[InternalRow] = {
    if (ms == null) return Iterator.empty
    val n0 = ms.numElements()
    val ids = new Array[Long](n0)
    val vs = if (withPayload) new Array[Long](n0) else null
    val vNull = if (withPayload) new Array[Boolean](n0) else null
    var n = 0
    var k = 0
    while (k < n0) {
      if (!ms.isNullAt(k)) {
        if (withPayload) {
          val st = ms.getStruct(k, 2)
          if (!st.isNullAt(0)) {
            ids(n) = st.getLong(0)
            vNull(n) = st.isNullAt(1)
            if (!vNull(n)) vs(n) = st.getLong(1)
            n += 1
          }
        } else { ids(n) = ms.getLong(k); n += 1 }
      }
      k += 1
    }
    new MemberPairsIterator(ids, vs, vNull, n)
  }
}

/** Lazy nested-loop walk over `(i, j)` with `ids(j) > ids(i)`; see
  * [[BoundedAgg.memberPairs]]. */
private final class MemberPairsIterator(ids: Array[Long], vs: Array[Long],
    vNull: Array[Boolean], n: Int) extends Iterator[InternalRow] {
  private val row = new SpecificInternalRow(
    Seq.fill(if (vs == null) 2 else 4)(LongType))
  private var i = 0
  private var j = -1
  private var ready = false

  // moves (i, j) to the next pair; false once every member is done
  private def advance(): Boolean = {
    while (i < n) {
      j += 1
      while (j < n && ids(j) <= ids(i)) j += 1
      if (j < n) return true
      i += 1
      j = -1
    }
    false
  }

  override def hasNext: Boolean = {
    if (!ready) ready = advance()
    ready
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("member_pairs")
    ready = false
    if (vs == null) {
      row.setLong(0, ids(i)); row.setLong(1, ids(j))
    } else {
      row.setLong(0, ids(i))
      if (vNull(i)) row.setNullAt(1) else row.setLong(1, vs(i))
      row.setLong(2, ids(j))
      if (vNull(j)) row.setNullAt(3) else row.setLong(3, vs(j))
    }
    row
  }
}

/** [[BoundedAgg.member_pairs]] as a codegen'd Catalyst generator: the
  * generated loop pulls rows from [[BoundedAgg.memberPairs]] directly,
  * so the pairs feed the consuming aggregate inside one whole-stage
  * codegen stage. */
case class MemberPairsExpr(child: Expression) extends UnaryExpression
    with Generator {
  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => null
  }
  private def withPayload: Boolean = elemType.isInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case StructType(Array(StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "member_pairs takes array<bigint> or array<struct<id: bigint, " +
        s"v: bigint>>, not ${child.dataType.catalogString}")
  }

  override def elementSchema: StructType = elemType match {
    case StructType(Array(_, v)) => StructType(Seq(
      StructField("ida", LongType, nullable = false),
      StructField("va", LongType, v.nullable),
      StructField("idb", LongType, nullable = false),
      StructField("vb", LongType, v.nullable)))
    case _ => StructType(Seq(
      StructField("ida", LongType, nullable = false),
      StructField("idb", LongType, nullable = false)))
  }

  override def prettyName: String = "member_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    BoundedAgg.memberPairs(child.eval(input).asInstanceOf[ArrayData],
      withPayload)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ms = child.genCode(ctx)
    ev.copy(code = code"""
      |${ms.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.BoundedAgg.memberPairs(
      |    ${ms.isNull} ? null : ${ms.value}, $withPayload);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): MemberPairsExpr =
    copy(child = c)
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

/** Capped collect of non-null longs ([[BoundedAgg.collect_capped]]):
  * an ArrayBuffer that stops growing at `cap`+1 elements. Update,
  * merge and serialize are all bounded by the cap; the (cap+1)-element
  * sentinel survives merges (appending to a saturated buffer is a
  * no-op), so the final `size <= cap` filter sees every over-cap group
  * as over-cap regardless of how its partials were distributed.
  */
case class CollectCappedLongs(child: Expression, cap: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Long]]
  with UnaryLike[Expression] with LongInputType {
  require(cap > 0, "collect_capped requires cap > 0")
  // buffers index with Int: a cap the sentinel cannot exceed would
  // silently stop bounding the list — an uncapped caller belongs on
  // its self-join branch (Long.MaxValue), never here
  require(cap < Int.MaxValue - 8L,
    s"collect_capped cap $cap must be below ${Int.MaxValue - 8}")

  private val stopAt: Int = (cap + 1L).toInt

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_capped"

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Long] =
    new scala.collection.mutable.ArrayBuffer[Long]()

  override def update(buf: scala.collection.mutable.ArrayBuffer[Long],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[Long] = {
    if (buf.length < stopAt) {
      val v = child.eval(input)
      if (v != null) buf += v.asInstanceOf[Long]
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.ArrayBuffer[Long],
      other: scala.collection.mutable.ArrayBuffer[Long]): scala.collection.mutable.ArrayBuffer[Long] = {
    var i = 0
    while (buf.length < stopAt && i < other.length) {
      buf += other(i); i += 1
    }
    buf
  }

  override def eval(buf: scala.collection.mutable.ArrayBuffer[Long]): Any = {
    val out = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: scala.collection.mutable.ArrayBuffer[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectCappedLongs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectCappedLongs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CollectCappedLongs =
    copy(child = c)
}

/** Capped collect of non-null (id, payload) long pairs
  * ([[BoundedAgg.collect_capped_pair]]) — [[CollectCappedLongs]]
  * widened to `array<struct<id:bigint, v:bigint>>`. The buffer is a
  * flat long array (two slots per element), bounded at cap+1 pairs.
  */
case class CollectCappedLongPairs(left: Expression, right: Expression,
    cap: Long, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Long]]
  with BinaryLike[Expression] with LongLongInputTypes {
  require(cap > 0, "collect_capped_pair requires cap > 0")
  // two buffer slots per pair: the [[CollectCappedLongs]] bound halved
  require(cap < (Int.MaxValue - 8L) / 2,
    s"collect_capped_pair cap $cap must be below ${(Int.MaxValue - 8) / 2}")

  private val stopAt: Int = (cap + 1L).toInt

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_capped_pair"

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Long] =
    new scala.collection.mutable.ArrayBuffer[Long]()

  override def update(buf: scala.collection.mutable.ArrayBuffer[Long],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[Long] = {
    if (buf.length < 2 * stopAt) {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a != null && b != null) {
        buf += a.asInstanceOf[Long]
        buf += b.asInstanceOf[Long]
      }
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.ArrayBuffer[Long],
      other: scala.collection.mutable.ArrayBuffer[Long]): scala.collection.mutable.ArrayBuffer[Long] = {
    var i = 0
    while (buf.length < 2 * stopAt && i < other.length) {
      buf += other(i); buf += other(i + 1); i += 2
    }
    buf
  }

  override def eval(buf: scala.collection.mutable.ArrayBuffer[Long]): Any = {
    val n = buf.length / 2
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(Array[Any](buf(2 * i), buf(2 * i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: scala.collection.mutable.ArrayBuffer[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectCappedLongPairs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectCappedLongPairs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CollectCappedLongPairs = copy(left = l, right = r)
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
