package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Per-group bounded top-k as a native `TypedImperativeAggregate`: keep
  * the k SMALLEST struct rows by the struct's natural (field-order)
  * ordering, returned as a sorted ARRAY<STRUCT>.
  *
  * This is the scale-shape alternative to the `row_number() OVER
  * (PARTITION BY g ORDER BY ...) <= k` idiom: a window must SHUFFLE
  * AND SORT every candidate row of every group before it can rank,
  * so the exchange carries |groups|·|candidates| rows; this aggregate
  * runs through ObjectHashAggregate with PARTIAL aggregation, so each
  * map task reduces its slice to at most k rows per group and the
  * exchange carries |groups|·k. For the ANN top-k family (|Q| queries
  * × N candidates) that turns the one data exchange from O(|Q|·N)
  * into O(|Q|·k) — the difference between shipping the scored corpus
  * and shipping the answer.
  *
  * Ordering contract (normative, spec-enforced): the interpreted
  * ordering of the child STRUCT (lexicographic over fields, each
  * field its type's canonical ordering — for doubles, NaN is the
  * LARGEST value). Callers encode direction by construction — e.g.
  * "cosine DESC, id ASC" is `struct(-cosine, id, ...payload)`.
  * Double negation maps NaN to NaN, so a NaN sort key ranks LAST
  * ascending here while a window's DESC would rank it FIRST; this
  * aggregate's NaN-last behavior is the contract (pinned by the
  * SourcesAndPlansSpec NaN test, deterministic incl. ties and
  * repartition), and the gated queries additionally keep their keys
  * NaN-free. Memory:
  * O(k) per group — the heap never holds more than k rows, unlike
  * collect_list+slice. */
case class TopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]] {

  require(k >= 1, s"top_k needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType
      if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(s) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_k requires an orderable STRUCT argument, got ${other.simpleString}")
  }

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  // max-heap by the struct ordering: the ROOT is the largest retained
  // row, evicted first once the heap holds k rows and a smaller row
  // arrives
  private lazy val rowOrdering: Ordering[InternalRow] = {
    val ord = TypeUtils.getInterpretedOrdering(structType)
    (a: InternalRow, b: InternalRow) => ord.compare(a, b)
  }
  private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    mutable.PriorityQueue.empty[InternalRow](rowOrdering)

  private def insert(buf: mutable.PriorityQueue[InternalRow], row: InternalRow): Unit =
    if (buf.size < k) buf.enqueue(row)
    else if (rowOrdering.compare(row, buf.head) < 0) { buf.dequeue(); buf.enqueue(row) }

  override def update(buf: mutable.PriorityQueue[InternalRow],
                      input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      // fast reject without copying: the common case at k << n is
      // "row loses to the current kth" — only copy rows that enter
      if (buf.size < k || rowOrdering.compare(row, buf.head) < 0)
        insert(buf, toUnsafe(row).copy())
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[InternalRow],
                     other: mutable.PriorityQueue[InternalRow]): mutable.PriorityQueue[InternalRow] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(buf.toArray.sorted(rowOrdering).asInstanceOf[Array[Any]])

  override def serialize(buf: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    val rows = buf.toArray.map(_.asInstanceOf[UnsafeRow])
    val total = 4 + rows.map(4 + _.getSizeInBytes).sum
    val bb = ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { r =>
      bb.putInt(r.getSizeInBytes)
      r.writeTo(bb)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val size = bb.getInt()
      val row = new UnsafeRow(structType.length)
      val arr = new Array[Byte](size)
      bb.get(arr)
      row.pointTo(arr, size)
      buf.enqueue(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
}

object TopK {
  /** Column form: `top_k(struct(sortKeys..., payload...), k)` yields the
    * k smallest structs in ascending order as ARRAY<STRUCT>. */
  def top_k(ord: Column, k: Int): Column =
    GraftSqlBridge.column(
      TopK(GraftSqlBridge.expression(ord), k).toAggregateExpression())

  /** SQL builder: `top_k(struct(...), k)` with literal k. Argument
    * errors surface as readable analysis-time messages, not NPE /
    * ClassCastException from a blind eval-and-cast. */
  def forSql(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "top_k(struct, k) takes exactly two arguments")
    require(exprs(1).foldable,
      s"top_k: k must be a literal, got non-foldable ${exprs(1).sql}")
    val kv = exprs(1).eval()
    require(kv != null, "top_k: k must be a non-null integer literal")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val k = (exprs(1).dataType, kv) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) => n.longValue()
      case (dt, _) => throw new IllegalArgumentException(
        s"top_k: k must be an integer literal, got ${dt.simpleString} (${exprs(1).sql})")
    }
    require(k >= 1 && k <= Int.MaxValue, s"top_k needs k >= 1, got $k")
    TopK(exprs.head, k.toInt)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "top_k", forSql, "built-in")
}
