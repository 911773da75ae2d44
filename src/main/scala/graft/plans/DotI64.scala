package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/* The engine's native array kernels, each a primitive loop inside
 * whole-stage codegen in place of an interpreted higher-order function:
 *   - DotI64 (`dot_i64`): Σ aᵢ·bᵢ over two ARRAY<BIGINT>;
 *   - SqDistI64 (`sqdist_i64`): Σ (aᵢ − bᵢ)² over two ARRAY<BIGINT>;
 *   - QuantizeI64 (`quantize_i64`): floor(xᵢ · 1e6) of a FLOAT or DOUBLE array,
 *     the exact integer embedding every similarity operator reads.
 * GraftExtensions below exposes the first two, with the top_k and
 * exact_percentiles aggregates, to SQL. */

/** Native integer dot product over two ARRAY<BIGINT> columns.
  *
  * Motivation (measured, see Dedup.shingleRows scaladoc): Spark's
  * higher-order functions (`aggregate(zip_with(...))`) evaluate
  * interpreted — per-element lambda dispatch with boxed rows. This
  * expression generates a primitive long loop inside whole-stage
  * codegen: no allocation, no boxing, no virtual calls per element.
  * It is the hot inner loop of every similarity-search operator
  * (Similarity.bruteForceTopK / nearDupPairs / lshTopK), where it runs
  * once per candidate pair.
  *
  * Null semantics match the SQL fold it replaces: NULL if either array
  * is NULL; array elements must be non-null (quantized vectors are).
  * Arrays of unequal length use the shorter length (zip_with would pad
  * with NULL and null out the sum; unequal lengths cannot occur for
  * same-dimension embeddings).
  */
case class DotI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_i64 requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotI64 {
  /** Column form. */
  def dot_i64(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotI64(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Register `dot_i64` for SQL use in an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_i64", exprs => DotI64(exprs(0), exprs(1)), "built-in")
}

/** Native integer squared L2 distance over two ARRAY<BIGINT> columns:
  * Σ (aᵢ − bᵢ)² in one primitive long loop.
  *
  * This is the assignment kernel of every fixed-point Lloyd loop
  * (the certified k-means trainings — Similarity.scala). Spelled
  * per-dimension (posexplode → broadcast join on d → sum), each
  * assignment pass materializes n·dims·k rows through a hash
  * aggregate; with the vectors kept as arrays the same pass is n·k
  * rows with this codegen'd loop — dims× fewer rows and one fewer
  * aggregation. Integer addition is exact under reordering, so the
  * distances — hence the argmin assignments, the centroids, and every
  * downstream gated result — are BIT-IDENTICAL to the per-dim
  * spelling, and the DuckDB oracles replay unchanged.
  *
  * Magnitudes: operands are quantized dims, raw or +2^20-shifted, so
  * a diff ≤ 2^21, a diff² ≤ 2^42 and a 64-dim sum ≤ 2^48 —
  * int64-safe. Null semantics: NULL if either array is NULL
  * (null-intolerant, like DotI64) — and NULL on a LENGTH MISMATCH: equal-length inputs are the kernel's invariant
  * (every Lloyd assignment compares same-dim vectors), so a ragged
  * pair means a corrupted/truncated persisted codebook, and
  * under-summing its distance would silently misassign the vector.
  * A NULL drops the row out of argmin/topk instead of letting it win
  * with a short sum. */
case class SqDistI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sqdist_i64 requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sqdist_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) { ${ev.isNull} = true; }
         |else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SqDistI64 {
  /** Column form. */
  def sqdist_i64(a: Column, b: Column): Column =
    GraftSqlBridge.column(SqDistI64(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Register `sqdist_i64` for SQL use in an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sqdist_i64", exprs => SqDistI64(exprs(0), exprs(1)), "built-in")
}

/** `CAST(floor(x * 1000000.0) AS BIGINT)` per element of
  * `CAST(child AS ARRAY<DOUBLE>)` — the `transform` lambda spelling of
  * `Similarity.quantize`, as one primitive loop. Spark's `ArrayTransform`
  * is `CodegenFallback`, so the lambda dispatched every element
  * interpreted; this generates `(long) Math.floor((double) x * 1e6)`
  * inline, the same Java arithmetic `Floor` and the widening `Cast`
  * generate (NaN → 0, ±∞ and magnitudes past 2^63 / 1e6 saturate).
  *
  * The child is an ARRAY<FLOAT> or ARRAY<DOUBLE> (the embeddings and
  * the trained centroids), widened per element as that CAST would,
  * with no intermediate array. A NULL array is NULL and a NULL element
  * stays NULL. An array with no NULL element comes out as
  * `UnsafeArrayData` over a `long[]` — what the collect and the kernels
  * downstream read without boxing — and one with a NULL element as a
  * `GenericArrayData`. The type is ARRAY<BIGINT> with nullable
  * elements, the lambda's: the CAST to ARRAY<DOUBLE> makes every
  * element nullable. */
case class QuantizeI64(child: Expression) extends UnaryExpression {

  private def elementType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quantize_i64 requires an ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quantize_i64"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val get = InternalRow.getAccessor(elementType)
    val n = x.numElements()
    def q(i: Int): Long = Math.floor(get(x, i).asInstanceOf[Number].doubleValue() * 1000000.0).toLong
    if ((0 until n).exists(x.isNullAt))
      new GenericArrayData(Array.tabulate[Any](n)(i => if (x.isNullAt(i)) null else q(i)))
    else UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n)(q))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hasNull = ctx.freshName("hasNull")
      val out = ctx.freshName("out")
      val q = s"(long) java.lang.Math.floor(((double) ${CodeGenerator.getValue(a, elementType, i)}) * 1000000.0)"
      val scan =
        if (child.dataType.asInstanceOf[ArrayType].containsNull)
          s"for (int $i = 0; $i < $n && !$hasNull; $i++) { $hasNull = $a.isNullAt($i); }"
        else ""
      s"""
         |int $n = $a.numElements();
         |boolean $hasNull = false;
         |$scan
         |if (!$hasNull) {
         |  long[] $out = new long[$n];
         |  for (int $i = 0; $i < $n; $i++) { $out[$i] = $q; }
         |  ${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($out);
         |} else {
         |  Object[] $out = new Object[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $a.isNullAt($i) ? null : (Object) java.lang.Long.valueOf($q);
         |  }
         |  ${ev.value} = new ${classOf[GenericArrayData].getName}($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QuantizeI64 {
  /** Column form. */
  def quantize_i64(a: Column): Column =
    GraftSqlBridge.column(QuantizeI64(GraftSqlBridge.expression(a)))
}

/** Session extensions: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` (or spark.sql.extensions=graft.plans.GraftExtensions)
  * exposes the engine's native functions to pure-SQL users. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("dot_i64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotI64].getName, "dot_i64"),
        (exprs: Seq[Expression]) => DotI64(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("sqdist_i64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SqDistI64].getName, "sqdist_i64"),
        (exprs: Seq[Expression]) => SqDistI64(exprs(0), exprs(1))))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("exact_percentiles"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ExactPercentiles].getName, "exact_percentiles"),
        ExactPercentiles.forSql _))
    e.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("top_k"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[TopK].getName, "top_k"),
        TopK.forSql _))
  }
}
