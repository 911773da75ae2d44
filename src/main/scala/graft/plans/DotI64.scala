package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

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
  * (k-means / PQ / RQ / IVFPQ training — Similarity.scala). Spelled
  * per-dimension (posexplode → broadcast join on d → sum), each
  * assignment pass materializes n·dims·k rows through a hash
  * aggregate; with the vectors kept as arrays the same pass is n·k
  * rows with this codegen'd loop — dims× fewer rows and one fewer
  * aggregation. Integer addition is exact under reordering, so the
  * distances — hence the argmin assignments, the centroids, and every
  * downstream gated result — are BIT-IDENTICAL to the per-dim
  * spelling, and the DuckDB oracles replay unchanged.
  *
  * Magnitudes: operands are +2^20-shifted quantized dims (≤ 2^21) or
  * +2^21-re-shifted residuals (≤ 2^22), so a diff² ≤ 2^44 and a
  * 64-dim sum ≤ 2^50 — int64-safe. Null semantics: NULL if either
  * array is NULL (null-intolerant, like DotI64) — and NULL on a
  * LENGTH MISMATCH: equal-length inputs are the kernel's invariant
  * (every Lloyd assignment compares same-dim vectors), so a ragged
  * pair means a corrupted/truncated persisted codebook, and
  * under-summing its distance would silently misassign the vector.
  * NULL matches AdcGatherI64's corrupted-input discipline: the row
  * drops out of argmin/topk instead of winning with a short sum. */
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

/** ADC LUT gather — the FAISS distance-table scan kernel: for a
  * candidate's code array `codes` (codes[s] ∈ [0, ksub)) and a
  * query's DENSE distance table `lut` (lut[s·ksub + c] = exact
  * partial squared distance of the query's subvector s to centroid
  * c), the asymmetric distance is Σ_s lut[s·ksub + codes[s]] — one
  * primitive gather loop per (query, candidate) row.
  *
  * This replaces the join-then-aggregate ADC spelling
  * (codes ⋈ adc on (s, code) → n·m·|Q| rows through a hash
  * aggregate) with |Q|·n rows and NO aggregate: same integer sum,
  * bit-identical distances, m× fewer rows on the scan side — the
  * difference between a flat ADC scan that hash-aggregates 655M rows
  * and one that streams 41M gathers at the 32× scale point.
  *
  * NULL if either array is NULL (null-intolerant, like DotI64), or
  * if any gathered index falls outside the LUT (cannot happen for a
  * LUT built dense over the training's own ksub — the guard turns a
  * corrupted code store into a NULL, never an unsafe read). */
case class AdcGatherI64(codes: Expression, lut: Expression, ksub: Int)
    extends BinaryExpression {
  override def left: Expression = codes
  override def right: Expression = lut

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (codes.dataType, lut.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.IntegerType, _),
            ArrayType(LongType, _)) => ksub > 0
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"adc_gather_i64 requires (ARRAY<INT>, ARRAY<BIGINT>) and ksub > 0, got " +
        s"${codes.dataType.simpleString}, ${lut.dataType.simpleString}, ksub=$ksub")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_gather_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val c = a.asInstanceOf[ArrayData]
    val t = b.asInstanceOf[ArrayData]
    val m = c.numElements()
    val tn = t.numElements()
    var acc = 0L
    var s = 0
    while (s < m) {
      val idx = s * ksub + c.getInt(s)
      if (idx < 0 || idx >= tn) return null
      acc += t.getLong(idx)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val tn = ctx.freshName("tn")
      val s = ctx.freshName("s")
      val idx = ctx.freshName("idx")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $a.numElements();
         |int $tn = $b.numElements();
         |long $acc = 0L;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $idx = $s * $ksub + $a.getInt($s);
         |  if ($idx < 0 || $idx >= $tn) { ${ev.isNull} = true; break; }
         |  $acc += $b.getLong($idx);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(codes = l, lut = r)
}

object AdcGatherI64 {
  /** Column form. */
  def adc_gather_i64(codes: Column, lut: Column, ksub: Int): Column =
    GraftSqlBridge.column(AdcGatherI64(
      GraftSqlBridge.expression(codes), GraftSqlBridge.expression(lut), ksub))
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
