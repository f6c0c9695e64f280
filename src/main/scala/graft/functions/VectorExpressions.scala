package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Codegen'd dot product over two `array<float>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, +)`
  * — allocates an intermediate array and evaluates lambda closures per
  * element; inside a 64-dim cosine it runs three times per row. This
  * expression generates a primitive multiply-add loop instead: no
  * allocation, no virtual calls, stays inside WholeStageCodegen.
  *
  * Semantics intentionally mirror the fold form for equal-length inputs:
  * accumulation is left-to-right from +0.0 in doubles, so results are
  * bit-identical with `Similarity.dotFold` (and with the DuckDB
  * `list_reduce` oracle fragment). Unequal lengths use the shorter length
  * (the fold form would return null via zip_with's null padding — don't
  * feed it ragged vectors; embeddings are fixed-dim).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity over two `array<float>` columns: ONE loop
  * accumulates the dot product and both squared norms, where the composed
  * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` walks the arrays three
  * times. Per accumulator the operation sequence is identical to its own
  * left fold, and the final combine replays the composed expression tree
  * exactly — so results are BIT-IDENTICAL to the composed form (and to the
  * DuckDB oracle fragments); VectorExprSpec asserts it.
  */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cos"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      d += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = (double) $a.getFloat($i);
         |  final double $yi = (double) $b.getFloat($i);
         |  $d += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared-L2 distance over two `array<float>` columns — the
  * distance twin of [[FloatVectorDot]], and the inner loop of PQ encoding
  * (`Similarity.pqEncode` runs it codebook-size × subspaces times per
  * vector). Accumulation is left-to-right from +0.0 of (xᵢ−yᵢ)² in
  * doubles — bit-identical to `Similarity.l2Fold` and the DuckDB
  * `list_reduce` fragment (VectorExprSpec asserts it).
  */
case class FloatVectorL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd multiset intersection size of two ascending-sorted
  * `array<bigint>` columns — a sorted merge, O(|a| + |b|), no
  * allocation. For every value present on both sides it adds
  * mult_a(v) · mult_b(v), which is exactly the row count of the
  * equi-join of the two lists on the value: duplicates multiply, as the
  * join's do. The LSH sweep (`Dedup.lshTuningOver`) computes each
  * candidate pair's shared-shingle count with it, where a hashed
  * shingle id may repeat within a document.
  *
  * Inputs must be sorted ascending as `array_sort` leaves them, nulls
  * last; a null element ends its side (nulls never join). A null array
  * gives null.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_inter_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var s = 0L
    var i = 0
    var j = 0
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val v = x.getLong(i)
      val w = y.getLong(j)
      if (v < w) i += 1
      else if (v > w) j += 1
      else {
        var ci = 0L
        while (i < nx && !x.isNullAt(i) && x.getLong(i) == v) { ci += 1; i += 1 }
        var cj = 0L
        while (j < ny && !y.isNullAt(j) && y.getLong(j) == v) { cj += 1; j += 1 }
        s += ci * cj
      }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(nx, ny, s, i, j, v, w, ci, cj) =
        Seq("nx", "ny", "s", "i", "j", "v", "w", "ci", "cj").map(ctx.freshName)
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |long $s = 0L;
         |int $i = 0;
         |int $j = 0;
         |while ($i < $nx && $j < $ny && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  final long $v = $a.getLong($i);
         |  final long $w = $b.getLong($j);
         |  if ($v < $w) {
         |    $i++;
         |  } else if ($v > $w) {
         |    $j++;
         |  } else {
         |    long $ci = 0L;
         |    while ($i < $nx && !$a.isNullAt($i) && $a.getLong($i) == $v) { $ci++; $i++; }
         |    long $cj = 0L;
         |    while ($j < $ny && !$b.isNullAt($j) && $b.getLong($j) == $v) { $cj++; $j++; }
         |    $s += $ci * $cj;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  /** Register `vec_dot`, `vec_cos`, `vec_l2sq` and `sorted_inter_count`
    * in a session's function registry.
    * Skips when already present (r20): the Column APIs register on
    * EVERY call, so a 293-entry bench session re-registered (and
    * warn-logged) hundreds of times for three map puts that never
    * change — the builders are stable objects, so first-wins is
    * identical to last-wins here. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"))) {
      reg.createOrReplaceTempFunction(
        "vec_dot", exprs => FloatVectorDot(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "vec_cos", exprs => FloatVectorCosine(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "vec_l2sq", exprs => FloatVectorL2(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction("sorted_inter_count",
        exprs => SortedLongIntersectCount(exprs(0), exprs(1)), "built-in")
    }
  }

  /** Column API for [[FloatVectorDot]]: resolved through the function
    * registry of the active session (the Column↔Expression bridge is
    * private[sql] in Spark 4). */
  def vecDot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("vec_dot", a, b)
  }

  /** Column API for [[FloatVectorCosine]]. */
  def vecCos(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("vec_cos", a, b)
  }

  /** Column API for [[FloatVectorL2]]. */
  def vecL2(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("vec_l2sq", a, b)
  }

  /** Column API for [[SortedLongIntersectCount]]. */
  def sortedInterCount(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("sorted_inter_count", a, b)
  }
}
