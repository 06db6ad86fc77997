package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: per-vector symmetric int8 scalar
  * quantization — `vec_sq8(v)` returns
  *
  *   transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
  *     greatest(array_max(transform(v, y -> abs(CAST(y AS DOUBLE)))), 1e-30)) AS BIGINT))
  *
  * bit-for-bit, including the HOF form's exact rounding: Spark's
  * `round` on DOUBLE goes through `BigDecimal.valueOf(d).setScale(0,
  * HALF_UP)`, and this expression makes the identical call per element
  * (floor(x+0.5)-style shortcuts diverge on values one ulp below a
  * .5 decimal boundary — the classic Math.round corner), so swapping it
  * under ss06 cannot move a single code. Null elements pass through as
  * null codes and are skipped by the max pass, exactly as the
  * transform/array_max pair behaves.
  *
  * Why it exists (r8): the one-expression HOF quantizer recomputes the
  * array_max fold per ELEMENT (O(d²) interpreted work); even with the
  * max hoisted to a column, two interpreted `transform` lambdas per row
  * remained the dominant cost of the int8 pipeline — measured 11.1 s of
  * ss06's 12.3 s total on the 30× fixture (NOTES.md, Round 8). This
  * is one fused codegen'd loop: max pass + quantize pass, no
  * intermediate arrays, no closure dispatch.
  */
case class FloatSq8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    elemType(child.dataType) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_sq8 requires an ARRAY<FLOAT|DOUBLE> arg, got ${child.dataType.catalogString}")
    }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** The exact arithmetic of Spark's Round(double, 0) + legacy (non-ANSI)
    * CAST(BIGINT). Round passes NaN/Infinity through untouched
    * (BigDecimal.valueOf would throw on them); the legacy cast then maps
    * NaN → 0 and ±Infinity → Long.Min/MaxValue. We keep the LEGACY cast
    * here deliberately: under the ANSI default the HOF form throws
    * CAST_OVERFLOW on a single NaN element (which also poisons mx via
    * the sticky max) — a per-element saturation is the right at-scale
    * behavior, not a failed 100-TB job.
    */
  @inline private def code(v: Double, mx: Double): Long = {
    val d = v * 127.0 / mx
    if (d.isNaN || d.isInfinite) d.toLong
    else java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val t = elemType(child.dataType).get
    val n = a.numElements()
    // max pass: skip nulls (array_max semantics); NaN is greater than
    // any non-NaN (TypeUtils ordering), so it is sticky once seen
    var mx = 1e-30
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(get(a, i, t))
        if (v.isNaN || v > mx) mx = v
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (a.isNullAt(i)) null else code(get(a, i, t), mx)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val getter = elemType(child.dataType).get match {
        case FloatType => (i: String) => s"(double) $a.getFloat($i)"
        case _ => (i: String) => s"$a.getDouble($i)"
      }
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $mx = 1e-30;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = java.lang.Math.abs(${getter(i)});
         |    if (Double.isNaN($v) || $v > $mx) $mx = $v;
         |  }
         |}
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $d = ${getter(i)} * 127.0 / $mx;
         |    $out[$i] = (Object) ((Double.isNaN($d) || Double.isInfinite($d))
         |      ? (long) $d
         |      : (long) java.math.BigDecimal.valueOf($d)
         |          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue());
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatSq8 =
    copy(child = newChild)
}

object FloatSq8 {
  /** Register `vec_sq8` in the session's function registry. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sq8", exprs => FloatSq8(exprs.head), "scala_udf")
}
