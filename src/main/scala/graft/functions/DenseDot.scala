package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ElementAtError
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NumericType}

/** Native Catalyst expression: one dense-layer row, w·x + b, over the
  * first `w.length` elements of a float or double vector — the matmul
  * row the reference delegates to DL4J/ND4J. It replaces the generated
  * `lit(w0) * element_at(x, 1) + … + lit(wn) * element_at(x, n) + b`
  * column fold (4 × 64 terms per dense layer) with one codegen'd loop
  * over a `double[]` of weights.
  *
  * Bit-identical to that fold: the same left-to-right f64 order
  * (`acc = w0·x0; acc = acc + wj·xj; acc + b`), exact f32→f64
  * promotion, no fused multiply-add or reassociation. Like the fold, a
  * null vector or a null element among the first n gives null, and a
  * vector shorter than n fails with `element_at`'s ANSI out-of-bounds
  * error — whichever of the two the fold would reach first.
  */
case class DenseDot(child: Expression, w: Array[Double], b: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dense_dot"

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  private def containsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true // not yet type-checked
  }
  override def nullable: Boolean = child.nullable || containsNull

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if w.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires at least one weight")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> or array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val len = a.numElements()
    val lim = math.min(len, w.length)
    var j = 0
    while (j < lim) {
      if (a.isNullAt(j)) return null
      j += 1
    }
    DenseDot.requireLength(len, w.length)
    if (elemType == FloatType) DenseDot.fold(w, b, a.getFloat(_).toDouble)
    else DenseDot.fold(w, b, a.getDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = child.genCode(ctx)
    val wRef = ctx.addReferenceObj("denseW", w, "double[]")
    val bias = Literal(b).genCode(ctx).value
    val Seq(a, ws, j, len, lim, acc) = Seq("a", "w", "j", "len", "lim", "acc").map(ctx.freshName)
    def elem(i: String): String =
      if (elemType == FloatType) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
    val nullScan =
      if (!containsNull) ""
      else
        s"""for (int $j = 0, $lim = java.lang.Math.min($len, ${w.length}); $j < $lim; $j++) {
           |  if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }
           |}""".stripMargin
    ev.copy(code = code"""
      |${x.code}
      |boolean ${ev.isNull} = ${x.isNull};
      |double ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  ${CodeGenerator.javaType(child.dataType)} $a = ${x.value};
      |  int $len = $a.numElements();
      |  $nullScan
      |  if (!${ev.isNull}) {
      |    if ($len < ${w.length}) throw org.apache.spark.sql.graft.ElementAtError.outOfBounds($len + 1, $len);
      |    double[] $ws = $wRef;
      |    double $acc = $ws[0] * ${elem("0")};
      |    for (int $j = 1; $j < ${w.length}; $j++) {
      |      $acc = $acc + $ws[$j] * ${elem(j)};
      |    }
      |    ${ev.value} = $acc + $bias;
      |  }
      |}""".stripMargin)
  }

  // plans print the weight count, not the array's identity hash
  override def stringArgs: Iterator[Any] = Iterator(child, s"w[${w.length}]", b)

  // case-class equality compares the weight array by reference; two
  // resolutions of one call (z in `when(z > 0, z)`) must be equal for
  // subexpression elimination to run the kernel once per row
  override def equals(o: Any): Boolean = o match {
    case d: DenseDot => child == d.child && java.util.Arrays.equals(w, d.w) &&
      java.lang.Double.compare(b, d.b) == 0
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(java.util.Arrays.hashCode(w)), java.lang.Double.valueOf(b))

  override protected def withNewChildInternal(newChild: Expression): DenseDot =
    copy(child = newChild)
}

object DenseDot {

  /** The dense-row fold itself, shared by the interpreted path and the
    * streaming max-pool update: left to right, bias last. */
  def fold(w: Array[Double], b: Double, x: Int => Double): Double = {
    var acc = w(0) * x(0)
    var j = 1
    while (j < w.length) {
      acc = acc + w(j) * x(j)
      j += 1
    }
    acc + b
  }

  /** Fails as `element_at(x, len + 1)` does under ANSI when a vector of
    * `len` elements is shorter than the `n` weights. */
  def requireLength(len: Int, n: Int): Unit =
    if (len < n) throw ElementAtError.outOfBounds(len + 1, len)

  /** SQL builder for `graft_dense_dot(vec, weights, bias)`. The weights
    * (a numeric array) and the bias (a number) must be foldable: they are
    * evaluated once here, during function resolution. */
  def build(args: Seq[Expression]): Expression = {
    def reject(msg: String): Nothing = throw new AnalysisException(
      "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT",
      Map("sqlExpr" -> args.map(_.sql).mkString("\"graft_dense_dot(", ", ", ")\""),
        "msg" -> msg, "hint" -> ""))
    def constant(e: Expression, name: String, to: DataType): Any = {
      if (!e.foldable) reject(s"graft_dense_dot requires constant $name, got ${e.sql}")
      val v = Cast(e, to).eval()
      if (v == null) reject(s"graft_dense_dot requires non-null $name")
      v
    }
    args match {
      case Seq(vec, wE, bE) =>
        val wData = wE.dataType match {
          case ArrayType(_: NumericType, _) =>
            constant(wE, "weights", ArrayType(DoubleType)).asInstanceOf[ArrayData]
          case other => reject(s"graft_dense_dot requires numeric weights, got ${other.simpleString}")
        }
        if ((0 until wData.numElements()).exists(wData.isNullAt))
          reject("graft_dense_dot requires non-null weights")
        val b = bE.dataType match {
          case _: NumericType => constant(bE, "bias", DoubleType).asInstanceOf[Double]
          case other => reject(s"graft_dense_dot requires a numeric bias, got ${other.simpleString}")
        }
        DenseDot(vec, wData.toDoubleArray(), b)
      case _ => reject(s"graft_dense_dot takes 3 arguments, got ${args.size}")
    }
  }
}
