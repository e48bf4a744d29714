package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the similarity-search hot path
  * (SURVEY §7.3 allowed "custom Expression only if profiling demands" —
  * it does here: `aggregate(zip_with(...))` evaluates interpreted lambdas
  * per element, while this compiles to a tight primitive loop inside
  * whole-stage codegen; same left-to-right double accumulation, so results
  * are bit-identical to the lambda form AND the DuckDB oracle).
  *
  * SQL surface: `vec_dot(array<float>, array<float>) -> double`, registered
  * via [[GraftExtensions]] (SparkSessionExtensions) or
  * [[VectorExpressions.register]] for an existing session.
  */
private[expressions] object VecKernels {
  /** Element accessors for float or double arrays; the math is always in
    * doubles, so a float element is widened first — identical to
    * `CAST(element_at(...) AS DOUBLE)` in the folds these kernels replace.
    */
  def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  def get(dt: DataType, arr: ArrayData, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }
  def getJava(dt: DataType, arr: String, i: String): String = dt match {
    case ArrayType(FloatType, _) => s"((double) $arr.getFloat($i))"
    case _ => s"$arr.getDouble($i)"
  }
}

final case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (VecKernels.elemOk(left.dataType) && VecKernels.elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float>/array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += VecKernels.get(left.dataType, x, i) * VecKernels.get(right.dataType, y, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${VecKernels.getJava(left.dataType, x, i)} * ${VecKernels.getJava(right.dataType, y, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two float vectors — the PQ/k-means distance
  * kernel (`q98`). Same contract as [[VecDot]]: left-to-right double
  * accumulation of `(x-y)²`, bit-identical to the higher-order-function
  * fold it replaces AND to the DuckDB `list_reduce` oracle, but compiled
  * to a primitive loop inside whole-stage codegen.
  *
  * SQL surface: `vec_l2sq(array<float>, array<float>) -> double`.
  */
final case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $x.getFloat($i)) - ((double) $y.getFloat($i));
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  private val info = new ExpressionInfo(classOf[VecDot].getName, "vec_dot")
  private val infoL2 = new ExpressionInfo(classOf[VecL2Sq].getName, "vec_l2sq")

  private def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "vec_dot takes exactly 2 arguments")
    VecDot(args.head, args(1))
  }

  private def builderL2(args: Seq[Expression]): Expression = {
    require(args.length == 2, "vec_l2sq takes exactly 2 arguments")
    VecL2Sq(args.head, args(1))
  }

  /** Register into an existing session (idempotent). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("vec_dot"), info, builder(_))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("vec_l2sq"), infoL2, builderL2(_))
  }
}

/** Session-extension entry point:
  * `.withExtensions(new GraftExtensions)` on the session builder or
  * `spark.sql.extensions=graft.expressions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "vec_dot takes exactly 2 arguments")
          VecDot(args.head, args(1))
        }))
    ext.injectFunction(
      (FunctionIdentifier("vec_l2sq"),
        new ExpressionInfo(classOf[VecL2Sq].getName, "vec_l2sq"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "vec_l2sq takes exactly 2 arguments")
          VecL2Sq(args.head, args(1))
        }))
    ext.injectFunction(
      (FunctionIdentifier("nfc_normalize"),
        new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
        (args: Seq[Expression]) => {
          require(args.length == 1, "nfc_normalize takes exactly 1 argument")
          NfcNormalize(args.head)
        }))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
  }
}
