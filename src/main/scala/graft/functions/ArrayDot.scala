package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two array<double> columns.
  *
  * The pure-SQL form `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, ...)`
  * materializes an intermediate array and evaluates a lambda per
  * element per pair — at 10⁷ candidate pairs × 64 dims that is the
  * dominant cost of brute-force similarity. This expression is a tight
  * codegen'd loop over the two ArrayData buffers: no allocation, no
  * lambda dispatch, stays inside whole-stage codegen. Same sequential
  * fold order as the SQL form, so results are bit-identical.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions hook: makes graft's native expressions
  * available in every session created with
  * `.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the
  * standard way to ship the functions with the library on a cluster.
  * (No custom Rule/Strategy is needed for reference parity —
  * SURVEY.md §4 — so functions are the only injection.) */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("array_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ArrayDot].getCanonicalName, "array_dot"),
      (exprs: Seq[Expression]) => ArrayDot(exprs(0), exprs(1))))
}

/** Session registration of graft's native expressions. */
object GraftFunctions {
  /** Register SQL-callable names on the session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_dot", exprs => ArrayDot(exprs(0), exprs(1)), "scala_udf")
}
