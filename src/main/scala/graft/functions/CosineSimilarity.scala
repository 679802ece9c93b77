package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expression for cosine similarity over two
  * array<double> columns, with whole-stage codegen (`doGenCode`). This is
  * the preferred tier from SURVEY §4 ("custom Catalyst work"): unlike the
  * UDF fast path it needs no catalyst<->scala serialization boundary and
  * inlines into the generated stage; unlike the higher-order-function
  * composition it evaluates no per-element lambdas.
  *
  * Result is the IDENTICAL sequential fold as the higher-order-function
  * and UDF forms it replaced (now the test-scope references
  * `ReferenceKernels.cosine` / `cosineUdf`): dot and norms accumulate
  * left-to-right, result = dot / (sqrt(na) * sqrt(nb)), 0.0 when either
  * norm is zero.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    // tails beyond the common length still count toward the norms,
    // matching dot(a,a)/dot(b,b) over the full arrays
    var j = n
    while (j < x.numElements()) { val v = x.getDouble(j); na += v * v; j += 1 }
    j = n
    while (j < y.numElements()) { val v = y.getDouble(j); nb += v * v; j += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $i = 0;
         |while ($i < $n) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  $i += 1;
         |}
         |for (int k = $n; k < $a.numElements(); k++) {
         |  double v = $a.getDouble(k); $na += v * v;
         |}
         |for (int k = $n; k < $b.numElements(); k++) {
         |  double v = $b.getDouble(k); $nb += v * v;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
       """.stripMargin
    })
  }
}

object CosineSimilarity {
  /** Column wrapper (casts both sides to array<double>). */
  def apply(a: Column, b: Column): Column = {
    val ac = ColumnBridge.expression(a.cast("array<double>"))
    val bc = ColumnBridge.expression(b.cast("array<double>"))
    ColumnBridge.column(CosineSimilarity(ac, bc))
  }
}
