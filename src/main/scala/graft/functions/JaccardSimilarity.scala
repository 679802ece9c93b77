package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expression for set-Jaccard over two array<string>
  * columns — the exact-verification kernel of every LSH family
  * (minhash, n-gram, containment). Same preferred tier as
  * [[CosineSimilarity]] (SURVEY §4): inlines into whole-stage codegen
  * with no catalyst↔scala boundary. The UDF it replaces paid a full
  * UTF-8 → java.lang.String transcode per element per pair; here
  * membership hashes `UTF8String` byte arrays directly.
  *
  * Semantics are IDENTICAL to the set-Jaccard UDF it replaced (the
  * test-scope parity reference, spec- and property-asserted):
  * elements are deduplicated set-wise on both sides,
  * `inter / (|A| + |B| - inter)` as one double division, 0.0 when the
  * union is empty. String equality == byte equality for Spark's
  * well-formed UTF-8, so set membership cannot differ from the UDF.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val sa = new java.util.HashSet[Any]()
    var i = 0
    while (i < x.numElements()) {
      sa.add(x.getUTF8String(i)); i += 1
    }
    val sb = new java.util.HashSet[Any]()
    i = 0
    while (i < y.numElements()) {
      sb.add(y.getUTF8String(i)); i += 1
    }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) { if (sa.contains(it.next())) inter += 1 }
    val uni = sa.size() + sb.size() - inter
    if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val inter = ctx.freshName("inter")
      val uni = ctx.freshName("uni")
      val it = ctx.freshName("it")
      s"""
         |java.util.HashSet $sa = new java.util.HashSet();
         |for (int k = 0; k < $a.numElements(); k++) {
         |  $sa.add($a.getUTF8String(k));
         |}
         |java.util.HashSet $sb = new java.util.HashSet();
         |for (int k = 0; k < $b.numElements(); k++) {
         |  $sb.add($b.getUTF8String(k));
         |}
         |int $inter = 0;
         |java.util.Iterator $it = $sb.iterator();
         |while ($it.hasNext()) {
         |  if ($sa.contains($it.next())) $inter += 1;
         |}
         |int $uni = $sa.size() + $sb.size() - $inter;
         |${ev.value} = ($uni == 0) ? 0.0 : (double) $inter / (double) $uni;
       """.stripMargin
    })
  }
}

object JaccardSimilarity {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
