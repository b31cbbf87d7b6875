package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd intersection COUNT of two SORTED, DISTINCT long arrays —
  * the exact-verify kernel of the near-dup pipeline.
  *
  * `size(array_intersect(a, b))` pays, per candidate pair, a hash-set
  * build over one side, a probe-and-append over the other, and a fully
  * materialized intersection ArrayData that exists only to be counted
  * and discarded. With both inputs sorted (the shingle sets are sorted
  * ONCE per document, map-side; candidates are verified ~10–100× per
  * document), the count is a two-pointer merge: one pass, zero
  * allocation, branch-predictable on 64-bit longs, inside
  * WholeStageCodegen. Result is bit-identical to the array_intersect
  * formulation on distinct inputs — the jaccard values and therefore
  * the DuckDB oracle are unchanged (asserted in CosineExprSpec against
  * the HOF form on random arrays incl. empty/disjoint/equal edges).
  *
  * PRECONDITION (caller-owned, like any sorted-merge kernel): both
  * arrays ascending and duplicate-free. The near-dup sets satisfy it by
  * construction: they are [[ShingleSet]] output. A null ELEMENT
  * (possible only under a containsNull schema, which the pipeline never
  * produces) nulls the result instead of silently reading garbage; the
  * check is emitted only for containsNull inputs, so the hot path is
  * unchanged.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def nullable: Boolean = super.nullable || elemNullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count expects (array<bigint>, array<bigint>), " +
            s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    if (elemNullable) {
      var k = 0
      while (k < nx) { if (x.isNullAt(k)) return null; k += 1 }
      k = 0
      while (k < ny) { if (y.isNullAt(k)) return null; k += 1 }
    }
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val k = ctx.freshName("k")
      val nullScan =
        if (elemNullable)
          s"""
             |for (int $k = 0; $k < $nx && !${ev.isNull}; $k++) {
             |  if ($a.isNullAt($k)) { ${ev.isNull} = true; }
             |}
             |for (int $k = 0; $k < $ny && !${ev.isNull}; $k++) {
             |  if ($b.isNullAt($k)) { ${ev.isNull} = true; }
             |}
           """.stripMargin
        else ""
      val merge =
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
           |  if ($xv < $yv) { $i++; }
           |  else if ($xv > $yv) { $j++; }
           |  else { $c++; $i++; $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |$nullScan
         |${if (elemNullable) s"if (!${ev.isNull}) {\n$merge\n}" else merge}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
