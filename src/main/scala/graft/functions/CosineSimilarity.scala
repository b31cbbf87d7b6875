package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd cosine similarity over two float-array columns
  * (SURVEY.md §7.3 custom kernel #2).
  *
  * Spark's higher-order functions are interpreted per element (lambda
  * dispatch per value), which made the HOF cosine the hot path of the
  * pairwise similarity queries. This expression compiles to a tight Java
  * loop inside WholeStageCodegen: one pass computing dot product and both
  * norms in double precision — numerically identical to the HOF
  * formulation (same values, same accumulation order), asserted by
  * CosineExprSpec.
  *
  * Injected as SQL function `cosine_sim` by [[graft.plans.GraftExtensions]],
  * so both Column-API (`expr`) and SQL callers reach it.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // a null ELEMENT nulls the whole similarity (the HOF formulation's
  // x*y -> null -> acc+null chain does the same); without the check,
  // getFloat on a null slot silently reads 0.0 and returns a finite
  // similarity for an undefined input
  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override def nullable: Boolean = super.nullable || elemNullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<float>, array<float>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      // the element null check is emitted ONLY for containsNull schemas
      // — on the (containsNull = false) hot path the loop body is
      // unchanged, and ev.isNull may then be a compile-time literal
      val check =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val assign =
        s"${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $check
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${if (elemNullable) s"if (!${ev.isNull}) { $assign }" else assign}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass `cosine_sim(v, v)`: the optimizer target for the
  * self-cosine identity (plans.SimplifySelfCosine). Reproduces the
  * kernel's arithmetic EXACTLY — `nx / (sqrt(nx) * sqrt(nx))`, which is
  * NaN for zero-norm/empty vectors and can sit an ulp off 1.0 — so the
  * rewrite is purely algebraic (drops 2 of 3 accumulators and one array
  * traversal) and never changes an observable result.
  */
case class SelfCosine(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  // same null-element contract as [[CosineSimilarity]] — the rewrite
  // must be observation-equivalent on EVERY input, including null slots
  private def elemNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def nullable: Boolean = super.nullable || elemNullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"self_cosine expects array<float>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var nx = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble; nx += v * v; i += 1
    }
    nx / (math.sqrt(nx) * math.sqrt(nx))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val nx = ctx.freshName("nx")
      val v = ctx.freshName("v")
      val check =
        if (elemNullable)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val assign =
        s"${ev.value} = $nx / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($nx));"
      s"""
         |double $nx = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  $check
         |  double $v = (double) $a.getFloat($i);
         |  $nx += $v * $v;
         |}
         |${if (elemNullable) s"if (!${ev.isNull}) { $assign }" else assign}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
