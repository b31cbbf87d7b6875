package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}

/** Custom catalyst `Generator` (the real UDTF extension point —
  * SURVEY.md §2.10 path (c), complementing the HOF+posexplode route of
  * `udtf_ngrams`): `sliding_windows(arr, size, step)` emits one row per
  * window `(win_id, win)` over the input array — starts at 0, step
  * `step`, every element covered, no degenerate all-overlap tail window.
  *
  * A Generator runs inside `GenerateExec`, which streams rows without
  * materializing the full cross product — the lateral-view shape. This
  * one is CodegenFallback (generators codegen only their collection
  * traversal; the win_id/slice bookkeeping isn't worth a hand-rolled
  * doGenCode), and windows reference the SAME copied element values, so
  * per-row cost is O(n/step · size) with zero closure dispatch.
  */
case class SlidingWindows(arr: Expression, winSize: Expression,
    step: Expression) extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(arr, winSize, step)

  private def elemType = arr.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = StructType(Seq(
    StructField("win_id", IntegerType, nullable = false),
    StructField("win", ArrayType(elemType), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (arr.dataType, winSize.foldable, step.foldable) match {
      case (_: ArrayType, true, true)
        if winSize.dataType == IntegerType && step.dataType == IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sliding_windows expects (array, int literal, int literal)")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = arr.eval(input).asInstanceOf[ArrayData]
    if (a == null) return Nil
    val k = winSize.eval(input).asInstanceOf[Int]
    val s = step.eval(input).asInstanceOf[Int]
    require(k > 0 && s > 0 && s <= k,
      s"sliding_windows needs 0 < step <= size, got size=$k step=$s")
    val n = a.numElements()
    val elems = a.toObjectArray(elemType)
    val out = new ArrayBuffer[InternalRow]()
    // same envelope as llm_chunk_split: start offsets 0, s, 2s, ... up to
    // max(n - (k - s), 1) exclusive — full coverage, and a tail shorter
    // than the overlap never yields a window with no new elements
    val lastExclusive = math.max(n - (k - s), 1)
    var start = 0
    var id = 0
    while (start < lastExclusive) {
      val win = new GenericArrayData(
        java.util.Arrays.copyOfRange(elems, start, math.min(start + k, n)))
      out += InternalRow(id, win)
      id += 1
      start += s
    }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(arr = newChildren(0), winSize = newChildren(1), step = newChildren(2))
}
