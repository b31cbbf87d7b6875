package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_set(text)`: the document's set of hashed 3-word shingles,
  * as the ascending (signed), duplicate-free `array<bigint>` of
  * `xxhash64(w[i], w[i+1], w[i+2])` (seed 42) over the words of
  * `split(text, ' ')`. One pass per document, inside generated code.
  *
  * Invariants every caller relies on:
  *  - the words are exactly `split`'s (`UTF8String.split(" ", -1)`):
  *    empty words between doubled, leading or trailing spaces count,
  *    and only the space separates (a tab is part of its word);
  *  - each element equals Spark's `xxhash64` over the word triple, so
  *    a shingle hashes the same here as in any SQL that spells it out;
  *  - text of fewer than 3 words, and null text, give the empty array:
  *    the expression is never null and holds no null element, so the
  *    optimizer infers no `isnotnull` over it;
  *  - the output is sorted and distinct, which is the precondition of
  *    `sorted_intersect_count` and the order PPJoin's hash-ordered
  *    prefixes are sliced from.
  */
case class ShingleSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects string, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): Any =
    ShingleSet.of(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${classOf[ShingleSet].getName}.of(${c.isNull} ? null : ${c.value});
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSet {

  private val Space = UTF8String.fromString(" ")

  /** Spark's `xxhash64` default seed. */
  private val Seed = 42L

  private def hash(w: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes, seed)

  /** The sorted, distinct shingle hashes of `text` (empty for null). */
  def of(text: UTF8String): ArrayData = {
    val w = if (text == null) Array.empty[UTF8String] else text.split(Space, -1)
    val n = math.max(w.length - 2, 0)
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      h(i) = hash(w(i + 2), hash(w(i + 1), hash(w(i), Seed)))
      i += 1
    }
    java.util.Arrays.sort(h)
    var k = 0
    i = 0
    while (i < n) {
      if (k == 0 || h(i) != h(k - 1)) { h(k) = h(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(h, Platform.LONG_ARRAY_OFFSET, k, 8)
  }
}
