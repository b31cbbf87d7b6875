package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** 16-permutation MinHash as a native `TypedImperativeAggregate` — the
  * raw-buffer aggregate extension point (SURVEY §2.10), complementing
  * the `Aggregator` UDAF (GeoMean) and the HOF/codegen formulations in
  * [[graft.llm.Dedup]].
  *
  * The buffer is a bare Array[Long](16) of per-permutation minima:
  * update is 16 long-mixes per shingle, merge is element-wise min —
  * associative, commutative, constant-size, i.e. the exact mergeable-
  * state contract partial aggregation needs at 100 TB. Hash values
  * replicate `xxhash64(sh, i)`'s multi-argument seed chaining
  * (seed 42 → hashLong(sh) → hashInt(i)), so the signature is
  * BIT-IDENTICAL to Dedup.minhashSignatures' codegen'd column form —
  * asserted in Wave3Spec, which is the correctness story for this
  * no-oracle key (DuckDB has no xxhash64).
  */
case class MinHashAgg(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val Perms = 16

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_agg expects a bigint (hashed shingle), got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(Perms)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = XxHash64Function.hash(v, LongType, 42L)
      var i = 0
      while (i < Perms) {
        val h = XxHash64Function.hash(i, IntegerType, base)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Perms) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(Perms * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(Perms)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "minhash_agg"
}
