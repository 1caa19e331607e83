// Same packaging rationale as FloatVecDot.scala: Catalyst's aggregate
// plumbing (ExpressionUtils, TypedImperativeAggregate internals) is
// private[sql], so the expression lives under org.apache.spark.sql.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, LongType}

/** Wire format of one dense histogram chunk: the non-zero slots of a
  * `long[chunkSize]` count array as (gap, count) pairs of unsigned LEB128
  * varints, where gap is the number of zero slots skipped since the
  * previous non-zero one. A dense chunk costs about two bytes per
  * occupied bin (gap 0, small count), a sparse one a few bytes per
  * occupied bin — against 8 bytes per slot for the raw array. */
object DenseHistCodec {
  private def varLen(v: Long): Int = {
    var n = 1
    var x = v >>> 7
    while (x != 0L) { n += 1; x >>>= 7 }
    n
  }

  private def putVar(out: Array[Byte], at: Int, v: Long): Int = {
    var p = at
    var x = v
    while ((x & ~0x7fL) != 0L) { out(p) = ((x & 0x7f) | 0x80).toByte; p += 1; x >>>= 7 }
    out(p) = x.toByte
    p + 1
  }

  def encode(counts: Array[Long]): Array[Byte] = {
    var size = 0
    var prev = -1
    var i = 0
    while (i < counts.length) {
      if (counts(i) != 0L) { size += varLen(i - prev - 1L) + varLen(counts(i)); prev = i }
      i += 1
    }
    val out = new Array[Byte](size)
    var p = 0
    prev = -1
    i = 0
    while (i < counts.length) {
      if (counts(i) != 0L) { p = putVar(out, p, i - prev - 1L); p = putVar(out, p, counts(i)); prev = i }
      i += 1
    }
    out
  }

  /** Adds an encoded chunk into `into` (same chunk size). */
  def addTo(bytes: Array[Byte], into: Array[Long]): Unit = {
    var p = 0
    var slot = -1
    var gap = true
    var v = 0L
    var shift = 0
    while (p < bytes.length) {
      val b = bytes(p)
      p += 1
      v |= (b & 0x7fL) << shift
      shift += 7
      if (b >= 0) {
        if (gap) slot += v.toInt + 1 else into(slot) += v
        gap = !gap
        v = 0L
        shift = 0
      }
    }
  }
}

/** Reduce side of the dense binning kernel: merges the encoded chunk
  * buffers that [[DenseHistPartialExec]] emits per (map task, non-empty
  * chunk) into ONE `long[chunkSize]` count array per chunk, and returns it
  * as an unboxed long array. There is no per-event path: the per-event
  * count happens map-side inside the whole-stage-codegen loop, so this
  * aggregate sees one row per map task and chunk, and its groups (one per
  * chunk) stay under the ObjectHashAggregate fallback threshold by
  * construction (`Binning.chunkBits`).
  *
  * The reference gets the same histogram from per-partition numba
  * `histogramdd` + tree-reduce (src/sed/binning/numba_bin.py:104).
  */
case class DenseHistChunk(
    child: Expression,
    chunkSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes with UnaryLike[Expression] {

  require(chunkSize > 0)

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "dense_hist_chunk"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](chunkSize)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) DenseHistCodec.addTo(v.asInstanceOf[Array[Byte]], buf)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < chunkSize) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = DenseHistCodec.encode(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](chunkSize)
    DenseHistCodec.addTo(bytes, out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DenseHistChunk =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DenseHistChunk =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DenseHistChunk =
    copy(child = newChild)
}

object DenseHistChunk {
  /** Aggregate Column: the merged dense count array (length `chunkSize`)
    * of the encoded chunk buffers in `buf`. */
  def apply(buf: Column, chunkSize: Int): Column =
    ExpressionUtils.column(
      DenseHistChunk(ExpressionUtils.expression(buf), chunkSize).toAggregateExpression())
}
