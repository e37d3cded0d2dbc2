package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Bounded id collector for LSH bucket aggregates: counts EVERY input
  * row of the group (null ids included) and keeps the non-null ids only
  * while that count stays ≤ `cap`. Past the cap the group is marked
  * overflowed and its ids are dropped, so a degenerate bucket is never
  * buffered whole — no buffer ever holds more than `cap` ids, on the map
  * side or after the merge. `eval` returns the group's sorted distinct
  * ids when 2 ≤ rows ≤ cap and at least two distinct ids remain, else
  * null.
  *
  * Why custom: the cap-then-pair shape otherwise needs a count (a
  * groupBy + semi-join back, or a window) AND a self-join, each its own
  * exchange over the band rows. This aggregate applies the cap and hands
  * back the bucket's members in the one group-by, and as a
  * TypedImperativeAggregate it combines map-side like [[TopKAgg]].
  */
case class CappedIdsAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedIdsAgg.Buffer]
  with UnaryLike[Expression] {

  require(cap > 0, s"cap=$cap must be positive")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_capped_ids needs an orderable id, got ${child.dataType.catalogString}")

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def createAggregationBuffer(): CappedIdsAgg.Buffer =
    new CappedIdsAgg.Buffer(0L, mutable.ArrayBuffer.empty[Any])

  private def admit(buf: CappedIdsAgg.Buffer, rows: Long): Unit = {
    buf.rows += rows
    if (buf.rows > cap) buf.ids.clear()
  }

  override def update(buf: CappedIdsAgg.Buffer, input: InternalRow): CappedIdsAgg.Buffer = {
    admit(buf, 1L)
    val v = child.eval(input)
    // copy: the incoming row object is reused by the scan
    if (v != null && buf.rows <= cap) buf.ids += InternalRow.copyValue(v)
    buf
  }

  override def merge(buf: CappedIdsAgg.Buffer, other: CappedIdsAgg.Buffer): CappedIdsAgg.Buffer = {
    admit(buf, other.rows)
    if (buf.rows <= cap) buf.ids ++= other.ids
    buf
  }

  override def eval(buf: CappedIdsAgg.Buffer): Any =
    if (buf.rows < 2 || buf.rows > cap) null
    else {
      val sorted = buf.ids.sorted(ord)
      val distinct = sorted.indices.collect {
        case i if i == 0 || ord.compare(sorted(i - 1), sorted(i)) != 0 => sorted(i)
      }
      if (distinct.size < 2) null else new GenericArrayData(distinct.toArray)
    }

  @transient private lazy val project = UnsafeProjection.create(
    Array[DataType](LongType, ArrayType(child.dataType, containsNull = false)))

  override def serialize(buf: CappedIdsAgg.Buffer): Array[Byte] =
    project(new GenericInternalRow(
      Array[Any](buf.rows, new GenericArrayData(buf.ids.toArray)))).getBytes

  override def deserialize(bytes: Array[Byte]): CappedIdsAgg.Buffer = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val ids = row.getArray(1)
    new CappedIdsAgg.Buffer(row.getLong(0),
      mutable.ArrayBuffer.from(ids.toSeq[Any](child.dataType)))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedIdsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedIdsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CappedIdsAgg =
    copy(child = newChild)

  override def prettyName: String = "graft_capped_ids"
}

object CappedIdsAgg {
  /** Row count of the group so far, and its ids while rows ≤ cap. */
  final class Buffer(var rows: Long, val ids: mutable.ArrayBuffer[Any])

  /** Column API: `banded.groupBy("band", "bucket").agg(cappedIds(col("id"), 1000))`. */
  def cappedIds(id: Column, cap: Int): Column =
    ExpressionUtils.column(
      CappedIdsAgg(ExpressionUtils.expression(id), cap).toAggregateExpression())
}
