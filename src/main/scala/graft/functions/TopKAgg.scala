package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native per-group top-k aggregate (TypedImperativeAggregate).
  *
  * Keeps the k largest (value, id) pairs per group — value descending, id
  * ascending on ties — with a bounded sorted buffer. Unlike
  * `row_number() OVER (...) <= k`, which sorts every group's full row set
  * after the shuffle, this aggregates map-side: each task ships at most k
  * pairs per group, so shuffle volume is O(groups x k) regardless of input
  * size — the difference between a top-3-per-key on 100 TB fitting in
  * memory or not.
  */
case class TopK(valueExpr: Expression, idExpr: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Double, Long)]] {

  // ordering: "smaller" = better rank = (higher value, lower id)
  private val ord: Ordering[(Double, Long)] =
    Ordering.by { case (v, id) => (-v, id) }

  override def createAggregationBuffer(): mutable.TreeSet[(Double, Long)] =
    mutable.TreeSet.empty(ord)

  override def update(buf: mutable.TreeSet[(Double, Long)],
      input: InternalRow): mutable.TreeSet[(Double, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      buf += ((v.asInstanceOf[Double], id.asInstanceOf[Long]))
      if (buf.size > k) buf -= buf.last
    }
    buf
  }

  override def merge(b1: mutable.TreeSet[(Double, Long)],
      b2: mutable.TreeSet[(Double, Long)]): mutable.TreeSet[(Double, Long)] = {
    b1 ++= b2
    while (b1.size > k) b1 -= b1.last
    b1
  }

  override def eval(buf: mutable.TreeSet[(Double, Long)]): Any =
    new GenericArrayData(buf.toSeq.map { case (v, id) =>
      InternalRow(id, v)
    }.toArray[Any])

  override def serialize(buf: mutable.TreeSet[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (v, id) => out.writeDouble(v); out.writeLong(id) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach(_ => buf += ((in.readDouble(), in.readLong())))
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
}

/** [[TopK]] over exact INT64 values — the ADC ranking form (optimization
  * round 2, guide §2.3): the portable PQ/IVFADC scores are exact 64-bit
  * integers by contract (that exactness is the whole point of the 1e-6 /
  * dyadic grids), so ranking them through the Double-valued [[TopK]]
  * would silently round past 2^53. Same bounded buffer, same (value
  * desc, id asc) order as the `row_number` window it replaces — but
  * map-side partial: each task ships at most k (adc, nid) pairs per qid
  * instead of every scored candidate crossing the exchange into a sort. */
case class TopKLong(valueExpr: Expression, idExpr: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Long, Long)]] {

  // value desc, id asc — compared, not negated: -Long.MinValue overflows
  private val ord: Ordering[(Long, Long)] = (a, b) => {
    val byValue = java.lang.Long.compare(b._1, a._1)
    if (byValue != 0) byValue else java.lang.Long.compare(a._2, b._2)
  }

  override def createAggregationBuffer(): mutable.TreeSet[(Long, Long)] =
    mutable.TreeSet.empty(ord)

  override def update(buf: mutable.TreeSet[(Long, Long)],
      input: InternalRow): mutable.TreeSet[(Long, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      buf += ((v.asInstanceOf[Long], id.asInstanceOf[Long]))
      if (buf.size > k) buf -= buf.last
    }
    buf
  }

  override def merge(b1: mutable.TreeSet[(Long, Long)],
      b2: mutable.TreeSet[(Long, Long)]): mutable.TreeSet[(Long, Long)] = {
    b1 ++= b2
    while (b1.size > k) b1 -= b1.last
    b1
  }

  override def eval(buf: mutable.TreeSet[(Long, Long)]): Any =
    new GenericArrayData(buf.toSeq.map { case (v, id) =>
      InternalRow(id, v)
    }.toArray[Any])

  override def serialize(buf: mutable.TreeSet[(Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (v, id) => out.writeLong(v); out.writeLong(id) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach(_ => buf += ((in.readLong(), in.readLong())))
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("value", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, idExpr)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKAgg {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column form: array of the k largest (id, value) structs, ranked. */
  def topK(value: Column, id: Column, k: Int): Column =
    column(TopK(expression(value), expression(id), k).toAggregateExpression())

  /** [[topK]] over exact int64 values (see [[TopKLong]]). */
  def topKLong(value: Column, id: Column, k: Int): Column =
    column(TopKLong(expression(value), expression(id), k)
      .toAggregateExpression())
}
