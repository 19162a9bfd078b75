package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst aggregate: SimHash bit votes in one pass.
  *
  * The declarative formulation needs `bits` separate SUM(CASE...)
  * columns (one buffer slot per bit through the whole agg pipeline);
  * this imperative aggregate keeps all vote counters in one primitive
  * long array, updates them in a single loop per row, merges partials
  * elementwise (map-side combine preserved), and emits the final
  * signature. Bit semantics identical: vote_i += cnt if bit i of the
  * token hash is set else -cnt; signature bit i = 1 iff vote_i > 0.
  */
case class SimHashAgg(
    hash: Expression,
    cnt: Expression,
    bits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(hash, cnt)

  override def nullable: Boolean = false

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val h = hash.eval(input).asInstanceOf[Long]
    val c = cnt.eval(input).asInstanceOf[Long]
    var i = 0
    while (i < bits) {
      buf(i) += (if (((h >> i) & 1L) == 1L) c else -c)
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bits) {
      a(i) += b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (buf(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bits * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bits)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(hash = newChildren(0), cnt = newChildren(1))
}
