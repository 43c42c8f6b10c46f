package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types._

/** Bounded bottom-k multiset of (h, v) pairs as two parallel primitive
  * arrays forming a MAX-heap on (h, v) — the root is the worst kept
  * pair, so the common case (row not in the bottom k) is one O(1)
  * root comparison and an accepted row is O(log k). No boxing, no
  * per-row encoder work — the per-group accumulator of
  * [[graft.operators.SampleQuantiles]]' bottom-k fold (hence
  * serializable).
  */
final class BottomKHeap(val k: Int) extends Serializable {
  val hs = new Array[Long](k)
  val vs = new Array[Double](k)
  var size = 0

  // (a) strictly before (b) in the (h asc, v asc) selection order
  @inline private def lt(ha: Long, va: Double, hb: Long, vb: Double): Boolean =
    ha < hb || (ha == hb && va < vb)

  private def swap(i: Int, j: Int): Unit = {
    val th = hs(i); hs(i) = hs(j); hs(j) = th
    val tv = vs(i); vs(i) = vs(j); vs(j) = tv
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && lt(hs((i - 1) / 2), vs((i - 1) / 2), hs(i), vs(i))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && lt(hs(m), vs(m), hs(l), vs(l))) m = l
      if (r < size && lt(hs(m), vs(m), hs(r), vs(r))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(h: Long, v: Double): Unit =
    if (size < k) {
      hs(size) = h; vs(size) = v; size += 1; siftUp(size - 1)
    } else if (lt(h, v, hs(0), vs(0))) {
      hs(0) = h; vs(0) = v; siftDown()
    }

  def mergeFrom(o: BottomKHeap): Unit = {
    var i = 0
    while (i < o.size) { insert(o.hs(i), o.vs(i)); i += 1 }
  }

  /** Slot indices of the kept pairs in (h asc, v asc) order. */
  def sortedSlots: Array[Int] =
    Array.range(0, size).sortWith((a, b) => lt(hs(a), vs(a), hs(b), vs(b)))
}

object BottomKPairsAgg {
  /** `bottom_k_id_pairs(h, id, k)` as an aggregate call: the k
    * smallest (h, id) pairs per group. The payload is a LONG, never an
    * id cast to double — a double is exact only to 2^53, so md5-derived
    * 60-bit ids would corrupt silently.
    */
  def bottomKIdPairs(h: Column, id: Column, k: Int): Column =
    SparkShims.column(
      BottomKIdPairsAgg(SparkShims.expression(h), SparkShims.expression(id), k)
        .toAggregateExpression())
}

/** [[BottomKHeap]] with a LONG payload slot — bit-exact for arbitrary
  * 64-bit ids (the double slot is exact only to 2^53). Same max-heap
  * on (h asc, v asc); v ties order as signed longs.
  */
final class BottomKLongHeap(val k: Int) {
  val hs = new Array[Long](k)
  val vs = new Array[Long](k)
  var size = 0

  @inline private def lt(ha: Long, va: Long, hb: Long, vb: Long): Boolean =
    ha < hb || (ha == hb && va < vb)

  private def swap(i: Int, j: Int): Unit = {
    val th = hs(i); hs(i) = hs(j); hs(j) = th
    val tv = vs(i); vs(i) = vs(j); vs(j) = tv
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && lt(hs((i - 1) / 2), vs((i - 1) / 2), hs(i), vs(i))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && lt(hs(m), vs(m), hs(l), vs(l))) m = l
      if (r < size && lt(hs(m), vs(m), hs(r), vs(r))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(h: Long, v: Long): Unit =
    if (size < k) {
      hs(size) = h; vs(size) = v; size += 1; siftUp(size - 1)
    } else if (lt(h, v, hs(0), vs(0))) {
      hs(0) = h; vs(0) = v; siftDown()
    }

  def mergeFrom(o: BottomKLongHeap): Unit = {
    var i = 0
    while (i < o.size) { insert(o.hs(i), o.vs(i)); i += 1 }
  }
}

/** Native bottom-k-of-(hash, id) aggregate — a `TypedImperativeAggregate`
  * over a primitive-array heap. The typed `Aggregator` route (q42's
  * MinKAgg) pays per-row encoder dispatch; this update path is a direct
  * child-eval + heap probe per row. The BIGINT payload round-trips
  * arbitrary longs bit-exactly instead of silently flattening ids above
  * 2^53 through an IEEE double.
  *
  * MULTISET semantics: duplicate pairs keep their multiplicity (the SQL
  * `row_number ≤ k` formulation an oracle replays keeps both copies
  * too); the bottom-k multiset of a multiset is order-independent, so
  * partial aggregation across arbitrary partitionings is deterministic.
  * NULL h or v rows are skipped (countDistinct-style semantics; engines
  * disagree on NULL sort position, so nulls cannot participate
  * portably).
  *
  * eval() returns array<struct<h bigint, v bigint>> sorted (h asc, v asc).
  */
case class BottomKIdPairsAgg(
    hChild: Expression,
    vChild: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BottomKLongHeap] {
  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(hChild, vChild)
  override def checkInputDataTypes(): TypeCheckResult =
    if (hChild.dataType == LongType && vChild.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bottom_k_id_pairs requires (BIGINT, BIGINT) children, got " +
        s"(${hChild.dataType.sql}, ${vChild.dataType.sql})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bottom_k_id_pairs"

  override def createAggregationBuffer(): BottomKLongHeap = new BottomKLongHeap(k)

  override def update(buf: BottomKLongHeap, input: InternalRow): BottomKLongHeap = {
    val h = hChild.eval(input)
    val v = vChild.eval(input)
    if (h != null && v != null)
      buf.insert(h.asInstanceOf[Long], v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BottomKLongHeap, other: BottomKLongHeap): BottomKLongHeap = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: BottomKLongHeap): Any = {
    val idx = Array.range(0, buf.size).sortWith { (a, b) =>
      buf.hs(a) < buf.hs(b) || (buf.hs(a) == buf.hs(b) && buf.vs(a) < buf.vs(b))
    }
    new GenericArrayData(
      idx.map(i => InternalRow(buf.hs(i), buf.vs(i))).asInstanceOf[Array[Any]])
  }

  override def serialize(buf: BottomKLongHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.hs(i)); bb.putLong(buf.vs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BottomKLongHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val heap = new BottomKLongHeap(k)
    var i = 0
    while (i < n) { heap.insert(bb.getLong, bb.getLong); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKIdPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKIdPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKIdPairsAgg =
    copy(hChild = newChildren(0), vChild = newChildren(1))
}
