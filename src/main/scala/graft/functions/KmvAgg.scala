package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** K-Minimum-Values distinct-count sketch as a TypedImperativeAggregate.
  *
  * Input: one uniformly-hashed int64 per row. State: the `k` smallest
  * DISTINCT hash values seen so far (a bounded sorted set — at most `k`
  * longs regardless of input size). Output: that set as an ascending
  * array<long>.
  *
  * The consumer derives the Beta/KMV estimate `(k-1)·H / sketch[k-1]`
  * (H = the hash range) when the array is full, or uses `size(sketch)`
  * as the exact count when fewer than `k` distinct values exist. Both
  * branches are a pure function of the distinct hash SET — independent
  * of row order, duplication, and partitioning — so the result is
  * bit-identical across engines that hash identically (t19 pairs this
  * with a 48-bit md5 prefix both Spark and DuckDB can compute).
  *
  * Why an aggregate and not `sort_array(collect_set(h))[0..k]`: the
  * whole point of KMV at 100 TB is that the shuffle carries one ≤k-long
  * sketch per (partition, group) — a `collect_set` materializes the full
  * distinct set per group before truncation, which is exactly the
  * count-distinct cost the sketch exists to avoid. Partial (map-side)
  * aggregation and `merge` make the sketch associatively combinable,
  * which is also what an incremental rollup needs: union of
  * sketches = sketch of union (pinned by KmvAggSpec's merge law).
  *
  * Correctness of the bounded insert: a new value is rejected only when
  * the set already holds `k` distinct values all strictly smaller — so
  * no member of the true k-minimum set is ever rejected, in any arrival
  * order (KmvAggSpec property-tests this against brute force).
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2, s"kmv needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"kmv expects an integral hash, got ${t.sql}")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    KmvAgg.insert(buf, k, h)

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other => other.asInstanceOf[Long]
      }
      insert(buf, h)
    }
    buf
  }

  override def merge(
      a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next().longValue())
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new java.util.TreeSet[java.lang.Long]()
    while (bb.hasRemaining) buf.add(bb.getLong)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "kmv"
}

object KmvAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column API: `kmv(h, 64)` → ascending array<long> of the 64 smallest
    * distinct hashes. */
  def apply(h: Column, k: Int): Column =
    Bridge.column(KmvAgg(Bridge.expression(h), k).toAggregateExpression())

  /** The bounded distinct-min-k insert rule — one definition shared by
    * the aggregate's update and merge. */
  private[graft] def insert(
      buf: java.util.TreeSet[java.lang.Long], k: Int, h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last) {
      // strictly smaller than the current k-th minimum: evict the max.
      // TreeSet.add dedupes, so only shrink on a genuine insertion.
      if (buf.add(h)) { buf.pollLast(); () }
    }
  }
}
