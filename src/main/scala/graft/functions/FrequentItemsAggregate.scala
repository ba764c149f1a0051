package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Misra–Gries frequent-items summary as a native mergeable aggregate —
 * the heavy-hitters sketch that closes the approximate-aggregation
 * family (HLL distinct q19b, quantile sketch q58, Bloom membership q73,
 * bounded top-k q35b).
 *
 * Guarantees (the classic MG bounds, pinned by FrequentItemsSpec):
 *  - sketchCount ∈ [trueCount − N/(cap+1), trueCount];
 *  - every item with trueCount > N/(cap+1) is IN the summary — no false
 *    negatives above the error floor, which is what makes the
 *    sketch-candidates → exact-verify pattern sound (q74).
 *
 * Scale shape: a TypedImperativeAggregate runs partial+final — every
 * partition reduces its slice to ≤ cap (item, count) entries map-side and
 * only those buffers cross the shuffle, vs a full (token → count) shuffle
 * whose key cardinality is the corpus vocabulary. The merge subtracts the
 * (cap+1)-th largest combined count (the standard MG merge), preserving
 * the error bound under any merge tree, so the result is safe under AQE
 * re-planning and speculative retries.
 */
case class FrequentItemsSketch(
    itemExpr: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqBuffer] {

  private lazy val cap: Int = capExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(itemExpr, capExpr)

  /** SQL-reachable (graft_freq_items): malformed calls fail analysis. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (itemExpr.dataType != StringType)
      TypeCheckFailure(s"graft_freq_items item must be string, got ${itemExpr.dataType.simpleString}")
    else if (!capExpr.foldable ||
        !Seq(ByteType, ShortType, IntegerType, LongType).contains(capExpr.dataType))
      TypeCheckFailure("graft_freq_items capacity must be an integer literal")
    else {
      val c = capExpr.eval()
      if (c == null || c.asInstanceOf[Number].longValue() < 1L ||
          c.asInstanceOf[Number].longValue() > 1000000L)
        TypeCheckFailure(s"graft_freq_items capacity must be in [1, 1e6], got $c")
      else TypeCheckSuccess
    }
  }

  override def nullable: Boolean = false

  /** struct(n_processed, entries array<struct<item, count>>) — n is the
    * exact non-null input count, needed by callers to size thresholds. */
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType),
    StructField("entries", ArrayType(
      StructType(Seq(StructField("item", StringType), StructField("count", LongType))),
      containsNull = false))))

  override def createAggregationBuffer(): FreqBuffer = new FreqBuffer(cap)

  override def update(buf: FreqBuffer, input: InternalRow): FreqBuffer = {
    val v = itemExpr.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: FreqBuffer, other: FreqBuffer): FreqBuffer = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: FreqBuffer): Any = {
    // count DESC, item ASC: a total order, so the array is deterministic
    // for a given buffer content.
    val sorted = buf.entries.toSeq.sortBy { case (item, c) => (-c, item) }
    InternalRow(buf.n, new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    }.toArray[Any]))
  }

  override def serialize(buf: FreqBuffer): Array[Byte] = {
    val items = buf.entries.toSeq
    val encoded = items.map { case (s, c) => (s.getBytes(StandardCharsets.UTF_8), c) }
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + encoded.map(_._1.length + 12).sum)
    bb.putLong(buf.n)
    bb.putInt(encoded.size)
    encoded.foreach { case (b, c) => bb.putInt(b.length); bb.put(b); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FreqBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new FreqBuffer(cap)
    buf.n = bb.getLong
    val size = bb.getInt
    var j = 0
    while (j < size) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentItemsSketch =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): FrequentItemsSketch =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(itemExpr = newChildren(0), capExpr = newChildren(1))
}

object FrequentItems {
  val Name = "graft_freq_items"

  /** Column face: struct(n, entries[(item, count)]). */
  def sketch(item: org.apache.spark.sql.Column, capacity: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftPlanApi.face(item)(x =>
      FrequentItemsSketch(x(0), Literal(capacity)).toAggregateExpression())
}

/** Misra–Gries state: ≤ cap counters + the exact processed count. */
final class FreqBuffer(cap: Int) {
  private val counts = scala.collection.mutable.HashMap.empty[String, Long]
  var n: Long = 0L

  def entries: Iterator[(String, Long)] = counts.iterator

  private[functions] def put(item: String, c: Long): Unit = counts(item) = c

  def offer(item: String): Unit = {
    n += 1
    counts.get(item) match {
      case Some(c) => counts(item) = c + 1
      case None if counts.size < cap => counts(item) = 1L
      case None =>
        // classic MG: a miss at capacity decrements every counter
        val dead = scala.collection.mutable.ListBuffer.empty[String]
        counts.foreach { case (k, v) =>
          if (v == 1L) dead += k else counts(k) = v - 1
        }
        dead.foreach(counts.remove)
    }
  }

  /** Standard MG merge: sum counters, then shrink back to cap by
    * subtracting the (cap+1)-th largest combined count from all (error
    * stays ≤ N/(cap+1) for the combined stream). */
  def mergeIn(other: FreqBuffer): Unit = {
    n += other.n
    other.counts.foreach { case (k, v) =>
      counts(k) = counts.getOrElse(k, 0L) + v
    }
    if (counts.size > cap) {
      val all = counts.values.toArray
      java.util.Arrays.sort(all)
      val sub = all(all.length - cap - 1) // (cap+1)-th largest
      val dead = scala.collection.mutable.ListBuffer.empty[String]
      counts.foreach { case (k, v) =>
        if (v - sub <= 0L) dead += k else counts(k) = v - sub
      }
      dead.foreach(counts.remove)
    }
  }
}
