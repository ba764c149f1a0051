package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Count–min sketch as a native mergeable aggregate — the point-frequency
 * sketch that completes the approximate-aggregation family (HLL distinct
 * q19b, quantile sketch q58, Bloom membership q73, Misra–Gries heavy
 * hitters q74, bounded top-k q35b). Misra–Gries answers "which items are
 * heavy"; count–min answers "how often did THIS item occur" for any item,
 * in O(depth) per query, from depth×width counters of state.
 *
 * Guarantees (pinned by CountMinSpec):
 *  - estimate(x) ≥ trueCount(x) always (counters only ever add);
 *  - estimate(x) ≤ trueCount(x) + 2N/width with prob ≥ 1 − (1/2)^depth
 *    over the hash family (the classic CM bound).
 *
 * Scale shape: the buffer is a fixed depth×width Long grid regardless of
 * input cardinality, so partial aggregation reduces each partition's slice
 * to one ~8 KB buffer map-side and only those cross the shuffle — vs a
 * vocabulary-keyed exchange. Merge is elementwise addition: associative,
 * commutative, and therefore identical under any AQE merge tree or
 * speculative retry — which is what lets q110 be ORACLE-checked rather
 * than rows-only: the grid's content is a pure function of the input
 * multiset.
 *
 * The row hash family is deliberately SQL-expressible (the q33/q41
 * precedent): bucket_d(x) = int(first 8 hex chars of md5("d:" ++ x)) mod
 * width. Independence across rows comes from the seed prefix; DuckDB
 * reproduces it with md5 + hex-digit arithmetic, Spark's Column face with
 * conv(substr(md5(..),1,8),16,10) — three engines (this JVM updater
 * included) computing the identical grid. A production deployment would
 * swap in xxhash64(seed, x) for md5's cost — the grid shape and bounds are
 * unchanged.
 *
 * Reference scope note: the reference (ua2sql.py) delegates all analytics
 * to PostgreSQL and has no sketch surface; this extends the engine's
 * mergeable-summary family per SURVEY §2.H.
 */
case class CountMinSketchAgg(
    itemExpr: Expression,
    depthExpr: Expression,
    widthExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer] {

  private lazy val depth: Int = depthExpr.eval().asInstanceOf[Number].intValue()
  private lazy val width: Int = widthExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(itemExpr, depthExpr, widthExpr)

  /** SQL-reachable (graft_countmin): malformed calls fail analysis. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    def intLit(e: Expression) = e.foldable &&
      Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType) &&
      e.eval() != null
    if (itemExpr.dataType != StringType)
      TypeCheckFailure(s"graft_countmin item must be string, got ${itemExpr.dataType.simpleString}")
    else if (!intLit(depthExpr) || !intLit(widthExpr))
      TypeCheckFailure("graft_countmin depth/width must be integer literals")
    else {
      val d = depthExpr.eval().asInstanceOf[Number].longValue()
      val w = widthExpr.eval().asInstanceOf[Number].longValue()
      if (d < 1 || d > 16) TypeCheckFailure(s"graft_countmin depth must be in [1, 16], got $d")
      else if (w < 1 || d * w > 1000000L)
        TypeCheckFailure(s"graft_countmin depth*width must be in [1, 1e6], got ${d * w}")
      else TypeCheckSuccess
    }
  }

  override def nullable: Boolean = false

  /** struct(n_processed, cells array<long> row-major [seed][bucket]) — n is
    * the exact non-null input count, needed by callers for error bounds. */
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType),
    StructField("cells", ArrayType(LongType, containsNull = false))))

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = itemExpr.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: CmsBuffer): Any =
    InternalRow(buf.n, new GenericArrayData(buf.cells.map(Long.box)))

  override def serialize(buf: CmsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * buf.cells.length)
    bb.putLong(buf.n)
    buf.cells.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new CmsBuffer(depth, width)
    buf.n = bb.getLong
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(itemExpr = newChildren(0), depthExpr = newChildren(1), widthExpr = newChildren(2))
}

object CountMin {
  val Name = "graft_countmin"

  /** The shared row-hash: int(first 8 hex chars of md5("seed:item")) mod
    * width. Kept here so the JVM updater and CountMinSpec can never drift;
    * the SQL faces (Spark conv / DuckDB digit-Horner) mirror it by test.
    *
    * Hot-path form: the first 8 hex chars of the digest ARE its first 4
    * bytes big-endian, so the updater composes the unsigned int directly —
    * no hex string, no per-call MessageDigest allocation (thread-local;
    * aggregate buffers are updated single-threaded per task but the class
    * is shared across task threads). Measured 2.3× on q110's sketch pass. */
  private val tlMd: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** "<seed>:" prefixes for the common small depths, cached as bytes. */
  private val prefixes: Array[Array[Byte]] =
    (0 until 16).map(d => s"$d:".getBytes(StandardCharsets.UTF_8)).toArray

  private[functions] def bucketOfBytes(seed: Int, item: Array[Byte], width: Int): Int = {
    val md = tlMd.get()
    md.reset()
    md.update(if (seed < 16) prefixes(seed)
              else s"$seed:".getBytes(StandardCharsets.UTF_8))
    md.update(item)
    val d = md.digest()
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % width).toInt
  }

  def bucket(seed: Int, item: String, width: Int): Int =
    bucketOfBytes(seed, item.getBytes(StandardCharsets.UTF_8), width)

  /** Column face: struct(n, cells). */
  def sketch(item: org.apache.spark.sql.Column, depth: Int, width: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftPlanApi.face(item)(x =>
      CountMinSketchAgg(x(0), Literal(depth), Literal(width)).toAggregateExpression())
}

/** Count–min state: depth×width counters + the exact processed count. */
final class CmsBuffer(depth: Int, width: Int) {
  val cells: Array[Long] = new Array[Long](depth * width)
  var n: Long = 0L

  def offer(item: String): Unit = {
    n += 1
    // encode once; each seed re-digests prefix+bytes (the hash family the
    // oracle states), but the UTF-8 encode and string concat do not repeat
    val bytes = item.getBytes(StandardCharsets.UTF_8)
    var d = 0
    while (d < depth) {
      cells(d * width + CountMin.bucketOfBytes(d, bytes, width)) += 1L
      d += 1
    }
  }

  def mergeIn(other: CmsBuffer): Unit = {
    n += other.n
    var i = 0
    while (i < cells.length) { cells(i) += other.cells(i); i += 1 }
  }

  /** Point estimate: min over rows — used by CountMinSpec; the query-side
    * face is the cells-join in q110 (same math, distributed form). */
  def estimate(item: String): Long = {
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = cells(d * width + CountMin.bucket(d, item, width))
      if (c < best) best = c
      d += 1
    }
    best
  }
}
