package graft.functions

import org.apache.spark.sql.{Column, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/**
 * 128-bit byte-gram SimHash of a binary payload as a native codegen'd
 * Catalyst expression — the signature step of perceptual-hash near-dup
 * (q89) computed in ONE pass over each row's bytes.
 *
 * The previous formulation exploded every sliding 4-byte gram into its
 * own row (~payload-size rows per document), hashed each, and folded 128
 * signed-bit SUM aggregate columns back per doc — a corpus-bytes-sized
 * explode plus a 128-buffer aggregation, all before the candidate join
 * even starts. But the signature is a pure PER-ROW function of the
 * payload: this expression runs the identical gram/hash/counter loop as
 * compiled JVM code inside the projection, so signature computation
 * needs no extra rows, no shuffle, and no aggregate state, and scales as
 * a map-only pass (the first shuffle of q89 is now the candidate join
 * itself, which is where it belongs).
 *
 * Bit-compatibility is pinned to the MD5 family (the q33 convention,
 * r6's engine-hash→md5 move): the gram hash is MD5 of the gram's 4
 * bytes, whose 128-bit digest supplies ALL 128 counter bits at once —
 * counter bit b reads bit (b % 4) of hex digit b/4 of the digest
 * (digit 0 = the first hex char = the high nibble of digest byte 0),
 * exactly the digit/bit convention q33's simhashDocs uses. MD5 is
 * engine-portable, so q89 carries a FULL DuckDB oracle that recomputes
 * every signature from scratch and takes the exhaustive all-pairs
 * Hamming ≤ 7 set — a hash match also re-proves the pigeonhole
 * candidate join's completeness on every run (MultimodalSpec pins the
 * same exhaustive equality in-JVM).
 */
case class PHash128(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${PHashFunctions.Name} expects binary input, got ${child.dataType.simpleString}")

  /** Two 64-bit words, word 1 = bits [0, 64). */
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    PHashFunctions.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // The loop lives in a static helper: codegen stays one call, the hot
    // path is JIT-compiled once, and eval/codegen share one definition.
    defineCodeGen(ctx, ev, p => s"graft.functions.PHashFunctions.compute($p)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PHashFunctions {

  val Name = "graft_phash128"

  // MessageDigest is stateful and not thread-safe; codegen calls this
  // static helper from every executor thread, so each thread keeps one
  // reusable instance (digest() resets it between grams).
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One pass: for each sliding 4-byte gram, digest = MD5(gram);
    * accumulate 128 signed bit counters — counter b reads bit (b % 4)
    * of hex digit b/4 (digit 2i = high nibble of digest byte i, digit
    * 2i+1 = low nibble; the q33 digit order) — then pack counter>0
    * into two words, word 0 = counters [0, 64) (digest bytes 0–7).
    * Payloads shorter than one gram yield the all-zero signature
    * (callers filter them out to match the no-gram-no-signature
    * contract). */
  def compute(p: Array[Byte]): ArrayData = {
    val cnt = new Array[Int](128)
    val md = localMd.get()
    val last = p.length - 4
    var i = 0
    while (i <= last) {
      md.update(p, i, 4)
      val d = md.digest()
      var q = 0
      while (q < 32) {
        val digit =
          if ((q & 1) == 0) (d(q >> 1) >> 4) & 0xF else d(q >> 1) & 0xF
        var r = 0
        while (r < 4) {
          cnt((q << 2) + r) += (if (((digit >> r) & 1) == 1) 1 else -1)
          r += 1
        }
        q += 1
      }
      i += 1
    }
    var w0 = 0L
    var w1 = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) w0 |= (1L << b)
      if (cnt(64 + b) > 0) w1 |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(w0, w1))
  }

  /** Column-API face. */
  def phash128(payload: Column): Column = GraftPlanApi.face(payload)(x => PHash128(x(0)))
}
