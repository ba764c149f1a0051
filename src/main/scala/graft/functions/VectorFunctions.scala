package graft.functions

import org.apache.spark.sql.{Column, GraftPlanApi}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType}

/**
 * Cosine similarity as a native Catalyst expression with whole-stage
 * codegen — the hot inner loop of the similarity-search operators
 * (SURVEY.md §7.5). A Scala UDF here would box every array element and
 * break codegen; this compiles to a tight primitive loop inside the
 * generated stage, which is what makes brute-force scoring of millions of
 * candidate pairs viable per-executor at scale.
 *
 * Formula (pinned for oracle parity with DuckDB SQL):
 *   dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
 * accumulated sequentially in double over the element index, which matches
 * DuckDB's list_dot_product evaluation order bit-for-bit.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be array<double> (callers cast array<float> up);
  // AbstractDataType is private[sql], so no ImplicitCastInputTypes here.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${VectorFunctions.CosineName} expects array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // zero-norm or mismatched dims → null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // Mismatched dimensions are malformed data: return NULL (detectable
    // downstream) rather than a plausible-looking similarity over the
    // common prefix. The DuckDB oracle's list_dot_product errors here, so
    // silence would also be a parity divergence.
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = $a.getDouble($i);
         |    final double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Exact integer dot product over two array<bigint> columns as a native
 * codegen expression — the fixed-point sibling of [[CosineSimilarity]],
 * the hot inner loop of the dense tf-idf pair scan (q245). A per-element
 * Column chain (`(0 until v).map(i => a(i) * b(i)).reduce(_ + _)`) builds
 * a v-deep interpreted expression tree once it exceeds the codegen method
 * limits — measured ~10x slower across a docs² pair loop than this tight
 * primitive loop. Long addition is exact and associative, so unlike the
 * float folds there is no order-sensitivity to pin; callers guarantee the
 * no-overflow headroom (q245 asserts max|w|²·v < Long.Max at runtime).
 * Null on dimension mismatch, the CosineSimilarity convention.
 */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${VectorFunctions.LongDotName} expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true // dimension mismatch → null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Count of positions where BOTH array<bigint> inputs are positive — the
 * shared-term counter beside [[LongDotProduct]] (q245's n_shared). Exists
 * for the same reason: a 31-term CASE WHEN Column chain in the output
 * projection pushed the WHOLE pair stage out of whole-stage codegen
 * (generated-method size), turning the 12.5M-pair join loop interpreted
 * (measured 88 s vs ~1 s). Null on dimension mismatch.
 */
case class LongOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${VectorFunctions.OverlapName} expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true // dimension mismatch -> null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) > 0L && y.getLong(i) > 0L) c += 1L
      i += 1
    }
    java.lang.Long.valueOf(c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  long $c = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getLong($i) > 0L && $b.getLong($i) > 0L) $c++;
         |  }
         |  ${ev.value} = $c;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * TRUE iff any position of two array<bigint> BITMASK columns shares a set
 * bit (∃i: (a[i] & b[i]) ≠ 0) — the O(v/64) support-intersection test
 * under q256's in-loop prefix filter: each doc's feature support / indexed
 * set packs into ⌈v/64⌉ longs, and the candidate rule "x touches an
 * indexed feature of y" becomes this word-wise AND instead of a
 * materialized candidate join (measured 27 s → ~q245-parity at sf0.1; see
 * q256's regime note). Same codegen rationale as [[LongDotProduct]]: a
 * Column chain over 64 words would fall out of whole-stage codegen in the
 * docs²-pair loop. Null on dimension mismatch; short-circuits on the
 * first hit.
 */
case class LongAndAny(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${VectorFunctions.AndAnyName} expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = true // dimension mismatch -> null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if ((x.getLong(i) & y.getLong(i)) != 0L) return java.lang.Boolean.TRUE
      i += 1
    }
    java.lang.Boolean.FALSE
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hit = ctx.freshName("hit")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  boolean $hit = false;
         |  for (int $i = 0; $i < $n && !$hit; $i++) {
         |    $hit = ($a.getLong($i) & $b.getLong($i)) != 0L;
         |  }
         |  ${ev.value} = $hit;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Signed-random-projection signature as ONE native codegen pass: all
 * `planes.length` sign bits of ⟨emb, H_b⟩ packed into an int (bit b at
 * position bits−1−b, so band j of width w is `(sig >> (bits−w·(j+1))) & (2^w−1)`).
 *
 * Why an Expression and not higher-order functions: Catalyst's lambda HOFs
 * (`zip_with`/`aggregate`) evaluate interpreted — 16 lambda folds per row
 * stay outside whole-stage codegen, which is exactly the per-row hot path
 * an SRP sweep of a 100 TB corpus lives in. This compiles to a nested
 * primitive loop in the generated stage (the q121 operator's analog of
 * CosineSimilarity above).
 *
 * Each per-plane dot product accumulates sequentially over the element
 * index — the same left fold as CosineSimilarity and DuckDB's
 * list_dot_product — so sign decisions are bit-identical across engines
 * and the banded pair set replays exactly in the q121 oracle.
 *
 * Planes are a constructor constant (Seq for structural equality in plan
 * canonicalization), shipped into generated code via addReferenceObj.
 */
case class SrpSignature(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${VectorFunctions.SrpName} expects array<double> input, got ${other.simpleString}")
    }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true // dimension mismatch → null

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val dim = planeArr(0).length
    if (x.numElements() != dim) return null
    // A null ELEMENT nulls the whole signature — matching the zip_with/
    // aggregate formulation this expression is pinned against (null
    // propagates through the fold), not a silent read-as-0.0.
    var d0 = 0
    while (d0 < dim) { if (x.isNullAt(d0)) return null; d0 += 1 }
    var sig = 0
    var b = 0
    while (b < planeArr.length) {
      val p = planeArr(b)
      var dot = 0.0
      var d = 0
      while (d < dim) { dot += x.getDouble(d) * p(d); d += 1 }
      if (dot >= 0.0) sig |= 1 << (planeArr.length - 1 - b)
      b += 1
    }
    java.lang.Integer.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val sig = ctx.freshName("sig")
      val b = ctx.freshName("b")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val p = ctx.freshName("p")
      val dn = ctx.freshName("dn")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |if ($a.numElements() != $planesRef[0].length) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $hasNull = false;
         |  for (int $dn = 0; $dn < $a.numElements(); $dn++) {
         |    if ($a.isNullAt($dn)) { $hasNull = true; break; }
         |  }
         |  if ($hasNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    int $sig = 0;
         |    for (int $b = 0; $b < $planesRef.length; $b++) {
         |      final double[] $p = $planesRef[$b];
         |      double $dot = 0.0;
         |      for (int $d = 0; $d < $p.length; $d++) {
         |        $dot += $a.getDouble($d) * $p[$d];
         |      }
         |      if ($dot >= 0.0) { $sig |= 1 << ($planesRef.length - 1 - $b); }
         |    }
         |    ${ev.value} = $sig;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Product-quantization encoder as ONE native codegen pass: split the input
 * vector into `M = codebooks.length` contiguous subspaces of
 * `dsub = codebooks(m)(k).length` dims and emit, per subspace, the index of
 * the squared-L2-nearest codeword (ties → lowest index) — the M-byte code
 * that stands in for the full vector in asymmetric-distance search (q130).
 *
 * Same rationale as [[SrpSignature]]: the encode is the per-row hot path of
 * a corpus-wide sweep (M·K·dsub = 1024 multiply-adds per row at the default
 * 8×16×8 geometry), and HOF lambdas would run it interpreted. Codebooks are
 * a constructor constant (Seq-of-Seq for structural equality under plan
 * canonicalization), shipped into the generated code via addReferenceObj.
 */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def dim: Int = codebooks.length * codebooks.head.head.length

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${VectorFunctions.PqEncodeName} expects array<double> input, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true // dimension mismatch / null element → null

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return null
    var d0 = 0
    while (d0 < dim) { if (x.isNullAt(d0)) return null; d0 += 1 }
    val m = cbArr.length
    val dsub = cbArr(0)(0).length
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val cb = cbArr(mi)
      var best = 0
      var bestD = Double.PositiveInfinity
      var k = 0
      while (k < cb.length) {
        val cw = cb(k)
        var dist = 0.0
        var d = 0
        while (d < dsub) {
          val diff = x.getDouble(mi * dsub + d) - cw(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = k }
        k += 1
      }
      codes(mi) = best
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cbArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, a => {
      val dimV = ctx.freshName("dim")
      val dn = ctx.freshName("dn")
      val hasNull = ctx.freshName("hasNull")
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val dsub = ctx.freshName("dsub")
      val cb = ctx.freshName("cb")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val k = ctx.freshName("k")
      val cw = ctx.freshName("cw")
      val dist = ctx.freshName("dist")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |final int $dsub = $cbRef[0][0].length;
         |final int $dimV = $cbRef.length * $dsub;
         |if ($a.numElements() != $dimV) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $hasNull = false;
         |  for (int $dn = 0; $dn < $dimV; $dn++) {
         |    if ($a.isNullAt($dn)) { $hasNull = true; break; }
         |  }
         |  if ($hasNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    final int[] $codes = new int[$cbRef.length];
         |    for (int $mi = 0; $mi < $cbRef.length; $mi++) {
         |      final double[][] $cb = $cbRef[$mi];
         |      int $best = 0;
         |      double $bestD = Double.POSITIVE_INFINITY;
         |      for (int $k = 0; $k < $cb.length; $k++) {
         |        final double[] $cw = $cb[$k];
         |        double $dist = 0.0;
         |        for (int $d = 0; $d < $dsub; $d++) {
         |          final double $diff = $a.getDouble($mi * $dsub + $d) - $cw[$d];
         |          $dist += $diff * $diff;
         |        }
         |        if ($dist < $bestD) { $bestD = $dist; $best = $k; }
         |      }
         |      $codes[$mi] = $best;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Squared euclidean distance to the NEAREST of a set of literal centers,
 * min over c of Σᵢ (xᵢ − cᵢ)², as one native codegen pass: q270's
 * farthest-point round projection and q150's centred ‖x − μ‖² (one center).
 *
 * Replaces `least(d2(c₁), …, d2(c_k))` built as a Column fold of
 * (emb[i] − lit)² terms: ~770 expression nodes per center, with new
 * literals every greedy round, so each round was analyzed, optimized and
 * code-generated from scratch. Here the centers are a constructor constant
 * (Seq-of-Seq for structural equality) shipped into the generated code via
 * addReferenceObj, so every round generates the same source.
 *
 * The arithmetic is the fold's, bit for bit: each distance accumulates left
 * to right from term 0 (not 0.0 + term 0), term i being (xᵢ − cᵢ)·(xᵢ − cᵢ);
 * the minimum keeps the earlier center unless a later distance compares
 * strictly smaller under Spark's double ordering (NaN above every number),
 * which is how `least` folds. Null when any element is null (the fold's
 * null propagation) or the length differs from the centers' (the
 * CosineSimilarity convention; the fold reads a prefix of an over-long
 * array and nulls or fails on a short one).
 */
case class MinSqDist(child: Expression, centers: Seq[Seq[Double]])
    extends UnaryExpression {

  require(centers.nonEmpty && centers.head.nonEmpty &&
    centers.forall(_.length == centers.head.length),
    s"${VectorFunctions.MinSqDistName} needs non-empty centers of one dimension")

  @transient private lazy val centerArr: Array[Array[Double]] =
    centers.map(_.toArray).toArray

  override def prettyName: String = VectorFunctions.MinSqDistName

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<double> input, got ${other.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // dimension mismatch / null element → null

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val dim = centerArr(0).length
    if (x.numElements() != dim) return null
    var d0 = 0
    while (d0 < dim) { if (x.isNullAt(d0)) return null; d0 += 1 }
    var best = 0.0
    var k = 0
    while (k < centerArr.length) {
      val c = centerArr(k)
      var t = x.getDouble(0) - c(0)
      var acc = t * t
      var i = 1
      while (i < dim) { t = x.getDouble(i) - c(i); acc += t * t; i += 1 }
      if (k == 0 || SQLOrderingUtil.compareDoubles(best, acc) > 0) best = acc
      k += 1
    }
    java.lang.Double.valueOf(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("minSqDistCenters", centerArr, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim")
      val bad = ctx.freshName("bad")
      val best = ctx.freshName("best")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |final int $dim = $cRef[0].length;
         |boolean $bad = $a.numElements() != $dim;
         |for (int $i = 0; !$bad && $i < $dim; $i++) { $bad = $a.isNullAt($i); }
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $best = 0.0;
         |  for (int $k = 0; $k < $cRef.length; $k++) {
         |    final double[] $c = $cRef[$k];
         |    double $t = $a.getDouble(0) - $c[0];
         |    double $acc = $t * $t;
         |    for (int $i = 1; $i < $dim; $i++) {
         |      $t = $a.getDouble($i) - $c[$i];
         |      $acc += $t * $t;
         |    }
         |    if ($k == 0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($best, $acc) > 0) {
         |      $best = $acc;
         |    }
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Centred projection Σᵢ (xᵢ − μᵢ)·vᵢ onto one literal vector, as one native
 * codegen pass: the PCA coordinate of q140 (projection), q150
 * (reconstruction audit) and q275 (whitening). Replaces the 64-term Column
 * fold of (emb[i] − lit(μᵢ)) * lit(vᵢ); μ and v are constructor constants
 * shipped into the generated code via addReferenceObj.
 *
 * The arithmetic is the fold's, bit for bit: left to right from term 0 (not
 * 0.0 + term 0, which would turn an all-(−0.0) sum into +0.0), term i being
 * (xᵢ − μᵢ)·vᵢ in that operand order. Null on a null element or a length
 * that differs from μ's (see [[MinSqDist]]).
 */
case class CenteredDot(child: Expression, mu: Seq[Double], v: Seq[Double])
    extends UnaryExpression {

  require(mu.nonEmpty && mu.length == v.length,
    s"${VectorFunctions.CenteredDotName} needs non-empty mu and v of one dimension")

  @transient private lazy val muArr: Array[Double] = mu.toArray
  @transient private lazy val vArr: Array[Double] = v.toArray

  override def prettyName: String = VectorFunctions.CenteredDotName

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<double> input, got ${other.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // dimension mismatch / null element → null

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val dim = muArr.length
    if (x.numElements() != dim) return null
    var d0 = 0
    while (d0 < dim) { if (x.isNullAt(d0)) return null; d0 += 1 }
    var acc = (x.getDouble(0) - muArr(0)) * vArr(0)
    var i = 1
    while (i < dim) { acc += (x.getDouble(i) - muArr(i)) * vArr(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("centeredDotMu", muArr, "double[]")
    val vRef = ctx.addReferenceObj("centeredDotV", vArr, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim")
      val bad = ctx.freshName("bad")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |final int $dim = $muRef.length;
         |boolean $bad = $a.numElements() != $dim;
         |for (int $i = 0; !$bad && $i < $dim; $i++) { $bad = $a.isNullAt($i); }
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = ($a.getDouble(0) - $muRef[0]) * $vRef[0];
         |  for (int $i = 1; $i < $dim; $i++) {
         |    $acc += ($a.getDouble($i) - $muRef[$i]) * $vRef[$i];
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {

  val CosineName = "graft_cosine"
  val LongDotName = "graft_ldot"
  val OverlapName = "graft_loverlap"
  val TopKName = "graft_topk"
  val SrpName = "graft_srp_sig"
  val AndAnyName = "graft_land_any"
  val PqEncodeName = "graft_pq_encode"
  val MinSqDistName = "min_sqdist"
  val CenteredDotName = "centered_dot"

  /** Default SRP geometry: 16 sign bits over dim-64 embeddings (the
    * fixture contract, pinned in FixtureSchemaSpec). */
  val SrpBits = 16
  val SrpDim = 64

  /** Hyperplane component H[b][d]: md5("srp<b>:<d>") → first 8 hex chars →
    * uniform in [−1, 1). v/2³¹ and the −1 shift are exact dyadic steps, so
    * DuckDB's digit-wise reconstruction of the same md5 hex yields the
    * identical double. (A reproducible hash family, not an RNG — same
    * rationale as the md5-derived simhash in DedupQueries.) */
  def srpUnit(b: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"srp$b:$d".getBytes("UTF-8"))
      .map(x => f"${x & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) / 2147483648.0 - 1.0
  }

  /** The default plane family for [[SrpSignature]]. */
  lazy val srpPlanes: Seq[Seq[Double]] =
    (0 until SrpBits).map(b => (0 until SrpDim).map(d => srpUnit(b, d)))

  /** Column-API face of [[CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column =
    GraftPlanApi.face(a, b)(x => CosineSimilarity(x(0), x(1)))

  /** Column-API face of [[LongDotProduct]]. */
  def ldot(a: Column, b: Column): Column =
    GraftPlanApi.face(a, b)(x => LongDotProduct(x(0), x(1)))

  /** Column-API face of [[LongOverlapCount]]. */
  def loverlap(a: Column, b: Column): Column =
    GraftPlanApi.face(a, b)(x => LongOverlapCount(x(0), x(1)))

  /** Column-API face of [[LongAndAny]]. */
  def landAny(a: Column, b: Column): Column =
    GraftPlanApi.face(a, b)(x => LongAndAny(x(0), x(1)))

  /** Column-API face of [[TopKPairs]]: array of (score,id) structs,
    * best-first. */
  def topk(score: Column, id: Column, k: Int): Column =
    GraftPlanApi.face(score, id)(x => TopKPairs(x(0), x(1), Literal(k)).toAggregateExpression())

  /** Column-API face of [[SrpSignature]] over the default plane family. */
  def srpSig(emb: Column): Column =
    GraftPlanApi.face(emb)(x => SrpSignature(x(0), srpPlanes))

  /** Column-API face of [[PqEncode]]. Codebooks are TRAINED per corpus
    * (ops/Pq), so they are per-call data held by the expression. */
  def pqEncode(emb: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftPlanApi.face(emb)(x => PqEncode(x(0), codebooks))

  /** Column-API face of [[MinSqDist]]; the centers are per-call data (a
    * greedy round's picks, a fixture's mean). */
  def minSqDist(emb: Column, centers: Seq[Seq[Double]]): Column =
    GraftPlanApi.face(emb)(x => MinSqDist(x(0), centers))

  /** Column-API face of [[CenteredDot]]. */
  def centeredDot(emb: Column, mu: Seq[Double], v: Seq[Double]): Column =
    GraftPlanApi.face(emb)(x => CenteredDot(x(0), mu, v))
}
