package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Product-quantization trainer (Jégou et al., "Product Quantization for
 * Nearest Neighbor Search", TPAMI 2011) — the memory-side scale path for
 * embedding search that IVF (q54) does not cover: IVF prunes WHICH vectors
 * a query touches; PQ shrinks WHAT each touched vector costs, from
 * dim·4 bytes to M single-byte codes (64-dim float → 8 bytes here, 32×
 * smaller), with distances computed against per-query lookup tables
 * instead of raw vectors. At 100 TB of embeddings the two compose
 * (IVF-ADC): coarse cells prune the scan, codes make the scanned residue
 * fit in executor memory.
 *
 * Training is Lloyd's algorithm run in all M subspaces AT ONCE — the
 * per-iteration plan is deliberately NOT per-subspace loops:
 *  - assignment is ONE codegen pass over the corpus: the trained-so-far
 *    codebooks ship into [[graft.functions.PqEncode]] as a reference
 *    object, and every row's M argmin scans (M·K·dsub multiply-adds)
 *    run inside whole-stage codegen — no joins, no interpreted lambdas;
 *  - the update is ONE posexplode → hash aggregate keyed (m, k, pos):
 *    map-side partial combine reduces every task to ≤ M·K·dsub rows, so
 *    the shuffle carries O(tasks · M·K·dsub) doubles independent of
 *    corpus size, and only the M·K·dsub aggregated cells (1024 rows at
 *    the default geometry) ever reach the driver — control data, like
 *    the k-means centroids and q47 convergence counts.
 *
 * The per-iteration objective (mean squared reconstruction error UNDER
 * THE ASSIGNING codebook) falls out of the same aggregates for free:
 * Σ(x−c)² = Σx² − 2cΣx + n·c² per (m, k, pos) cell. Lloyd guarantees the
 * trace is monotone non-increasing (up to distributed-sum ulps); PqSpec
 * gates it. Seeds are the K lowest vec_ids' subvectors — deterministic,
 * no RNG (the driver's rerun-stability contract; same policy as KMeans).
 */
object Pq {

  /** Default geometry for the dim-64 fixture: 8 subspaces × 8 dims,
    * 16 codewords each → 8 codes ≤ 4 bits apiece per vector. */
  val M = 8
  val K = 16

  final case class Model(codebooks: Seq[Seq[Seq[Double]]], objective: Seq[Double])

  /**
   * Train on `vecs` (vec_id, emb: array&lt;double&gt; of dim M·dsub).
   * Callers pass unit-normalized vectors when code distances should rank
   * like cosine (‖a−b‖² = 2−2·cos for unit vectors).
   */
  def fit(vecs: DataFrame, iters: Int, m: Int = M, k: Int = K): Model = {
    val s = vecs.sparkSession
    import s.implicits._
    // Deterministic seeds: codeword j of subspace mi = that subvector of
    // the j-th lowest vec_id. k rows collected — control-plane data. The
    // dimension falls out of the same collect (a separate size() head()
    // was one more driver-sequenced job per fit).
    val seedRows = vecs.orderBy($"vec_id").limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("emb").toIndexedSeq)
    require(seedRows.nonEmpty, "pq fit needs a non-empty vector frame")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    var cb: Seq[Seq[Seq[Double]]] =
      (0 until m).map(mi => seedRows.toSeq.map(row =>
        (0 until dsub).map(d => row(mi * dsub + d))))
    val trace = scala.collection.mutable.ListBuffer.empty[Double]
    val nVec = vecs.count().toDouble
    for (_ <- 1 to iters) {
      // One codegen encode pass + one (m, k, pos)-keyed aggregate.
      val cells = vecs
        .select(VectorFunctions.pqEncode($"emb", cb).as("codes"),
          posexplode($"emb").as(Seq("i", "v")))
        .filter($"codes".isNotNull)
        .select(($"i" / dsub).cast("int").as("m"), ($"i" % dsub).as("pos"),
          element_at($"codes", ($"i" / dsub).cast("int") + 1).as("k"), $"v")
        .groupBy($"m", $"k", $"pos")
        // Coordinate sums ride e12 fixed-point (ORACLE.md rule 4): the
        // float Σv was the one partition-order-dependent step, and the
        // q130 oracle replays the identical Lloyd arithmetic (the
        // KMeans.fit discipline). svv stays float — it feeds only the
        // objective trace, which PqSpec gates with a tolerance.
        .agg(sum(expr("cast(floor(v * 1e12) as bigint)")
            .cast(DecimalType(38, 0))).as("sv"),
          sum($"v" * $"v").as("svv"), count(lit(1)).as("n"))
        .collect()
      def svd(r: org.apache.spark.sql.Row): Double =
        r.getAs[java.math.BigDecimal]("sv").doubleValue / 1e12
      // Objective under the ASSIGNING codebook, from the same aggregates.
      trace += cells.map { r =>
        val c = cb(r.getAs[Int]("m"))(r.getAs[Int]("k"))(r.getAs[Int]("pos"))
        r.getAs[Double]("svv") - 2.0 * c * svd(r) +
          r.getAs[Long]("n") * c * c
      }.sum / nVec
      // Mean update; cells no vector chose keep their old codeword so the
      // model always has exactly k codewords per subspace.
      val updated = cells.map { r =>
        (r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("pos")) ->
          (svd(r) / r.getAs[Long]("n"))
      }.toMap
      cb = cb.zipWithIndex.map { case (sub, mi) =>
        sub.zipWithIndex.map { case (cw, ki) =>
          cw.zipWithIndex.map { case (old, d) => updated.getOrElse((mi, ki, d), old) }
        }
      }
    }
    Model(cb, trace.toList)
  }
}
