package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Distributed spherical k-means (Lloyd iterations, cosine assignment) —
 * the trainer for an IVF coarse quantizer. q54's inverted file stands in
 * seed vectors for its cells; this produces *trained* cells with the same
 * assignment geometry (the codegen'd cosine expression), so the model
 * drops into the IVF build unchanged.
 *
 * Scale shape per iteration (the canonical k-means-on-Spark plan):
 *  - the k centroids broadcast (k·dim doubles — control-plane sized);
 *  - assignment is a broadcast nested-loop over k candidates reduced by
 *    GroupTopK's bounded heaps (top-1 per vector) — one row per vector
 *    crosses the exchange, and the corpus itself never shuffles wholesale;
 *  - the update is posexplode → (cell, pos) hash aggregate: partial
 *    map-side combine reduces every task to ≤ k·dim rows, so the shuffle
 *    carries O(tasks · k · dim), independent of corpus size;
 *  - only k·dim aggregated doubles ever reach the driver (control data,
 *    like the q47 convergence counts — never corpus rows).
 *
 * The assignment frame is pinned (graft.ops.Pin) because two actions
 * consume it per iteration (centroid update + objective); without the pin
 * the broadcast-join subtree would execute twice per round, and at
 * cluster scale a reliable checkpoint dir upgrades the pin for free.
 *
 * Determinism: STRUCTURAL since r8 — the centroid update sums e12
 * fixed-point integers (see fit), so the model is bit-identical under any
 * partitioning and any engine that replays the same arithmetic; q72
 * carries a full DuckDB oracle that unrolls the Lloyd rounds.
 */
object KMeans {

  /** cell id → centroid, plus the per-iteration mean(1 − cos) objective
    * trace (index 0 = under the seed centroids). */
  final case class Model(centroids: Seq[(Int, Seq[Double])], objective: Seq[Double])

  /** Nearest trained cell per vector: (vec_id, cell, cos). Ties break to
    * the lowest cell id, matching q54's inverted-file assignment. */
  def assign(e: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = broadcast(centroids.toDF("cent_id", "c_emb"))
    val scored = e.join(cents, lit(true))
      .withColumn("cos", VectorFunctions.cosine($"emb", $"c_emb"))
    graft.plans.GroupTopK(scored, Seq($"vec_id"), Seq($"cos".desc, $"cent_id".asc), 1)
      .select($"vec_id", $"cent_id".as("cell"), $"emb", $"cos")
  }

  /**
   * Lloyd iterations over `e` (vec_id, emb: array&lt;double&gt;). Seeds are
   * the k lowest vec_ids — deterministic, no RNG (randomness would break
   * the driver's rerun-stability contract; callers wanting k-means++ can
   * pass pre-picked seeds through a filtered frame instead).
   */
  def fit(e: DataFrame, k: Int, iters: Int): Model = {
    val s = e.sparkSession
    import s.implicits._
    var centroids: Seq[(Int, Seq[Double])] =
      e.orderBy($"vec_id").limit(k).collect()
        .zipWithIndex
        .map { case (r, i) => i -> r.getAs[scala.collection.Seq[Double]]("emb").toSeq }
        .toSeq
    val trace = scala.collection.mutable.ListBuffer.empty[Double]
    for (_ <- 1 to iters) {
      val assigned = Pin(assign(e, centroids))
      trace += assigned.agg(avg(lit(1.0) - $"cos")).as[Double].head()
      // Element-wise mean of the UNIT-NORMALIZED members per cell — the
      // spherical-k-means update. Averaging raw vectors is only the
      // cosine-objective minimizer when inputs happen to be unit-norm;
      // with mixed magnitudes it over-weights long vectors and the
      // objective can rise between iterations. Normalizing members makes
      // the mean direction the argmax of Σ cos(member, centroid), so the
      // monotone-objective gate in KMeansSpec holds for ANY input frame.
      // Zero-norm vectors carry no direction and are excluded from the
      // update (assign() already gives them NULL cosine). Empty cells
      // (possible when a seed attracts nothing) keep their old centroid
      // rather than vanish, so the model always has exactly k cells.
      // Member coordinates quantize to e12 fixed-point BEFORE the
      // distributed sum (ORACLE.md rule 4): a float Σv is partition-
      // order-dependent, an integer Σ is exact — so centroids are
      // bit-reproducible under ANY partitioning (upgrading the
      // probabilistic local[2]≡local[8] note below to structural) and
      // the q72 oracle can replay the identical Lloyd arithmetic. Sums
      // ride DECIMAL(38,0) (HUGEINT in the oracle — q231's LONG-wrap
      // rule); the 10⁻¹² grain is noise relative to any centroid move.
      val updated = assigned
        .withColumn("nrm", expr("sqrt(aggregate(emb, 0D, (a, x) -> a + x * x))"))
        .filter($"nrm" > 0.0)
        .select($"cell", posexplode(expr("transform(emb, x -> x / nrm)")).as(Seq("pos", "v")))
        .select($"cell", $"pos",
          expr("cast(floor(v * 1e12) as bigint)").cast(DecimalType(38, 0)).as("vq"))
        .groupBy($"cell", $"pos")
        .agg(sum($"vq").as("sv"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getAs[Int]("cell"))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getAs[Int]("pos"))
            .map(r => (r.getAs[java.math.BigDecimal]("sv").doubleValue / 1e12) /
              r.getAs[Long]("n")).toSeq
        }
      centroids = centroids.map { case (cell, old) =>
        cell -> updated.getOrElse(cell, old)
      }
    }
    trace += {
      val fin = assign(e, centroids)
      fin.agg(avg(lit(1.0) - $"cos")).as[Double].head()
    }
    Model(centroids, trace.toList)
  }
}
