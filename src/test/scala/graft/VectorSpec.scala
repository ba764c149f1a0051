package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** The native cosine Catalyst expression: values, nulls, codegen path. */
class VectorSpec extends AnyFunSuite with SparkSuite {

  private def cos(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    import spark.implicits._
    val r = Seq((a, b)).toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b").as("c"))
      .collect().head
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("orthogonal → 0, parallel → 1, antiparallel → -1") {
    assert(cos(Seq(1, 0), Seq(0, 1)).get === 0.0)
    assert(math.abs(cos(Seq(1, 2, 3), Seq(2, 4, 6)).get - 1.0) < 1e-12)
    assert(math.abs(cos(Seq(1, 0), Seq(-2, 0)).get + 1.0) < 1e-12)
  }

  test("zero-norm input yields null, not NaN") {
    assert(cos(Seq(0, 0), Seq(1, 1)) === None)
  }

  test("known value: cos([1,2],[3,4]) = 11/(sqrt(5)*sqrt(25))") {
    val expected = 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))
    assert(math.abs(cos(Seq(1, 2), Seq(3, 4)).get - expected) < 1e-15)
  }

  test("float-array fixture path: self-cosine is 1") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding").cast(ArrayType(DoubleType)).as("emb"))
      .limit(5)
    val vals = e.select(VectorFunctions.cosine(col("emb"), col("emb")).as("c"))
      .collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("semdedup matches an exhaustive assignment + within-cell scan") {
    // Sequential-fold cosine — the same evaluation order as the codegen'd
    // expression, so the doubles (and thus every threshold/argmax decision)
    // are bit-identical.
    def bcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("emb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cents = embs.filter(_._1 < 16)
    def cellOf(v: Array[Double]): Long =
      cents.map { case (cid, c) => (cid, bcos(v, c)) }
        .maxBy { case (cid, s) => (s, -cid) }._1 // ties → lowest cent_id
    val cells = embs.map { case (id, v) => id -> cellOf(v) }.toMap
    val truth = embs.map { case (id, v) =>
      val dupOf = embs.filter { case (o, w) =>
        o < id && cells(o) == cells(id) && bcos(v, w) >= 0.40
      }.map(_._1).minOption
      (id, cells(id), if (dupOf.isEmpty) 1L else 0L, dupOf)
    }.toSet
    val q82 = graft.ops.SimilarityQueries.extraQueries("q82_semdedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(q82 === truth)
    assert(truth.exists(_._3 == 0L), "fixture should contain semantic duplicates")
  }

  test("TopKPairs keeps the k best with deterministic tie order") {
    import spark.implicits._
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 5L), (1L, 0.1, 1L), (1L, 0.5, 7L),
      (2L, 0.3, 2L)
    ).toDF("g", "score", "id")
    val got = df.groupBy($"g")
      .agg(VectorFunctions.topk($"score", $"id", 2).as("top"))
      .orderBy($"g")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getDouble(0), p.getLong(1))))
      .toMap
    assert(got(1L) === Seq((0.9, 5L), (0.9, 10L))) // tie → smaller id first
    assert(got(2L) === Seq((0.3, 2L)))             // fewer than k rows ok
  }

  test("aggregate top-k equals window top-k on the fixture") {
    val window = graft.ops.SimilarityQueries.queries("q35_ann_topk")(spark, sf0001)
      .collect().toSeq
    val agg = graft.ops.SimilarityQueries.queries("q35b_ann_topk_agg")(spark, sf0001)
      .collect().toSeq
    assert(agg === window)
  }

  test("IVF ANN is well-formed and recall vs exact top-k is recorded") {
    val exact = graft.ops.SimilarityQueries.queries("q35_ann_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.ops.SimilarityQueries.extraQueries("q54_ann_ivf")(spark, sf0001)
      .collect()
    // well-formed: ranks 1..k per query, no self-matches
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to rows.length).toSeq)
    }
    ivf.foreach(r => assert(r.getLong(2) !== r.getLong(0)))
    val hits = ivf.map(r => (r.getLong(0), r.getLong(2))).count(exact.contains)
    val recall = hits.toDouble / exact.size
    info(f"IVF recall@5 vs exact: $recall%.3f")
    // This fixture's weak-similarity regime (top neighbors at cos 0.3-0.5)
    // is hostile to space partitioning — see COVERAGE.md. The assertion
    // pins a floor so a regression to near-random candidates fails loudly.
    assert(recall >= 0.4, f"IVF recall collapsed: $recall%.3f")
  }

  test("PqEncode expression equals an interpreted argmin recomputation (exhaustive)") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val model = graft.ops.Pq.fit(e, iters = 1)
    val cb = model.codebooks.map(_.map(_.toArray).toArray).toArray
    val dsub = cb(0)(0).length
    val got = e.select($"vec_id", VectorFunctions.pqEncode($"emb", model.codebooks).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val raw = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    raw.foreach { case (id, emb) =>
      val want = cb.indices.map { m =>
        val dists = cb(m).map { cw =>
          var s = 0.0; var d = 0
          while (d < dsub) { val df = emb(m * dsub + d) - cw(d); s += df * df; d += 1 }
          s
        }
        dists.indexOf(dists.min) // first minimum = lowest-index tie-break
      }
      assert(got(id) === want, s"codes diverge for vec $id")
    }
    // mismatched dimension → null, not a prefix encoding
    val bad = Seq(Seq(1.0, 2.0)).toDF("emb")
      .select(VectorFunctions.pqEncode($"emb", model.codebooks).as("c")).head()
    assert(bad.isNullAt(0))
  }

  // ------------------------------------ literal-vector kernels (q270, PCA)

  /** Whole-stage codegen, then fully interpreted expression evaluation
    * (`nullSafeEval`); the ANSI flag is the caller's. */
  private val kernelModes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("MinSqDist and CenteredDot equal the unrolled Column folds bit for bit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val d = 64
    val rnd = new scala.util.Random(270)
    def vec(scale: Double) = Array.fill(d)(rnd.nextGaussian() * scale)
    val c0 = vec(1.0)
    val c1 = vec(0.5)
    val nanCenter = vec(1.0).updated(5, Double.NaN)
    // c0 twice: every row ties exactly between centers 0 and 2; the NaN
    // center probes least()'s ordering (NaN above every number).
    val centerSets = Seq(Seq(c0.toSeq), Seq(c0.toSeq, c1.toSeq, c0.toSeq),
      Seq(nanCenter.toSeq, c1.toSeq), Seq(c1.toSeq, nanCenter.toSeq))
    val mu = vec(0.3).updated(0, 0.0).updated(1, 0.0)
    val v = vec(1.0)
    val vNeg = v.map(x => -math.abs(x) - 1e-3)
    // x = μ with an all-negative v makes every term −0.0: the fold seeded
    // with term 0 sums to −0.0, a 0.0-seeded loop would give +0.0.
    val negZeroRow = mu.clone()
    val rows: Seq[(Long, Seq[Any])] =
      (0 until 40).map(i => i.toLong -> vec(if (i % 2 == 0) 1.0 else 1e-3).toSeq) ++ Seq(
        100L -> c0.toSeq,                                       // distance 0, exact tie
        101L -> negZeroRow.toSeq,                               // −0.0 projection
        102L -> mu.updated(0, -0.0).updated(1, -0.0).toSeq,     // −0.0 − 0.0 terms
        103L -> vec(1.0).updated(7, Double.NaN).toSeq,          // NaN element
        104L -> (vec(1.0).toSeq.updated(9, null)),              // null element
        105L -> vec(1.0).take(d - 1).toSeq)                     // wrong length (short)
    val shortId = 105L
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(DoubleType, containsNull = true))))
    // An RDD-backed frame, so no LocalRelation folding evaluates the
    // projection at plan time instead of the mode under test.
    def frame(rs: Seq[(Long, Seq[Any])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, e) => Row(i, e) }, 2), schema)
    val emb = col("emb")
    def foldD2(c: Seq[Double]) =
      (0 until d).map(i => (emb.getItem(i) - lit(c(i))) * (emb.getItem(i) - lit(c(i))))
        .reduce(_ + _)
    def foldMin(cs: Seq[Seq[Double]]) =
      if (cs.size == 1) foldD2(cs.head) else least(cs.map(foldD2): _*)
    def foldDot(m: Seq[Double], w: Seq[Double]) =
      (0 until d).map(i => (emb.getItem(i) - lit(m(i))) * lit(w(i))).reduce(_ + _)
    val pairs =
      centerSets.map(cs => (VectorFunctions.minSqDist(emb, cs), foldMin(cs))) ++
        Seq(v, vNeg).map(w => (VectorFunctions.centeredDot(emb, mu.toSeq, w.toSeq),
          foldDot(mu.toSeq, w.toSeq)))
    val cols = pairs.zipWithIndex.flatMap { case ((k, f), j) =>
      Seq(k.as(s"k$j"), f.as(s"f$j")) }
    def bits(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    // ANSI on (the queries' default): an out-of-range getItem throws, so
    // the short row is compared with ANSI off, where the fold reads NULL.
    for (ansi <- Seq("true", "false"); (mode, confs) <- kernelModes) {
      val input = if (ansi == "true") rows.filter(_._1 != shortId) else rows
      val got = withConfs(confs :+ ("spark.sql.ansi.enabled" -> ansi): _*) {
        frame(input).select(col("id") +: cols: _*).collect()
      }
      assert(got.length === input.length)
      got.foreach { r =>
        pairs.indices.foreach { j =>
          assert(bits(r, 1 + 2 * j) === bits(r, 2 + 2 * j),
            s"row ${r.getLong(0)}, pair $j, $mode, ansi=$ansi")
        }
        if (r.getLong(0) == 101L)
          assert(bits(r, 1 + 2 * (pairs.size - 1)) ===
            Some(java.lang.Double.doubleToRawLongBits(-0.0)), "x = μ must project to −0.0")
        if (Set(104L, shortId).contains(r.getLong(0)))
          assert(r.isNullAt(1) && r.isNullAt(1 + 2 * (pairs.size - 1)))
      }
    }
    // an over-long array is NULL, not the fold's prefix value
    for ((mode, confs) <- kernelModes) {
      val r = withConfs(confs: _*) {
        frame(Seq(1L -> (c0.toSeq :+ 1.0))).select(
          VectorFunctions.minSqDist(emb, Seq(c0.toSeq)),
          VectorFunctions.centeredDot(emb, mu.toSeq, v.toSeq)).head()
      }
      assert(r.isNullAt(0) && r.isNullAt(1), mode)
    }
  }

  test("q270's round projection holds one MinSqDist node, not a 64-term fold") {
    import graft.functions.MinSqDist
    import org.apache.spark.sql.catalyst.expressions.{Add, GetArrayItem}
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("emb"))
    val centers = e.orderBy("vec_id").limit(7).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val plan = graft.ops.SimilarityQueries.kcenterRound(spark, e, centers.toSeq)
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case x => x }))
    assert(exprs.count(_.isInstanceOf[MinSqDist]) === 1)
    assert(!exprs.exists(x => x.isInstanceOf[Add] || x.isInstanceOf[GetArrayItem]),
      "the round projection still holds an unrolled per-dimension fold")
  }

  test("PQ training objective is monotone non-increasing (Lloyd invariant)") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val model = graft.ops.Pq.fit(e, iters = 3)
    val obj = model.objective
    assert(obj.length === 3)
    obj.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9), s"objective rose: $obj")
    }
    assert(obj.forall(_ >= 0.0))
  }

  test("PQ ANN is well-formed and recall vs exact top-k is recorded") {
    val exact = graft.ops.SimilarityQueries.queries("q35_ann_topk")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = graft.ops.SimilarityQueries.extraQueries("q130_ann_pq")(spark, sf0001)
      .collect()
    pq.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (1L to rows.length).toSeq)
    }
    pq.foreach(r => assert(r.getLong(2) !== r.getLong(0)))
    // re-ranked scores are exact cosines
    pq.foreach(r => assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9))
    val hits = pq.map(r => (r.getLong(0), r.getLong(2))).count(exact.contains)
    val recall = hits.toDouble / exact.size
    info(f"PQ recall@5 vs exact: $recall%.3f (M=16, K=16, shortlist=50)")
    // The ADC shortlist bounds what the exact re-rank can recover:
    // recall@5 here is P(true top-5 inside the 50-deep code-distance
    // shortlist). The floor catches a collapse to near-random neighbors
    // (random would land ~50/n), not a quantization-quality claim.
    assert(recall >= 0.7, f"PQ recall collapsed: $recall%.3f (measured 0.96 at fixture)")
  }

  test("q275 whitened coordinates have unit sample variance and zero mean") {
    val rows = SparkEntry.queries("q275_pca_whiten")(spark, sf0001)
      .collect()
    val n = rows.length
    assert(n > 10)
    for (k <- 0 until 8) {
      val xs = rows.map(_.getDouble(k + 1))
      val mean = xs.sum / n
      val v = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      // whitening divides each PCA coordinate by √λ (the coordinate's
      // own n−1 sample sd), so variance must be 1 up to 6-dp rounding
      assert(math.abs(mean) < 1e-3, s"w$k mean $mean")
      assert(math.abs(v - 1.0) < 1e-3, s"w$k variance $v")
    }
  }

  test("q34 ball-cover enumeration equals the brute-force all-pairs set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, round}
    // Brute force stays as the spec-only exactness oracle (the r8 q34
    // registration): the ball-cover spine may not drop ANY qualifying
    // pair — recall 1 by the sphere triangle inequality, re-proved here.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as emb")
    val a = e.select($"vec_id".as("vec_a"), $"emb".as("emb_a"))
    val b = e.select($"vec_id".as("vec_b"), $"emb".as("emb_b"))
    val brute = a.join(broadcast(b), $"vec_a" < $"vec_b")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine($"emb_a", $"emb_b"))
      .filter($"cos" >= 0.45)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = graft.ops.SimilarityQueries.queries("q34_cosine_neardup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === brute)
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("SRP-LSH pairs are a subset of the exact near-dup set; recall recorded") {
    val exact = graft.ops.SimilarityQueries.queries("q34_cosine_neardup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srp = graft.ops.SimilarityQueries.extraQueries("q121_srp_lsh")(spark, sf0001)
      .collect()
    // soundness: every reported pair is a true near-dup (cos re-verified
    // exactly, so the banding can only lose pairs, never invent them)
    val pairs = srp.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(exact), s"SRP reported non-near-dup pairs: ${pairs -- exact}")
    srp.foreach { r =>
      assert(r.getDouble(3) >= 0.45 - 1e-9)
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 4L) // collisions in 1..nBands
    }
    val recall = if (exact.isEmpty) 1.0 else pairs.size.toDouble / exact.size
    info(f"SRP-LSH recall vs exact near-dup: $recall%.3f (16 bits, 4 bands)")
    // Same weak-similarity regime note as IVF: threshold pairs sit at
    // cos≈0.45 where per-bit agreement is only ~0.65, so fixture recall is
    // modest by design; the floor catches a collapse to near-empty output.
    assert(recall >= 0.25, f"SRP recall collapsed: $recall%.3f")
  }

  test("SrpSignature expression equals the higher-order-function formulation bit-for-bit") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{srpPlanes, SrpBits}
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    // independent reference: interpreted zip_with/aggregate folds per bit
    val bitCols = (0 until SrpBits).map { b =>
      val h = typedLit(srpPlanes(b))
      (aggregate(zip_with($"emb", h, (x, hh) => x * hh),
        lit(0.0), (acc, x) => acc + x) >= 0).cast("int") * lit(1 << (SrpBits - 1 - b))
    }
    val want = e.select($"vec_id", bitCols.reduce(_ + _).as("sig_ref"))
    val got = e.select($"vec_id", VectorFunctions.srpSig($"emb").as("sig"))
    val diff = got.join(want, "vec_id").filter($"sig" =!= $"sig_ref").count()
    assert(diff === 0, "native signature diverges from the HOF fold")
    // signatures span [0, 2^16); mismatched dimension → null, not garbage
    val range = got.agg(min($"sig"), max($"sig")).head()
    assert(range.getInt(0) >= 0 && range.getInt(1) < (1 << SrpBits))
    val bad = Seq(Seq(1.0, 2.0)).toDF("emb")
      .select(VectorFunctions.srpSig($"emb").as("sig")).head()
    assert(bad.isNullAt(0))
  }

  test("SRP signatures: hyperplane family is deterministic and in [-1,1)") {
    val u1 = graft.ops.SimilarityQueries.srpUnit(3, 17)
    val u2 = graft.ops.SimilarityQueries.srpUnit(3, 17)
    assert(u1 === u2)
    for (b <- 0 until 16; d <- 0 until 64) {
      val u = graft.ops.SimilarityQueries.srpUnit(b, d)
      assert(u >= -1.0 && u < 1.0, s"srpUnit($b,$d)=$u out of range")
    }
    // distinct (b,d) seeds give distinct components (md5 behaves)
    val vals = for (b <- 0 until 16; d <- 0 until 64) yield
      graft.ops.SimilarityQueries.srpUnit(b, d)
    assert(vals.distinct.size === vals.size)
  }

  test("embed leakage: one row per val vector, nearest is from train") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("h", substring(md5($"vec_id".cast("string")), 1, 1))
    val valIds = e.filter($"h" === "c" || $"h" === "d")
      .select($"vec_id").as[Long].collect().toSet
    val trainIds = e.filter($"h" <= "9" || $"h" === "a" || $"h" === "b")
      .select($"vec_id").as[Long].collect().toSet
    val out = graft.ops.SimilarityQueries.extraQueries("q123_embed_leakage")(spark, sf0001)
      .collect()
    assert(out.map(_.getLong(0)).toSet === valIds, "every val vector gets exactly one verdict")
    assert(out.length === valIds.size)
    out.foreach { r =>
      assert(trainIds.contains(r.getLong(1)), s"nearest ${r.getLong(1)} not in train")
      // leaked flag consistent with the reported (rounded) similarity
      val cos = r.getDouble(2)
      val leaked = r.getBoolean(3)
      if (cos >= 0.400001) assert(leaked)
      if (cos < 0.399999) assert(!leaked)
    }
  }

  test("mismatched vector dimensions yield null, not a prefix similarity") {
    import spark.implicits._
    val row = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(VectorFunctions.cosine($"a", $"b").as("c"))
      .collect().head
    assert(row.isNullAt(0))
  }

  test("graft_topk rejects bad score type and out-of-range k at analysis time") {
    import spark.implicits._
    val df = Seq((1, 2L)).toDF("i", "id")
    val typeErr = intercept[Exception] {
      df.select(VectorFunctions.topk($"i", $"id", 3)).collect()
    }
    assert(typeErr.getMessage.contains("score must be double"))
    val kErr = intercept[Exception] {
      df.select(VectorFunctions.topk($"i".cast("double"), $"id", 0)).collect()
    }
    assert(kErr.getMessage.contains("k must be in"))
  }

  test("rejects non-double arrays with a clear analysis error") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(("x", "y")).toDF("a", "b")
        .select(VectorFunctions.cosine($"a", $"b")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("q270 k-center coreset equals an exhaustive driver-side FPS replay") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q270_kcenter_coreset")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.map(_._1).toSeq === (1L to 8L))
    // FPS invariant: the selection radius can only shrink
    got.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(a._3.get >= b._3.get, "selection distance must be nonincreasing")
    }
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val picked = scala.collection.mutable.ArrayBuffer(vecs.head._1)
    val centers = scala.collection.mutable.ArrayBuffer(vecs.head._2)
    val exp = scala.collection.mutable.ArrayBuffer[(Long, Option[Double])](
      (vecs.head._1, None))
    while (picked.size < 8) {
      val cand = vecs.filter(v => !picked.contains(v._1))
        .map { case (id, e) => (id, centers.map(c => d2(e, c)).min) }
      val best = cand.maxBy { case (id, d) => (d, -id) }
      picked += best._1
      centers += vecs.find(_._1 == best._1).get._2
      exp += ((best._1, Some(best._2)))
    }
    assert(got.map(_._2).toSeq === exp.map(_._1).toSeq, "pick order differs")
    got.zip(exp).drop(1).foreach { case ((_, _, gd), (_, ed)) =>
      assert(math.abs(gd.get - ed.get) < 1e-6)
    }
  }

  test("q153 MMR equals an exhaustive driver-side greedy recompute") {
    import org.apache.spark.sql.functions.col
    def bcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val lambda = 0.7
    val want = (0L until 10L).flatMap { qid =>
      val cands = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, emb) => (id, bcos(emb, vecs(qid)), emb) }
        .sortBy { case (id, cos, _) => (-cos, id) }.take(20).toArray
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
      val pickedEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val used = Array.fill(cands.length)(false)
      while (picked.length < 5) {
        var best = -1; var bestScore = Double.NegativeInfinity
        for (ci <- cands.indices if !used(ci)) {
          val (_, cos, emb) = cands(ci)
          val red = if (pickedEmb.isEmpty) 0.0 else pickedEmb.map(p => bcos(emb, p)).max
          val sc = lambda * cos - (1 - lambda) * red
          if (sc > bestScore || (sc == bestScore && best >= 0 && cands(ci)._1 < cands(best)._1)) {
            best = ci; bestScore = sc
          }
        }
        used(best) = true
        picked += ((qid, (picked.length + 1).toLong, cands(best)._1,
          BigDecimal(cands(best)._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble + 0.0,
          BigDecimal(bestScore).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble + 0.0))
        pickedEmb += cands(best)._3
      }
      picked
    }.toSet
    val got = graft.SparkEntry.queries("q153_mmr_diversify")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got === want)
    // Diversity actually engages: some query must have deferred a
    // higher-cos candidate below a lower-cos one.
    val reordered = got.groupBy(_._1).exists { case (_, rows) =>
      val byRank = rows.toSeq.sortBy(_._2).map(_._4)
      byRank.zip(byRank.tail).exists { case (a, b) => b > a }
    }
    assert(reordered, "MMR never reordered by redundancy — degenerate")
  }

  // ---------------------------------------------------------------- PCA (q140)

  /** Fixture embeddings as driver-side arrays (500×64 at sf0.001 — spec
    * scale only; the queries never collect the corpus). */
  private lazy val fixtureVecs: Array[Array[Double]] =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)

  private lazy val fixtureCov: Array[Array[Double]] = {
    val vs = fixtureVecs
    val n = vs.length
    val d = vs.head.length
    val mu = Array.tabulate(d)(i => vs.map(_(i)).sum / n)
    Array.tabulate(d, d) { (i, j) =>
      vs.map(v => (v(i) - mu(i)) * (v(j) - mu(j))).sum / (n - 1)
    }
  }

  test("property: Jacobi eigensolve holds its invariants on random symmetric matrices") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Random d×d symmetric matrices across sizes and magnitudes — the
    // fixture-covariance test below is one point; this sweeps the space.
    val gen = for {
      d <- Gen.choose(2, 12)
      cells <- Gen.listOfN(d * d, Gen.choose(-10.0, 10.0))
    } yield {
      val raw = cells.toArray.grouped(d).toArray
      Array.tabulate(d, d)((i, j) => (raw(i)(j) + raw(j)(i)) / 2.0)
    }
    val prop = Prop.forAll(gen) { m =>
      val d = m.length
      val (lam, vecs) = graft.ops.Eigen.symmetric(m)
      val scale = math.max(1.0, m.map(_.map(math.abs).max).max)
      val ortho = (for (a <- 0 until d; b <- a until d) yield {
        val dot = (0 until d).map(i => vecs(a)(i) * vecs(b)(i)).sum
        math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-8
      }).forall(identity)
      val trace = (0 until d).map(i => m(i)(i)).sum
      val traceOk = math.abs(lam.sum - trace) < 1e-8 * math.max(1.0, math.abs(trace))
      val resOk = (0 until d).forall { k =>
        (0 until d).forall { i =>
          val av = (0 until d).map(j => m(i)(j) * vecs(k)(j)).sum
          math.abs(av - lam(k) * vecs(k)(i)) < 1e-7 * scale
        }
      }
      val orderOk = lam.zip(lam.tail).forall { case (a, b) => a >= b }
      ortho && traceOk && resOk && orderOk
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(50))
    assert(res.passed, res.status.toString)
  }

  test("Jacobi eigensolve: orthonormal, trace-preserving, small residual, descending, sign-fixed") {
    val cov = fixtureCov
    val d = cov.length
    val (lam, vecs) = graft.ops.Eigen.symmetric(cov)
    // Orthonormality.
    for (a <- 0 until d; b <- a until d) {
      val dot = (0 until d).map(i => vecs(a)(i) * vecs(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"v${a}.v${b} = $dot")
    }
    // Eigenvalue sum equals the trace; order is descending.
    val trace = (0 until d).map(i => cov(i)(i)).sum
    assert(math.abs(lam.sum - trace) < 1e-9 * math.max(1.0, math.abs(trace)))
    assert(lam.zip(lam.tail).forall { case (a, b) => a >= b })
    // Rayleigh residual ‖Av − λv‖∞ ≈ 0.
    for (k <- 0 until d) {
      val av = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * vecs(k)(j)).sum)
      val res = (0 until d).map(i => math.abs(av(i) - lam(k) * vecs(k)(i))).max
      assert(res < 1e-8, s"residual for eigenpair $k = $res")
    }
    // Sign convention: the largest-|component| entry is positive.
    for (k <- 0 until d) {
      val best = vecs(k).indices.maxBy(i => math.abs(vecs(k)(i)))
      assert(vecs(k)(best) > 0, s"eigenvector $k not sign-fixed")
    }
  }

  test("q150: measured reconstruction MSE equals the eigenvalue-tail theory, strictly decreasing") {
    val rows = graft.SparkEntry.queries("q150_pca_reconstruction")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (1L to graft.ops.SimilarityQueries.PcaK).toSeq)
    rows.foreach { case (k, measured, theory) =>
      // The expansion identity ‖x−μ‖² − Σ⟨x−μ,vₖ⟩² ≡ Σ_{j>k} λⱼ·(n−1)/n
      // holds to the 1e-6 output grain — one grain of slack for the two
      // independent roundings.
      assert(math.abs(measured - theory) <= 2e-6, s"k=$k: $measured vs $theory")
    }
    rows.sliding(2).foreach { case Array((_, m1, _), (_, m2, _)) =>
      assert(m2 < m1, "reconstruction error must decrease with k")
    }
  }

  test("q140: coordinate variance ≈ eigenvalue, mean ≈ 0, deterministic") {
    val run1 = graft.SparkEntry.queries("q140_pca_project")(spark, sf0001)
      .collect().map(_.toSeq)
    val run2 = graft.SparkEntry.queries("q140_pca_project")(spark, sf0001)
      .collect().map(_.toSeq)
    assert(run1.toSeq == run2.toSeq, "q140 output is not run-deterministic")
    val (lam, _) = graft.ops.Eigen.symmetric(fixtureCov)
    val n = run1.length
    for (k <- 0 until graft.ops.SimilarityQueries.PcaK) {
      val coords = run1.map(_(k + 1).asInstanceOf[Double])
      val mean = coords.sum / n
      val vr = coords.map(c => (c - mean) * (c - mean)).sum / (n - 1)
      // Coordinates round at 1e-6, so allow a loose-but-meaningful band.
      assert(math.abs(mean) < 1e-4, s"pc$k mean $mean")
      assert(math.abs(vr - lam(k)) < 1e-3 * math.max(1.0, lam(k)),
        s"pc$k variance $vr vs eigenvalue ${lam(k)}")
    }
    // Projecting onto the top component captures the most variance.
    assert(lam(0) > lam(graft.ops.SimilarityQueries.PcaK - 1))
  }

  test("q207 hard negatives: top-3 per anchor, cross-label only, harder than random") {
    import spark.implicits._
    val rows = SparkEntry.queries("q207_hard_negatives")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val labelOf = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    // per-anchor: at most 3, labels all differ from the anchor's
    rows.groupBy(_._1).foreach { case (a, ns) =>
      assert(ns.length <= 3)
      ns.foreach { case (_, nid, nl, _) =>
        assert(labelOf(nid) === nl && nl != labelOf(a), s"anchor $a neg $nid")
      }
    }
    // hardness: reported negatives must be far more similar than the
    // cross-label average (else the miner is returning random pairs)
    val embOf = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val minedMean = rows.map(_._4).sum / rows.length
    val ids = embOf.keys.toArray.sorted
    val rnd = new scala.util.Random(7)
    val randPairs = Array.fill(2000) {
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length)); (a, b)
    }.filter { case (a, b) => a != b && labelOf(a) != labelOf(b) }
    val randMean = randPairs.map { case (a, b) => cos(embOf(a), embOf(b)) }.sum / randPairs.length
    assert(minedMean > randMean + 0.05,
      s"mined negatives (mean cos $minedMean) not harder than random ($randMean)")
  }
}
