package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** One opaque media payload: the multimodal column convention — binary
  * bytes + typed metadata travelling beside them. */
final case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String)

/** Decoded/extracted features for one payload. */
final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
                               n_bytes: Long, feat: Array[Double])

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, processed in partition-local batches.
 *
 * The Spark-side shape is real and tested — schema, batch iteration,
 * partition parallelism, feature-array output — while the decode itself is
 * a clearly marked deterministic STUB (`decodeBatch`): this container has
 * no image/audio codecs, so "decoding" derives dimensions and a feature
 * vector from the payload bytes with an FNV-1a mix. Swapping in a real
 * decoder changes only the body of `decodeBatch`; every plan around it
 * (including q42/q43 below) is unchanged.
 *
 * At scale this is the standard pattern: batch rows per partition through
 * a native decoder, never collect, keep payloads columnar-compressed in
 * parquet, and carry metadata in a sibling struct so pruning works when
 * queries touch only metadata.
 */
object MultimodalQueries {

  /** Attach the binary payload + metadata struct (payloads here are the
    * documents' UTF-8 bytes — the fixtures carry no real media). */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(lit("fake/utf8").as("format"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))

  /**
   * STUB decoder — deterministic fake in place of a real codec call.
   * Real implementation would hand the whole batch to a native library
   * (the reason this is an iterator-of-batch API and not a per-row UDF).
   */
  def decodeBatch(batch: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    batch.map { r =>
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      r.payload.foreach { b => h = (h ^ (b & 0xffL)) * 1099511628211L }
      val width = 64 + (math.abs(h) % 1024).toInt
      val height = 64 + (math.abs(h >>> 11) % 1024).toInt
      val feat = Array.tabulate(8) { i =>
        val x = h * (2862933555777941757L * (i + 1) + 3037000493L)
        (x >>> 11).toDouble / (1L << 53).toDouble
      }
      MediaFeatures(r.doc_id, width, height, r.payload.length.toLong, feat)
    }

  /** Full stub pipeline: payload column → partition-batched decode. */
  def decode(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    withBinaryPayload(docs)
      .select($"doc_id", $"payload", $"meta.format".as("format"))
      .as[MediaRecord]
      .mapPartitions(decodeBatch)
  }

  /**
   * STUB resize — nearest-neighbor byte sampling of the payload down to a
   * target "pixel" budget, tagging the new dimensions in the format
   * metadata. Same swap-point contract as decodeBatch: a real
   * implementation hands the whole batch to a codec and only this body
   * changes; the partition-batched plumbing around it is the tested part.
   */
  def resizeBatch(targetW: Int, targetH: Int)(
      batch: Iterator[MediaRecord]): Iterator[MediaRecord] = {
    require(targetW > 0 && targetH > 0, s"target dims must be positive: ${targetW}x$targetH")
    // Long product: 65536×65536 overflows Int to 0 and would silently
    // replace every payload with zero bytes.
    val budget = math.min(targetW.toLong * targetH.toLong, Int.MaxValue.toLong).toInt
    batch.map { r =>
      val out =
        if (r.payload.length <= budget) r.payload
        else Array.tabulate(budget)(i =>
          r.payload((i.toLong * r.payload.length / budget).toInt))
      MediaRecord(r.doc_id, out, r.format + s";resized=${targetW}x$targetH")
    }
  }

  /** Partition-batched resize over the payload column. */
  def resize(spark: SparkSession, docs: DataFrame,
             targetW: Int, targetH: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    withBinaryPayload(docs)
      .select($"doc_id", $"payload", $"meta.format".as("format"))
      .as[MediaRecord]
      .mapPartitions(resizeBatch(targetW, targetH))
  }

  /** Pseudo frame-sampling: split a payload into fixed-size "frames" and
    * keep every `stride`-th — the schema/explode shape video sampling needs. */
  def sampleFrames(df: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    df.withColumn("n_frames",
        ceil(col("meta.n_bytes").cast("double") / frameBytes).cast("int"))
      // Same n_frames = 0 guard as q55_frame_sample: sequence(0, -1) is
      // [0, -1] in Spark (default step -1), not an empty array.
      .withColumn("frame_idx",
        explode(filter(
          when(col("n_frames") > 0, sequence(lit(0), col("n_frames") - 1))
            .otherwise(array().cast("array<int>")),
          i => i % stride === 0)))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
      .select(col("doc_id"), col("frame_idx"), col("frame"))

  /**
   * 128-bit perceptual-hash-style signature per payload, as TWO 64-bit
   * words (`array<bigint>`, word 1 = bits [0,64)): SimHash over the
   * payload's byte 4-grams under two hash families (the second word's
   * gram hash is the XXH64 re-hash of the first — the splitmix pattern
   * for deriving k functions from one). Byte n-grams are
   * SHIFT-INVARIANT — an edit perturbs only the grams overlapping it, so
   * near-identical payloads land within a few Hamming bits per word
   * while unrelated payloads sit near 64 of 128 — which is what
   * fixed-block hashing can't do (one early edit shifts every later
   * block). 128 bits exist for the CANDIDATE JOIN, not for precision:
   * at the Hamming≤7 pigeonhole bound, a 64-bit sketch forces 8-bit
   * chunk keys (256 buckets → ~n²/256 candidate pairs per chunk at
   * corpus size n); two words keep chunk keys 16-bit at the same bound
   * (65 536 buckets), shrinking the candidate set 256×. A REAL image
   * pHash would hash decoded DCT features instead of raw bytes — that
   * swap lives in decodeBatch like every other codec concern; the
   * sketch/join shape here is unchanged by it.
   *
   * Plan shape: the whole signature is ONE native codegen'd expression
   * ([[graft.functions.PHash128]]) — a map-only projection, no gram
   * explode, no shuffle, no aggregate state. The n_bytes ≥ 4 filter
   * keeps the old contract: a payload with no complete gram has no
   * signature (and would otherwise emit the all-zero signature, pairing
   * every empty payload with every other at Hamming 0).
   */
  private[graft] def phashDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // spread before the 128-bit gram-hash signature: per-row cost is the
    // md5 gram family over the whole payload, serialized by a single-file
    // scan otherwise (no-op on an already-parallel scan)
    Tables.spreadIfNarrow(withBinaryPayload(docs)
        .filter($"meta.n_bytes" >= 4)
        .select($"doc_id", $"payload"))
      .select($"doc_id", graft.functions.PHashFunctions.phash128($"payload").as("phash"))
  }

  /** q206: aspect-ratio bucket ladder (the SDXL-style training-batch
    * convention) and the geometric-midpoint cut points between adjacent
    * rungs — all literal strings so Spark and DuckDB parse identical
    * doubles, and assignment is pure threshold comparison (no argmin
    * float ambiguity). */
  val AspectLadder: Seq[String] =
    Seq("0.5", "0.75", "1.0", "1.3333333333333333", "2.0")
  val AspectCuts: Seq[String] = Seq("0.6123724356957945",
    "0.8660254037844386", "1.1547005383792515", "1.632993161855452")

  /** q206: fixed batch size and target pixel area (512²); per-rung target
    * dims are floor(√(area·a)) × floor(√(area/a)), computed ONCE here in
    * Scala and interpolated into both engines as integers. */
  val AspectBatch = 32
  val AspectArea = 262144.0
  def aspectTargets(a: Double): (Long, Long) =
    (math.floor(math.sqrt(AspectArea * a)).toLong,
      math.floor(math.sqrt(AspectArea / a)).toLong)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -------------------------------------- aspect-bucket batching plan
    // Aspect-ratio bucketed batching — how image-generation training
    // actually feeds a GPU: images group into a fixed aspect ladder
    // (each rung one resize target of equal pixel area), batches form
    // WITHIN a rung so no sample is cropped to fit its batch, and the
    // padding a ragged last batch wastes is the cost being planned.
    // Per-row work is a metadata projection (md5-derived stand-in dims,
    // the q190 convention — a real decoder's width/height lands in the
    // same columns via decodeBatch); the aggregate is one 5-row groupBy.
    // At 100 TB: map-only scan + a 5-group hash aggregate, no shuffle of
    // payloads — the plan the metadata-beside-binary convention exists
    // to make possible (the scan never touches the payload column).
    "q206_aspect_bucket_batches" -> { (s, dir) =>
      import s.implicits._
      def hpart(off: Int): Column =
        conv(substring(md5(concat(lit("img:"), $"doc_id".cast("string"))),
          1 + off, 8), 16, 10).cast("long")
      val dims = t(s, dir, "documents")
        .select($"doc_id",
          (lit(256L) + hpart(0) % 1792L).as("w"),
          (lit(256L) + hpart(8) % 1792L).as("h"))
        .withColumn("ar", $"w".cast("double") / $"h")
      def ladder(out: Seq[Column]): Column =
        AspectCuts.zip(out.init).foldRight(out.last) { case ((cut, v), rest) =>
          when($"ar" < lit(cut.toDouble), v).otherwise(rest)
        }
      val assigned = dims
        .withColumn("bucket_aspect", ladder(AspectLadder.map(a => lit(a.toDouble))))
        .withColumn("target_w",
          ladder(AspectLadder.map(a => lit(aspectTargets(a.toDouble)._1))))
        .withColumn("target_h",
          ladder(AspectLadder.map(a => lit(aspectTargets(a.toDouble)._2))))
      assigned.groupBy($"bucket_aspect", $"target_w", $"target_h")
        .agg(count(lit(1)).as("n_images"), avg($"ar").as("avg_ar"))
        .withColumn("n_batches", expr(s"(n_images + ${AspectBatch - 1}) div $AspectBatch"))
        .select($"bucket_aspect", $"target_w", $"target_h", $"n_images",
          $"n_batches",
          round(($"n_batches" * AspectBatch - $"n_images").cast("double") /
            ($"n_batches" * AspectBatch), 6).as("pad_frac"),
          round($"avg_ar", 6).as("avg_aspect"))
        .orderBy($"bucket_aspect")
    },

    // Perceptual-hash near-dup pairs over the BINARY payload column — the
    // multimodal twin of q33: 128-bit signature from phashDocs above,
    // candidates via the shared 8-chunk pigeonhole over both words
    // (16-bit chunk keys; completeness guaranteed up to Hamming 7 = the
    // threshold), exact two-word bit_count verify. Full oracle since the
    // gram family moved to MD5 (r9; q33's r6 precedent): DuckDB
    // recomputes every signature and takes the exhaustive all-pairs set,
    // which also re-proves pigeonhole completeness on every run.
    // MultimodalSpec additionally pins the in-JVM exhaustive scan.
    "q89_phash_neardup" -> { (s, dir) =>
      import s.implicits._
      DedupQueries.hammingPairs(
          phashDocs(s, t(s, dir, "documents"))
            .select($"doc_id".as("id"), $"phash".as("sig")),
          nChunks = 8, maxDist = 7, nWords = 2)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"hamming")
        .orderBy($"doc_a", $"doc_b")
    },

    // Metadata-only projection over the binary column — oracle-checked
    // (byte length + md5 agree across engines on UTF-8 payloads).
    "q42_binary_meta" -> { (s, dir) =>
      import s.implicits._
      withBinaryPayload(t(s, dir, "documents"))
        .select($"doc_id", $"meta.n_bytes".as("n_bytes"), md5($"payload").as("payload_md5"))
        .orderBy($"doc_id")
    },

    // Full decode pipeline (stub) — rows-only: deterministic, but the fake
    // features are engine-specific by construction.
    "q43_media_features_stub" -> { (s, dir) =>
      import s.implicits._
      decode(s, t(s, dir, "documents")).toDF()
        .select($"doc_id", $"width", $"height", $"n_bytes",
          round(element_at($"feat", 1), 6).as("feat0"))
        .orderBy($"doc_id")
    },

    // Frame sampling, oracle-checked: fixed-size frames with a stride —
    // the sequence→stride-filter→explode→slice shape video frame-sampling
    // uses (sampleFrames above is the byte-level twin over the binary
    // payload; this query frames the character stream because DuckDB 1.0
    // cannot slice BLOBs, and an oracle-checked plan beats a rows-only
    // one). Each doc expands to ceil(len/256)/2 frames; md5 pins content.
    "q55_frame_sample" -> { (s, dir) =>
      import s.implicits._
      val F = 256
      t(s, dir, "documents")
        .withColumn("n_frames", ceil(length($"text").cast("double") / F).cast("int"))
        // Guard n_frames = 0 (empty text): sequence(0, -1) is NOT empty in
        // Spark — the step defaults to -1 when start > stop, yielding
        // [0, -1] and a phantom frame the oracle's range(0, 0) never emits.
        .withColumn("frame_idx",
          explode(filter(
            when($"n_frames" > 0, sequence(lit(0), $"n_frames" - 1))
              .otherwise(array().cast("array<int>")),
            i => i % 2 === 0)))
        .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
          length(expr(s"substring(text, frame_idx * $F + 1, $F)")).cast("long").as("frame_len"),
          md5(expr(s"substring(text, frame_idx * $F + 1, $F)")).as("frame_md5"))
        .orderBy($"doc_id", $"frame_idx")
    },

    // ------------------------------------------------ scene-cut detection
    // Shot-boundary detection over the q55 frame convention: per video
    // (document), a 32-bit frame signature per 256-char frame, then a cut
    // wherever consecutive signatures differ by > 20 of 32 bits. With a
    // real perceptual frame feature the SAME plan ships scene boundaries;
    // the md5 stand-in keeps the whole pipeline SQL-replayable (frames of
    // a fake video are near-independent, so "cuts" are the binomial
    // P[B(32,½) > 20] ≈ 2.5% tail — sparse, like real footage). Shape:
    // frame explode is per-row bounded by the payload's own length; the
    // lag is a window PARTITIONED by video (frame counts are bounded by
    // clip length, never corpus); the rollup is one video-granularity
    // aggregate. bit_count(xor) is engine-exact — no float anywhere
    // except the final rate division.
    "q237_scene_cuts" -> { (s, dir) =>
      import s.implicits._
      val F = 256
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"frame_idx")
      t(s, dir, "documents")
        .filter($"text".isNotNull)
        .withColumn("n_frames",
          ceil(length($"text").cast("double") / F).cast("int"))
        .filter($"n_frames" > 0)
        .withColumn("frame_idx", explode(sequence(lit(0), $"n_frames" - 1)))
        .withColumn("sig",
          conv(substring(md5(expr(s"substring(text, frame_idx * $F + 1, $F)")),
            1, 8), 16, 10).cast("long"))
        .withColumn("prev", lag($"sig", 1).over(w))
        .withColumn("cut",
          when($"prev".isNotNull &&
            expr(s"bit_count(sig ^ prev)") > SceneCutHamming, 1L)
            .otherwise(0L))
        .groupBy($"doc_id")
        .agg(max($"n_frames").cast("long").as("n_frames"),
          sum($"cut").as("n_cuts"),
          min(when($"cut" === 1, $"frame_idx")).cast("long").as("first_cut"))
        .select($"doc_id", $"n_frames", $"n_cuts", $"first_cut",
          when($"n_frames" > 1,
            round($"n_cuts".cast("double") /
              ($"n_frames" - 1).cast("double"), 6)).as("cut_rate"))
        .orderBy($"doc_id")
    }
  )

  /** q237: Hamming cut threshold over the 32-bit frame signature (> τ of
    * 32 bits differ ⇒ shot boundary; τ=20 puts a random-frame pair in
    * the ≈2.5% binomial tail). */
  val SceneCutHamming = 20

  val oracles: Map[String, String] = Map(
    "q206_aspect_bucket_batches" -> {
      def horner(from: Int): String = (from until from + 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hex, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      // e-notation forces DOUBLE (a plain decimal literal is DECIMAL in
      // DuckDB); the digits match the Scala-side literals exactly.
      val ladderSql = Seq("5e-1", "7.5e-1", "1e0", "1.3333333333333333e0", "2e0")
      def caseOf(outs: Seq[String]): String =
        AspectCuts.zip(outs.init).map { case (c, v) =>
          s"WHEN ar < $c THEN $v"
        }.mkString("CASE ", " ", s" ELSE ${outs.last} END")
      val tw = AspectLadder.map(a => aspectTargets(a.toDouble)._1.toString)
      val th = AspectLadder.map(a => aspectTargets(a.toDouble)._2.toString)
      val b = AspectBatch
      s"""WITH hx AS (
         |  SELECT doc_id, md5('img:' || CAST(doc_id AS VARCHAR)) AS hex
         |  FROM documents),
         |dims AS (
         |  SELECT doc_id,
         |    256 + (${horner(1)}) % 1792 AS w,
         |    256 + (${horner(9)}) % 1792 AS h
         |  FROM hx),
         |ar AS (SELECT *, CAST(w AS DOUBLE) / h AS ar FROM dims),
         |asg AS (
         |  SELECT *,
         |    ${caseOf(ladderSql)} AS bucket_aspect,
         |    CAST(${caseOf(tw)} AS BIGINT) AS target_w,
         |    CAST(${caseOf(th)} AS BIGINT) AS target_h
         |  FROM ar),
         |g AS (
         |  SELECT bucket_aspect, target_w, target_h,
         |    COUNT(*) AS n_images, AVG(ar) AS avg_ar
         |  FROM asg GROUP BY 1, 2, 3)
         |SELECT bucket_aspect, target_w, target_h, n_images,
         |  (n_images + ${b - 1}) // $b AS n_batches,
         |  ROUND(CAST(((n_images + ${b - 1}) // $b) * $b - n_images AS DOUBLE) /
         |        (((n_images + ${b - 1}) // $b) * $b), 6) AS pad_frac,
         |  ROUND(avg_ar, 6) AS avg_aspect
         |FROM g ORDER BY bucket_aspect""".stripMargin
    },

    // Recomputes every md5-gram signature from scratch (the q33 recipe
    // widened to 128 bits / two packed words) and takes the EXHAUSTIVE
    // all-pairs Hamming ≤ 7 set — strictly stronger than the Spark
    // plan's 8-chunk pigeonhole, so a hash match also re-proves
    // candidate completeness. The payload is text::binary and the
    // fixture is pure ASCII, so char 4-grams ≡ byte 4-grams and DuckDB's
    // VARCHAR substr/md5 reproduce PHash128 bit-for-bit.
    "q89_phash_neardup" -> {
      val digits = (0 until 32)
        .map(i => s"strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS d$i")
        .mkString(",\n        |    ")
      val cnts = (0 until 128)
        .map(b => s"SUM(CASE WHEN (d${b / 4} >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
        .mkString(",\n        |    ")
      def pack(off: Int): String = (0 until 64)
        .map { j =>
          val pow = if (j == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $j)"
          s"(CASE WHEN c${off + j} > 0 THEN $pow ELSE 0 END)"
        }
        .mkString(" +\n        |    ")
      s"""WITH g AS (
        |  SELECT doc_id,
        |    unnest([substr(text, i, 4) for i in range(1, len(text) - 2)]) AS gram
        |  FROM documents WHERE len(text) >= 4),
        |dg AS (
        |  SELECT doc_id,
        |    $digits
        |  FROM (SELECT doc_id, md5(gram) AS h FROM g)),
        |cnt AS (
        |  SELECT doc_id,
        |    $cnts
        |  FROM dg GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id,
        |    ${pack(0)} AS s0,
        |    ${pack(64)} AS s1
        |  FROM cnt)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
        |    AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q42_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q55_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         unnest([i for i in range(0, CAST(ceil(len(text) / 256.0) AS INT)) if i % 2 = 0]) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(len(substring(text, frame_idx * 256 + 1, 256)) AS BIGINT) AS frame_len,
        |       md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // 32-bit signature decoded with the strpos-Horner recipe (q198/q141
    // convention); xor/bit_count are exact integers in both engines.
    "q237_scene_cuts" -> {
      val horner = (1 to 8)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(ceil(len(text) / 256.0) AS INT) AS n_frames, text
         |  FROM documents WHERE text IS NOT NULL),
         |fr AS (
         |  SELECT doc_id, n_frames,
         |    unnest(range(0, n_frames)) AS frame_idx, text
         |  FROM f WHERE n_frames > 0),
         |hxs AS (
         |  SELECT doc_id, n_frames, frame_idx,
         |    md5(substring(text, frame_idx * 256 + 1, 256)) AS hx
         |  FROM fr),
         |sg AS (
         |  SELECT doc_id, n_frames, frame_idx,
         |    CAST($horner AS BIGINT) AS sig
         |  FROM hxs),
         |lg AS (
         |  SELECT doc_id, n_frames, frame_idx, sig,
         |    LAG(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
         |  FROM sg),
         |ct AS (
         |  SELECT doc_id, n_frames, frame_idx,
         |    CASE WHEN prev IS NOT NULL AND bit_count(xor(sig, prev)) > $SceneCutHamming
         |         THEN 1 ELSE 0 END AS cut
         |  FROM lg)
         |SELECT doc_id, CAST(MAX(n_frames) AS BIGINT) AS n_frames,
         |  CAST(SUM(cut) AS BIGINT) AS n_cuts,
         |  CAST(MIN(CASE WHEN cut = 1 THEN frame_idx END) AS BIGINT) AS first_cut,
         |  CASE WHEN MAX(n_frames) > 1
         |       THEN ROUND(CAST(SUM(cut) AS DOUBLE) /
         |                  CAST(MAX(n_frames) - 1 AS DOUBLE), 6) END AS cut_rate
         |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
  )
}
