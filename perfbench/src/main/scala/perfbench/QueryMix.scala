package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.SparkEntry

import org.apache.spark.sql.{Row, SparkSession}

/**
 * `query_mix`: oracle-backed registry queries over the fixture kept with the
 * benchmark, one client collecting each result, in a seeded order per pass.
 * Every result is checked against the digest of an oracle-verified dump. The
 * first pass is memo-cold (set-up warms the JVM on a copy of the fixture);
 * later passes are steady.
 *
 * Members are chosen by the layer they exercise, so a change to one layer
 * has a group that should move and groups that should not.
 */
final class QueryMix(seed: Long, trace: Trace, fixture: String) extends Workload {
  import QueryMix._

  private val minPasses = 2
  private val registry = SparkEntry.queries
  private val mismatches = mutable.ArrayBuffer.empty[String]

  private var warmFixture: File = _

  /** A private copy of the fixture for this round's warm-up pass: the
    * program's memos key on (application, fixture dir), so warming up on
    * the copy compiles the members' code paths while the timed phase, on
    * the kept fixture, still starts memo-cold. The memo member is left out
    * of the warm-up: its cold build is the cost `first_pass_s` shows. */
  def prepare(spark: SparkSession, work: File): Unit = {
    val missing = Members.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    val tables = Option(new File(fixture).listFiles()).getOrElse(Array.empty[File])
    require(tables.exists(_.getName == "events.parquet"), s"fixture missing under $fixture")
    warmFixture = new File(work, "fixture")
    warmFixture.mkdirs()
    tables.foreach(t => java.nio.file.Files.copy(t.toPath, new File(warmFixture, t.getName).toPath))
  }

  def warmup(spark: SparkSession): Unit =
    Members.filterNot(MemoMembers.contains).foreach(q => registry(q)(spark, warmFixture.getPath).collect())

  def measure(spark: SparkSession, deadline: Long): Measured = {
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val qSpans = mutable.ArrayBuffer.empty[Map[String, Long]]
    var failed = 0
    var p = 0
    while (p < minPasses || System.nanoTime() < deadline) {
      trace.op(p.toLong)
      val order = new scala.util.Random(seed * 7919 + p).shuffle(Members)
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      val ids = mutable.Map.empty[String, Long]
      order.foreach { q =>
        val t0 = System.nanoTime()
        val result = try Some(trace.span(s"q:$q", spark) {
          val df = trace.span("build", spark)(registry(q)(spark, fixture))
          trace.span("exec", spark)(df.collect())
        }) catch { case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e"); failed += 1; None
        }
        times += q -> (System.nanoTime() - t0) / 1e9
        result.foreach { rows =>
          val got = Digest.of(rows.toSeq)
          if (!expected.get(q).contains(got))
            mismatches += s"$q (pass $p): rows/digest $got, expected ${expected.getOrElse(q, "an entry in digests.json")}"
        }
        if (trace.enabled) ids(q) = trace.allSpans.filter(_.name == s"q:$q").last.id
      }
      passes += times.toSeq
      System.err.println(f"[perfbench] pass $p: ${times.map(_._2).sum}%.3f s " +
        times.sortBy(-_._2).map { case (q, t) => f"$q=$t%.2f" }.mkString(" "))
      qSpans += ids.toMap
      p += 1
    }
    val layers = if (trace.enabled) perLayer(spark, passes.toSeq, qSpans.toSeq) else Map.empty[String, Double]
    Measured(passes.flatten.map(_._2).toSeq, passes.map(_.map(_._2)).toSeq,
      rowsPerSec = Stats.median(passes.drop(1).map(_.map(_._2).sum).map(passRows.toDouble / _).toSeq),
      failed, layers)
  }

  /** Result rows one pass delivers, from the check's digests file. */
  private lazy val passRows: Long = expected.values.map(_._1).sum

  private lazy val expected: Map[String, (Long, String)] =
    readDigests(new File(new File(fixture).getParentFile, "digests.json"))

  private def perLayer(spark: SparkSession, passes: Seq[Seq[(String, Double)]],
                       ids: Seq[Map[String, Long]]): Map[String, Double] = {
    trace.drain(spark)
    val incl = trace.inclusive(trace.countersBySpan())
    val spans = trace.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val steady = passes.drop(1).map(_.toMap)
    val steadyIds = ids.drop(1)
    def med(xs: Seq[Double]) = Stats.median(xs)
    def child(id: Long, name: String) = spans.find(s => s.parent == id && s.name == name)
    val perQuery = Members.flatMap { q =>
      Seq(
        s"ops.$q.s" -> med(steady.map(_(q))),
        s"ops.$q.build_s" -> med(steadyIds.map(m => child(m(q), "build").map(_.seconds).getOrElse(0.0))),
        s"ops.$q.build_jobs" -> med(steadyIds.map(m =>
          child(m(q), "build").map(s => incl(s.id).jobs.toDouble).getOrElse(0.0))))
    }
    val groups = Groups.map { case (g, qs) => s"ops.${g}_s" -> med(steady.map(m => qs.map(m).sum)) }
    val first = MemoMembers.map(q => s"ops.$q.first_s" -> passes.head.toMap.apply(q))
    def perPass(f: Counters => Double): Double =
      med(steadyIds.map(m => m.values.map(id => f(incl(id))).sum))
    val gap = med(steadyIds.map(m => m.values.map { id =>
      byId(id).seconds - incl(id).jobWallMs / 1e3 }.sum))
    (perQuery ++ groups ++ first).toMap ++ Map(
      "ops.driver_gap_s" -> gap,
      "ops.jobs" -> perPass(_.jobs.toDouble),
      "ops.tasks" -> perPass(_.tasks.toDouble),
      "ops.shuffle_bytes" -> perPass(c => (c.shuffleWrite + c.shuffleRead).toDouble),
      "ops.gc_s" -> perPass(_.gcMs / 1e3),
      "streaming.batches" -> perPass(_.batches.toDouble),
      "streaming.state_rows" -> perPass(_.stateRows.toDouble))
  }

  /** Every execution's rows were checked against the digests as they
    * arrived; this reports the mismatches. */
  def check(spark: SparkSession): Seq[String] = mismatches.toSeq
}

object QueryMix {
  val Groups: Seq[(String, Seq[String])] = Seq(
    // ua2sql event analytics: the bypass set for every kernel change
    "event" -> Seq("q15_sessions"),
    // two ranks over one ordering through GlobalRank (its pins included)
    "rank" -> Seq("q254_spearman"),
    // the GroupTopK plan operator (bounded per-partition heaps)
    "topk" -> Seq("q51_top_docs_per_lang"),
    // an application-lifetime memo: cold on the first pass, a lookup after
    "memo" -> Seq("q270_kcenter_coreset"),
    // a streaming face: session windows drained through a memory sink
    "stream" -> Seq("q265_streaming_session_rollup"),
    // graft.functions' top-k aggregate over vector codegen
    "functions" -> Seq("q35b_ann_topk_agg"))

  val Members: Seq[String] = Groups.flatMap(_._2)
  val MemoMembers: Seq[String] = Groups.toMap.apply("memo")
  /** Digests of a `graft.Verify` dump of the members (one parquet dir per
    * query), in the format [[readDigests]] reads. */
  def writeDigests(dumpDir: String, out: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-digests")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val lines = Members.sorted.map { q =>
        val (n, d) = Digest.of(spark.read.parquet(s"$dumpDir/$q").collect().toSeq)
        s"""  "$q": {"rows": $n, "digest": "$d"}"""
      }
      java.nio.file.Files.write(new File(out).toPath,
        lines.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private val Entry = """"([a-z0-9_]+)": \{"rows": (\d+), "digest": "([0-9a-f]+)"\}""".r

  def readDigests(f: File): Map[String, (Long, String)] =
    Entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
}

/** Row count plus an order-insensitive digest: the sum of a 64-bit hash of
  * each row's canonical text, with doubles rounded to 6 decimals. */
object Digest {
  def of(rows: Seq[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(render(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    (rows.size.toLong, f"$sum%016x")
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000 + t.getNanos / 1000).toString
    case i: java.time.Instant => (i.getEpochSecond * 1000000 + i.getNano / 1000).toString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case vec: org.apache.spark.ml.linalg.Vector => render(vec.toArray.toSeq)
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }
}
