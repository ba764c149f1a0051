package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload's timed phase measured. `ops` are the op wall times in
  * order; a pass groups ops (one op per pass for the ingest workloads). */
final case class Measured(ops: Seq[Double], passes: Seq[Seq[Double]], rowsPerSec: Double,
                          failedOps: Int, layers: Map[String, Double])

trait Workload {
  /** Inputs for one set-up round, generated from the seed into `work`. */
  def prepare(spark: SparkSession, work: File): Unit
  /** Untimed run of the workload's code paths, last step of set-up. */
  def warmup(spark: SparkSession): Unit
  /** Runs ops until `deadlineNs` and at least the workload's minimum
    * number of passes. */
  def measure(spark: SparkSession, deadlineNs: Long): Measured
  /** Correctness checks after the timed phase; returns the failures. */
  def check(spark: SparkSession): Seq[String]
}

/**
 * Benchmark entry point. Usage:
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>
 *   perfbench.Main --digests <verifyDumpDir> <out.json>
 *
 * Prints one line `PERFBENCH {...}` with the raw metric values; `run.py`
 * turns it into the result line.
 */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--digests")) {
      QueryMix.writeDigests(args(1), args(2)); return
    }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val root = new File(opt("root")).getCanonicalFile
    val work = new File(root, s".bench_build/work/$name")
    Files.rm(work)
    work.mkdirs()
    System.setProperty("derby.system.home", work.getPath)
    System.setProperty("derby.stream.error.file", new File(work, "derby.log").getPath)
    System.setProperty("derby.locks.waitTimeout", "20")
    System.setProperty("derby.system.durability", "test")
    val cpus = Runtime.getRuntime.availableProcessors()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val wl: Workload = name match {
      case "ingest_daily" => new Ingest(seed, trace, pool)
      case "query_mix" => new QueryMix(seed, trace, new File(root, "perfbench/fixture/sf0.01").getPath)
      case other => sys.error(s"unknown workload $other")
    }
    try run(wl, seconds, trace, cpus, work)
    finally {
      pool.shutdownNow()
      SparkSession.getActiveSession.foreach(_.stop())
      Files.rm(work)
    }
  }

  private def run(wl: Workload, seconds: Double, trace: Trace, cpus: Int, work: File): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // Set-up is repeated and its median reported: round 0 also carries the
    // JVM start (process start to here), later rounds rebuild the session
    // and regenerate the inputs in the warm JVM.
    val setups = mutable.ArrayBuffer.empty[Double]
    var sessionBuild = 0.0
    var spark: SparkSession = null
    for (r <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      val before = if (r == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val tb = System.nanoTime()
      spark = Session.build(cpus, work)
      val tp = System.nanoTime()
      if (r == 0) sessionBuild = before + (tp - tb) / 1e9
      wl.prepare(spark, new File(work, s"round$r"))
      val tw = System.nanoTime()
      wl.warmup(spark)
      setups += before + (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up round $r: jvm ${before}%.3f s, session ${(tp - tb) / 1e9}%.3f s, " +
        f"inputs ${(tw - tp) / 1e9}%.3f s, warmup ${(System.nanoTime() - tw) / 1e9}%.3f s")
    }
    trace.install(spark)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val m = wl.measure(spark, deadline)
    val failures = wl.check(spark)
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

    val steady = m.passes.drop(1)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "first_pass_s" -> m.passes.head.sum,
      "pass_s" -> Stats.median(steady.map(_.sum)),
      "rows_per_s" -> m.rowsPerSec,
      "peak_rss_mb" -> Stats.peakRssMb())
    val jvm = Map(
      "session.build_s" -> sessionBuild,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "trace.pass_s" -> e2e("pass_s"))
    val metrics = if (trace.enabled) m.layers ++ jvm else e2e
    System.err.println(s"[perfbench] ops=${m.ops.size} passes=${m.passes.size} " +
      s"setups=${setups.map(s => f"$s%.3f").mkString(",")}")
    val body = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + Stats.num(v) }.mkString("{", ",", "}")
    println(s"""PERFBENCH {"attempted":${m.ops.size},"failed":${m.failedOps + failures.size},""" +
      s""""correct":${m.failedOps == 0 && failures.isEmpty},"metrics":$body}""")
    spark.stop()
  }
}

object Session {
  /** graft.Bench's session confs on local[cpus]; every scratch location
    * is placed under the work directory. */
  def build(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.graft.stream.checkpointDir", new File(work, "checkpoints").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** (parquet data files, their total bytes) under `dir`. */
  def parquetFiles(dir: File): (Long, Long) = {
    val w = java.nio.file.Files.walk(dir.toPath)
    try {
      val fs = w.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(p => java.nio.file.Files.size(p)).sum)
    } finally w.close()
  }

  def count(dir: File): Long =
    Option(dir.listFiles()).map(_.count(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_")).toLong).getOrElse(0L)
}
