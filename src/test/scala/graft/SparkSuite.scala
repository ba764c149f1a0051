package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-wide, lazy). */
trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs, restoring the old values. */
  def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and the Spark jobs it launched. A listener counts job
    * starts in this thread's job group; a sentinel job in a second group,
    * waited for, flushes the asynchronous listener bus before the count is
    * read. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val starts = new ConcurrentHashMap[String, AtomicInteger]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => starts.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.containsKey(group + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.containsKey(group + "-end"), "the listener never saw the sentinel job")
      (out, Option(starts.get(group)).fold(0)(_.get))
    } finally sc.removeSparkListener(l)
  }
}

object SparkSuite {
  // cpus pinned: SPARK_GRAFT_CPUS follows the box, test parallelism must not
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
