package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a layer call made by the benchmark. Times are epoch
  * milliseconds as doubles (sub-ms from nanoTime) so Spark listener event
  * times, which are epoch ms, can be placed inside them. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000
}

/** Spark counters summed over the jobs attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
  /** Union of the attributed jobs' wall intervals, in ms. */
  var jobWallMs = 0.0
  var batches = 0L
  var stateRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; outBytes += o.outBytes
    outRecords += o.outRecords; jobWallMs += o.jobWallMs
    batches += o.batches; stateRows += o.stateRows
  }
}

/**
 * Span recorder plus the Spark and streaming listeners the traced run
 * registers. Everything is kept in memory and read once the run ends.
 *
 * Disabled (the untimed default), `span` only runs its body: no listener is
 * registered and no job group is set, so the untraced run measures the
 * program alone.
 *
 * Attribution: a span opened on the calling thread sets the Spark job group
 * to its id, and a job whose group names a span belongs to that span. Jobs
 * submitted from threads the program starts itself (the feed futures of
 * `Pipeline.runAll`) carry no usable group; those belong to the innermost
 * calling-thread span whose interval holds the job's submission time.
 */
final class Trace(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var currentOp = 0L
  /** The open top-level span: parent of spans opened on program threads. */
  @volatile private var openRoot = 0L

  private final case class JobRec(group: Option[String], start: Long,
                                  var end: Long, c: Counters)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Epoch ms of each streaming progress event (one per micro-batch). */
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  /** Last total state rows per streaming query run, to report final state. */
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  private def nowMs: Double = Trace.epochMs()

  def op(id: Long): Unit = currentOp = id

  /** Time `body` as a span named `name`, child of the caller's open span. */
  def span[A](name: String, spark: SparkSession = null)(body: => A): A = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parent = stack.get().headOption.getOrElse(openRoot)
    val isRoot = parent == 0L && !name.startsWith(Trace.ConcurrentPrefix)
    if (isRoot) openRoot = id
    val sc = Option(spark).map(_.sparkContext)
    val prevGroup = sc.flatMap(s => Option(s.getLocalProperty("spark.jobGroup.id")))
    sc.foreach(_.setJobGroup(id.toString, name))
    stack.set(id :: stack.get())
    val start = nowMs
    try body
    finally {
      spans.put(id, Span(id, name, parent, currentOp, start, nowMs))
      stack.set(stack.get().tail)
      if (isRoot) openRoot = 0L
      sc.foreach { s =>
        prevGroup match {
          case Some(g) => s.setJobGroup(g, "")
          case None => s.clearJobGroup()
        }
      }
    }
  }

  /** Register the collectors on `spark` (traced run only). */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val c = new Counters
      c.jobs = 1
      jobs.put(e.jobId, JobRec(group, e.time, e.time, c))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      forStage(e.stageInfo.stageId)(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = forStage(e.stageId) { c =>
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  // Listener callbacks run on the single listener-bus thread.
  private def forStage(stage: Int)(f: Counters => Unit): Unit =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).foreach(r => f(r.c))

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val state = p.stateOperators.map(_.numRowsTotal).sum
      progress.add(t)
      lastState.put(p.runId, (t, state))
    }
  }

  /** Wait until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.start)

  /** Counters per span id, from the attributed jobs and stream events.
    * Call after [[drain]]. */
  def countersBySpan(): Map[Long, Counters] = {
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    // Calling-thread spans only (the sink wrapper's spans run concurrently
    // on feed threads and are reached through job groups alone).
    val sequential = all.filterNot(_.name.startsWith(Trace.ConcurrentPrefix))
    def innermostAt(t: Double): Option[Span] =
      sequential.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption
    val out = mutable.Map.empty[Long, Counters]
    def into(id: Long) = out.getOrElseUpdate(id, new Counters)
    val intervals = mutable.Map.empty[Long, List[(Long, Long)]]
    jobs.values.asScala.foreach { r =>
      val byGroup = r.group.flatMap(g => g.toLongOption).flatMap(byId.get)
        .filter(s => s.start - 1 <= r.start && r.start <= s.end + 1)
      byGroup.orElse(innermostAt(r.start.toDouble)).foreach { s =>
        into(s.id).add(r.c)
        intervals(s.id) = (r.start, r.end) :: intervals.getOrElse(s.id, Nil)
      }
    }
    intervals.foreach { case (id, iv) => out(id).jobWallMs = Trace.unionMs(iv) }
    progress.asScala.foreach(t => innermostAt(t.toDouble).foreach(s => into(s.id).batches += 1))
    lastState.values.asScala.foreach { case (t, rows) =>
      innermostAt(t.toDouble).foreach(s => into(s.id).stateRows += rows)
    }
    out.toMap
  }

  /** Counters summed over a span and all its descendants. */
  def inclusive(counters: Map[Long, Counters]): Map[Long, Counters] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def total(id: Long): Counters = {
      val c = new Counters
      counters.get(id).foreach(c.add)
      children.getOrElse(id, Nil).foreach(ch => c.add(total(ch.id)))
      c
    }
    all.map(s => s.id -> total(s.id)).toMap
  }
}

object Trace {
  /** Spans whose body runs on a program-owned thread, concurrently with
    * its siblings; their jobs are attributed through job groups only. */
  val ConcurrentPrefix = "sink."

  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  /** Epoch ms with nanoTime resolution, anchored once per process. */
  def epochMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Total length of the union of the intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
