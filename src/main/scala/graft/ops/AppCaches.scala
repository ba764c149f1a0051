package graft.ops

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/**
 * The one home of the application-lifetime control-plane memos (tf-idf
 * frames, covariance stats, k-center picks, logreg weights, bucketed and
 * price-sorted layouts, …) and of the scratch directories they write.
 *
 * [[memo]] keeps every entry in ONE map keyed "appId@dir#name". Values
 * reference cache()'d DataFrames and collected arrays that belong to ONE
 * SparkSession, so the first memo of an application installs a listener
 * that drops that application's entries when its SparkContext stops —
 * without it they would outlive the session and accumulate across the
 * many sessions one JVM can host (the test suite; repeated Verify runs).
 * Cached DataFrames need no explicit unpersist at that point: their
 * blocks die with the context; eviction drops the stale driver-side
 * references.
 *
 * [[scratchDir]] creates a directory that one process-wide shutdown hook
 * deletes when the JVM exits cleanly.
 */
object AppCaches {

  /** One memo entry. The map only ever runs the cheap cell constructor
    * inside its bin lock; `build` runs in the lazy val, OUTSIDE the map's
    * lock, so a build may itself call [[memo]] (a bare
    * `computeIfAbsent` throws "Recursive update" when a nested key lands
    * in the bin being computed). Concurrent callers of one key wait on
    * the cell's own lock and share the single build. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }

  private val cells = new ConcurrentHashMap[String, Cell]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** `build`'s result, memoized per (application, fixture `dir`, `name`).
    * `name` identifies one call site: the value's type is erased, so two
    * sites sharing a name would share one value. A `build` that throws
    * leaves no entry: the next call builds again. */
  def memo[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    val sc = s.sparkContext
    val app = sc.applicationId
    if (hooked.add(app))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evict(app)
      })
    val key = s"$app@$dir#$name"
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** The application-end listener's body: drop every entry of `appId`. */
  private[ops] def evict(appId: String): Unit = {
    cells.keySet.removeIf(_.startsWith(appId + "@"))
    hooked.remove(appId): Unit
  }

  private lazy val scratchDirs = {
    val dirs = ConcurrentHashMap.newKeySet[File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => FileUtils.deleteQuietly(d): Unit)))
    dirs
  }

  /** `base/name`, created if absent and deleted at JVM exit. */
  def scratchDir(base: String, name: String): File = {
    val d = new File(base, name)
    d.mkdirs()
    scratchDirs.add(d)
    d
  }
}
