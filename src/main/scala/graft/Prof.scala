package graft
import org.apache.spark.scheduler._
/** Scratch profiling main (optimization round only): run named queries to
  * the noop sink with a listener printing per-job/per-stage wall time.
  * Usage: Prof <sfDir> <names-csv> [iters]
  */
object Prof {
  /** `k=v;k=v` → pairs; entries, keys and values are trimmed, so
    * "a=1; b=2" sets `b`, not " b". */
  private[graft] def confOverrides(raw: String): Seq[(String, String)] =
    raw.split(";").toSeq.map(_.trim).filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val iters = if (args.length > 2) args(2).toInt else 1
    // Extra conf overrides for overhead experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=8"
    val spark = GraftSession.local(
      extra = confOverrides(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
    // TrieMap: the listener bus mutates from its own thread while main
    // clears/iterates — a plain mutable.Map can throw or tear mid-drain.
    val stages = scala.collection.concurrent.TrieMap[Int, (String, Long, Long, Int)]() // id -> (name, submit, done, tasks)
    val jobs = scala.collection.concurrent.TrieMap[Int, (Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages(i.stageId) = (i.name.take(60),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs(e.jobId) = (e.time, 0L, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { case (t0, _, d) => jobs(e.jobId) = (t0, e.time, d) }
    })
    for (name <- names; it <- 1 to iters) {
      stages.clear(); jobs.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"== $name iter $it wall $wall%.2f s; ${jobs.size} jobs, ${stages.size} stages")
      val jsum = jobs.values.map { case (a, b, _) => math.max(0L, b - a) }.sum / 1e3
      println(f"   sum(job wall) $jsum%.2f s (serial driver/plan gap = ${wall - jsum}%.2f s)")
      stages.toSeq.sortBy { case (_, (_, s, d, _)) => -(d - s) }.take(12).foreach {
        case (id, (nm, s, d, nt)) =>
          println(f"   stage $id%4d ${(d - s) / 1e3}%6.2f s  tasks=$nt%3d  $nm")
      }
    }
    spark.stop()
  }
}
