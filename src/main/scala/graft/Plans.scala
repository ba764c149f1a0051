package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
/** The plan-dump main: write `.explain("formatted")` of named queries (or
  * every query) to one text file each, so plan claims are checkable
  * without running Spark (plans/r10/), and two dumps compare with
  * `tools/plandiff.py`. Same session as Bench, so the dumped plans are the
  * benched plans.
  * Usage: Plans <sfDir> <outDir> [names-csv]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.selected(args.lift(2)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        System.err.println(s"[plans] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
