package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pin must stay executor-local by default and upgrade to a RELIABLE
  * checkpoint the moment a checkpoint dir is configured (the cluster
  * durability switch SCALE.md documents). A query that shares a frame in
  * its plan writes no checkpoint at all. */
class PinSpec extends AnyFunSuite with SparkSuite {

  test("Pin upgrades to a reliable checkpoint when a checkpoint dir is set") {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite session should start without a dir")

    val local = graft.ops.Pin(Seq(1, 2, 3).toDF("x"))
    assert(local.count() === 3)

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val pinned = graft.ops.Pin(Seq(4, 5, 6).toDF("x"))
      assert(pinned.count() === 3)
      // reliable checkpoint writes RDD blocks under the configured dir
      def files(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(f =>
          if (f.isDirectory) files(f) else Seq(f))
      assert(files(new java.io.File(dir)).nonEmpty,
        "no checkpoint files written — Pin did not take the reliable path")
    } finally {
      // Option(null) = None: restores the executor-local default for the
      // suites that share this session.
      sc.setCheckpointDir(null)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  // Pins still write a reliable copy that nothing deletes: the memo builds
  // (q163's `day`, for one), the loops, and the frames a build-time collect
  // also reads (q73, q236). SCALE.md "Lineage pinning" lists every one.
  test("a query that shares a frame in its plan writes no checkpoint under a reliable dir") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-shared-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      assert(SparkEntry.queries("q160_chi_square_cells")(spark, sf0001).count() > 0)
      def rddDirs(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles).map(_.toSeq).getOrElse(Nil).filter(_.isDirectory)
          .flatMap(d => if (d.getName.startsWith("rdd-")) Seq(d) else rddDirs(d))
      assert(rddDirs(new java.io.File(dir)).isEmpty)
    } finally sc.setCheckpointDir(null)
  }
}
