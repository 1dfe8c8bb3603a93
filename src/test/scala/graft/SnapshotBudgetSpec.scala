package graft

import graft.operators.{AnnIndex, Cluster, CommitLog, SchemaEvolve,
  TableStats}
import org.apache.hadoop.fs.Path

/** Log-listing budgets of the snapshot-reading operators: each commit
  * an operator makes resolves the latest generation ONCE
  * ([[CommitLog.ensureSnapshotAt]]) and reads every record family it
  * needs from that one manifest, so a count above the budget means a
  * second, possibly newer, view of the table crept back into the
  * call. Counted with [[CommitLog.logListings]] on a two-file
  * table. */
class SnapshotBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Log listings made while running `f`. */
  private def listings(f: => Any): Long = {
    val before = CommitLog.logListings.get
    f
    CommitLog.logListings.get - before
  }

  test("analyze, addCheck, renameColumn, zorderBy and AnnIndex.build " +
    "list the commit log once per commit they make") {
    val root = java.nio.file.Files.createTempDirectory("lb").toString
    val sink = s"$root/t"
    (0 until 2).foreach { b =>
      (0 until 8).map { i =>
        val id = b * 8L + i
        (id, id.toDouble, (id * 5 % 8).toDouble,
          Array.tabulate(4)(d => math.sin(id * (d + 1) + 1).toFloat))
      }.toDF("vec_id", "x", "y", "embedding").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val hp = new Path(sink)
    CommitLog.ensureLoggedAt(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
    val got = Seq(
      "analyze" -> listings(TableStats.analyze(spark, sink, Seq("x"))),
      "addCheck" -> listings(
        CommitLog.addCheck(spark, sink, "x_nonneg", "x >= 0")),
      "renameColumn" -> listings(
        SchemaEvolve.renameColumn(spark, sink, "y", "y2")),
      "zorderBy" -> listings(
        Cluster.zorderBy(spark, sink, Seq("x", "y2"), nFiles = 2)),
      "AnnIndex.build" -> listings(
        AnnIndex.build(spark, sink, numCentroids = 2, iters = 1)))
    assert(got == Seq("analyze" -> 1L, "addCheck" -> 1L,
      "renameColumn" -> 1L, "zorderBy" -> 1L, "AnnIndex.build" -> 1L))
  }
}
