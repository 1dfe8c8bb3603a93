package graft

import graft.operators.{AnnIndex, Cluster, CommitLog, DeleteVectors,
  Merge, SchemaEvolve, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{ReadLimit,
  SupportsAdmissionControl}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Log-listing budgets of the snapshot-reading operators: each commit
  * an operator makes resolves the latest generation ONCE
  * ([[CommitLog.ensureSnapshotAt]]) and reads every record family it
  * needs from that one manifest, so a count above the budget means a
  * second, possibly newer, view of the table crept back into the
  * call. Counted with [[CommitLog.logListings]] on a two-file
  * table. Idle stream polls list nothing, and the change-feed replica
  * path (a collected CDF window, a CDC apply) has a Spark-job budget,
  * counted through a job group. */
class SnapshotBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Log listings made while running `f`. */
  private def listings(f: => Any): Long = {
    val before = CommitLog.logListings.get
    f
    CommitLog.logListings.get - before
  }

  /** Spark jobs `f` runs in this thread's job group. Job starts reach
    * the status store through the listener bus, so the count is read
    * until it stops moving. */
  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    def seen = sc.statusTracker.getJobIdsForGroup(group).length
    var last = -1
    var now = seen
    while (now != last) {
      Thread.sleep(300)
      last = now
      now = seen
    }
    now
  }

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A logged two-file (k, v) table, keys 1..8, four per file. */
  private def twoFileTable(root: String): String = {
    val sink = s"$root/t"
    Seq(1L to 4L, 5L to 8L).foreach { ks =>
      ks.map(k => (k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
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

  test("idle stream polls stat the next manifest and list nothing; " +
    "a commit is picked up with one listing") {
    val root = java.nio.file.Files.createTempDirectory("lb_poll").toString
    val sink = twoFileTable(root)
    val ds = new graft.sources.GraftDataSource()
    // the V1 source (the change-feed path)
    val v1 = ds.createSource(spark.sqlContext, s"$root/ck1", None,
      "graft", Map("path" -> sink, "readChangeFeed" -> "true",
        "cdfKeys" -> "k"))
    // the V2 micro-batch stream (the plain append-only path)
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", sink))
    val v2 = ds.getTable(ds.inferSchema(opts), Array.empty,
        java.util.Map.of("path", sink))
      .asInstanceOf[SupportsRead].newScanBuilder(opts).build()
      .toMicroBatchStream(s"$root/ck2")
      .asInstanceOf[SupportsAdmissionControl]
    val start = v2.initialOffset()
    def poll2() = v2.latestOffset(start, ReadLimit.allAvailable()).json
    val first1 = v1.getOffset.get.json
    val first2 = poll2()
    val idle = listings((1 to 5).foreach { _ =>
      assert(v1.getOffset.get.json == first1)
      assert(poll2() == first2)
    })
    assert(idle == 0L, s"5 idle polls of each source listed $idle times")
    Seq((9L, 90L)).toDF("k", "v").write.format("graft").mode("append")
      .save(sink)
    val moved = listings {
      assert(v1.getOffset.get.json != first1)
      assert(poll2() != first2)
    }
    assert(moved == 2L, s"one listing per source after a commit: $moved")
    v1.stop()
    graft.io.Sources.deleteRecursively(root)
  }

  test("Spark-job budgets of the change-feed replica path: one CDC " +
    "apply and one collected merge-on-read CDF window") {
    val root = java.nio.file.Files.createTempDirectory("lb_jobs").toString
    // a CDC apply of upserts (an update, an insert) and deletes on a
    // two-file sink
    val replica = twoFileTable(root)
    val changes = Seq((2L, 21L, "U"), (6L, 0L, "D"), (7L, 0L, "D"),
      (20L, 200L, "U")).toDF("k", "v", "__op")
    val cdcJobs = jobs {
      val st = Merge.applyCdcParquet(spark, changes, Seq("k"), "__op",
        replica)
      assert((st.rowsUpdated, st.rowsDeleted, st.rowsInserted) ==
        (1L, 2L, 1L), st.toString)
    }
    // a merge-on-read upsert, read back as one keyed CDF window
    val sink = twoFileTable(s"$root/mor")
    val fs = fsOf(sink); val hp = new Path(sink)
    val g0 = CommitLog.latestSnapshot(fs, hp).get._1
    DeleteVectors.mergeOnRead(spark, sink,
      Seq((2L, 22L), (30L, 300L)).toDF("k", "v"), Seq("k"))
    val g1 = CommitLog.latestSnapshot(fs, hp).get._1
    val cdfJobs = jobs {
      val got = CommitLog.changesBetween(spark, sink, g0, g1, Seq("k"))
        .select("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((2L, "update_postimage"), (2L, "update_preimage"),
        (30L, "insert")))
    }
    // the apply: no count job beside its one key pass; the window: one
    // scan per changed file, no schema inference of DV parquet and no
    // empty-frame schema read
    assert((cdcJobs, cdfJobs) == (12, 5))
    graft.io.Sources.deleteRecursively(root)
  }
}
