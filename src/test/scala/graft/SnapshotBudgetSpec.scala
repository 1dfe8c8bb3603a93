package graft

import graft.operators.{AnnIndex, Cluster, CommitLog, DeleteVectors,
  Merge, Publish, SchemaEvolve, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `f` starts outside any SQL execution — the footer reads
    * of schema inference, which run while a plan is analyzed — counted
    * through the job group `f` runs in (inherited by the threads it
    * starts). */
  private def footerJobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"footer-${System.nanoTime()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group &&
            e.properties.getProperty("spark.sql.execution.id") == null)
          seen.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      var last = -1
      while (seen.get != last) { last = seen.get; Thread.sleep(300) }
      last
    } finally sc.removeSparkListener(l)
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
    // the apply: one aggregation and the rewrite, under the schema
    // record; the window: one scan per changed file, no schema
    // inference of data files or DV parquet, no empty-frame schema read
    // (parent: 12 and 5)
    assert((cdcJobs, cdfJobs) == (6, 3))
    graft.io.Sources.deleteRecursively(root)
  }

  test("reads under the schema record: no footer job in the table " +
    "verbs, and a format(\"graft\") count runs only its own jobs") {
    val root = java.nio.file.Files.createTempDirectory("lb_footer")
      .toString
    val sink = twoFileTable(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    // a CDF stream over the table, polled once before the writes
    val v1 = new graft.sources.GraftDataSource().createSource(
      spark.sqlContext, s"$root/ck", None, "graft",
      Map("path" -> sink, "readChangeFeed" -> "true", "cdfKeys" -> "k"))
    val from = v1.getOffset.get
    val g0 = CommitLog.latestSnapshot(fs, hp).get._1
    val count = jobs(assert(spark.read.format("graft").load(sink).count()
      == 8L))
    val footers = Seq(
      "format(graft) count" -> footerJobs(
        spark.read.format("graft").load(sink).count()),
      "readAt" -> footerJobs(CommitLog.readAt(spark, sink, g0).count()),
      "mergeOnRead" -> footerJobs(DeleteVectors.mergeOnRead(spark, sink,
        Seq((2L, 22L), (30L, 300L)).toDF("k", "v"), Seq("k"))))
    // the stream's window over that upsert runs its own stages outside
    // a SQL execution, so it is pinned by its total: those two stages
    val window = jobs(v1.getBatch(Some(from), v1.getOffset.get))
    val writeFooters = Seq(
      "deleteWhere" -> footerJobs(DeleteVectors.deleteWhere(spark, sink,
        $"k" === 7L)),
      "applyDeletes" -> footerJobs(DeleteVectors.applyDeletes(spark, sink)),
      "compactSink" -> footerJobs(graft.operators.Compact.compactSink(
        spark, sink, targetBytes = 1L << 20)),
      "mergeParquet" -> footerJobs(Merge.mergeParquet(spark,
        Seq((3L, 33L), (40L, 400L)).toDF("k", "v"), Seq("k"), sink)),
      "applyCdcParquet" -> footerJobs(Merge.applyCdcParquet(spark,
        Seq((4L, 44L, "U"), (5L, 0L, "D")).toDF("k", "v", "__op"),
        Seq("k"), "__op", sink)))
    assert((footers ++ writeFooters).filter(_._2 != 0) == Nil)
    // parent: 5 and 4, with footer reads (the table's schema and the
    // scan's, both planned with mergeSchema; the window's files)
    assert((count, window) == (2, 2))
    v1.stop()
    graft.io.Sources.deleteRecursively(root)
  }

  test("one keyed CDF stream window lists the log once") {
    val root = java.nio.file.Files.createTempDirectory("lb_cdf").toString
    val sink = twoFileTable(root)
    val v1 = new graft.sources.GraftDataSource().createSource(
      spark.sqlContext, s"$root/ck", None, "graft",
      Map("path" -> sink, "readChangeFeed" -> "true", "cdfKeys" -> "k"))
    val from = v1.getOffset.get
    DeleteVectors.mergeOnRead(spark, sink,
      Seq((2L, 22L), (30L, 300L)).toDF("k", "v"), Seq("k"))
    val to = v1.getOffset.get
    assert(listings(v1.getBatch(Some(from), to)) == 1L) // parent: 2
    v1.stop()
    graft.io.Sources.deleteRecursively(root)
  }

  test("Spark-job budgets of the ANN index on 200 x 64 vectors: " +
    "training on the driver, sidecars read under fixed schemas") {
    val root = java.nio.file.Files.createTempDirectory("lb_ann").toString
    val sink = s"$root/t"
    (0 until 200).map(i => (i.toLong,
        Array.tabulate(64)(d => math.sin(i * (d + 1) + 1).toFloat)))
      .toDF("vec_id", "embedding").repartition(2).write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    val build = jobs(AnnIndex.build(spark, sink, numCentroids = 16))
    val buildPq = jobs(AnnIndex.buildPq(spark, sink, subspaces = 8,
      codebookSize = 16))
    // serving is pinned by its footer reads: its total (10 or 13 jobs)
    // varies with the order in which AQE sees its concurrently running
    // query stages finish, since it re-plans the serve joins after each
    val queries = spark.read.parquet(sink).filter($"vec_id" < 6)
    val servedFooters = footerJobs(assert(AnnIndex.topKPq(spark, sink,
      queries, nProbe = 4, k = 5).collect().length == 30))
    // build reads the table under its schema record: no footer read
    // for the training rows or the assignment scan (parent: 7)
    assert((build, buildPq, servedFooters) == (5, 5, 0))
    graft.io.Sources.deleteRecursively(root)
  }

  test("input schemas: a re-read of an unchanged input runs no job, " +
    "and one stageAll infers each distinct input once") {
    val root = java.nio.file.Files.createTempDirectory("lb_src").toString
    // one row per harness input the six builders read
    def writeInputs(dir: String): String = {
      val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      def put(name: String, df: org.apache.spark.sql.DataFrame) =
        df.coalesce(1).write.parquet(s"$dir/$name.parquet")
      put("orders", Seq((1L, 1L, "O", 10.0, ts, "1-URGENT")).toDF(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
      put("lineitem", Seq((1L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
        ts)).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
      put("customer", Seq((1L, "c", 1, 0.0, "BUILDING")).toDF("c_custkey",
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      put("supplier", Seq((1L, "s", 1, 0.0)).toDF("s_suppkey", "s_name",
        "s_nationkey", "s_acctbal"))
      put("events", Seq((1L, ts, 1L, "click", 1.0, "{}")).toDF("event_id",
        "ts", "user_id", "event_type", "value", "props"))
      dir
    }
    val in = writeInputs(s"$root/in")
    graft.io.Sources.table(spark, in, "orders")
    assert(jobs(graft.io.Sources.table(spark, in, "orders")) == 0) // parent: 1
    val fresh = writeInputs(s"$root/in2")
    // parent: 15 — every lineage inferred its inputs again, serially
    assert(footerJobs(Publish.stageAll(spark, fresh, s"$root/stage")) == 5)
    graft.io.Sources.deleteRecursively(root)
  }
}
