package graft

import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve,
  TableStats}
import graft.sources.GraftScanInfo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._

/** The `spark.read.format("graft")` DataSource V2 surface
  * ([[graft.sources.GraftDataSource]]): manifest resolution, DV
  * application, column-mapping epochs, pushed-filter `#stats`
  * pruning, column pruning, and `versionAsOf` time travel — all
  * reachable by consumers who know nothing of the operator APIs, and
  * hash-equal to them. */
class DataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 7 k-clustered files (decades 0..6), analyzed, k%10==7 rows
    * DV-deleted, column k renamed to key. Returns (sink, generation
    * BEFORE the rename). */
  private def mkSink(root: String): (String, Long) = {
    val sink = s"$root/t"
    (0 until 7).foreach { b =>
      (0 until 10).map(i => (b * 10L + i, f"s${b * 10 + i}%03d"))
        .toDF("k", "s").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("k", "s"))
    DeleteVectors.deleteWhere(spark, sink, col("k") % 10 === 7)
    val genPre = CommitLog.committed(fs, hp).get._1
    SchemaEvolve.renameColumn(spark, sink, "k", "key")
    (sink, genPre)
  }

  private def scanInfo(df: DataFrame): GraftScanInfo =
    df.queryExecution.sparkPlan.collect {
      case r: RowDataSourceScanExec => r.relation
    }.collectFirst { case g: GraftScanInfo => g }
      .getOrElse(fail("no graft relation in the physical plan"))

  test("a DV'd + renamed + analyzed sink reads through the format " +
    "string identical to the operator API; count() works through an " +
    "empty projection") {
    val root = java.nio.file.Files.createTempDirectory("ds1").toString
    val (sink, _) = mkSink(root)
    val viaFormat = spark.read.format("graft").load(sink)
    assert(viaFormat.columns.toSeq == Seq("key", "s"),
      "logical (renamed) schema must surface")
    val a = viaFormat.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val b = CommitLog.read(spark, sink)
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(a == b && a.size == 63, "format read ≡ operator read")
    assert(!a.exists(_._1 % 10 == 7), "DV'd rows must be invisible")
    assert(viaFormat.count() == 63L, "zero-column count path")
  }

  test("a pushed band filter prunes files from the manifest alone: " +
    "kept/skipped pinned on the plan's relation, filters advertised " +
    "as pushed, result exact") {
    val root = java.nio.file.Files.createTempDirectory("ds2").toString
    val (sink, _) = mkSink(root)
    val df = spark.read.format("graft").load(sink)
      .filter(col("key") >= 20L && col("key") <= 39L)
    val info = scanInfo(df)
    assert(info.keptCount == 2 && info.skippedCount == 5,
      s"band must plan 2 of 7 files (got ${info.keptCount}/" +
        s"${info.skippedCount}) — rekeyed stats prune the renamed " +
        "column")
    // the pruning decision is visible in the plan text (explain)
    val planText = df.queryExecution.sparkPlan.toString
    assert(planText.contains("kept=2") && planText.contains("skipped=5"),
      planText.take(500))
    val got = df.orderBy("key").collect().map(_.getLong(0)).toSeq
    assert(got == (20L to 39L).filterNot(_ % 10 == 7))
    // conjunction with a second column prunes multiplicatively
    val df2 = spark.read.format("graft").load(sink)
      .filter(col("key") >= 20L && col("key") <= 39L &&
        col("s") === "s025")
    val info2 = scanInfo(df2)
    assert(info2.keptCount == 1 && info2.skippedCount == 6)
    assert(df2.collect().map(_.getLong(0)).toSeq == Seq(25L))
    // a filter no file can satisfy plans ZERO files — and the audit
    // surface stays usable on the fully-pruned scan (empty frame,
    // not an error)
    val df3 = spark.read.format("graft").load(sink)
      .filter(col("key") === 999L)
    assert(scanInfo(df3).keptCount == 0)
    assert(scanInfo(df3).innerFrame().count() == 0L)
    assert(df3.count() == 0L)
  }

  test("column pruning narrows the relation schema to the projection") {
    val root = java.nio.file.Files.createTempDirectory("ds3").toString
    val (sink, _) = mkSink(root)
    val df = spark.read.format("graft").load(sink).select("s")
    val rel = df.queryExecution.sparkPlan.collect {
      case r: RowDataSourceScanExec => r
    }.headOption.getOrElse(fail("no V1 scan node"))
    assert(rel.output.map(_.name) == Seq("s"),
      s"relation must carry only the projected column, got " +
        s"${rel.output.map(_.name)}")
    assert(df.distinct().count() == 63L)
  }

  test("versionAsOf pins a snapshot (pre-rename schema, pre-delete " +
    "rows); unknown generations and unlogged paths are loud") {
    val root = java.nio.file.Files.createTempDirectory("ds4").toString
    val (sink, genPre) = mkSink(root)
    val tt = spark.read.format("graft")
      .option("versionAsOf", genPre.toString).load(sink)
    assert(tt.columns.toSeq == Seq("k", "s"),
      "time travel must surface the schema AS OF that generation")
    assert(tt.count() ==
      CommitLog.readAt(spark, sink, genPre).count())
    // the pinned FIRST generation predates the delete entirely
    val g0 = spark.read.format("graft")
      .option("versionAsOf", "0").load(sink)
    assert(g0.count() == 70L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("versionAsOf", "999").load(sink)
    }
    val bare = s"$root/unlogged"
    Seq((1L, "x")).toDF("k", "s").write.parquet(bare)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").load(bare)
    }
    // timestampAsOf: a moment after the last commit resolves to the
    // latest generation; a moment before the table exists is loud;
    // combining both travel options is loud
    val fs = fsOf(sink); val hp = new Path(sink)
    val future = System.currentTimeMillis() + 3600000L
    assert(CommitLog.generationAsOf(fs, hp, future) ==
      CommitLog.committed(fs, hp).get._1)
    assert(spark.read.format("graft")
      .option("timestampAsOf", future.toString).load(sink)
      .count() == 63L)
    assert(CommitLog.readAsOf(spark, sink, future).count() == 63L)
    intercept[IllegalArgumentException] {
      CommitLog.generationAsOf(fs, hp, 0L)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "0")
        .option("timestampAsOf", future.toString).load(sink)
    }
  }

  test("df.write.format(\"graft\") creates, appends (commutative " +
    "logged append under the LOGICAL schema), and truncate-overwrites " +
    "with time travel intact") {
    val root = java.nio.file.Files.createTempDirectory("ds6").toString
    val sink = s"$root/w"
    // CREATE by first write: no log exists yet
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    assert(CommitLog.generations(fs, hp).nonEmpty, "write must create")
    assert(spark.read.format("graft").load(sink).count() == 2L)
    // rename, then append under the NEW logical name — no records
    // needed on the fresh files, epochs union transparently
    SchemaEvolve.renameColumn(spark, sink, "k", "key")
    Seq((3L, "c")).toDF("key", "s")
      .write.format("graft").mode("append").save(sink)
    assert(spark.read.format("graft").load(sink).orderBy("key")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // by-name resolution: column ORDER is free, an UNKNOWN column is
    // loud at analysis, a missing nullable column null-fills (the
    // V2 by-name insert semantics — pinned)
    Seq(("d", 4L)).toDF("s", "key")
      .write.format("graft").mode("append").save(sink)
    assert(spark.read.format("graft").load(sink).count() == 4L)
    intercept[Exception] {
      Seq((5L, "e", 1L)).toDF("key", "s", "extra")
        .write.format("graft").mode("append").save(sink)
    }
    Seq(Tuple1(5L)).toDF("key")
      .write.format("graft").mode("append").save(sink)
    val r5 = spark.read.format("graft").load(sink)
      .filter(col("key") === 5L).collect()
    assert(r5.length == 1 && r5.head.isNullAt(1),
      "missing nullable column must null-fill by name")
    // truncate-overwrite commits a replacing generation; the old one
    // stays readable via versionAsOf until retention
    val genBefore = CommitLog.committed(fs, hp).get._1
    Seq((99L, "z")).toDF("key", "s")
      .write.format("graft").mode("overwrite").save(sink)
    assert(spark.read.format("graft").load(sink)
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
    assert(spark.read.format("graft")
      .option("versionAsOf", genBefore.toString).load(sink)
      .count() == 5L, "truncated snapshot must stay time-travelable")
  }

  test("format writes enforce CHECK constraints before staging and " +
    "no-op on a replayed txn version (idempotent micro-batch)") {
    val root = java.nio.file.Files.createTempDirectory("ds7").toString
    val sink = s"$root/w"
    Seq((1L, 10L)).toDF("k", "v")
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.addCheck(spark, sink, "v_pos", "v > 0")
    val gAfter = CommitLog.committed(fs, hp).get._1
    val e = intercept[IllegalArgumentException] {
      Seq((2L, -5L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
    }
    assert(e.getMessage.contains("v_pos"))
    assert(CommitLog.committed(fs, hp).get._1 == gAfter,
      "a refused batch must not commit")
    assert(CommitLog.read(spark, sink).count() == 1L)
    // idempotent writer: same (appId, version) replayed → one landing
    def writeTxn(): Unit = Seq((3L, 30L)).toDF("k", "v")
      .write.format("graft").mode("append")
      .option("txnAppId", "ds7").option("txnVersion", "1").save(sink)
    writeTxn(); writeTxn()
    assert(CommitLog.read(spark, sink).count() == 2L,
      "a replayed txn version must no-op")
    // a HIGHER version lands
    Seq((4L, 40L)).toDF("k", "v")
      .write.format("graft").mode("append")
      .option("txnAppId", "ds7").option("txnVersion", "2").save(sink)
    assert(CommitLog.read(spark, sink).count() == 3L)
    // the RAW writer path (what the streaming sink uses — no by-name
    // analysis above it) refuses a batch missing a table column
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq(Tuple1(9L)).toDF("k"), sink, overwrite = false, txn = None)
    }
    assert(e2.getMessage.contains("missing column"))
    assert(CommitLog.read(spark, sink).count() == 3L)
  }

  test("readStream.format(\"graft\") tails the commit log: first " +
    "batch is the snapshot, each later batch exactly the appended " +
    "rows; non-append changes kill the stream loudly; ignoreChanges " +
    "streams past them") {
    val root = java.nio.file.Files.createTempDirectory("ds8").toString
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.format("graft").mode("append").save(sink)
    val q = spark.readStream.format("graft").load(sink)
      .writeStream.format("memory").queryName("gs_tail")
      .option("checkpointLocation", s"$root/ck1").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gs_tail").count() == 2L, "initial snapshot")
      // two commits land while the stream runs — exactly their rows
      // arrive, nothing re-read
      Seq((3L, 30L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
      Seq((4L, 40L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
      q.processAllAvailable()
      assert(spark.table("gs_tail").orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
      // a DELETE on already-streamed rows is a non-append change:
      // the next window must fail loudly
      graft.operators.DeleteVectors.deleteWhere(spark, sink,
        col("k") === 1L)
      Seq((5L, 50L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
    } finally q.stop()
    // ignoreChanges from a fresh checkpoint: snapshot reflects the
    // delete, later appends still arrive
    val q2 = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(sink)
      .writeStream.format("memory").queryName("gs_tail2")
      .option("checkpointLocation", s"$root/ck2").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("gs_tail2").orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L, 5L))
      graft.operators.DeleteVectors.deleteWhere(spark, sink,
        col("k") === 2L) // change mid-stream: tolerated
      Seq((6L, 60L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
      q2.processAllAvailable()
      assert(spark.table("gs_tail2").orderBy("k")
        .collect().map(_.getLong(0)).toSeq ==
        Seq(2L, 3L, 4L, 5L, 6L),
        "ignoreChanges streams only the appended rows")
    } finally q2.stop()
  }

  test("writeStream.format(\"graft\") is an exactly-once sink: a " +
    "graft→graft pipeline replicates appends end-to-end, a replayed " +
    "batchId no-ops through the #txn ledger, and target CHECKs gate " +
    "every micro-batch") {
    val root = java.nio.file.Files.createTempDirectory("ds9").toString
    val a = s"$root/a"; val b = s"$root/b"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.format("graft").mode("append").save(a)
    val q = spark.readStream.format("graft").load(a)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/ck")
      .option("txnAppId", "ds9-pipe")
      .start(b)
    try {
      q.processAllAvailable()
      assert(CommitLog.read(spark, b).orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
        "snapshot batch must land on the target")
      Seq((3L, 30L)).toDF("k", "v")
        .write.format("graft").mode("append").save(a)
      q.processAllAvailable()
      assert(CommitLog.read(spark, b).count() == 3L)
    } finally q.stop()
    // exactly-once: replaying an ALREADY-COMMITTED batch id through
    // the same app id must not double-land (the crash-replay path)
    val fs = fsOf(b); val hp = new Path(b)
    val before = CommitLog.read(spark, b).count()
    val lastVersion = latest(fs, hp).txns.get("ds9-pipe").get
    graft.sources.GraftWriter.write(
      Seq((99L, 990L)).toDF("k", "v"), b, overwrite = false,
      txn = Some(("ds9-pipe", lastVersion)))
    assert(CommitLog.read(spark, b).count() == before,
      "a replayed (appId, batchId) must no-op")
    // a CHECK on the target gates micro-batches: the stream fails
    // loudly instead of landing a violating batch
    CommitLog.addCheck(spark, b, "v_pos", "v > 0")
    val q2 = spark.readStream.format("graft").load(a)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/ck") // resume same ledger
      .option("txnAppId", "ds9-pipe")
      .start(b)
    try {
      Seq((4L, -40L)).toDF("k", "v")
        .write.format("graft").mode("append").save(a)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        q2.awaitTermination(10000)
      }
      assert(CommitLog.read(spark, b)
        .filter(col("v") < 0).count() == 0L,
        "no violating row may land")
    } finally q2.stop()
    // Complete output mode is refused loudly
    intercept[Exception] {
      spark.readStream.format("graft").load(a)
        .groupBy("k").count()
        .writeStream.format("graft")
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck3")
        .start(s"$root/c")
    }
  }

  test("metadata tables: option(\"metadata\", files/history) reads " +
    "the table ABOUT the table from manifests alone; versionAsOf " +
    "composes with files") {
    val root = java.nio.file.Files.createTempDirectory("ds10").toString
    val (sink, genPre) = mkSink(root)
    val files = spark.read.format("graft")
      .option("metadata", "files").load(sink)
    assert(files.count() == 7L)
    val rows = files.collect().map(r => (r.getString(0), r.getLong(1),
      r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3),
      r.getLong(4), r.getBoolean(5)))
    assert(rows.forall(_._2 > 0L), "bytes from the filesystem status")
    assert(rows.count(_._3) == 7, "every file carries a DV (k%10==7)")
    assert(rows.forall(_._4 == 1L), "one mark per file, cardinality " +
      "from the #dv record")
    assert(rows.forall(_._5 == 2L), "two analyzed columns per file")
    assert(rows.forall(_._6), "every file is mapped after the rename")
    // versionAsOf: the pre-delete snapshot has no DVs
    val filesAt0 = spark.read.format("graft")
      .option("metadata", "files").option("versionAsOf", "0")
      .load(sink)
    assert(filesAt0.count() == 7L &&
      filesAt0.filter(col("has_dv")).count() == 0L)
    // history: bootstrap → analyze → delete → schema-evolve
    val hist = spark.read.format("graft")
      .option("metadata", "history").load(sink)
      .orderBy("generation").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._2).toSeq ==
      Seq("bootstrap", "analyze", "delete", "schema-evolve"),
      hist.mkString(","))
    // SQL over a metadata view
    spark.read.format("graft").option("metadata", "files").load(sink)
      .createOrReplaceTempView("gmeta_files")
    try assert(spark.sql(
      "SELECT CAST(sum(dv_marks) AS BIGINT) FROM gmeta_files")
      .head.getLong(0) == 7L)
    finally spark.catalog.dropTempView("gmeta_files")
    // unknown metadata table is loud
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("metadata", "nope").load(sink)
    }
  }

  test("readChangeFeed streaming: windows emit the paired change " +
    "feed (updates/deletes representable, not fatal), and a " +
    "foreachBatch consumer maintains an exact MoR replica") {
    import graft.operators.{DeleteVectors, Merge}
    val root = java.nio.file.Files.createTempDirectory("ds11").toString
    val up = s"$root/up"; val down = s"$root/down"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .write.format("graft").mode("append").save(up)
    Seq.empty[(Long, Long)].toDF("k", "v").write.parquet(down)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("cdfKeys", "k")
      .load(up)
      .writeStream.option("checkpointLocation", s"$root/ck")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val ops = df.filter(col("_change_type") =!= "update_preimage")
          .withColumn("__op",
            when(col("_change_type") === "delete", lit("D"))
              .otherwise(lit("U")))
          .drop("_change_type")
        if (ops.take(1).nonEmpty)
          Merge.applyCdcParquet(spark, ops, Seq("k"), "__op", down)
        ()
      }.start()
    def replica(): Seq[(Long, Long)] = CommitLog.read(spark, down)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      q.processAllAvailable() // snapshot as inserts
      assert(replica() == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      // an UPDATE (merge-on-read) pairs and replays as value change
      DeleteVectors.mergeOnRead(spark, up,
        Seq((2L, 200L)).toDF("k", "v"), Seq("k"))
      q.processAllAvailable()
      assert(replica() == Seq((1L, 10L), (2L, 200L), (3L, 30L)))
      // a DELETE replays as a delete — the append-only mode would
      // have killed the stream here
      DeleteVectors.deleteWhere(spark, up, col("k") === 1L)
      q.processAllAvailable()
      assert(replica() == Seq((2L, 200L), (3L, 30L)))
      // an append replays as inserts
      Seq((4L, 40L)).toDF("k", "v")
        .write.format("graft").mode("append").save(up)
      q.processAllAvailable()
      assert(replica() == Seq((2L, 200L), (3L, 30L), (4L, 40L)))
      // end state: replica ≡ upstream, row for row
      assert(replica() == CommitLog.read(spark, up).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    } finally q.stop()
  }

  test("maxFilesPerTrigger splits the INITIAL snapshot across " +
    "micro-batches (bootstrap is rate-limited like the tail); a " +
    "checkpoint restart mid-snapshot resumes capped, re-emitting " +
    "nothing; the union equals the batch read") {
    val root = java.nio.file.Files.createTempDirectory("ds12").toString
    val sink = s"$root/t"
    (1L to 6L).foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.format("graft").mode("append").save(sink)
    }
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val batchSizes = scala.collection.mutable.ArrayBuffer[Int]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2").load(sink)
        .writeStream.option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val ks = df.collect().map(_.getLong(0))
          got.synchronized { got ++= ks; batchSizes += ks.length }
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce() // split window 1: two of six snapshot files
    assert(got.size == 2 && got.distinct.size == 2,
      s"first split window must carry exactly two files' rows: $got")
    // RESTART mid-snapshot: the recovered rate-limiter base resumes
    // the split from the checkpoint — capped, nothing re-emitted
    runOnce()
    assert(got.size == 4 && got.distinct.size == 4,
      s"restart must resume the split without re-emitting: $got")
    runOnce() // window 3 completes the snapshot
    assert(got.sorted.toSeq == (1L to 6L),
      s"split union must equal the batch read: $got")
    // the tail still flows once the snapshot is complete
    Seq((7L, 70L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("append").save(sink)
    runOnce()
    assert(got.sorted.toSeq == (1L to 7L), s"tail after snapshot: $got")
    assert(batchSizes.forall(_ <= 2),
      s"every window stays under the file cap: $batchSizes")
  }

  test("startingVersion + maxGensPerTrigger: a clean restart never " +
    "regresses the offset below the checkpoint (no re-delivery, no " +
    "spurious non-append failure) — the rate limiter recovers its " +
    "base from its own checkpoint state") {
    val root = java.nio.file.Files.createTempDirectory("ds15").toString
    val sink = s"$root/t"
    (1L to 6L).foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.format("graft").mode("append").save(sink)
    }
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "1")
        .option("maxGensPerTrigger", "2").load(sink)
        .writeStream.option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          got.synchronized { got ++= df.collect().map(_.getLong(0)) }
          ()
        }.start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce() // gens 1→3: rows of generations 2 and 3
    assert(got.sorted.toSeq == Seq(2L, 3L), s"first capped window: $got")
    runOnce() // RESTART: must resume at gen 3, never re-offer 1+2
    assert(got.sorted.toSeq == Seq(2L, 3L, 4L, 5L),
      s"restart must advance the capped window, not regress: $got")
    runOnce()
    assert(got.sorted.toSeq == (2L to 6L),
      s"catch-up completes without duplicates: $got")
    runOnce() // nothing new: no window, no failure
    assert(got.sorted.toSeq == (2L to 6L), s"idle restart is a no-op: $got")
  }

  test("format writes refuse a type-conflicting batch at WRITE time " +
    "(generation and files unchanged); a batch carrying the widened " +
    "type of a #coltype-evolved column passes") {
    val root = java.nio.file.Files.createTempDirectory("ds13").toString
    val sink = s"$root/t"
    Seq((1, 10), (2, 20)).toDF("k", "v")
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    val genBefore = CommitLog.committed(fs, hp).get._1
    val filesBefore = CommitLog.committed(fs, hp).get._2.toSet
    // the RAW batch path (what the V1 streaming sink feeds — Spark's
    // by-name cast resolution never sees it): a STRING batch into an
    // INT column would land files that break the union read later —
    // refused now, nothing committed
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq(("3", 30)).toDF("k", "v"), sink, overwrite = false,
        txn = None)
    }
    assert(e.getMessage.contains("type"), e.getMessage)
    assert(CommitLog.committed(fs, hp).get._1 == genBefore &&
      CommitLog.committed(fs, hp).get._2.toSet == filesBefore,
      "a refused batch must leave the table untouched")
    // widen k to BIGINT (existing files gain #coltype records), then
    // a raw LONG batch is exactly the logical type — accepted
    SchemaEvolve.widenColumn(spark, sink, "k", "bigint")
    graft.sources.GraftWriter.write(
      Seq((3L, 30)).toDF("k", "v"), sink, overwrite = false,
      txn = None)
    assert(spark.read.format("graft").load(sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // …while a raw batch still carrying the NARROW type refuses: its
    // files would lack the #coltype record readers need
    intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq((4, 40)).toDF("k", "v"), sink, overwrite = false,
        txn = None)
    }
    // the BATCH format path stays covered by Spark's by-name store
    // assignment on the table's LOGICAL schema: a castable batch is
    // upcast to it, an incompatible one refuses at analysis
    Seq((4L, 40)).toDF("k", "v")
      .write.format("graft").mode("append").save(sink)
    assert(spark.read.format("graft").load(sink).count() == 4L)
    intercept[Exception] {
      Seq(("oops", 50)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
    }
    assert(spark.read.format("graft").load(sink).count() == 4L)

    // the FIRST raw batch into a still-EMPTY catalog-created table is
    // held to the DECLARED #meta schema the same way: a missing
    // column or a conflicting type refuses before anything stages
    // (round 11 enforced only partition columns here)
    val empty = s"$root/empty"
    val efs = fsOf(empty); val ehp = new Path(empty)
    efs.mkdirs(ehp)
    CommitLog.commitNext(efs, ehp, -1L, Nil, meta = Map(
      "schema.ddl" -> "k INT, v BIGINT", "partition.cols" -> ""))
    intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq((1, "x")).toDF("k", "v"), empty, overwrite = false,
        txn = None) // v: STRING vs declared BIGINT
    }
    intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq(1).toDF("k"), empty, overwrite = false,
        txn = None) // v missing entirely
    }
    assert(CommitLog.committed(efs, ehp).get._2.isEmpty,
      "refused bootstrap batches must leave the table empty")
    graft.sources.GraftWriter.write(
      Seq((1, 10L)).toDF("k", "v"), empty, overwrite = false,
      txn = None)
    assert(spark.read.format("graft").load(empty).count() == 1L)
  }

  test("writeStream.format(\"graft\").partitionBy lands micro-batches " +
    "under the hive layout — one logged append + #txn per batch — " +
    "and the streamed sink partition-prunes with no ANALYZE; later " +
    "flat format appends route INTO the layout or refuse") {
    import graft.operators.TableStats
    val root = java.nio.file.Files.createTempDirectory("ds14").toString
    val a = s"$root/a"; val b = s"$root/b"
    Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("k", "p")
      .write.format("graft").mode("append").save(a)
    val q = spark.readStream.format("graft").load(a)
      .writeStream.format("graft").partitionBy("p")
      .option("checkpointLocation", s"$root/ck")
      .option("txnAppId", "ds14-pipe")
      .start(b)
    try {
      q.processAllAvailable()
      Seq((4L, "z")).toDF("k", "p")
        .write.format("graft").mode("append").save(a)
      q.processAllAvailable()
    } finally q.stop()
    val fs = fsOf(b); val hp = new Path(b)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.forall(_.startsWith("p=")),
      s"every committed file must live under its partition dir: $live")
    assert(CommitLog.partitionColsOf(live) == Seq("p"))
    // partition-value pruning (the q338 path) works on streamed data
    val (kept, skipped) = TableStats.pruneFiles(fs, hp,
      Seq(org.apache.spark.sql.sources.EqualTo("p", "z")))
    assert(kept.forall(_.startsWith("p=z/")) && skipped.nonEmpty,
      s"manifest-only partition pruning: kept=$kept skipped=$skipped")
    // rows round-trip with the partition column re-derived
    assert(spark.read.format("graft").load(b).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "z")))
    // a BATCH format append with no partitionBy routes into the
    // committed layout (never flat files at a partitioned root)
    Seq((5L, "y")).toDF("k", "p")
      .write.format("graft").mode("append").save(b)
    val (_, live2) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live2.forall(_.startsWith("p=")),
      s"appends must follow the layout: $live2")
    // …and a RAW batch MISSING the partition column refuses loudly
    // (the streaming-sink path — no engine-side null-fill)
    intercept[IllegalArgumentException] {
      graft.sources.GraftWriter.write(
        Seq(6L).toDF("k"), b, overwrite = false, txn = None)
    }
    assert(spark.read.format("graft").load(b).count() == 5L)
  }

  test("option(\"autoAnalyze\") keeps declared stats coverage current " +
    "across format appends — no pruning hole on new files, and the " +
    "catch-up heals earlier holes too") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    val root = java.nio.file.Files.createTempDirectory("ds16").toString
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    TableStats.analyze(spark, sink, Seq("k")) // declare coverage
    def recorded: Int = latest(fs, hp).stats
      .count(_._2.contains("k"))
    assert(recorded == 1)
    // a plain append opens a hole: the new file has no record, so a
    // selective band must KEEP it (sound, but unpruned)
    Seq((100L, 1L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("append").save(sink)
    assert(recorded == 1, "plain appends leave the stats hole")
    val (kept0, _) = TableStats.pruneFiles(fs, hp,
      Seq(LessThanOrEqual("k", 2L)))
    assert(kept0.size == 2,
      s"the record-less file must be kept blind: $kept0")
    // an autoAnalyze append maintains coverage — and the catch-up
    // heals the earlier hole in the same pass
    Seq((200L, 2L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("append")
      .option("autoAnalyze", "true").save(sink)
    assert(recorded == 3,
      "autoAnalyze must cover the new file AND backfill the hole")
    val (kept1, skipped1) = TableStats.pruneFiles(fs, hp,
      Seq(LessThanOrEqual("k", 2L)))
    assert(kept1.size == 1 && skipped1.size == 2,
      s"full coverage prunes both high-key files: $kept1")
    assert(spark.read.format("graft").load(sink)
      .filter(col("k") <= 2L).count() == 2L)
  }

  test("option(\"autoAnalyze\") on a truncate overwrite keeps the " +
    "declared stats coverage: the new files carry stats records") {
    val root = java.nio.file.Files.createTempDirectory("ds16t").toString
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    TableStats.analyze(spark, sink, Seq("k")) // declare coverage
    val replaced = latest(fs, hp).files.toSet
    Seq((100L, 1L), (200L, 2L)).toDF("k", "v").coalesce(1)
      .write.format("graft").mode("overwrite")
      .option("autoAnalyze", "true").save(sink)
    val m = latest(fs, hp)
    assert(m.files.nonEmpty && !m.files.exists(replaced),
      s"the truncate must replace every file: ${m.files}")
    assert(m.files.forall(f => m.stats.get(f).exists(_.contains("k"))),
      s"new files must carry k's stats: ${m.stats}")
    assert(m.files.map(m.stats(_)("k").nRows).sum == 2L)
  }

  test("SQL consumers get the same surface via a temp view") {
    val root = java.nio.file.Files.createTempDirectory("ds5").toString
    val (sink, _) = mkSink(root)
    spark.read.format("graft").load(sink)
      .createOrReplaceTempView("graft_v2_t")
    try {
      val got = spark.sql(
        "SELECT key, s FROM graft_v2_t WHERE key BETWEEN 20 AND 29 " +
          "ORDER BY key").collect().map(_.getLong(0)).toSeq
      assert(got == (20L to 29L).filterNot(_ % 10 == 7))
    } finally spark.catalog.dropTempView("graft_v2_t")
  }

  test("CHECK validation is INLINE in every V2 write path: the input " +
    "executes exactly once (no pre-staging validation pass), a " +
    "dynamic overwrite statement is ONE Spark job (no staged-file " +
    "re-read at commit), and a task-level refusal commits nothing " +
    "and leaves no staged debris") {
    val root = java.nio.file.Files.createTempDirectory("dsck").toString
    val sink = s"$root/w"
    Seq((1L, 10L)).toDF("k", "v")
      .write.format("graft").mode("append").save(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.addCheck(spark, sink, "v_pos", "v > 0")

    // 1) single-pass pin: with a CHECK declared, an append's input
    //    plan executes EXACTLY once (the old shape ran one filter
    //    job per constraint over the batch before writing it)
    val acc = spark.sparkContext.longAccumulator("graft-ck-rows")
    val src = spark.range(0, 1000).map { i =>
      acc.add(1); (i, i + 1)
    }.toDF("k", "v")
    src.write.format("graft").mode("append").save(sink)
    assert(acc.value == 1000L,
      s"input must execute exactly once, saw ${acc.value} row evals")
    assert(CommitLog.read(spark, sink).count() == 1001L)

    // 2) a violating batch fails at TASK level: loud
    //    IllegalArgumentException naming the constraint, generation
    //    unchanged, no rows landed, staged tmp removed
    val gBefore = CommitLog.committed(fs, hp).get._1
    val e = intercept[IllegalArgumentException] {
      Seq((5L, -5L)).toDF("k", "v")
        .write.format("graft").mode("append").save(sink)
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(CommitLog.committed(fs, hp).get._1 == gBefore)
    assert(CommitLog.read(spark, sink).count() == 1001L)
    assert(!fsOf(root).listStatus(new Path(root)).exists(
      _.getPath.getName.contains("__fmt_tmp")),
      "a refused batch must not leave staged debris")

    // 3) dynamic partition overwrite (the V2 BatchWrite, reached
    //    through the SQL catalog surface): CHECKs ride the task
    //    writers, so a CONSTRAINED statement runs exactly the same
    //    Spark jobs as an unconstrained one — validation adds ZERO
    //    extra passes (the old shape re-read the staged batch at
    //    commit time)
    spark.conf.set("spark.sql.catalog.dsck",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dsck.warehouse", root)
    spark.sql("CREATE NAMESPACE dsck.db")
    spark.sql("CREATE TABLE dsck.db.p (k BIGINT, v BIGINT, " +
      "seg STRING) USING graft PARTITIONED BY (seg)")
    spark.sql("INSERT INTO dsck.db.p VALUES (1, 10, 'a'), " +
      "(2, 20, 'b')")
    val pdir = s"$root/db/p"
    val pfs = fsOf(pdir); val php = new Path(pdir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try {
      def overwriteJobs(group: String, k: Long, v: Long): Int = {
        spark.sparkContext.setJobGroup(group, "pin",
          interruptOnCancel = false)
        spark.sql(s"INSERT OVERWRITE dsck.db.p VALUES ($k, $v, 'a')")
        spark.sparkContext.clearJobGroup()
        // the status store is fed asynchronously — poll until stable
        def jobs(): Int = spark.sparkContext.statusTracker
          .getJobIdsForGroup(group).length
        val deadline = System.currentTimeMillis() + 5000
        var n = jobs()
        while (System.currentTimeMillis() < deadline &&
          { Thread.sleep(100); jobs() != n || jobs() == 0 }) n = jobs()
        jobs()
      }
      val unconstrained = overwriteJobs("graft-dynov-a", 3L, 30L)
      CommitLog.addCheck(spark, pdir, "v_pos", "v > 0")
      val constrained = overwriteJobs("graft-dynov-b", 4L, 40L)
      assert(constrained == unconstrained,
        s"a CHECK must add ZERO jobs to a dynamic overwrite " +
          s"(unconstrained=$unconstrained, constrained=$constrained " +
          "— the commit must not re-read the staged batch)")
      assert(spark.table("dsck.db.p")
        .orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(2L, 4L), "partition a replaced, b untouched")

      // 4) a violating dynamic overwrite refuses at task level:
      //    nothing commits, no __dynov staging debris survives
      val gp = CommitLog.committed(pfs, php).get._1
      intercept[Exception] {
        spark.sql("INSERT OVERWRITE dsck.db.p VALUES (9, -90, 'a')")
      }
      assert(CommitLog.committed(pfs, php).get._1 == gp,
        "a refused dynamic overwrite must not commit")
      assert(spark.table("dsck.db.p").count() == 2L)
      assert(!pfs.listStatus(new Path(s"$root/db")).exists(
        _.getPath.getName.contains("__dynov_tmp")),
        "a refused dynamic overwrite must clean its staging dir")
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("batch CDF window ≡ per-generation streamed windows: the " +
    "same manifest-diff engine serves both surfaces row-identically " +
    "(the q345 equivalence pin, moved here from the bench query)") {
    val root = java.nio.file.Files.createTempDirectory("dscdf")
      .toString
    val sink = s"$root/t"
    // base snapshot g0 → MoR MERGE repricing a subset (g1) →
    // predicate DELETE of a DISJOINT range (g2): inserts, paired
    // updates and deletes all present in the window
    (0L until 400L).map(i => (i, i * 1.5)).toDF("okey", "price")
      .repartition(4).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    val g0 = CommitLog.committed(fs, hp).get._1
    DeleteVectors.mergeOnRead(spark,
      sink, (0L until 200L by 20L).map(i => (i, i * 1.5 + 1000.0))
        .toDF("okey", "price"), Seq("okey"))
    DeleteVectors.deleteWhere(spark, sink, col("okey") >= 300L)
    val gEnd = CommitLog.committed(fs, hp).get._1
    val batch = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", g0)
      .option("endingVersion", gEnd)
      .option("cdfKeys", "okey").load(sink)
    val qn = "dscdf_mem"
    val sq = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", g0)
      .option("maxGensPerTrigger", "1")
      .option("cdfKeys", "okey").load(sink)
      .writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      sq.processAllAvailable()
      def key(df: DataFrame): Seq[(String, Long, Long)] = df
        .select(col("_change_type"), col("okey"),
          round(col("price") * 100).cast("long").as("cents"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      val b = key(batch)
      assert(b.nonEmpty && key(spark.table(qn)) == b,
        "batch CDF must equal the streamed per-generation windows")
      assert(b.count(_._1 == "update_preimage") == 10 &&
        b.count(_._1 == "delete") == 100)
    } finally sq.stop()
  }
}
