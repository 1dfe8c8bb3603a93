package graft

import graft.operators.{CommitLog, DeleteVectors, Replicate, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Exactly-once incremental CDC replication
  * ([[graft.operators.Replicate]]): the manifest-derived feed applied
  * window by window, the `#txn` ledger advanced in the SAME commit as
  * each apply, crash safety at both failpoints, lag-past-retention
  * loudness. */
class ReplicateSpec extends SparkSpec {
  import spark.implicits._

  private case class Killed(at: String) extends RuntimeException(at)
  private def killAt(point: String): String => Unit =
    p => if (p == point) throw Killed(point)

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(sink: String): Seq[(Long, Long)] =
    CommitLog.read(spark, sink).select("k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def mkUp(root: String, keys: Seq[Long]): String = {
    val up = s"$root/up"
    keys.foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(up)
    }
    CommitLog.ensureLoggedAt(fsOf(up), new Path(up))
    up
  }

  test("init + multi-window sync: every upstream mutation class " +
    "(MoR update, insert, predicate delete, logged append) replays " +
    "onto the replica; an already-caught-up sync is a zero-commit " +
    "no-op") {
    val root = java.nio.file.Files.createTempDirectory("rp1").toString
    val up = mkUp(root, Seq(1L, 2L, 3L, 4L))
    val down = s"$root/down"
    Replicate.init(spark, up, down, "sub1")
    // window 1: MoR MERGE (update k=2, insert k=9)
    DeleteVectors.mergeOnRead(spark, up,
      Seq((2L, 22L), (9L, 90L)).toDF("k", "v"), Seq("k"))
    val s1 = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s1.rowsUpdated == 1L && s1.rowsInserted == 1L &&
      s1.rowsDeleted == 0L)
    assert(rows(down) == rows(up))
    // window 2: a logged append (raw commitAppend — the insert-only
    // upsert refuses the DV'd sink window 1 produced) then a
    // predicate delete, ONE sync
    locally {
      val fs = fsOf(up); val hu = new Path(up)
      val tmp = new Path(up + "__stage")
      Seq((11L, 110L)).toDF("k", "v").coalesce(1)
        .write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part, new Path(up, part.getName)))
      fs.delete(tmp, true)
      val (g, live) = CommitLog.ensureLoggedAt(fs, hu)
      CommitLog.commitAppend(fs, hu, g, live, Seq(part.getName))
    }
    DeleteVectors.deleteWhere(spark, up, col("k") === 3L)
    val s2 = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s2.rowsDeleted == 1L && s2.rowsInserted == 1L)
    assert(rows(down) == rows(up))
    assert(rows(down) == Seq((1L, 10L), (2L, 22L), (4L, 40L),
      (9L, 90L), (11L, 110L)))
    // caught up: no-op, ledger and generation unchanged
    val fs = fsOf(down); val hd = new Path(down)
    val genBefore = CommitLog.committed(fs, hd).get._1
    val s3 = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s3.fromGen == s3.toGen)
    assert(CommitLog.committed(fs, hd).get._1 == genBefore)
  }

  test("crash safety: killed AFTER the apply commit the re-run skips " +
    "the window (ledger advanced atomically); killed BEFORE it the " +
    "re-run reapplies cleanly — never applied twice, never lost") {
    val root = java.nio.file.Files.createTempDirectory("rp2").toString
    val up = mkUp(root, Seq(1L, 2L))
    val down = s"$root/down"
    Replicate.init(spark, up, down, "sub1")
    val fs = fsOf(down); val hd = new Path(down)
    // killed after the commit: ledger rode the same manifest
    DeleteVectors.mergeOnRead(spark, up,
      Seq((1L, 11L)).toDF("k", "v"), Seq("k"))
    intercept[Killed] {
      Replicate.syncOnce(spark, up, down, Seq("k"), "sub1",
        failpoint = killAt("committed"))
    }
    assert(rows(down) == rows(up)) // the apply itself landed
    val genAfterCrash = CommitLog.committed(fs, hd).get._1
    val s = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s.fromGen == s.toGen, "re-run must skip the applied window")
    assert(CommitLog.committed(fs, hd).get._1 == genAfterCrash)
    assert(rows(down) == Seq((1L, 11L), (2L, 20L)))
    // killed before the commit: replica untouched, re-run reapplies
    DeleteVectors.deleteWhere(spark, up, col("k") === 2L)
    intercept[Killed] {
      Replicate.syncOnce(spark, up, down, Seq("k"), "sub1",
        failpoint = killAt("added"))
    }
    assert(rows(down) == Seq((1L, 11L), (2L, 20L)),
      "replica must be untouched before the commit")
    val s2 = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s2.rowsDeleted == 1L)
    assert(rows(down) == Seq((1L, 11L)))
  }

  test("a window that nets to NOTHING still advances the ledger " +
    "(insert-then-delete inside the window)") {
    val root = java.nio.file.Files.createTempDirectory("rp3").toString
    val up = mkUp(root, Seq(1L))
    val down = s"$root/down"
    Replicate.init(spark, up, down, "sub1")
    Upsert.upsertParquet(spark, Seq((5L, 50L)).toDF("k", "v"),
      Seq("k"), Seq("k"), up)
    DeleteVectors.deleteWhere(spark, up, col("k") === 5L)
    val s = Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    assert(s.toGen > s.fromGen &&
      s.rowsUpdated + s.rowsDeleted + s.rowsInserted == 0L)
    val fs = fsOf(down)
    assert(latest(fs, new Path(down)).txns.get("sub1")
      .contains(s.toGen), "the no-effect window must still be recorded")
    assert(rows(down) == Seq((1L, 10L)))
  }

  test("lagging past upstream retention is LOUD, and an " +
    "uninitialized replica is LOUD") {
    val root = java.nio.file.Files.createTempDirectory("rp4").toString
    val up = mkUp(root, Seq(1L, 2L))
    val down = s"$root/down"
    intercept[IllegalStateException] {
      Replicate.syncOnce(spark, up, down + "_missingdir", Seq("k"),
        "sub1")
    }
    Replicate.init(spark, up, down, "sub1")
    // two upstream commits, then expire history past the subscriber
    DeleteVectors.mergeOnRead(spark, up,
      Seq((1L, 11L)).toDF("k", "v"), Seq("k"))
    DeleteVectors.mergeOnRead(spark, up,
      Seq((2L, 22L)).toDF("k", "v"), Seq("k"))
    val fs = fsOf(up)
    CommitLog.expireGenerations(fs, new Path(up), keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      Replicate.syncOnce(spark, up, down, Seq("k"), "sub1")
    }
    assert(e.getMessage.contains("expired"))
  }
}
