package graft

import graft.operators.{CommitLog, Compact, DeleteVectors, Merge, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors ([[DeleteVectors]]): DELETE marks
  * row positions instead of rewriting files; the manifest reader
  * anti-joins them away; [[DeleteVectors.applyDeletes]] is the
  * explicit compaction back to clean files. The contract mirrors
  * production table formats' position deletes: no data file is
  * touched by a delete, delete sets per file only grow, DV-oblivious
  * commits carry records forward, raw-reading rewrite operators
  * refuse unapplied DVs, and the whole thing is crash-atomic under
  * [[CommitLog]]. */
class DeleteVectorsSpec extends SparkSpec {
  import spark.implicits._

  private case class Killed(at: String) extends RuntimeException(at)
  private def killAt(point: String): String => Unit =
    p => if (p == point) throw Killed(point)

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(sink: String): Seq[(Long, Long)] =
    CommitLog.read(spark, sink).select("k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Partitioned sink: pt=a carries k 1..4, pt=b carries k 5..8, two
    * files per partition (two appends). */
  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    Seq(1L, 2L, 5L, 6L).zip(Seq("a", "a", "b", "b")).toDF("k", "pt")
      .withColumn("v", col("k") * 10)
      .repartition(col("pt"))
      .write.partitionBy("pt").mode("append").parquet(sink)
    Seq(3L, 4L, 7L, 8L).zip(Seq("a", "a", "b", "b")).toDF("k", "pt")
      .withColumn("v", col("k") * 10)
      .repartition(col("pt"))
      .write.partitionBy("pt").mode("append").parquet(sink)
    sink
  }

  test("deleteWhere removes rows for the manifest reader without " +
    "touching any data file; re-running deletes nothing new; a second " +
    "overlapping delete composes by DV union") {
    val root = java.nio.file.Files.createTempDirectory("dv1").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val liveBefore = CommitLog.ensureLogged(fs, p)
    assert(liveBefore.size == 4)
    val (n1, f1) = DeleteVectors.deleteWhere(spark, sink,
      col("k") % 2 === 1) // 1,3,5,7 — one odd per file
    assert((n1, f1) == (4L, 4L))
    assert(rows(sink) == Seq((2L, 20L), (4L, 40L), (6L, 60L), (8L, 80L)))
    // zero data-file motion: the live set is byte-identical
    assert(CommitLog.committed(fs, p).get._2 == liveBefore)
    // idempotent: the deleted rows are invisible to the matching scan
    assert(DeleteVectors.deleteWhere(spark, sink,
      col("k") % 2 === 1) == (0L, 0L))
    // overlapping second delete (k <= 4 → 2 and 4 newly deleted, 1 and
    // 3 already gone): union semantics, only pt=a files' DVs grow
    val (n2, f2) = DeleteVectors.deleteWhere(spark, sink, col("k") <= 4)
    assert(n2 == 2L && f2 == 2L)
    assert(rows(sink) == Seq((6L, 60L), (8L, 80L)))
    assert(CommitLog.committed(fs, p).get._2 == liveBefore)
    graft.io.Sources.deleteRecursively(root)
  }

  test("DV-oblivious commits carry records forward: an append after a " +
    "delete keeps the deletes; replacing a partition drops exactly its " +
    "records; time travel sees the pre-delete generation") {
    val root = java.nio.file.Files.createTempDirectory("dv2").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val (genBefore, _) = CommitLog.ensureLoggedAt(fs, p)
    DeleteVectors.deleteWhere(spark, sink, col("k").isin(1L, 5L))
    // logged append (insert-only upsert is guarded; plain logged append
    // path = commit old live ++ new files)
    val (g, live) = CommitLog.ensureLoggedAt(fs, p)
    Seq((9L, "a")).toDF("k", "pt").withColumn("v", col("k") * 10)
      .repartition(col("pt"))
      .write.partitionBy("pt").mode("append").parquet(sink)
    val nowOnDisk = CommitLog.listDataFiles(fs, p)
    CommitLog.commitNext(fs, p, g, nowOnDisk)
    assert(rows(sink).map(_._1) == Seq(2L, 3L, 4L, 6L, 7L, 8L, 9L),
      "append must not resurrect 1 and 5")
    // the pre-delete generation still reads complete via time travel
    // (deletes never touch data files, so gen 0's files are all on
    // disk; the replace below GCs its replaced files, as any default
    // rewrite does, ending gen 0's readability)
    assert(CommitLog.readAt(spark, sink, genBefore)
      .select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    // replace pt=b wholesale: its files AND their DV records drop; the
    // pt=a deletes survive
    Upsert.replacePartitionsParquet(spark,
      Seq((50L, "b")).toDF("k", "pt").withColumn("v", col("k") * 10),
      Seq("k", "pt"), Seq("v"), sink, "pt")
    assert(rows(sink).map(_._1) == Seq(2L, 3L, 4L, 9L, 50L))
    val recs = latest(fs, p).dvs
    assert(recs.nonEmpty && recs.keys.forall(_.startsWith("pt=a/")),
      s"only pt=a records should remain, got ${recs.keys}")
    graft.io.Sources.deleteRecursively(root)
  }

  test("applyDeletes rewrites exactly the DV'd files, preserves " +
    "partition directories, clears the records, and unblocks the " +
    "guarded rewrite family") {
    val root = java.nio.file.Files.createTempDirectory("dv3").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    DeleteVectors.deleteWhere(spark, sink,
      col("k").isin(1L, 3L)) // both pt=a files
    val want = rows(sink)
    // guards: raw-reading rewrites refuse unapplied DVs
    intercept[IllegalArgumentException](
      Compact.compactSink(spark, sink, Some("pt")))
    intercept[IllegalArgumentException](Merge.mergeParquet(spark,
      Seq((2L, "a", 21L)).toDF("k", "pt", "v"), Seq("k", "pt"), sink))
    intercept[IllegalArgumentException](Merge.eraseParquet(spark,
      Seq((2L, "a")).toDF("k", "pt"), Seq("k", "pt"), sink))
    val untouched = CommitLog.committed(fs, p).get._2
      .filter(_.startsWith("pt=b/"))
    val (rewritten, after) = DeleteVectors.applyDeletes(spark, sink)
    assert(rewritten == 2L && after >= 1L)
    assert(latest(fs, p).dvs.isEmpty)
    assert(rows(sink) == want, "apply must not change the visible rows")
    val liveAfter = CommitLog.committed(fs, p).get._2
    assert(untouched.forall(liveAfter.contains),
      "files without DVs keep their bytes and names")
    assert(liveAfter.forall(r => r.startsWith("pt=a/") ||
      r.startsWith("pt=b/")), "partition directories preserved")
    // applying with no DVs is a no-op; compaction now proceeds
    assert(DeleteVectors.applyDeletes(spark, sink) == (0L, 0L))
    Compact.compactSink(spark, sink, Some("pt"), targetBytes = 1L)
    assert(rows(sink) == want)
    graft.io.Sources.deleteRecursively(root)
  }

  test("mergeOnRead upserts without touching any existing data file: " +
    "matched versions vanish behind DV marks, update rows append, one " +
    "commit publishes both; crash-atomic at both failpoints") {
    val root = java.nio.file.Files.createTempDirectory("dv5").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val liveBefore = CommitLog.ensureLogged(fs, p)
    val g0 = CommitLog.committed(fs, p).get._1
    val updates = Seq((2L, "a", 21L), (10L, "a", 100L))
      .toDF("k", "pt", "v")
    // killed after staging: nothing visible (files moved in but
    // uncommitted are manifest-invisible debris)
    intercept[Killed](DeleteVectors.mergeOnRead(spark, sink, updates,
      Seq("k", "pt"), Some("pt"), failpoint = killAt("staged")))
    assert(rows(sink).map(_._1) == (1L to 8L))
    // the re-run completes exactly-once
    val (marked, appended) = DeleteVectors.mergeOnRead(spark, sink,
      updates, Seq("k", "pt"), Some("pt"))
    assert((marked, appended) == (1L, 2L))
    assert(rows(sink) == Seq((1L, 10L), (2L, 21L), (3L, 30L),
      (4L, 40L), (5L, 50L), (6L, 60L), (7L, 70L), (8L, 80L),
      (10L, 100L)))
    // every pre-merge data file is still live and byte-untouched
    val liveAfter = CommitLog.committed(fs, p).get._2
    assert(liveBefore.forall(liveAfter.contains))
    assert(latest(fs, p).dvs.size == 1,
      "exactly the file holding k=2 carries a mark")
    // the change feed across the merge: one delete (old version of 2),
    // two inserts (new 2, new 10) — debris from the killed attempt is
    // invisible to it
    val g1 = CommitLog.committed(fs, p).get._1
    val ch = CommitLog.changesBetween(spark, sink, g0, g1)
      .select("_change_type", "k", "v").orderBy("_change_type", "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ch.toSeq == Seq(("delete", 2L, 20L), ("insert", 2L, 21L),
      ("insert", 10L, 100L)))
    graft.io.Sources.deleteRecursively(root)
  }

  test("changesBetween derives the row-level change feed from " +
    "manifests + DVs alone: appends are inserts, DV growth is " +
    "deletes, insert-then-delete inside the window nets out, no-change " +
    "windows are empty") {
    val root = java.nio.file.Files.createTempDirectory("dv6").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val (g0, live0) = CommitLog.ensureLoggedAt(fs, p)
    DeleteVectors.deleteWhere(spark, sink, col("k").isin(1L, 5L))
    val g1 = CommitLog.committed(fs, p).get._1
    Seq((9L, "a")).toDF("k", "pt").withColumn("v", col("k") * 10)
      .repartition(col("pt"))
      .write.partitionBy("pt").mode("append").parquet(sink)
    val g2 = CommitLog.commitNext(fs, p, g1,
      CommitLog.listDataFiles(fs, p))
    DeleteVectors.deleteWhere(spark, sink, col("k") === 9L)
    val g3 = CommitLog.committed(fs, p).get._1
    def ch(a: Long, b: Long): Seq[(String, Long)] =
      CommitLog.changesBetween(spark, sink, a, b)
        .select("_change_type", "k").orderBy("_change_type", "k")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch(g0, g1) == Seq(("delete", 1L), ("delete", 5L)))
    assert(ch(g1, g2) == Seq(("insert", 9L)))
    assert(ch(g2, g3) == Seq(("delete", 9L)))
    // 9 was inserted AND deleted inside (g1, g3): nets out; the
    // window's only changes are... none beyond those two endpoints
    assert(ch(g1, g3) == Seq.empty)
    assert(ch(g0, g3) == Seq(("delete", 1L), ("delete", 5L)))
    assert(ch(g2, g2) == Seq.empty, "empty window, sink-schema frame")
    assert(live0.nonEmpty) // fixture sanity
    graft.io.Sources.deleteRecursively(root)
  }

  test("deleteWhere is crash-atomic at both failpoints, and vacuum's " +
    "mtime-horizon DV sweep reclaims only unreferenced DV debris") {
    val root = java.nio.file.Files.createTempDirectory("dv4").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val want = rows(sink)
    // killed after the DV parquet lands but before the commit: the
    // delete is invisible (no manifest references the DV)
    intercept[Killed](DeleteVectors.deleteWhere(spark, sink,
      col("k") === 2L, failpoint = killAt("dv_written")))
    assert(rows(sink) == want)
    // the orphan DV is debris: a horizon vacuum keeps it (too young),
    // a quiesced-sink vacuum reclaims it
    assert(CommitLog.vacuum(fs, p, olderThanMs = 3600L * 1000) == 0L)
    assert(CommitLog.vacuum(fs, p) == 1L)
    // killed after the commit: the delete IS visible and durable
    intercept[Killed](DeleteVectors.deleteWhere(spark, sink,
      col("k") === 2L, failpoint = killAt("committed")))
    assert(rows(sink).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L))
    // the committed DV is NOT debris
    assert(CommitLog.vacuum(fs, p) == 0L)
    // applyDeletes crash between add and commit: old generation intact
    intercept[Killed](DeleteVectors.applyDeletes(spark, sink,
      failpoint = killAt("added")))
    assert(rows(sink).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L))
    // re-run completes; the rewrite holds
    DeleteVectors.applyDeletes(spark, sink)
    assert(latest(fs, p).dvs.isEmpty)
    assert(rows(sink).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L))
    // expire history, vacuum: the now-unreferenced DV dir is reclaimed
    CommitLog.expireGenerations(fs, p, keepLast = 1)
    val dvDir = new Path(p, CommitLog.DvDirName)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "expired DVs are reclaimed by the retention sweep")
    graft.io.Sources.deleteRecursively(root)
  }
}
