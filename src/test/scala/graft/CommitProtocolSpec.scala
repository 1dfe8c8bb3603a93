package graft

import graft.operators.{CommitConflictException, CommitLog, Compact, Merge, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The crash-atomicity contract of the file-swap family
  * ([[Merge.mergeParquet]]/[[Merge.eraseParquet]]/
  * [[Compact.compactSink]]/[[Upsert.replacePartitionsParquet]]):
  * every operator's swap is add → COMMIT → delete under
  * [[CommitLog]]'s generation manifest, so a job killed BETWEEN the
  * steps (injected through the operators' `failpoint` hook — for
  * filesystem state, an exception at the hook is indistinguishable
  * from the process dying there) leaves a manifest-resolving reader
  * seeing every row EXACTLY ONCE: the old generation before the
  * commit rename, the new generation after it. Crash debris is
  * invisible to manifest readers and reclaimed by EXPLICIT
  * [[CommitLog.vacuum]] maintenance — never by another writer's entry,
  * which could destroy a concurrent writer's staged-but-uncommitted
  * files (the round-7 audit's data-loss window, closed here and
  * pinned by the never-deletes test below). This is the property the
  * reference gets for free
  * from its transactional warehouse MERGE (`dags/idh_etl.py:247-256`)
  * and raw parquet lacks. */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private case class Killed(at: String) extends RuntimeException(at)
  private def killAt(point: String): String => Unit =
    p => if (p == point) throw Killed(point)

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** On-disk parquet data-file count (what a naive directory reader
    * sees), vs the manifest-resolved view. */
  private def diskFiles(sink: String): Int =
    new java.io.File(sink).listFiles()
      .count(f => f.getName.endsWith(".parquet"))

  private def ledger(sink: String): Seq[(Long, Long)] =
    CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    // 4 single-row files → exact file↔key mapping
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).foreach { r =>
      Seq(r).toDF("k", "v").coalesce(1).write.mode("append").parquet(sink)
    }
    sink
  }

  test("the PARTITIONED format write's stage→move→commit swap is " +
    "crash-atomic at its failpoints: a pre-commit crash leaves the " +
    "old generation, the crashed batch replays exactly-once through " +
    "its #txn identity into the hive layout, vacuum reclaims debris") {
    import graft.sources.GraftWriter
    val root = java.nio.file.Files.createTempDirectory("cps_fmt")
      .toString
    val sink = s"$root/t"
    GraftWriter.write(Seq((1L, "x"), (2L, "y")).toDF("k", "p"), sink,
      overwrite = false, txn = None, partitionBy = Seq("p"))
    val fs = fsOf(sink); val hp = new Path(sink)
    val want = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val genBefore = CommitLog.committed(fs, hp).get._1
    val batch = Seq((3L, "z")).toDF("k", "p")
    intercept[Killed] {
      GraftWriter.write(batch, sink, overwrite = false,
        txn = Some(("cps-fmt", 1L)), failpoint = killAt("staged"))
    }
    assert(CommitLog.committed(fs, hp).get._1 == genBefore &&
      CommitLog.read(spark, sink).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == want,
      "crash before move-in: old generation intact")
    intercept[Killed] {
      GraftWriter.write(batch, sink, overwrite = false,
        txn = Some(("cps-fmt", 1L)), failpoint = killAt("moved"))
    }
    assert(CommitLog.committed(fs, hp).get._1 == genBefore &&
      CommitLog.read(spark, sink).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == want,
      "crash after move-in, before commit: no new generation, moved " +
        "files invisible to manifest readers")
    // the replayed batch lands exactly once; a second replay no-ops
    GraftWriter.write(batch, sink, overwrite = false,
      txn = Some(("cps-fmt", 1L)))
    GraftWriter.write(batch, sink, overwrite = false,
      txn = Some(("cps-fmt", 1L)))
    assert(CommitLog.read(spark, sink).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "z")))
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.forall(_.startsWith("p=")),
      s"appends must follow the hive layout: $live")
    // the moved-then-crashed attempt's file is reclaimable debris
    assert(CommitLog.vacuum(fs, hp) >= 1L)
    graft.io.Sources.deleteRecursively(root)
  }

  test("merge killed between add and commit: reader sees the OLD " +
    "generation exactly-once; the re-run lands the update exactly-once " +
    "and explicit vacuum reconverges the listing") {
    val root = java.nio.file.Files.createTempDirectory("cps_m1").toString
    val sink = mkSink(root)
    val v0 = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    val updates = Seq((1L, 11L), (9L, 90L)).toDF("k", "v")
    intercept[Killed] {
      Merge.mergeParquet(spark, updates, Seq("k"), sink, killAt("added"))
    }
    // the crash path must still release the batch cache (try/finally) —
    // a leaked block would degrade every later operation
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "crashed merge leaked cached blocks")
    // duplicates exist ON DISK (the rewritten copy of file k=1 plus the
    // original) — but the manifest still points at the old generation
    assert(diskFiles(sink) > 4, "crash must leave uncommitted new files")
    assert(ledger(sink) == v0, "pre-commit crash: reader must see the " +
      "old generation exactly-once")
    // re-run merges cleanly THROUGH the debris (manifest-resolved
    // reads never see it); the debris itself stays on disk until
    // explicit maintenance — a writer must never delete files it did
    // not replace
    val stats = Merge.mergeParquet(spark, updates, Seq("k"), sink)
    assert(stats.rowsUpdated == 1L && stats.rowsInserted == 1L)
    assert(ledger(sink) ==
      Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L), (9L, 90L)))
    // explicit vacuum reconverges disk listing and manifest
    assert(CommitLog.vacuum(fsOf(sink), new Path(sink)) > 0L,
      "the crashed attempt's uncommitted files are vacuumable orphans")
    assert(CommitLog.listDataFiles(fsOf(sink), new Path(sink)).toSet ==
      CommitLog.committed(fsOf(sink), new Path(sink)).get._2.toSet)
    graft.io.Sources.deleteRecursively(root)
  }

  test("merge killed between commit and delete: reader sees the NEW " +
    "generation exactly-once despite the replaced originals still on " +
    "disk; vacuum reconverges the listing") {
    val root = java.nio.file.Files.createTempDirectory("cps_m2").toString
    val sink = mkSink(root)
    val updates = Seq((1L, 11L), (9L, 90L)).toDF("k", "v")
    intercept[Killed] {
      Merge.mergeParquet(spark, updates, Seq("k"), sink, killAt("committed"))
    }
    val want = Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L), (9L, 90L))
    // the replaced original is still on disk — a plain directory read
    // double-counts k=1; the manifest-resolving reader must not
    assert(spark.read.parquet(sink).count() == 6L,
      "crash must leave the replaced original on disk")
    assert(ledger(sink) == want, "post-commit crash: reader must see " +
      "the new generation exactly-once")
    // the replaced original is still referenced by generation 0, so it
    // is time-travel HISTORY, not garbage: vacuum must keep it...
    assert(CommitLog.vacuum(fsOf(sink), new Path(sink)) == 0L)
    assert(CommitLog.readAt(spark, sink, 0L).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
      "generation 0 must remain readable while retained")
    // ...and expiring history to the newest generation reclaims it
    assert(CommitLog.expireGenerations(fsOf(sink), new Path(sink), 1) == 1)
    assert(spark.read.parquet(sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == want,
      "after expiry + vacuum the plain directory read agrees")
    graft.io.Sources.deleteRecursively(root)
  }

  test("keepReplaced merge retains snapshot history: every generation " +
    "stays readable via readAt, compaction of the sink reads only the " +
    "live set, and expiry bounds the history") {
    val root = java.nio.file.Files.createTempDirectory("cps_tt").toString
    val sink = mkSink(root)
    val g0 = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    Merge.mergeParquet(spark, Seq((2L, 21L)).toDF("k", "v"), Seq("k"),
      sink, keepReplaced = true)
    Merge.mergeParquet(spark, Seq((4L, 42L), (5L, 50L)).toDF("k", "v"),
      Seq("k"), sink, keepReplaced = true)
    val fs = fsOf(sink); val p = new Path(sink)
    assert(CommitLog.generations(fs, p) == Seq(0L, 1L, 2L))
    def at(g: Long) = CommitLog.readAt(spark, sink, g).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(at(0L) == g0)
    assert(at(1L) == Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 40L)))
    assert(at(2L) ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 42L), (5L, 50L)))
    // compaction on a history-carrying sink must compact the LIVE set
    // only (a directory read would double-count history rows), and
    // with keepReplaced the pre-compaction generations stay readable
    Compact.compactSink(spark, sink, keepReplaced = true)
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 42L), (5L, 50L)))
    assert(at(0L) == g0,
      "keepReplaced compaction must preserve snapshot history")
    // expire everything but the newest: old generations unreadable,
    // their exclusive files reclaimed, the live rows untouched
    assert(CommitLog.expireGenerations(fs, p, 1) == 3)
    intercept[IllegalArgumentException](CommitLog.readAt(spark, sink, 0L))
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 42L), (5L, 50L)))
    assert(CommitLog.listDataFiles(fs, p).toSet ==
      CommitLog.committed(fs, p).get._2.toSet,
      "expiry must reclaim every non-live file")
    graft.io.Sources.deleteRecursively(root)
  }

  test("erase killed between commit and delete: survivors readable " +
    "exactly-once (no duplicated-survivor window)") {
    val root = java.nio.file.Files.createTempDirectory("cps_e").toString
    val sink = mkSink(root)
    intercept[Killed] {
      Merge.eraseParquet(spark, Seq(2L).toDF("k"), Seq("k"), sink,
        killAt("committed"))
    }
    // the touched file held k=2 only → its rewrite is empty; the
    // original is still on disk, but the manifest excludes it
    assert(ledger(sink) == Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    // idempotent re-run (manifest-resolved): nothing left to erase
    val s2 = Merge.eraseParquet(spark, Seq(2L).toDF("k"), Seq("k"), sink)
    assert(s2.rowsDeleted == 0L && s2.filesTouched == 0L)
    assert(ledger(sink) == Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    graft.io.Sources.deleteRecursively(root)
  }

  test("CDC apply (tri-branch MERGE): update+delete+insert land in one " +
    "touched-file pass; untouched files stay byte-identical; a kill " +
    "between add and commit keeps the old generation and the re-run " +
    "converges; a non-net batch is refused") {
    val root = java.nio.file.Files.createTempDirectory("cps_cdc").toString
    val sink = mkSink(root)
    def files(): Map[String, (Long, Long)] = {
      val d = new java.io.File(sink)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    // update k=1, delete k=3, insert k=9 — one batch, one pass
    val batch = Seq((1L, 11L, "U"), (3L, 0L, "D"), (9L, 90L, "U"))
      .toDF("k", "v", "op")
    // killed pre-commit: reader sees the old generation
    intercept[Killed] {
      Merge.applyCdcParquet(spark, batch, Seq("k"), "op", sink,
        killAt("added"))
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "crashed CDC apply leaked cached blocks")
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // re-run reads through the manifest (debris invisible) and
    // applies all three branches
    val stats = Merge.applyCdcParquet(spark, batch, Seq("k"), "op", sink)
    assert(stats.rowsUpdated == 1L && stats.rowsDeleted == 1L &&
      stats.rowsInserted == 1L && stats.filesTouched == 2L)
    assert(ledger(sink) ==
      Seq((1L, 11L), (2L, 20L), (4L, 40L), (9L, 90L)))
    // the files holding k=2 and k=4 were never rewritten (same name,
    // size, mtime); the two touched originals are GC'd after commit
    val after = files()
    assert(before.count { case (f, m) => after.get(f).contains(m) } == 2,
      "exactly the two untouched single-key files survive byte-identical")
    // non-net batch (two ops on one key) must be refused up front
    val dirty = Seq((2L, 21L, "U"), (2L, 0L, "D")).toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException] {
      Merge.applyCdcParquet(spark, dirty, Seq("k"), "op", sink)
    }
    assert(e.getMessage.contains("not net"))
    assert(ledger(sink) ==
      Seq((1L, 11L), (2L, 20L), (4L, 40L), (9L, 90L)),
      "a refused batch must not change the sink")
    graft.io.Sources.deleteRecursively(root)
  }

  test("merge with schema evolution: new columns widen lazily — " +
    "touched rows take values/NULLs, untouched files keep the old " +
    "schema byte-identically, and the mergeSchema reader unions them") {
    val root = java.nio.file.Files.createTempDirectory("cps_evo").toString
    val sink = mkSink(root)
    def files(): Map[String, (Long, Long)] = {
      val d = new java.io.File(sink)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    // update k=1 and insert k=9, both carrying a NEW `note` column
    val upd = Seq((1L, 11L, "fixed"), (9L, 90L, "new"))
      .toDF("k", "v", "note")
    // without the flag: widening is refused loudly
    val e = intercept[IllegalArgumentException] {
      Merge.mergeParquet(spark, upd, Seq("k"), sink)
    }
    assert(e.getMessage.contains("must match"))
    val stats = Merge.mergeParquet(spark, upd, Seq("k"), sink,
      allowSchemaEvolution = true)
    assert(stats.rowsUpdated == 1L && stats.rowsInserted == 1L)
    // untouched single-key files (k=2,3,4) never rewritten
    val after = files()
    assert(before.count { case (f, m) => after.get(f).contains(m) } == 3)
    // the evolution-aware reader unions the schemas: old rows NULL note
    val got = CommitLog.read(spark, sink, mergeSchema = true)
      .orderBy("k")
      .collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("v")),
        Option(r.getAs[String]("note")).getOrElse("-")))
    assert(got.toSeq == Seq((1L, 11L, "fixed"), (2L, 20L, "-"),
      (3L, 30L, "-"), (4L, 40L, "-"), (9L, 90L, "new")))
    // a dropped sink column is NOT evolution — refused
    val narrow = Seq((2L, "x")).toDF("k", "note")
    val e2 = intercept[IllegalArgumentException] {
      Merge.mergeParquet(spark, narrow, Seq("k"), sink,
        allowSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("widens only"))
    graft.io.Sources.deleteRecursively(root)
  }

  test("erase and CDC on a schema-evolved sink read through " +
    "mergeSchema: touched wide files keep their evolved column values") {
    val root = java.nio.file.Files.createTempDirectory("cps_evo2").toString
    val sink = mkSink(root)
    // evolve the sink: update k=1 and insert k=9 with a NEW `note`
    Merge.mergeParquet(spark,
      Seq((1L, 11L, "keep"), (9L, 90L, "nine")).toDF("k", "v", "note"),
      Seq("k"), sink, allowSchemaEvolution = true)
    def state() = CommitLog.read(spark, sink, mergeSchema = true)
      .orderBy("k").collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("v")),
        Option(r.getAs[String]("note")).getOrElse("-"))).toSeq
    // erase k=9: it lives in a WIDE file — if the rewrite read the
    // sink through one (possibly narrow) footer's schema, the kept
    // wide rows would silently lose their `note` values
    val es = Merge.eraseParquet(spark, Seq(9L).toDF("k"), Seq("k"), sink)
    assert(es.rowsDeleted == 1L)
    assert(state() == Seq((1L, 11L, "keep"), (2L, 20L, "-"),
      (3L, 30L, "-"), (4L, 40L, "-")),
      "erase on an evolved sink must not drop evolved column values")
    // CDC on the evolved sink: the batch carries the evolved (union)
    // schema; update a narrow-file key, delete another
    val batch = Seq((2L, 22L, "two", "U"), (4L, 0L, "x", "D"))
      .toDF("k", "v", "note", "op")
    val cs = Merge.applyCdcParquet(spark, batch, Seq("k"), "op", sink)
    assert(cs.rowsUpdated == 1L && cs.rowsDeleted == 1L)
    assert(state() == Seq((1L, 11L, "keep"), (2L, 22L, "two"),
      (3L, 30L, "-")),
      "CDC on an evolved sink must keep evolved values end-to-end")
    graft.io.Sources.deleteRecursively(root)
  }

  test("commitNext is a CAS on the generation number: the second commit " +
    "from the same base throws CommitConflictException and leaves the " +
    "winner's manifest untouched") {
    val root = java.nio.file.Files.createTempDirectory("cps_cas").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val (g, live) = CommitLog.ensureLoggedAt(fs, p)
    assert(CommitLog.commitNext(fs, p, g, live.take(2)) == g + 1)
    intercept[CommitConflictException] {
      CommitLog.commitNext(fs, p, g, live.take(3))
    }
    assert(CommitLog.committed(fs, p).get ==
      (g + 1) -> live.take(2).sorted,
      "the losing commit must not replace the winner's manifest")
    graft.io.Sources.deleteRecursively(root)
  }

  test("two interleaved merge writers: the straggler's generation-pinned " +
    "commit conflicts, its rows never surface, and its retry lands on " +
    "top of the winner") {
    val root = java.nio.file.Files.createTempDirectory("cps_occ").toString
    val sink = mkSink(root)
    val updA = Seq((1L, 111L), (8L, 80L)).toDF("k", "v")
    val updB = Seq((2L, 222L), (9L, 90L)).toDF("k", "v")
    // writer B runs to COMPLETION inside writer A's add→commit window
    // (for on-disk state, interleaving via the failpoint hook is
    // indistinguishable from two racing processes) — and B must NOT
    // touch A's just-moved uncommitted files (the never-deletes
    // invariant: only explicit vacuum reclaims them)
    var fired = false
    intercept[CommitConflictException] {
      Merge.mergeParquet(spark, updA, Seq("k"), sink, p => {
        if (p == "added" && !fired) {
          fired = true
          Merge.mergeParquet(spark, updB, Seq("k"), sink)
        }
      })
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "conflicted merge leaked cached blocks")
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L), (9L, 90L)),
      "only the winner's update may be visible — the straggler's rows " +
        "must never surface")
    // the straggler retries against the new base: both updates land
    val stats = Merge.mergeParquet(spark, updA, Seq("k"), sink)
    assert(stats.rowsUpdated == 1L && stats.rowsInserted == 1L)
    assert(ledger(sink) == Seq((1L, 111L), (2L, 222L), (3L, 30L),
      (4L, 40L), (8L, 80L), (9L, 90L)))
    // the straggler's conflicted files are debris; explicit vacuum
    // reconverges disk listing and manifest
    CommitLog.vacuum(fsOf(sink), new Path(sink))
    assert(CommitLog.listDataFiles(fsOf(sink), new Path(sink)).toSet ==
      CommitLog.committed(fsOf(sink), new Path(sink)).get._2.toSet)
    graft.io.Sources.deleteRecursively(root)
  }

  test("cross-operator interleave: a compaction landing inside a " +
    "merge's add→commit window conflicts the MERGE, never corrupts " +
    "the sink, and the merge retry applies on the compacted layout") {
    val root = java.nio.file.Files.createTempDirectory("cps_xop").toString
    val sink = mkSink(root)
    val upd = Seq((1L, 111L)).toDF("k", "v")
    var fired = false
    intercept[CommitConflictException] {
      Merge.mergeParquet(spark, upd, Seq("k"), sink, p => {
        if (p == "added" && !fired) {
          fired = true
          // maintenance job races in and wins: 4 files → 1
          Compact.compactSink(spark, sink)
        }
      })
    }
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
      "the compaction preserved the rows; the merge must be invisible")
    val stats = Merge.mergeParquet(spark, upd, Seq("k"), sink)
    // post-compaction the sink is ONE file, so the single update
    // touches it and the whole sink legitimately rewrites
    assert(stats.filesBefore == 1L && stats.rowsUpdated == 1L)
    assert(ledger(sink) ==
      Seq((1L, 111L), (2L, 20L), (3L, 30L), (4L, 40L)))
    graft.io.Sources.deleteRecursively(root)
  }

  test("compaction killed at either point preserves the row multiset " +
    "for the manifest reader; the next compaction run heals the sink") {
    val root = java.nio.file.Files.createTempDirectory("cps_c").toString
    val sink = s"$root/t"
    (1 to 3).foreach { b =>
      Seq((20240101L, s"a$b", b.toLong), (20240102L, s"b$b", b.toLong))
        .toDF("day", "k", "v").repartition(col("day"))
        .write.mode("append").partitionBy("day").parquet(sink)
    }
    val want = CommitLog.read(spark, sink)
      .orderBy("day", "k").collect().toSeq
    intercept[Killed] {
      Compact.compactSink(spark, sink, partitionCol = Some("day"),
        failpoint = killAt("added"))
    }
    assert(CommitLog.read(spark, sink).orderBy("day", "k")
      .collect().toSeq == want, "pre-commit crash: old generation")
    intercept[Killed] {
      Compact.compactSink(spark, sink, partitionCol = Some("day"),
        failpoint = killAt("committed"))
    }
    assert(CommitLog.read(spark, sink).orderBy("day", "k")
      .collect().toSeq == want, "post-commit crash: new generation, " +
      "same rows")
    // a later run resolves the committed generation: one file per
    // partition, already at target
    val (_, after) = Compact.compactSink(spark, sink,
      partitionCol = Some("day"))
    assert(after == 2L)
    assert(CommitLog.read(spark, sink).orderBy("day", "k")
      .collect().toSeq == want)
    graft.io.Sources.deleteRecursively(root)
  }

  test("compactByPlan executes the bin assignment exactly — one file " +
    "per bin per partition — and is crash-atomic at both failpoints") {
    val root = java.nio.file.Files.createTempDirectory("cps_cbp").toString
    val sink = s"$root/t"
    (1 to 3).foreach { b =>
      Seq(("x", s"k$b", b.toLong), ("y", s"k$b", b.toLong))
        .toDF("pt", "k", "v").repartition(col("pt"))
        .write.mode("append").partitionBy("pt").parquet(sink)
    }
    val fs = fsOf(sink); val p = new Path(sink)
    val live = CommitLog.ensureLogged(fs, p)
    assert(live.size == 6, "fixture: 3 files per partition")
    def partOf(rel: String) = rel.split('/')(0).stripPrefix("pt=")
    // two bins per partition: the two lexicographically-first files
    // merge, the third keeps its own bin
    val plan = live.groupBy(partOf).flatMap { case (pt, files) =>
      files.sorted.zipWithIndex.map { case (f, i) =>
        f -> s"$pt${if (i < 2) 0 else 1}"
      }
    }
    val want = CommitLog.read(spark, sink).orderBy("pt", "k", "v")
      .collect().toSeq
    intercept[Killed] {
      Compact.compactByPlan(spark, sink, "pt", plan,
        failpoint = killAt("added"))
    }
    assert(CommitLog.read(spark, sink).orderBy("pt", "k", "v")
      .collect().toSeq == want, "pre-commit crash: old generation")
    intercept[Killed] {
      Compact.compactByPlan(spark, sink, "pt", plan,
        failpoint = killAt("committed"))
    }
    assert(CommitLog.read(spark, sink).orderBy("pt", "k", "v")
      .collect().toSeq == want,
      "post-commit crash: new generation, same rows")
    // the committed layout is EXACTLY the plan: two files per
    // partition, named by their bin
    val (_, liveAfter) = CommitLog.committed(fs, p).get
    assert(liveAfter.groupBy(partOf).view.mapValues(_.size).toMap ==
      Map("x" -> 2, "y" -> 2),
      "files after must equal the plan's bins per partition")
    // a plan over the already-compacted layout with one bin per
    // partition completes the wave: one file each
    val live2 = CommitLog.committed(fs, p).get._2
    val plan2 = live2.map(f => f -> s"${partOf(f)}z").toMap
    assert(Compact.compactByPlan(spark, sink, "pt", plan2) == (4L, 2L))
    assert(CommitLog.read(spark, sink).orderBy("pt", "k", "v")
      .collect().toSeq == want)
    graft.io.Sources.deleteRecursively(root)
  }

  test("replacePartitions killed between commit and delete: the " +
    "re-stated partition reads exactly-once; untouched partitions keep " +
    "their files") {
    val root = java.nio.file.Files.createTempDirectory("cps_r").toString
    val sink = s"$root/t"
    val v1 = Seq((20240101L, 1L, 10L), (20240102L, 2L, 20L),
      (20240102L, 3L, 30L)).toDF("day", "k", "v")
    assert(Upsert.replacePartitionsParquet(spark, v1, Seq("day", "k"),
      Seq("v"), sink, "day", preDeduped = true) == 3L)
    // re-state day 2 with corrected values, crash before the GC
    val v2 = Seq((20240102L, 2L, 200L), (20240102L, 3L, 300L))
      .toDF("day", "k", "v")
    intercept[Killed] {
      Upsert.replacePartitionsParquet(spark, v2, Seq("day", "k"),
        Seq("v"), sink, "day", preDeduped = true,
        failpoint = killAt("committed"))
    }
    val got = CommitLog.read(spark, sink)
      .select(col("day").cast("long"), col("k"), col("v"))
      .orderBy("day", "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((20240101L, 1L, 10L), (20240102L, 2L, 200L),
      (20240102L, 3L, 300L)),
      "post-commit crash: day 2 exactly-once with v2 values")
    graft.io.Sources.deleteRecursively(root)
  }

  test("replacePartitions' FIRST write stages and swaps too: killed " +
    "before its commit, the new sink reads no rows, and the retry " +
    "lands exactly the batch") {
    val root = java.nio.file.Files.createTempDirectory("cps_r0").toString
    val sink = s"$root/t"
    val v1 = Seq((20240101L, 1L, 10L), (20240102L, 2L, 20L),
      (20240102L, 3L, 30L)).toDF("day", "k", "v")
    intercept[Killed] {
      Upsert.replacePartitionsParquet(spark, v1, Seq("day", "k"),
        Seq("v"), sink, "day", preDeduped = true,
        failpoint = killAt("added"))
    }
    assert(CommitLog.read(spark, sink).count() == 0L,
      "a first write killed before its commit must leave no rows")
    assert(Upsert.replacePartitionsParquet(spark, v1, Seq("day", "k"),
      Seq("v"), sink, "day", preDeduped = true) == 3L)
    val got = CommitLog.read(spark, sink)
      .select(col("day").cast("long"), col("k"), col("v"))
      .orderBy("day", "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((20240101L, 1L, 10L), (20240102L, 2L, 20L),
      (20240102L, 3L, 30L)), "the retry lands the batch exactly once")
    graft.io.Sources.deleteRecursively(root)
  }

  test("manifest-resolved reads are snapshot-isolated: a frame planned " +
    "before a keepReplaced rewrite still returns the pre-rewrite rows " +
    "after the rewrite commits") {
    val root = java.nio.file.Files.createTempDirectory("cps_si").toString
    val sink = mkSink(root)
    // bring the sink under log control (gen 0 + a first update → gen 1)
    Merge.mergeParquet(spark, Seq((1L, 11L)).toDF("k", "v"), Seq("k"),
      sink, keepReplaced = true)
    val v1 = Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L))
    // plan (do NOT collect) a manifest-resolved read of generation 1
    val snapshot = CommitLog.read(spark, sink)
    // concurrent rewrite: update lands as generation 2
    Merge.mergeParquet(spark, Seq((2L, 22L), (9L, 90L)).toDF("k", "v"),
      Seq("k"), sink, keepReplaced = true)
    // the pre-planned frame still reads generation 1 — its file list
    // was pinned at plan time and keepReplaced retained the files
    assert(snapshot.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == v1,
      "snapshot read must not see the concurrent rewrite")
    assert(ledger(sink) ==
      Seq((1L, 11L), (2L, 22L), (3L, 30L), (4L, 40L), (9L, 90L)),
      "a fresh read resolves the new generation")
    graft.io.Sources.deleteRecursively(root)
  }

  test("partition drop killed between commit and delete: the retired " +
    "partitions are gone for the manifest reader even though their " +
    "files are still on disk; re-running the policy is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("cps_ttl").toString
    val sink = s"$root/t"
    Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("day", "k", "v").repartition(col("day"))
      .write.partitionBy("day").parquet(sink)
    intercept[Killed] {
      Upsert.dropPartitionsParquet(spark, sink, "day",
        vs => Set(vs.map(_.toLong).min.toString),
        failpoint = killAt("committed"))
    }
    val got = CommitLog.read(spark, sink)
      .select(col("day").cast("long"), col("k")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 20L), (3L, 30L)),
      "post-commit crash: the dropped day must be invisible")
    // re-run resolves the committed generation; the oldest REMAINING
    // day is 2, and a policy that now names it drops it cleanly
    val (p, _) = Upsert.dropPartitionsParquet(spark, sink, "day",
      vs => vs.filter(_.toLong < 2L).toSet)
    assert(p == 0L, "nothing older than day 2 should remain to drop")
    // the dropped day's files are generation-0 HISTORY (referenced by
    // the bootstrap manifest), so only expiry reclaims them
    CommitLog.expireGenerations(fsOf(sink), new Path(sink), 1)
    assert(CommitLog.listDataFiles(fsOf(sink), new Path(sink)).toSet ==
      CommitLog.committed(fsOf(sink), new Path(sink)).get._2.toSet,
      "expiry must reclaim the retired partition's files")
    graft.io.Sources.deleteRecursively(root)
  }

  test("append after compaction extends the manifest: the " +
    "manifest-resolving reader sees appended rows") {
    val root = java.nio.file.Files.createTempDirectory("cps_a").toString
    val sink = s"$root/t"
    (1 to 3).foreach { b =>
      Seq((20240101L, s"a$b", b.toLong)).toDF("day", "k", "v")
        .repartition(col("day"))
        .write.mode("append").partitionBy("day").parquet(sink)
    }
    Compact.compactSink(spark, sink, partitionCol = Some("day"))
    assert(CommitLog.committed(fsOf(sink), new Path(sink)).isDefined)
    val n = Upsert.upsertParquet(spark,
      Seq((20240103L, "c1", 9L)).toDF("day", "k", "v"),
      Seq("day", "k"), Seq("v"), sink,
      partitionCol = Some("day"), preDeduped = true)
    assert(n == 1L)
    assert(CommitLog.read(spark, sink).count() == 4L,
      "manifest must include post-compaction appends")
    // and the manifest is exactly the disk listing (no drift)
    assert(CommitLog.listDataFiles(fsOf(sink), new Path(sink)).toSet ==
      CommitLog.committed(fsOf(sink), new Path(sink)).get._2.toSet)
    graft.io.Sources.deleteRecursively(root)
  }

  test("a writer's entry NEVER deletes another writer's staged " +
    "uncommitted files (the round-7 vacuum-on-entry data-loss " +
    "window): the straggler's commit conflicts and its retry " +
    "publishes a manifest whose every file exists") {
    val root = java.nio.file.Files.createTempDirectory("cps_nd").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val (g0, live0) = CommitLog.ensureLoggedAt(fs, p)
    // writer W2's add phase: a real part file moved into the sink
    // under a fresh unique name, NOT yet committed
    val scratch = s"$root/scratch"
    Seq((9L, 90L)).toDF("k", "v").coalesce(1).write.parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val staged = "part-w2-staged-deadbeef.parquet"
    assert(fs.rename(new Path(part.toString), new Path(p, staged)))
    // writer W1 enters and completes a whole logged append — neither
    // its entry nor its commit may touch W2's staged file
    CommitLog.ensureLoggedAt(fs, p)
    Upsert.upsertParquet(spark, Seq((5L, 50L)).toDF("k", "v"),
      Seq("k"), Seq("v"), sink)
    assert(fs.exists(new Path(p, staged)),
      "W1's entry/append reclaimed W2's in-flight staged file — " +
        "the committed-data-loss window is back")
    val (g1, live1) = CommitLog.committed(fs, p).get
    assert(!live1.contains(staged),
      "the append must not adopt a file it did not write")
    assert(ledger(sink) ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)),
      "staged uncommitted rows must stay invisible")
    // W2 commits from its now-stale base: conflicts (correct); its
    // retry from a fresh read lands, and every committed file exists
    intercept[CommitConflictException] {
      CommitLog.commitNext(fs, p, g0, live0 :+ staged)
    }
    CommitLog.commitNext(fs, p, g1, live1 :+ staged)
    val (_, live2) = CommitLog.committed(fs, p).get
    assert(live2.forall(r => fs.exists(new Path(p, r))),
      "a committed manifest may never reference a deleted file")
    assert(ledger(sink) == Seq((1L, 10L), (2L, 20L), (3L, 30L),
      (4L, 40L), (5L, 50L), (9L, 90L)))
    graft.io.Sources.deleteRecursively(root)
  }

  test("vacuum with a modification-time horizon reclaims only orphans " +
    "older than the horizon — remove-orphan semantics, safe to run " +
    "while writers are in flight") {
    val root = java.nio.file.Files.createTempDirectory("cps_hz").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    CommitLog.ensureLoggedAt(fs, p)
    // two orphans: one fresh (a concurrent writer's staged file), one
    // two hours stale (debris from a long-dead crashed writer)
    def plant(name: String): Path = {
      val scratch = s"$root/s_$name"
      Seq((99L, 990L)).toDF("k", "v").coalesce(1).write.parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new Path(p, s"part-orphan-$name.parquet")
      assert(fs.rename(new Path(part.toString), dst)); dst
    }
    val fresh = plant("fresh"); val stale = plant("stale")
    fs.setTimes(stale, System.currentTimeMillis() - 2 * 3600 * 1000L, -1)
    assert(CommitLog.vacuum(fs, p, olderThanMs = 3600 * 1000L) == 1L,
      "horizon vacuum must reclaim exactly the stale orphan")
    assert(!fs.exists(stale) && fs.exists(fresh),
      "the fresh orphan (a possible in-flight commit) must survive")
    // quiesced horizon-0 vacuum reclaims the rest
    assert(CommitLog.vacuum(fs, p) == 1L)
    assert(!fs.exists(fresh))
    graft.io.Sources.deleteRecursively(root)
  }

  test("ensureLoggedAt reads O(1) manifests regardless of retained " +
    "history: 120 generations, one manifest read per writer entry") {
    val root = java.nio.file.Files.createTempDirectory("cps_o1").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    var (g, live) = CommitLog.ensureLoggedAt(fs, p)
    (1 to 120).foreach { _ => g = CommitLog.commitNext(fs, p, g, live) }
    assert(CommitLog.generations(fs, p).size == 121)
    val r0 = CommitLog.manifestReads.get()
    CommitLog.ensureLoggedAt(fs, p)
    assert(CommitLog.manifestReads.get() - r0 <= 1L,
      "a writer's entry must read exactly the latest manifest")
    // a whole logged append stays O(1) manifests too (entry + the
    // pre-append committed check; the appended names are tracked by
    // the staged move-in, no extra manifest reads)
    val r1 = CommitLog.manifestReads.get()
    Upsert.upsertParquet(spark, Seq((7L, 70L)).toDF("k", "v"),
      Seq("k"), Seq("v"), sink)
    assert(CommitLog.manifestReads.get() - r1 <= 3L,
      "append-path manifest reads must not grow with retained history")
    // the EXPLICIT maintenance path legitimately resolves them all —
    // cold (cache dropped) that is one physical read per retained
    // manifest; warm it is free, since committed manifests are
    // immutable and the parse cache keyed on (path, mtime, len) holds
    CommitLog.clearManifestCache()
    val r2 = CommitLog.manifestReads.get()
    CommitLog.vacuum(fs, p)
    assert(CommitLog.manifestReads.get() - r2 >= 120L)
    val r3 = CommitLog.manifestReads.get()
    CommitLog.vacuum(fs, p)
    assert(CommitLog.manifestReads.get() - r3 == 0L,
      "immutable manifests re-read from the parse cache")
    graft.io.Sources.deleteRecursively(root)
  }

  test("conditional-create publish on an object-store-like filesystem " +
    "whose rename silently replaces: exactly one racing publish wins, " +
    "the loser's commit throws, and the winner's manifest is intact") {
    val root = java.nio.file.Files.createTempDirectory("cps_s3").toString
    val fs = new SilentReplaceFS
    fs.initialize(java.net.URI.create("s3ish:///"),
      spark.sparkContext.hadoopConfiguration)
    def put(path: Path, body: String): Unit = {
      val out = fs.create(path, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def slurp(path: Path): String = {
      val in = fs.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // the hazard is real on this FS: rename over an existing
    // destination silently replaces (S3A copy-object semantics)
    val a = new Path(root, "a.txt"); val b = new Path(root, "b.txt")
    put(a, "A"); put(b, "B")
    assert(fs.rename(a, b) && slurp(b) == "A",
      "the double must model rename-silently-replaces")
    // two staged manifests race for the same final name through the
    // conditional-create publish: first wins, second loses, content
    // is the winner's (no lost update)
    val dir = new Path(root, "log"); fs.mkdirs(dir)
    val fin = new Path(dir, "00000000000000000001.manifest")
    val t1 = new Path(dir, ".t1.tmp"); val t2 = new Path(dir, ".t2.tmp")
    put(t1, "winner-files"); put(t2, "loser-files")
    assert(CommitLog.publishExclusive(fs, t1, fin))
    assert(!CommitLog.publishExclusive(fs, t2, fin),
      "the second publish must lose, not silently replace")
    assert(slurp(fin) == "winner-files")
    // end-to-end on the double: two commitNext racers from one base
    // (log-protocol surface only — the data files themselves would be
    // the store's objects and are irrelevant to the CAS)
    val p = new Path(root, "t2"); fs.mkdirs(p)
    val g0 = CommitLog.commitNext(fs, p, -1L,
      Seq("f1.parquet", "f2.parquet"))
    assert(CommitLog.commitNext(fs, p, g0,
      Seq("f1.parquet", "f2.parquet", "f3.parquet")) == g0 + 1)
    intercept[CommitConflictException] {
      CommitLog.commitNext(fs, p, g0, Seq("loser.parquet"))
    }
    assert(CommitLog.committed(fs, p).get ==
      (g0 + 1) -> Seq("f1.parquet", "f2.parquet", "f3.parquet"),
      "the losing commit must not clobber the winner's manifest")
    graft.io.Sources.deleteRecursively(root)
  }

  test("conditional-create publish on a scheme that does NOT declare " +
    "close-time exclusivity: warns once per scheme and still " +
    "publishes; refuses outright under the require conf") {
    val root = java.nio.file.Files.createTempDirectory("cps_uv").toString
    val fs = new UnverifiedStoreFS
    fs.initialize(java.net.URI.create("s3plain:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(!CommitLog.verifiedConditionalCreate(fs, new Path(root)),
      "fixture: the double must not declare the capability")
    val dir = new Path(root, "log"); fs.mkdirs(dir)
    def stage(name: String, body: String): Path = {
      val t = new Path(dir, name)
      val out = fs.create(t, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      t
    }
    CommitLog.condCreateWarned.remove("s3plain")
    val fin = new Path(dir, "00000000000000000001.manifest")
    assert(CommitLog.publishExclusive(fs, stage(".t1.tmp", "w"), fin),
      "single-writer publish must still work, under a warning")
    assert(CommitLog.condCreateWarned.contains("s3plain"),
      "the unverified-exclusivity durability warning must fire")
    // and by contrast the capability-declaring double is warning-free
    assert(!CommitLog.condCreateWarned.contains("s3ish"))
    // strict mode: an unverified store is a hard refusal, not a warn
    val strictConf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    strictConf.setBoolean("graft.commit.require.conditional.create",
      true)
    val strictFs = new UnverifiedStoreFS
    strictFs.initialize(java.net.URI.create("s3plain:///"), strictConf)
    val t2 = stage(".t2.tmp", "x")
    intercept[UnsupportedOperationException] {
      CommitLog.publishExclusive(strictFs, t2,
        new Path(dir, "00000000000000000002.manifest"))
    }
    graft.io.Sources.deleteRecursively(root)
  }

  test("cross-process commit race: a SECOND JVM races commitNext on " +
    "the same sink from the same base — exactly one winner across " +
    "real process boundaries") {
    val root = java.nio.file.Files.createTempDirectory("cps_xp").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val p = new Path(sink)
    val (g, live) = CommitLog.ensureLoggedAt(fs, p)
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").toString
    val pb = new ProcessBuilder(
      (Seq(javaBin,
        // a tiny pure-Hadoop main: cap its heap so it can never lose
        // to MEMORY pressure when the suite runs under load (an OOM'd
        // racer exits non-0/42 and would flake this test)
        "-Xmx512m", "-XX:+UseSerialGC",
        "--add-opens", "java.base/java.lang=ALL-UNNAMED",
        "--add-opens", "java.base/java.util=ALL-UNNAMED",
        "--add-opens", "java.base/java.nio=ALL-UNNAMED",
        "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
        "-cp", sys.props("java.class.path"),
        "graft.tools.CommitRacer", sink, g.toString,
        "external-marker.parquet")): _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // race it from the same base while the other JVM starts up
    val inWon =
      try { CommitLog.commitNext(fs, p, g, live :+ "in-process.parquet"); true }
      catch { case _: CommitConflictException => false }
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val code = proc.waitFor()
    assert(code == 0 || code == 42,
      s"racer JVM failed unexpectedly (exit $code):\n$out")
    val extWon = code == 0
    assert(inWon ^ extWon,
      s"exactly one process may win (in=$inWon, ext=$extWon)")
    val (_, liveNow) = CommitLog.committed(fs, p).get
    assert(liveNow.contains(
      if (inWon) "in-process.parquet" else "external-marker.parquet"))
    assert(!(liveNow.contains("in-process.parquet") &&
      liveNow.contains("external-marker.parquet")),
      "the loser's file list must not leak into the manifest")
    graft.io.Sources.deleteRecursively(root)
  }
}

/** Test double modeling an object store through the Hadoop FileSystem
  * API: `rename` silently REPLACES an existing destination (S3A
  * copy-object semantics — the behavior the commit publish must never
  * rely on), while `create(path, overwrite = false)` is exclusive (the
  * conditional-PUT primitive real stores expose as S3 `If-None-Match`
  * / GCS `ifGenerationMatch: 0`). Scheme `s3ish` keeps it off both the
  * local hard-link path and the HDFS rename allowlist, forcing
  * [[graft.operators.CommitLog]]'s conditional-create fallback. */
class SilentReplaceFS extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3ish:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) delete(dst, false)
    super.rename(src, dst)
  }
  // this double models a store WITH conditional writes (S3
  // If-None-Match): it DECLARES the capability the publish gate
  // verifies, exactly as HADOOP-19256 S3A does
  override def hasPathCapability(path: Path, cap: String): Boolean =
    cap == "fs.option.create.conditional.overwrite" ||
      cap == "fs.capability.create.conditional.overwrite" ||
      super.hasPathCapability(path, cap)
}

/** Like [[SilentReplaceFS]] but WITHOUT the conditional-create
  * capability declaration — a stock connector whose
  * `create(overwrite = false)` is a client-side existence check plus
  * an unconditional PUT at close. The publish gate must not silently
  * treat it as put-if-absent. */
class UnverifiedStoreFS extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3plain:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) delete(dst, false)
    super.rename(src, dst)
  }
}
