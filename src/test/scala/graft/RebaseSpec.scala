package graft

import graft.operators.{CommitConflictException, CommitLog, DeleteVectors, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Commutative-commit rebase: the retry loop production table formats
  * run so losing an optimistic-concurrency race does NOT surface a
  * caller retry when the operations commute.
  *
  *   - a blind APPEND commutes with every winner — its staged files
  *     carry fresh names nobody else references
  *     ([[CommitLog.commitAppend]]);
  *   - a DELETE's DV marks commute when the winner neither rewrote the
  *     marked files nor changed their DV records — the same DV map
  *     re-commits against the fresh manifest; when the winner DID
  *     touch them, [[DeleteVectors.deleteWhere]] recomputes the whole
  *     predicate delete from a fresh snapshot (exact for a predicate);
  *   - a REWRITE (merge, compaction, [[DeleteVectors.mergeOnRead]]'s
  *     matched scan) never commutes — its read snapshot is invalidated
  *     by any winner, and the conflict stays terminal
  *     (CommitProtocolSpec pins those).
  *
  * The reference never faces this: its warehouse serializes writers
  * (`dags/idh_etl.py:247-256` delegates to BigQuery/DuckDB MVCC). */
class RebaseSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Logged sink with one single-row parquet file per key. */
  private def mkLogged(root: String, keys: Seq[Long]): String = {
    val sink = s"$root/t"
    keys.foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink)
    CommitLog.ensureLoggedAt(fs, new Path(sink)) // bootstrap gen 0
    sink
  }

  /** Stage one fresh (k, v) row file into the sink dir WITHOUT
    * committing — a manual appender half. Returns the relative name. */
  private def stageRow(sink: String, k: Long, v: Long): String = {
    val fs = fsOf(sink)
    val tmp = new Path(sink + "__stage-" +
      java.util.UUID.randomUUID().toString)
    Seq((k, v)).toDF("k", "v").coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = part.getName
    assert(fs.rename(part, new Path(sink, rel)))
    fs.delete(tmp, true)
    rel
  }

  test("commitAppend rebases a lost race: two appenders from the same " +
    "base both land, the loser on top of the winner's manifest, no " +
    "caller retry") {
    val root = java.nio.file.Files.createTempDirectory("rb_a1").toString
    val sink = mkLogged(root, Seq(1L, 2L))
    val fs = fsOf(sink)
    val hp = new Path(sink)
    val (base, live) = CommitLog.ensureLoggedAt(fs, hp)
    val aFile = stageRow(sink, 100L, 1000L)
    val bFile = stageRow(sink, 200L, 2000L)
    // B wins the CAS from the shared base…
    val gB = CommitLog.commitAppend(fs, hp, base, live, Seq(bFile))
    assert(gB == base + 1)
    // …and A, committing from the SAME (now stale) base, rebases onto
    // B's manifest instead of throwing
    val gA = CommitLog.commitAppend(fs, hp, base, live, Seq(aFile))
    assert(gA == base + 2)
    val rows = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (100L, 1000L),
      (200L, 2000L)))
  }

  test("commitAppend rebase carries the WINNER's DV records forward: " +
    "an append losing to a delete keeps the delete") {
    val root = java.nio.file.Files.createTempDirectory("rb_a2").toString
    val sink = mkLogged(root, Seq(1L, 2L, 3L))
    val fs = fsOf(sink)
    val hp = new Path(sink)
    val (base, live) = CommitLog.ensureLoggedAt(fs, hp)
    val aFile = stageRow(sink, 100L, 1000L)
    // winner: a deleteWhere commits between A's read and A's commit
    DeleteVectors.deleteWhere(spark, sink, col("k") === 2L)
    val gA = CommitLog.commitAppend(fs, hp, base, live, Seq(aFile))
    assert(gA == base + 2)
    val ks = CommitLog.read(spark, sink).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(1L, 3L, 100L), "rebase must re-merge the " +
      s"winner's DV records, got $ks")
  }

  test("#txn is enforced at COMMIT granularity: two same-appId " +
    "writers racing past a check-then-act fast path land exactly one " +
    "copy of the batch — the loser's rebase NO-OPs instead of " +
    "re-landing it") {
    val root = java.nio.file.Files.createTempDirectory("rb_txn").toString
    val sink = mkLogged(root, Seq(1L))
    val fs = fsOf(sink)
    val hp = new Path(sink)
    val (base, live) = CommitLog.ensureLoggedAt(fs, hp)
    // both writers staged their copy of the SAME logical batch (a
    // replayed micro-batch) before either committed — the window the
    // pre-stage txnVersion check cannot close
    val aFile = stageRow(sink, 100L, 1000L)
    val bFile = stageRow(sink, 100L, 1000L)
    val gA = CommitLog.commitAppend(fs, hp, base, live, Seq(aFile),
      txn = Some(("app", 7L)))
    assert(gA == base + 1)
    // B raced from the same stale base: the CAS loss rebases, the
    // rebase sees (app, 7) already in the winner's ledger and no-ops
    val gB = CommitLog.commitAppend(fs, hp, base, live, Seq(bFile),
      txn = Some(("app", 7L)))
    assert(gB == gA, s"the loser must return the winner's generation " +
      s"(got $gB, winner $gA)")
    assert(CommitLog.committed(fs, hp).get._1 == gA,
      "the duplicate batch must not create a generation")
    assert(CommitLog.read(spark, sink)
      .filter(col("k") === 100L).count() == 1L,
      "exactly one copy of the batch may land")
    // a writer whose FRESH base already carries the ledger entry
    // no-ops on its first attempt too (no CAS needed to detect it)
    val (b2, l2) = CommitLog.ensureLoggedAt(fs, hp)
    val cFile = stageRow(sink, 100L, 1000L)
    val gC = CommitLog.commitAppend(fs, hp, b2, l2, Seq(cFile),
      txn = Some(("app", 7L)))
    assert(gC == gA && CommitLog.read(spark, sink)
      .filter(col("k") === 100L).count() == 1L)
    // the no-op'd writers' staged files are vacuum debris
    assert(CommitLog.vacuum(fs, hp) == 2L)
  }

  test("commitAppend exhausts its attempt budget loudly on a " +
    "pathologically hot sink") {
    val root = java.nio.file.Files.createTempDirectory("rb_a3").toString
    val sink = mkLogged(root, Seq(1L))
    val fs = fsOf(sink)
    val hp = new Path(sink)
    val (base, live) = CommitLog.ensureLoggedAt(fs, hp)
    val aFile = stageRow(sink, 100L, 1000L)
    // pre-commit the next TWO generations so every rebase attempt of a
    // maxAttempts=2 appender finds its base stale again
    val f1 = stageRow(sink, 300L, 3000L)
    CommitLog.commitNext(fs, hp, base, live :+ f1)
    val f2 = stageRow(sink, 400L, 4000L)
    CommitLog.commitNext(fs, hp, base + 1, live ++ Seq(f1, f2))
    // a hostile FS double is overkill: just race it with maxAttempts=1
    val e = intercept[CommitConflictException] {
      CommitLog.commitAppend(fs, hp, base, live, Seq(aFile),
        maxAttempts = 1)
    }
    assert(e.getMessage.contains("gave up after 1"))
  }

  test("two concurrent logged upserts with disjoint keys both succeed " +
    "without caller retries (operator-level blind-append rebase)") {
    val root = java.nio.file.Files.createTempDirectory("rb_u1").toString
    val sink = s"$root/t"
    Seq((0L, 0L)).toDF("k", "v").write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          Upsert.upsertParquet(spark,
            Seq((i * 100L, i * 1000L)).toDF("k", "v"),
            Seq("k"), Seq("k"), sink)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent upserts surfaced: ${errs
      .toArray.mkString("; ")}")
    val ks = CommitLog.read(spark, sink).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(0L, 100L, 200L, 300L, 400L))
  }

  test("concurrent upserts of the SAME key stay terminal — the " +
    "key-overlap guard: the loser throws instead of silently " +
    "duplicating, and its re-run dedupes to zero") {
    val root = java.nio.file.Files.createTempDirectory("rb_u2").toString
    val sink = s"$root/t"
    Seq((0L, 0L)).toDF("k", "v").write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    var fired = false
    val e = intercept[CommitConflictException] {
      Upsert.upsertParquet(spark, Seq((5L, 50L)).toDF("k", "v"),
        Seq("k"), Seq("k"), sink,
        failpoint = p => if (p == "staged" && !fired) {
          fired = true
          // the winner publishes the SAME key before our commit
          Upsert.upsertParquet(spark, Seq((5L, 51L)).toDF("k", "v"),
            Seq("k"), Seq("k"), sink)
        })
    }
    assert(e.getMessage.contains("overlapping"))
    // the loser's re-run anti-joins against the winner → 0 new rows
    val n = Upsert.upsertParquet(spark, Seq((5L, 50L)).toDF("k", "v"),
      Seq("k"), Seq("k"), sink)
    assert(n == 0L)
    val rows = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 0L), (5L, 51L)),
      s"exactly one version of the key may land, got $rows")
  }

  test("concurrent upserts of DISJOINT keys rebase hands-free " +
    "(deterministic failpoint variant of the thread race)") {
    val root = java.nio.file.Files.createTempDirectory("rb_u3").toString
    val sink = s"$root/t"
    Seq((0L, 0L)).toDF("k", "v").write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    var fired = false
    val n = Upsert.upsertParquet(spark, Seq((5L, 50L)).toDF("k", "v"),
      Seq("k"), Seq("k"), sink,
      failpoint = p => if (p == "staged" && !fired) {
        fired = true
        Upsert.upsertParquet(spark, Seq((9L, 90L)).toDF("k", "v"),
          Seq("k"), Seq("k"), sink)
      })
    assert(n == 1L)
    val rows = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 0L), (5L, 50L), (9L, 90L)))
  }

  test("deleteWhere rebases in place when the winner touched OTHER " +
    "files (disjoint deletes both land, one DV write each)") {
    val root = java.nio.file.Files.createTempDirectory("rb_d1").toString
    val sink = mkLogged(root, Seq(1L, 2L, 3L, 4L))
    // A marks k=1; at its dv_written failpoint (DV staged, commit not
    // yet attempted) B runs a FULL delete of k=3 and wins the CAS. A's
    // marked file and its DV record are untouched by B → cheap rebase.
    var fired = false
    val (n1, _) = DeleteVectors.deleteWhere(spark, sink,
      col("k") === 1L,
      failpoint = p => if (p == "dv_written" && !fired) {
        fired = true
        val (n3, _) =
          DeleteVectors.deleteWhere(spark, sink, col("k") === 3L)
        assert(n3 == 1L)
      })
    assert(n1 == 1L)
    val ks = CommitLog.read(spark, sink).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(2L, 4L), s"both deletes must survive, got $ks")
  }

  test("deleteWhere RECOMPUTES when the winner marked the SAME file: " +
    "both predicates' rows end deleted, none resurrected") {
    val root = java.nio.file.Files.createTempDirectory("rb_d2").toString
    val sink = s"$root/t"
    // ONE file holding k=1..4 → same-file DV contention by construction
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
      .coalesce(1).write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    var fired = false
    val (n1, _) = DeleteVectors.deleteWhere(spark, sink,
      col("k") === 1L,
      failpoint = p => if (p == "dv_written" && !fired) {
        fired = true
        DeleteVectors.deleteWhere(spark, sink, col("k") === 3L)
      })
    assert(n1 == 1L)
    val ks = CommitLog.read(spark, sink).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(2L, 4L),
      s"recompute must merge the winner's same-file marks, got $ks")
  }

  test("mergeOnRead stays TERMINAL when the winner touched its " +
    "matched files, and rebases when the winner only appended") {
    val root = java.nio.file.Files.createTempDirectory("rb_m1").toString
    val sinkA = mkLogged(s"$root/a", Seq(1L, 2L))
    // winner deletes from the file mergeOnRead matched → terminal
    var firedA = false
    intercept[CommitConflictException] {
      DeleteVectors.mergeOnRead(spark, sinkA,
        Seq((1L, 11L)).toDF("k", "v"), Seq("k"),
        failpoint = p => if (p == "staged" && !firedA) {
          firedA = true
          DeleteVectors.deleteWhere(spark, sinkA, col("k") === 1L)
        })
    }
    // winner only APPENDED a disjoint key (fresh file, no DV change)
    // → rebase lands
    val sinkB = mkLogged(s"$root/b", Seq(1L, 2L))
    var firedB = false
    val (marked, appended) = DeleteVectors.mergeOnRead(spark, sinkB,
      Seq((2L, 22L)).toDF("k", "v"), Seq("k"),
      failpoint = p => if (p == "staged" && !firedB) {
        firedB = true
        Upsert.upsertParquet(spark,
          Seq((9L, 90L)).toDF("k", "v"), Seq("k"), Seq("k"), sinkB)
      })
    assert(marked == 1L && appended == 1L)
    val rows = CommitLog.read(spark, sinkB).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 22L), (9L, 90L)))
    // winner appended one of OUR merge keys (a not-matched insert key
    // the winner could still see as absent) → the overlap guard keeps
    // the conflict terminal: the winner's row dodges our marks and
    // would sit next to our appended version as a duplicate
    val sinkC = mkLogged(s"$root/c", Seq(1L, 2L))
    var firedC = false
    intercept[CommitConflictException] {
      DeleteVectors.mergeOnRead(spark, sinkC,
        Seq((2L, 22L), (7L, 77L)).toDF("k", "v"), Seq("k"),
        failpoint = p => if (p == "staged" && !firedC) {
          firedC = true
          Upsert.upsertParquet(spark,
            Seq((7L, 70L)).toDF("k", "v"), Seq("k"), Seq("k"), sinkC)
        })
    }
  }

  test("mass delete shards the DV write: per-data-file part records, " +
    "reader/carry-forward/applyDeletes/vacuum all unchanged") {
    val root = java.nio.file.Files.createTempDirectory("rb_s1").toString
    val sink = s"$root/t"
    // 4 data files × 250 rows
    (0 until 4).foreach { f =>
      (0 until 250).map(i => (f * 250L + i, f.toLong)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink)
    val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    // 600 marks ≫ 100-row shard budget → hash-sharded by data file
    val (n, files) = DeleteVectors.deleteWhere(spark, sink,
      col("k") % 5L =!= 0L, dvShardRows = 100L)
    assert(n == 800L && files == 4L)
    val dvs = latest(fs, hp).dvs
    assert(dvs.size == 4)
    // sharded layout: every record names a part FILE inside one DV dir
    assert(dvs.values.forall(_.matches(
      CommitLog.DvDirName + "/[^/]+/part-.*\\.parquet")),
      s"expected part-file records, got ${dvs.values.toSeq.sorted}")
    assert(dvs.values.toSet.size > 1,
      "a mass delete must not funnel into one DV file")
    // reader applies the sharded DVs
    assert(CommitLog.read(spark, sink).count() == 200L)
    assert(CommitLog.read(spark, sink)
      .filter(col("k") % 5L =!= 0L).count() == 0L)
    // carry-forward across an oblivious append keeps the shard records
    // (insert-only upsert is raw-reading and refuses DV'd sinks, so a
    // plain logged append via commitAppend is the oblivious writer)
    val (gNow, liveNow) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, gNow, liveNow,
      Seq(stageRow(sink, 5000L, 9L)))
    assert(CommitLog.read(spark, sink).count() == 201L)
    // vacuum must NOT reclaim a dir that records point INTO
    assert(CommitLog.vacuum(fs, hp) == 0L)
    assert(CommitLog.read(spark, sink).count() == 201L)
    // the change feed reads sharded DV part files like any other:
    // the whole mass delete surfaces as deletes
    val gens = CommitLog.generations(fs, hp)
    val feed = CommitLog.changesBetween(spark, sink,
      gens.head, gens.last)
    assert(feed.filter(col("_change_type") === "delete").count()
      == 800L)
    // MoR → CoW compaction clears the sharded DVs
    val (rewritten, _) = DeleteVectors.applyDeletes(spark, sink)
    assert(rewritten == 4L)
    assert(latest(fs, hp).dvs.isEmpty)
    assert(CommitLog.read(spark, sink).count() == 201L)
  }

  test("a shard task that splits its output (maxRecordsPerFile) " +
    "falls back to the whole-directory record — no part's marks are " +
    "ever orphaned") {
    val root = java.nio.file.Files.createTempDirectory("rb_s2").toString
    val sink = s"$root/t"
    (0 until 300).map(i => (i.toLong, 1L)).toDF("k", "v")
      .coalesce(1).write.parquet(sink)
    val fs = fsOf(sink)
    val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    // 240 marks > 100-row budget → sharded path with ONE shard task
    // (one affected file); maxRecordsPerFile splits that task's
    // output into several part files — the one-part-per-file
    // assumption would silently drop all but one part's marks
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try {
      val (n, f) = DeleteVectors.deleteWhere(spark, sink,
        col("k") < 240L, dvShardRows = 100L)
      assert((n, f) == (240L, 1L))
    } finally
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    val dvs = latest(fs, hp).dvs
    assert(dvs.size == 1)
    assert(!dvs.values.head.contains("part-"),
      s"multi-part marks must bind the DV directory: ${dvs.values}")
    // the DV dir really does hold several parts, and ALL apply
    val dvDir = new Path(sink, dvs.values.head)
    assert(fs.listStatus(dvDir)
      .count(_.getPath.getName.endsWith(".parquet")) > 1)
    assert(CommitLog.read(spark, sink).count() == 60L)
    assert(CommitLog.read(spark, sink).agg(min(col("k")))
      .head.getLong(0) == 240L)
    // the recorded cardinality is the FULL merged set
    assert(latest(fs, hp).dvMarks.values.toSeq == Seq(240L))
  }
}
