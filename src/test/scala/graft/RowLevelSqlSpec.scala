package graft

import graft.operators.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** SQL row-level DML ([[graft.sources.GraftRowLevelOperation]] —
  * Spark's `SupportsDelta` rewrite): UPDATE and MERGE INTO plan as
  * merge-on-read position deltas over the deletion-vector engine —
  * live data files are never rewritten, one commit publishes `#dv`
  * marks + appended files, and pushable DELETEs keep their
  * metadata-only path. */
class RowLevelSqlSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initCatalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
  }

  private def dataFileStamps(root: String): Map[String, (Long, Long)] = {
    val hp = new Path(root); val fs = fsOf(root)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    live.map { r =>
      val st = fs.getFileStatus(new Path(hp, r))
      r -> (st.getLen, st.getModificationTime)
    }.toMap
  }

  test("SQL UPDATE is merge-on-read: matched rows change, live data " +
    "files stay byte-identical, #dv records appear, exactly the new " +
    "rows' file is appended, one commit") {
    val root = java.nio.file.Files.createTempDirectory("rls1").toString
    initCatalog("rls1", root)
    spark.sql("CREATE NAMESPACE rls1.db")
    spark.sql("CREATE TABLE rls1.db.t (k BIGINT, v STRING, amt DOUBLE) " +
      "USING graft")
    spark.sql("INSERT INTO rls1.db.t SELECT id, concat('v', id), " +
      "CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql("INSERT INTO rls1.db.t SELECT id, concat('v', id), " +
      "CAST(id AS DOUBLE) FROM range(100, 200)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val before = dataFileStamps(path)
    val genBefore = CommitLog.committed(fs, hp).get._1

    spark.sql("UPDATE rls1.db.t SET v = 'bumped', amt = amt + 1000 " +
      "WHERE k % 10 = 3")

    // semantics: exactly the matched rows changed
    val bumped = spark.table("rls1.db.t").filter($"v" === "bumped")
      .orderBy("k").collect()
    assert(bumped.length == 20)
    assert(bumped.map(_.getLong(0)).toSeq ==
      (0L until 200L).filter(_ % 10 == 3))
    assert(bumped.forall(r => r.getDouble(2) == r.getLong(0) + 1000.0))
    assert(spark.table("rls1.db.t").count() == 200)
    assert(spark.table("rls1.db.t")
      .filter($"k" % 10 =!= 3 && $"v" === "bumped").count() == 0)

    // mechanics: merge-on-read — prior files untouched, DVs present,
    // new files carry exactly the updated rows, ONE commit
    val after = dataFileStamps(path)
    before.foreach { case (f, stamp) =>
      assert(after.get(f).contains(stamp),
        s"UPDATE must not rewrite live data file $f") }
    val newFiles = after.keySet -- before.keySet
    assert(newFiles.nonEmpty, "UPDATE must append the new row versions")
    val dvs = latest(fs, hp).dvs
    assert(dvs.nonEmpty, "UPDATE must land #dv records")
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 1,
      "UPDATE must publish exactly one commit")
    val newRows = spark.read.parquet(
      newFiles.toSeq.map(r => new Path(hp, r).toString): _*)
    assert(newRows.count() == 20 &&
      newRows.filter($"v" === "bumped").count() == 20)
  }

  test("SQL MERGE INTO (matched update + not-matched insert) is " +
    "hash-equal to the expected upsert result; inserts and updates " +
    "land in one merge-on-read commit") {
    val root = java.nio.file.Files.createTempDirectory("rls2").toString
    initCatalog("rls2", root)
    spark.sql("CREATE NAMESPACE rls2.db")
    spark.sql("CREATE TABLE rls2.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO rls2.db.t SELECT id, concat('old', id) " +
      "FROM range(0, 50)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val genBefore = CommitLog.committed(fs, hp).get._1
    val before = dataFileStamps(path)

    Seq((40L, "new40"), (45L, "new45"), (60L, "new60"), (70L, "new70"))
      .toDF("k", "v").createOrReplaceTempView("rls2_src")
    spark.sql("MERGE INTO rls2.db.t t USING rls2_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")

    val got = spark.table("rls2.db.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (0L until 50L).map(k =>
      k -> (if (k == 40) "new40" else if (k == 45) "new45"
            else s"old$k")) ++ Seq(60L -> "new60", 70L -> "new70")
    assert(got == want)
    // merge-on-read mechanics: untouched files, one commit
    val after = dataFileStamps(path)
    before.foreach { case (f, stamp) =>
      assert(after.get(f).contains(stamp)) }
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 1)
    assert(latest(fs, hp).dvs.nonEmpty)
  }

  test("pushable SQL DELETE keeps the metadata-only DV path (no new " +
    "files); a NON-pushable DELETE executes row-level and still " +
    "rewrites nothing") {
    val root = java.nio.file.Files.createTempDirectory("rls3").toString
    initCatalog("rls3", root)
    spark.sql("CREATE NAMESPACE rls3.db")
    spark.sql("CREATE TABLE rls3.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO rls3.db.t SELECT id, concat('v', id) " +
      "FROM range(0, 100)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val before = dataFileStamps(path)

    spark.sql("DELETE FROM rls3.db.t WHERE k >= 90")
    assert(spark.table("rls3.db.t").count() == 90)
    // non-pushable condition (modulo) → row-level delete path
    spark.sql("DELETE FROM rls3.db.t WHERE k % 7 = 0")
    assert(spark.table("rls3.db.t").count() ==
      (0L until 90L).count(_ % 7 != 0))
    val after = dataFileStamps(path)
    assert(after == before,
      "both DELETE forms must leave the data file set untouched")
    assert(latest(fs, hp).dvs.nonEmpty)
  }

  test("SQL UPDATE routes rows into the hive layout (including a " +
    "partition-changing update) and refuses a CHECK-violating SET") {
    val root = java.nio.file.Files.createTempDirectory("rls4").toString
    initCatalog("rls4", root)
    spark.sql("CREATE NAMESPACE rls4.db")
    spark.sql("CREATE TABLE rls4.db.t (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO rls4.db.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 40)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)

    // moves rows from p=a to p=c: DV in a's file, new file under p=c/
    spark.sql("UPDATE rls4.db.t SET p = 'c' WHERE p = 'a' AND k < 10")
    assert(spark.table("rls4.db.t").filter($"p" === "c")
      .orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L))
    assert(spark.table("rls4.db.t").count() == 40)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.forall(f => f.startsWith("p=")),
      s"appended update rows must land in hive dirs: $live")
    assert(live.exists(_.startsWith("p=c/")))

    // CHECK constraints gate SQL UPDATE's new rows
    CommitLog.addCheck(spark, path, "k_small", "k < 1000")
    val e = intercept[Exception] {
      spark.sql("UPDATE rls4.db.t SET k = k + 5000 WHERE p = 'b'")
    }
    assert(e.getMessage != null)
    assert(spark.table("rls4.db.t").filter($"k" >= 1000).count() == 0,
      "a refused UPDATE must leave no partial effect")
  }

  test("the UPDATE condition reaches MANIFEST PRUNING: files provably " +
    "outside the predicate band are never scanned (plan-pinned " +
    "kept/skipped counts)") {
    val root = java.nio.file.Files.createTempDirectory("rls6").toString
    initCatalog("rls6", root)
    spark.sql("CREATE NAMESPACE rls6.db")
    spark.sql("CREATE TABLE rls6.db.t (k BIGINT, v STRING) USING graft")
    // five ONE-FILE inserts with disjoint decades + stats coverage
    (0 until 5).foreach(i => spark.sql(
      s"INSERT INTO rls6.db.t SELECT id, concat('v', id) " +
        s"FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)"))
    val path = s"$root/db/t"
    graft.operators.TableStats.analyze(spark, path, Seq("k"))
    // plan the UPDATE (commands execute eagerly under executePlan)
    // and audit the scan node inside the command's physical plan
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(
        "UPDATE rls6.db.t SET v = 'u' WHERE k >= 25 AND k <= 34"))
    import org.apache.spark.sql.execution.{CommandResultExec,
      RowDataSourceScanExec}
    val cmdPlan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val scans = cmdPlan.collect {
      case r: RowDataSourceScanExec => r }
    assert(scans.nonEmpty, cmdPlan.toString.take(800))
    val info = scans.head.relation match {
      case g: graft.sources.GraftScanInfo => g
      case other => fail(s"not a graft relation: $other")
    }
    // the band touches decades 2 and 3 only — 2 kept, 3 skipped
    assert(info.keptCount == 2 && info.skippedCount == 3,
      s"kept=${info.keptCount} skipped=${info.skippedCount}")
    // and the row-id columns ride the same pruned scan
    assert(scans.head.output.map(_.name)
      .contains(graft.sources.GraftRowLevel.FileCol),
      scans.head.output.map(_.name).mkString(","))
    // the eagerly-executed command landed the update
    assert(spark.table("rls6.db.t").filter($"v" === "u").count() == 10)
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE DELETE (full sync " +
    "semantics) works through the same delta write") {
    val root = java.nio.file.Files.createTempDirectory("rls7").toString
    initCatalog("rls7", root)
    spark.sql("CREATE NAMESPACE rls7.db")
    spark.sql("CREATE TABLE rls7.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO rls7.db.t SELECT id, concat('old', id) " +
      "FROM range(0, 20)")
    Seq((5L, "n5"), (25L, "n25")).toDF("k", "v")
      .createOrReplaceTempView("rls7_src")
    spark.sql(
      """MERGE INTO rls7.db.t t USING rls7_src s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET t.v = s.v
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = spark.table("rls7.db.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(5L -> "n5", 25L -> "n25"), got.toString)
  }

  test("UPDATE and DELETE with IN-subquery conditions execute " +
    "row-level (not expressible as pushed filters)") {
    val root = java.nio.file.Files.createTempDirectory("rls9").toString
    initCatalog("rls9", root)
    spark.sql("CREATE NAMESPACE rls9.db")
    spark.sql("CREATE TABLE rls9.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO rls9.db.t SELECT id, 'x' FROM range(0, 20)")
    Seq(3L, 7L, 11L).toDF("kk").createOrReplaceTempView("rls9_keys")
    spark.sql("UPDATE rls9.db.t SET v = 'picked' " +
      "WHERE k IN (SELECT kk FROM rls9_keys)")
    assert(spark.table("rls9.db.t").filter($"v" === "picked")
      .orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 7L, 11L))
    // subquery DELETE takes the row-level path too (SupportsDelete
    // can't express it) — exact rows, zero files rewritten
    spark.sql("DELETE FROM rls9.db.t " +
      "WHERE k IN (SELECT kk FROM rls9_keys)")
    assert(spark.table("rls9.db.t").count() == 17)
    assert(spark.table("rls9.db.t").filter($"v" === "picked")
      .count() == 0)
  }

  test("row-level commit race rules: a record-only interleaved commit " +
    "(analyze) COMMUTES; a data-changing one (append) refuses with " +
    "CommitConflictException — never silently merges") {
    import graft.operators.{CommitConflictException, DeleteVectors,
      TableStats}
    val root = java.nio.file.Files.createTempDirectory("rls10").toString
    val path = s"$root/t"
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .coalesce(1).write.parquet(path)
    val hp = new Path(path); val fs = fsOf(path)
    CommitLog.ensureLoggedAt(fs, hp)

    def snapshot() = {
      val (g, live) = CommitLog.ensureLoggedAt(fs, hp)
      (g, live, latest(fs, hp).dvs)
    }
    def staged(tag: String): (Path, Seq[String], Seq[String]) = {
      // a real task-shaped staging payload: one insert file, one mark
      // part marking position 0 of the first live file
      val staging = new Path(s"$root/stage_$tag")
      spark.range(1000, 1002).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(1).write.parquet(
          new Path(staging, "inserts").toString)
      val ins = fs.listStatus(new Path(staging, "inserts"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
        .map("inserts/" + _).toSeq
      val live0 = CommitLog.ensureLoggedAt(fs, hp)._2.head
      Seq((live0, 0L)).toDF("file", "pos").coalesce(1)
        .write.parquet(new Path(staging, "marks").toString)
      val mks = fs.listStatus(new Path(staging, "marks"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
      (staging, ins, mks)
    }

    // commute branch: ANALYZE lands between snapshot and commit —
    // no live-file change, no DV change → the commit rebases through
    val (g1, live1, dvs1) = snapshot()
    val (st1, ins1, mks1) = staged("a")
    TableStats.analyze(spark, path, Seq("k"))
    val affected1 = Seq(live1.head)
    val (marked, appended) = DeleteVectors.commitRowLevelDelta(
      spark, path, g1, live1, dvs1, st1, ins1, mks1, affected1)
    assert(marked == 1L && appended == 1L)
    assert(spark.read.format("graft").load(path).count() == 101,
      "100 - 1 deleted + 2 inserted")

    // refusal branch: an APPEND lands between snapshot and commit —
    // the statement's snapshot never saw its rows → terminal conflict
    val (g2, live2, dvs2) = snapshot()
    val (st2, ins2, mks2) = staged("b")
    graft.sources.GraftWriter.write(
      spark.range(500, 510).selectExpr("id AS k", "id * 2 AS v"),
      path, overwrite = false, txn = None)
    intercept[CommitConflictException] {
      DeleteVectors.commitRowLevelDelta(spark, path, g2, live2, dvs2,
        st2, ins2, mks2, Seq(live2.head))
    }
  }

  test("SQL UPDATE works on a COLUMN-MAPPED table (ALTER TABLE RENAME " +
    "first): predicates in logical names, appended files carry the " +
    "logical schema, old files still read through their mapping") {
    val root = java.nio.file.Files.createTempDirectory("rls8").toString
    initCatalog("rls8", root)
    spark.sql("CREATE NAMESPACE rls8.db")
    spark.sql("CREATE TABLE rls8.db.t (k BIGINT, val STRING) " +
      "USING graft")
    spark.sql("INSERT INTO rls8.db.t SELECT id, concat('v', id) " +
      "FROM range(0, 30)")
    spark.sql("ALTER TABLE rls8.db.t RENAME COLUMN val TO label")
    spark.sql("UPDATE rls8.db.t SET label = 'renamed+updated' " +
      "WHERE k < 5")
    val got = spark.table("rls8.db.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.take(5).forall(_._2 == "renamed+updated"), got.take(6))
    assert(got.drop(5).forall(p => p._2 == s"v${p._1}"), got.drop(5)
      .take(3))
    assert(got.size == 30)
  }

  test("UPDATE can move a row into the NULL partition " +
    "(__HIVE_DEFAULT_PARTITION__) and it reads back as null") {
    val root = java.nio.file.Files.createTempDirectory("rls11").toString
    initCatalog("rls11", root)
    spark.sql("CREATE NAMESPACE rls11.db")
    spark.sql("CREATE TABLE rls11.db.t (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO rls11.db.t SELECT id, 'a' FROM range(0, 10)")
    spark.sql("UPDATE rls11.db.t SET p = NULL WHERE k < 3")
    val got = spark.table("rls11.db.t").orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null
        else r.getString(1))).toSeq
    assert(got.take(3).forall(_._2 == null), got.take(4))
    assert(got.drop(3).forall(_._2 == "a"))
    assert(got.size == 10)
    val fs = fsOf(s"$root/db/t")
    val (_, live) = CommitLog.ensureLoggedAt(fs,
      new Path(s"$root/db/t"))
    assert(live.exists(_.startsWith("p=__HIVE_DEFAULT_PARTITION__/")),
      live.toString)
  }

  test("MERGE WHEN MATCHED THEN DELETE removes the matched rows as " +
    "deletion vectors; the MERGE source joins BROADCAST (plan-pinned)") {
    val root = java.nio.file.Files.createTempDirectory("rls12").toString
    initCatalog("rls12", root)
    spark.sql("CREATE NAMESPACE rls12.db")
    spark.sql("CREATE TABLE rls12.db.t (k BIGINT, v STRING) " +
      "USING graft")
    spark.sql("INSERT INTO rls12.db.t SELECT id, 'x' FROM range(0, 30)")
    Seq(2L, 4L, 6L).toDF("kk").createOrReplaceTempView("rls12_src")
    val fs = fsOf(s"$root/db/t"); val hp = new Path(s"$root/db/t")
    val before = dataFileStamps(s"$root/db/t")
    val mergeSql =
      """MERGE INTO rls12.db.t t USING rls12_src s ON t.k = s.kk
         WHEN MATCHED THEN DELETE"""
    // plan pin: the small source reaches the target via a broadcast
    // join — a MERGE against a 100 TB target must never shuffle the
    // target by key just to find three matches
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(mergeSql))
    import org.apache.spark.sql.execution.CommandResultExec
    val cmdPlan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    assert(cmdPlan.toString.contains("BroadcastHashJoin") ||
      cmdPlan.toString.contains("BroadcastNestedLoopJoin"),
      cmdPlan.toString.take(900))
    // the eagerly-executed MERGE deleted exactly the matched keys
    assert(spark.table("rls12.db.t").count() == 27)
    assert(spark.table("rls12.db.t")
      .filter($"k".isin(2L, 4L, 6L)).count() == 0)
    assert(dataFileStamps(s"$root/db/t") == before,
      "MATCHED DELETE must land as DVs, not rewrites")
    assert(latest(fs, hp).dvs.nonEmpty)
  }

  test("two CONCURRENT SQL UPDATEs never corrupt: each either commits " +
    "or refuses with a conflict, and re-running the loser converges " +
    "to both updates applied") {
    import graft.operators.CommitConflictException
    val root = java.nio.file.Files.createTempDirectory("rls13").toString
    initCatalog("rls13", root)
    spark.sql("CREATE NAMESPACE rls13.db")
    spark.sql("CREATE TABLE rls13.db.t (k BIGINT, a BIGINT, b BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO rls13.db.t SELECT id, 0, 0 " +
      "FROM range(0, 1000)")
    def isConflict(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[CommitConflictException])
    def run(sql: String): Option[Throwable] =
      try { spark.sql(sql); None } catch { case e: Exception => Some(e) }
    val u1 = "UPDATE rls13.db.t SET a = 1 WHERE k < 500"
    val u2 = "UPDATE rls13.db.t SET b = 1 WHERE k >= 500"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent
        .Callable[Option[Throwable]] { def call() = run(u1) })
      val f2 = pool.submit(new java.util.concurrent
        .Callable[Option[Throwable]] { def call() = run(u2) })
      val (r1, r2) = (f1.get(), f2.get())
      // any failure must be a loud commit conflict, never silent data
      // corruption — and re-running the loser converges
      Seq(r1 -> u1, r2 -> u2).foreach {
        case (Some(e), sql) =>
          assert(isConflict(e), s"non-conflict failure: $e")
          spark.sql(sql) // the re-run the error message asks for
        case (None, _) => ()
      }
    } finally pool.shutdown()
    assert(spark.table("rls13.db.t")
      .filter($"k" < 500 && $"a" === 1).count() == 500)
    assert(spark.table("rls13.db.t")
      .filter($"k" >= 500 && $"b" === 1).count() == 500)
    assert(spark.table("rls13.db.t")
      .filter($"a" === 1 && $"b" === 1).count() == 0)
    assert(spark.table("rls13.db.t").count() == 1000)
  }

  test("CDF pairs SQL UPDATE pre/post images like operator MERGE") {
    val root = java.nio.file.Files.createTempDirectory("rls5").toString
    initCatalog("rls5", root)
    spark.sql("CREATE NAMESPACE rls5.db")
    spark.sql("CREATE TABLE rls5.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO rls5.db.t SELECT id, concat('v', id) " +
      "FROM range(0, 30)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val g0 = CommitLog.committed(fs, hp).get._1
    spark.sql("UPDATE rls5.db.t SET v = 'u' WHERE k < 3")
    val g1 = CommitLog.committed(fs, hp).get._1
    val changes = CommitLog.changesBetween(spark, path, g0, g1,
      keys = Seq("k"))
    val byType = changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("update_preimage").contains(3L), byType.toString)
    assert(byType.get("update_postimage").contains(3L), byType.toString)
  }
}
