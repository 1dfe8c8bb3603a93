package graft

import graft.operators.{CommitConflictException, CommitLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Branch refs + write-audit-publish ([[CommitLog.createBranch]] /
  * `option("branch", …)` writes / [[CommitLog.fastForward]] — Iceberg
  * WAP branches): a branch is a separate manifest chain in the same
  * log dir, seeded with a full snapshot copy; staged files land in
  * the sink but are referenced only by the branch, main readers see
  * nothing, and `fast_forward` publishes the branch head as the next
  * main generation in ONE CAS commit — refusing when main diverged
  * since branching. */
class BranchWapSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  test("write-audit-publish lifecycle: staged on a branch, invisible " +
    "to main, validated there, published atomically, dropped") {
    val root = java.nio.file.Files.createTempDirectory("wap1").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    val mainGen = CommitLog.committed(fs, hp).get._1
    CommitLog.addCheck(spark, sink, "k_pos", "k > 0")
    val from = CommitLog.createBranch(fs, hp, "audit")
    assert(CommitLog.branches(fs, hp).contains("audit"))
    // stage a batch ON the branch
    Seq((4L, "d"), (5L, "e")).toDF("k", "v")
      .write.format("graft").mode("append")
      .option("path", sink).option("branch", "audit").save()
    // main reads are UNCHANGED; the branch read sees the staged rows
    assert(spark.read.format("graft").load(sink).count() == 3L)
    assert(spark.read.format("graft").option("branch", "audit")
      .load(sink).count() == 5L)
    // maintenance during the audit must not eat staged files
    assert(CommitLog.vacuum(fs, hp) == 0L,
      "branch-referenced staged files are live, not orphans")
    // a CHECK-violating branch write refuses loudly (the branch
    // carries the table's constraints)
    val e = intercept[Exception] {
      Seq((-1L, "bad")).toDF("k", "v")
        .write.format("graft").mode("append")
        .option("path", sink).option("branch", "audit").save()
    }
    assert(e.getMessage.contains("k_pos"), e.getMessage)
    assert(spark.read.format("graft").option("branch", "audit")
      .load(sink).count() == 5L, "the refused batch must not land")
    // publish: ONE commit makes the branch head the next main gen
    val newGen = CommitLog.fastForward(fs, hp, "audit")
    assert(newGen == mainGen + 2, // +1 for the addCheck commit
      s"fast_forward must commit exactly one generation: $newGen")
    assert(spark.read.format("graft").load(sink)
      .orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // pre-publish history stays readable
    assert(CommitLog.readAt(spark, sink, newGen - 1).count() == 3L)
    // the branch.base guard key must NOT leak into main's meta
    assert(!latest(fs, hp).meta.contains("branch.base"))
    // drop the branch; its chain files go
    assert(CommitLog.dropBranch(fs, hp, "audit") >= 2)
    assert(CommitLog.branches(fs, hp).isEmpty)
    intercept[Exception] {
      spark.read.format("graft").option("branch", "audit")
        .load(sink).count()
    }
  }

  test("divergence and races: fast_forward refuses when main moved; " +
    "a dropped unpublished branch's files become vacuum debris; " +
    "branch truncate resets the branch only") {
    val root = java.nio.file.Files.createTempDirectory("wap2").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.createBranch(fs, hp, "b1")
    Seq((10L, "x")).toDF("k", "v")
      .write.format("graft").mode("append")
      .option("path", sink).option("branch", "b1").save()
    // main advances AFTER branching: publishing would discard it
    Seq((99L, "main")).toDF("k", "v")
      .write.format("graft").mode("append").option("path", sink).save()
    val e = intercept[IllegalArgumentException] {
      CommitLog.fastForward(fs, hp, "b1")
    }
    assert(e.getMessage.contains("discard"), e.getMessage)
    assert(spark.read.format("graft").load(sink).count() == 4L)
    // branch truncate: resets the BRANCH file set, main untouched
    Seq((20L, "y")).toDF("k", "v")
      .write.format("graft").mode("overwrite")
      .option("path", sink).option("branch", "b1").save()
    assert(spark.read.format("graft").option("branch", "b1")
      .load(sink).as[(Long, String)].collect().toSeq ==
      Seq((20L, "y")))
    assert(spark.read.format("graft").load(sink).count() == 4L)
    // abandon: drop the branch, then vacuum reclaims its staged files
    val before = CommitLog.vacuum(fs, hp)
    assert(before == 0L, "live branch keeps its staged files")
    CommitLog.dropBranch(fs, hp, "b1")
    assert(CommitLog.vacuum(fs, hp) >= 2L,
      "dropped branch's staged files are debris")
    assert(spark.read.format("graft").load(sink).count() == 4L)
    // unknown branch refuses loudly everywhere
    intercept[Exception] { CommitLog.fastForward(fs, hp, "nope") }
    intercept[Exception] {
      Seq((1L, "z")).toDF("k", "v").write.format("graft")
        .mode("append").option("path", sink)
        .option("branch", "nope").save()
    }
    // duplicate create refuses
    CommitLog.createBranch(fs, hp, "b2")
    intercept[IllegalArgumentException] {
      CommitLog.createBranch(fs, hp, "b2")
    }
  }

  test("SQL surface: CALL create_branch / branches / fast_forward / " +
    "drop_branch round-trip through the catalog") {
    val root = java.nio.file.Files.createTempDirectory("wap3").toString
    spark.conf.set("spark.sql.catalog.wap3",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wap3.warehouse", root)
    spark.sql("CREATE NAMESPACE wap3.db")
    spark.sql("CREATE TABLE wap3.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO wap3.db.t VALUES (1, 'a'), (2, 'b')")
    val r = spark.sql(
      "CALL wap3.system.create_branch('db.t', 'wap')").head
    assert(r.getString(0) == "wap")
    val path = s"$root/db/t"
    Seq((3L, "c")).toDF("k", "v")
      .write.format("graft").mode("append")
      .option("path", path).option("branch", "wap").save()
    assert(spark.table("wap3.db.t").count() == 2L)
    val bs = spark.sql("CALL wap3.system.branches('db.t')").collect()
    assert(bs.map(_.getString(0)).toSeq == Seq("wap"))
    val ff = spark.sql(
      "CALL wap3.system.fast_forward('db.t', 'wap')").head
    assert(ff.getLong(1) > 0)
    assert(spark.table("wap3.db.t").count() == 3L)
    spark.sql("CALL wap3.system.drop_branch('db.t', 'wap')")
    assert(spark.sql("CALL wap3.system.branches('db.t')")
      .collect().isEmpty)
  }

  test("branch row-level DML (the audit-then-patch loop): " +
    "UPDATE/DELETE/MERGE through `cat.db.t.branch_<name>` patch the " +
    "staged batch ON the branch; main is byte-identical until " +
    "fast_forward; the divergence guard still refuses") {
    val root = java.nio.file.Files.createTempDirectory("wap4").toString
    spark.conf.set("spark.sql.catalog.wap4",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wap4.warehouse", root)
    spark.sql("CREATE NAMESPACE wap4.db")
    spark.sql("CREATE TABLE wap4.db.t (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO wap4.db.t VALUES (1, 10), (2, 20), (3, 30)")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    CommitLog.createBranch(fs, hp, "audit")
    val mainGen = CommitLog.committed(fs, hp).get._1
    def rows(t: String): Seq[(Long, Long)] =
      spark.table(t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // stage, then AUDIT finds problems and PATCHES them on the branch
    spark.sql("INSERT INTO wap4.db.t.branch_audit " +
      "VALUES (4, 40), (5, 50)")
    spark.sql("UPDATE wap4.db.t.branch_audit SET v = v + 1 " +
      "WHERE k = 4")
    spark.sql("DELETE FROM wap4.db.t.branch_audit WHERE k = 5")
    spark.sql("MERGE INTO wap4.db.t.branch_audit t USING " +
      "(SELECT 2L AS k, 99L AS v UNION ALL SELECT 6L, 60L) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    val patched = Seq((1L, 10L), (2L, 99L), (3L, 30L), (4L, 41L),
      (6L, 60L))
    assert(rows("wap4.db.t.branch_audit") == patched)
    // main: same generation, same rows — nothing leaked
    assert(CommitLog.committed(fs, hp).get._1 == mainGen)
    assert(rows("wap4.db.t") == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // publish: ONE commit, main now serves the patched state
    CommitLog.fastForward(fs, hp, "audit")
    assert(rows("wap4.db.t") == patched)
    // divergence guard: DML on a stale branch still cannot publish
    CommitLog.createBranch(fs, hp, "audit2")
    spark.sql("UPDATE wap4.db.t.branch_audit2 SET v = 0 WHERE k = 1")
    spark.sql("INSERT INTO wap4.db.t VALUES (7, 70)") // main moves
    intercept[IllegalArgumentException] {
      CommitLog.fastForward(fs, hp, "audit2")
    }
    // the CDF window and history tables derive from MAIN's chain — a
    // branch option must refuse, never silently serve main's data
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("branch", "audit2")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .load(path).collect()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("branch", "audit2")
        .option("metadata", "history").load(path).collect()
    }
  }

  test("branch partition overwrite: static INSERT OVERWRITE " +
    "PARTITION and dynamic overwrite replace the BRANCH's region " +
    "only; main publishes it via fast_forward") {
    val root = java.nio.file.Files.createTempDirectory("wap5").toString
    spark.conf.set("spark.sql.catalog.wap5",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wap5.warehouse", root)
    spark.sql("CREATE NAMESPACE wap5.db")
    spark.sql("CREATE TABLE wap5.db.p (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO wap5.db.p VALUES (1, 'x'), (2, 'y')")
    val path = s"$root/db/p"
    val fs = fsOf(path); val hp = new Path(path)
    CommitLog.createBranch(fs, hp, "re")
    val mainGen = CommitLog.committed(fs, hp).get._1
    // static: replace exactly p=x on the branch
    spark.sql("INSERT OVERWRITE wap5.db.p.branch_re " +
      "PARTITION (p='x') VALUES (9)")
    def rows(t: String): Seq[(Long, String)] =
      spark.table(t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows("wap5.db.p.branch_re") == Seq((2L, "y"), (9L, "x")))
    // dynamic: the batch's leaf partitions replace on the branch
    val mode = spark.conf
      .getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try spark.sql("INSERT OVERWRITE wap5.db.p.branch_re " +
      "VALUES (8, 'y')")
    finally mode match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode")
    }
    assert(rows("wap5.db.p.branch_re") == Seq((8L, "y"), (9L, "x")))
    // main untouched, then publishes the re-stated partitions
    assert(CommitLog.committed(fs, hp).get._1 == mainGen)
    assert(rows("wap5.db.p") == Seq((1L, "x"), (2L, "y")))
    CommitLog.fastForward(fs, hp, "re")
    assert(rows("wap5.db.p") == Seq((8L, "y"), (9L, "x")))
  }
}
