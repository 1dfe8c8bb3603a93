package graft

import graft.operators.CommitLog
import org.apache.hadoop.fs.Path

/** SQL maintenance procedures ([[graft.sources.GraftProcedures]] —
  * `CALL <cat>.system.<proc>(...)`, Iceberg's stored-procedure
  * pattern): a SQL-only consumer can compact, Z-order, analyze,
  * Bloom-index, pay down DV debt, expire and vacuum the tables it
  * created in SQL — each CALL delegating to the operator that owns
  * the semantics and returning its summary counts. */
class GraftProceduresSpec extends SparkSpec {

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initCatalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
  }

  test("SQL-only lifecycle: DELETE → apply_deletes → optimize → " +
    "expire → vacuum, every step a CALL with pinned counts") {
    val root = java.nio.file.Files.createTempDirectory("gproc1").toString
    initCatalog("gp1", root)
    spark.sql("CREATE NAMESPACE gp1.db")
    spark.sql("CREATE TABLE gp1.db.t (k BIGINT, v STRING) USING graft")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gp1.db.t SELECT id, concat('v', id) " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    assert(CommitLog.ensureLoggedAt(fs, hp)._2.size >= 3)

    spark.sql("DELETE FROM gp1.db.t WHERE k >= 250")
    assert(latest(fs, hp).dvs.nonEmpty)

    // pay down the DV debt purely from SQL
    val applied = spark.sql(
      "CALL gp1.system.apply_deletes('db.t')").head
    assert(applied.getLong(0) >= 1,
      s"apply_deletes must rewrite the DV'd file: $applied")
    assert(latest(fs, hp).dvs.isEmpty)
    assert(spark.table("gp1.db.t").count() == 250)

    // bin-pack the small files into one
    val opt = spark.sql("CALL gp1.system.optimize('db.t')").head
    assert(opt.getLong(1) == 1L,
      s"optimize should bin-pack 3 small files into 1: $opt")
    assert(spark.table("gp1.db.t").count() == 250)

    // history is a CALL too (before expire drops the generations)
    val hist = spark.sql("CALL gp1.system.history('db.t')").collect()
    assert(hist.length >= 6 &&
      hist.map(_.getString(1)).contains("rewrite"),
      hist.mkString(","))

    // drop history, then reclaim unreferenced bytes (optimize and
    // apply_deletes GC their replaced files themselves, so plant a
    // genuine orphan — a crash-debris file no manifest references)
    val exp = spark.sql("CALL gp1.system.expire('db.t', 1)").head
    assert(exp.getLong(0) >= 1, s"expire must drop generations: $exp")
    val orphan = fs.create(new Path(hp, "part-orphan-debris.parquet"))
    orphan.write(Array.fill[Byte](16)(1)); orphan.close()
    // the DEFAULT horizon is 7 days (safe under concurrent writers) —
    // the fresh orphan survives it; horizon 0 reclaims immediately
    val vacSafe = spark.sql("CALL gp1.system.vacuum('db.t')").head
    assert(vacSafe.getLong(0) == 0L,
      s"default horizon must spare recent files: $vacSafe")
    val vac = spark.sql("CALL gp1.system.vacuum('db.t', 0)").head
    assert(vac.getLong(0) == 1L,
      s"vacuum must reclaim exactly the orphan: $vac")
    assert(!fs.exists(new Path(hp, "part-orphan-debris.parquet")))
    assert(spark.table("gp1.db.t").count() == 250)
  }

  test("CALL zorder / analyze / build_bloom maintain layout indexes " +
    "from SQL; named arguments work") {
    val root = java.nio.file.Files.createTempDirectory("gproc2").toString
    initCatalog("gp2", root)
    spark.sql("CREATE NAMESPACE gp2.db")
    spark.sql("CREATE TABLE gp2.db.t (a BIGINT, b BIGINT) USING graft")
    spark.sql("INSERT INTO gp2.db.t SELECT id % 100, " +
      "(id * 37) % 100 FROM range(0, 10000)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)

    val z = spark.sql(
      "CALL gp2.system.zorder(table => 'db.t', " +
        "columns => 'a,b', n_files => 4)").head
    assert(z.getLong(1) == 4L, s"zorder must land n_files: $z")
    // zorder re-analyzes its clustering columns — stats present
    assert(latest(fs, hp).stats.nonEmpty)

    val an = spark.sql("CALL gp2.system.analyze('db.t', 'a,b')").head
    assert(an.getLong(0) == 0L,
      s"zorder already analyzed a,b — nothing left: $an")

    val bl = spark.sql(
      "CALL gp2.system.build_bloom('db.t', 'a')").head
    assert(bl.getLong(0) == 4L, s"bloom must index all 4 files: $bl")
  }

  test("SHOW PROCEDURES lists the system namespace; DESCRIBE " +
    "PROCEDURE names the entry") {
    val root = java.nio.file.Files.createTempDirectory("gproc5").toString
    initCatalog("gp5", root)
    val listed = spark.sql("SHOW PROCEDURES IN gp5.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString(" ")).mkString("\n")
    Seq("optimize", "zorder", "analyze", "build_bloom",
      "apply_deletes", "expire", "vacuum", "history").foreach(p =>
      assert(listed.contains(p), s"$p missing from:\n$listed"))
  }

  test("optimize bin-packs a MULTI-LEVEL hive layout per leaf " +
    "partition — every level preserved, one file per leaf, one " +
    "commit — and partition pruning still serves both levels") {
    val root = java.nio.file.Files.createTempDirectory("gproc4").toString
    initCatalog("gp4", root)
    spark.sql("CREATE NAMESPACE gp4.db")
    spark.sql("CREATE TABLE gp4.db.t (k BIGINT, a STRING, b STRING) " +
      "USING graft PARTITIONED BY (a, b)")
    // three appends → ≥3 files per touched leaf
    (0 until 3).foreach(_ => spark.sql(
      "INSERT INTO gp4.db.t SELECT id, " +
        "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END, " +
        "CASE WHEN id % 3 = 0 THEN 'p' ELSE 'q' END FROM range(0, 40)"))
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val leavesBefore = CommitLog.ensureLoggedAt(fs, hp)._2
      .map(_.split('/').dropRight(1).mkString("/")).distinct.sorted
    val genBefore = CommitLog.committed(fs, hp).get._1
    val sumBefore = spark.sql(
      "SELECT CAST(sum(k) AS BIGINT) FROM gp4.db.t").head.getLong(0)
    val r = spark.sql("CALL gp4.system.optimize('db.t')").head
    assert(r.getLong(0) >= 8, s"must rewrite the fragmented files: $r")
    // ONE commit, one file per leaf, all levels intact
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 1)
    assert(r.getLong(2) == genBefore + 1,
      "the returned generation must pin the rewrite commit")
    val live = CommitLog.ensureLoggedAt(fs, hp)._2
    val leaves = live.map(_.split('/').dropRight(1).mkString("/"))
    assert(leaves.distinct.sorted == leavesBefore,
      s"every leaf directory must survive: $leaves vs $leavesBefore")
    assert(leaves.size == leaves.distinct.size,
      s"one file per leaf after optimize: $live")
    assert(live.forall(f => f.startsWith("a=") && f.contains("/b=")),
      s"both partition levels must be preserved: $live")
    // rows and values byte-for-byte; pruning still serves both levels
    assert(spark.sql("SELECT CAST(sum(k) AS BIGINT) FROM gp4.db.t")
      .head.getLong(0) == sumBefore)
    assert(spark.sql("SELECT CAST(count(*) AS BIGINT) FROM gp4.db.t " +
      "WHERE a = 'x' AND b = 'p'").head.getLong(0) ==
      (0 until 40).count(i => i % 2 == 0 && i % 3 == 0) * 3L)
  }

  test("zorder exposes keep_replaced (prior generations stay " +
    "time-travel readable) and rewriters return the committed " +
    "generation for SQL time-travel pinning") {
    val root = java.nio.file.Files.createTempDirectory("gproc6").toString
    initCatalog("gp6", root)
    spark.sql("CREATE NAMESPACE gp6.db")
    spark.sql("CREATE TABLE gp6.db.t (x BIGINT, y BIGINT) USING graft")
    spark.sql("INSERT INTO gp6.db.t SELECT id, 999 - id " +
      "FROM range(0, 1000)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val genBefore = CommitLog.committed(fs, hp).get._1
    val r = spark.sql(
      "CALL gp6.system.zorder('db.t', 'x,y', 4, true)").head
    // zorder commits the rewrite then a re-ANALYZE: returned
    // generation is the table's state after the CALL
    assert(r.getLong(2) == CommitLog.committed(fs, hp).get._1,
      s"returned generation must be the post-CALL state: $r")
    assert(r.getLong(2) > genBefore)
    // keep_replaced: the pre-zorder snapshot still reads
    assert(spark.sql(s"SELECT CAST(count(*) AS BIGINT) FROM " +
      s"gp6.db.t VERSION AS OF $genBefore").head.getLong(0) == 1000L)
    assert(spark.table("gp6.db.t").count() == 1000L)
    // apply_deletes returns its generation too
    spark.sql("DELETE FROM gp6.db.t WHERE x < 100")
    val ad = spark.sql("CALL gp6.system.apply_deletes('db.t')").head
    assert(ad.getLong(2) == CommitLog.committed(fs, hp).get._1)
    assert(spark.table("gp6.db.t").count() == 900L)
  }

  test("CALL rollback restores a snapshot by generation or tag: one " +
    "metadata commit, history preserved, later tags survive, unknown " +
    "targets refuse loudly") {
    val root = java.nio.file.Files.createTempDirectory("gproc7").toString
    initCatalog("gp7", root)
    spark.sql("CREATE NAMESPACE gp7.db")
    spark.sql("CREATE TABLE gp7.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO gp7.db.t SELECT id, concat('v', id) " +
      "FROM range(0, 100)")
    val path = s"$root/db/t"
    val hp = new Path(path); val fs = fsOf(path)
    val goodGen = CommitLog.committed(fs, hp).get._1
    val goodRows = spark.table("gp7.db.t").orderBy("k").collect().toSeq
    spark.sql("CALL gp7.system.create_tag('db.t', 'good')")
    // corrupt: a bad append AND a bad delete land after the tag
    spark.sql("INSERT INTO gp7.db.t SELECT id, 'garbage' " +
      "FROM range(1000, 1100)")
    spark.sql("DELETE FROM gp7.db.t WHERE k < 50")
    val corruptGen = CommitLog.committed(fs, hp).get._1
    assert(spark.table("gp7.db.t").count() == 150L)
    // a tag created AFTER the restore point must survive the rollback
    spark.sql("CALL gp7.system.create_tag('db.t', 'corrupt')")
    // rollback by TAG name
    val r = spark.sql(
      "CALL gp7.system.rollback('db.t', 'good')").head
    assert(r.getLong(1) == goodGen, s"restored generation: $r")
    assert(r.getLong(2) > r.getLong(0),
      s"rollback must commit a NEW head, not rewind: $r")
    // head reads the restored snapshot byte-identically
    assert(spark.table("gp7.db.t").orderBy("k").collect().toSeq ==
      goodRows)
    // the rolled-back generations stay retained and readable
    assert(CommitLog.readAt(spark, path, corruptGen).count() == 150L)
    // both the corruption and the rollback are visible in history
    val hist = spark.sql("CALL gp7.system.history('db.t')").collect()
    assert(hist.length >= 5, hist.mkString(","))
    // both tags survived the rollback (rollback carries HEAD refs,
    // not the restored manifest's)
    val tags = spark.sql("CALL gp7.system.tags('db.t')").collect()
      .map(_.getString(0)).toSet
    assert(tags == Set("good", "corrupt"), tags.toString)
    // rollback by GENERATION number round-trips too
    val r2 = spark.sql(
      s"CALL gp7.system.rollback('db.t', '$corruptGen')").head
    assert(r2.getLong(1) == corruptGen)
    assert(spark.table("gp7.db.t").count() == 150L)
    // restore the restored state: rollback to the first rollback's
    // result generation
    spark.sql(s"CALL gp7.system.rollback('db.t', '${r.getLong(2)}')")
    assert(spark.table("gp7.db.t").orderBy("k").collect().toSeq ==
      goodRows)
    // unknown generation and unknown tag refuse loudly
    val e1 = intercept[Exception] {
      spark.sql("CALL gp7.system.rollback('db.t', '9999')").collect()
    }
    assert(e1.getMessage.contains("not retained"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CALL gp7.system.rollback('db.t', 'nope')").collect()
    }
    assert(e2.getMessage.contains("no tag"), e2.getMessage)
  }

  test("unknown procedure and wrong namespace refuse loudly; " +
    "procedures list under system") {
    val root = java.nio.file.Files.createTempDirectory("gproc3").toString
    initCatalog("gp3", root)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // unknown procedures surface as the STANDARD routine-resolution
    // analysis error (ROUTINE_NOT_FOUND, SQLSTATE 42883) — what
    // resolution-failure handlers match on — still naming what IS
    // available
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CALL gp3.system.frobnicate('db.t')")
    }
    assert(e1.getErrorClass == "ROUTINE_NOT_FOUND", e1.getMessage)
    assert(messages(e1).contains("vacuum"), messages(e1))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CALL gp3.other.vacuum('db.t')")
    }
    assert(e2.getErrorClass == "ROUTINE_NOT_FOUND", e2.getMessage)
    assert(messages(e2).contains("system"), messages(e2))
  }
}
