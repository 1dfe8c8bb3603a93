package graft

import graft.operators.CommitLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The SQL consumption tier ([[graft.sources.GraftCatalog]]):
  * CREATE/INSERT/SELECT/ALTER/DROP and time travel through pure SQL
  * against `graft.<db>.<table>` identifiers, resolving to the same
  * [[graft.sources.GraftTable]] the path-based format surface plans —
  * so every guarantee already pinned for `format("graft")` (logged
  * appends, CHECK gates, mapped schemas, manifest pruning) holds for
  * SQL consumers with zero extra machinery. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initCatalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
  }

  test("CREATE TABLE ... USING graft PARTITIONED BY + INSERT INTO + " +
    "SELECT: pure SQL drives a logged, hive-partitioned sink; the " +
    "catalog read is row-identical to the path-based format read; " +
    "VERSION AS OF time travel works in SQL") {
    val root = java.nio.file.Files.createTempDirectory("gcat1").toString
    initCatalog("gc1", root)
    spark.sql("CREATE NAMESPACE gc1.db")
    spark.sql("CREATE TABLE gc1.db.t (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    // a CREATE'd-but-empty table reads under its DECLARED schema
    assert(spark.table("gc1.db.t").columns.toSeq == Seq("k", "p"))
    assert(spark.sql("SELECT * FROM gc1.db.t").count() == 0L)
    spark.sql("INSERT INTO gc1.db.t VALUES (1, 'x'), (2, 'y')")
    spark.sql("INSERT INTO gc1.db.t VALUES (3, 'x')")
    // static-partition insert resolves against the advertised layout
    spark.sql("INSERT INTO gc1.db.t PARTITION (p='w') VALUES (5)")
    assert(spark.sql(
      "SELECT k FROM gc1.db.t WHERE p = 'x' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the committed layout IS hive — every file under its p= dir
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.nonEmpty && live.forall(_.startsWith("p=")),
      s"SQL inserts must land under the declared layout: $live")
    // catalog read ≡ path-based format read, row for row
    val viaCat = spark.table("gc1.db.t").orderBy("k", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaPath = spark.read.format("graft").load(path)
      .orderBy("k", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaCat == viaPath && viaCat.size == 4)
    // SQL time travel pins the snapshot
    val gen = CommitLog.committed(fs, hp).get._1
    spark.sql("INSERT INTO gc1.db.t VALUES (9, 'z')")
    assert(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) FROM gc1.db.t " +
        s"VERSION AS OF $gen").head.getLong(0) == 4L)
    assert(spark.table("gc1.db.t").count() == 5L)
    // SHOW TABLES sees it; DROP removes it
    assert(spark.sql("SHOW TABLES IN gc1.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE gc1.db.t")
    intercept[Exception] { spark.table("gc1.db.t").collect() }
  }

  test("CTAS + saveAsTable create-and-fill through the catalog; a " +
    "duplicate CREATE refuses; IF NOT EXISTS is quiet") {
    val root = java.nio.file.Files.createTempDirectory("gcat2").toString
    initCatalog("gc2", root)
    spark.sql("CREATE NAMESPACE gc2.db")
    spark.sql("CREATE TABLE gc2.db.c USING graft AS " +
      "SELECT id AS k, id * 10 AS v FROM range(5)")
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) FROM gc2.db.c")
      .head.getLong(0) == 100L)
    intercept[Exception] {
      spark.sql("CREATE TABLE gc2.db.c (k BIGINT) USING graft")
    }
    spark.sql("CREATE TABLE IF NOT EXISTS gc2.db.c (k BIGINT) " +
      "USING graft") // quiet no-op
    Seq((7L, 70L)).toDF("k", "v")
      .write.format("graft").mode("append").saveAsTable("gc2.db.s")
    assert(spark.table("gc2.db.s").count() == 1L)
    // the created tables are ordinary logged sinks on disk
    assert(CommitLog.generations(fsOf(s"$root/db/c"),
      new Path(s"$root/db/c")).nonEmpty)
  }

  test("an identity-mapped catalog refuses LOCATION overrides it " +
    "could never resolve again; ALTER on a still-empty table " +
    "rewrites the DECLARED #meta schema atomically") {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory("gcat5").toString
    initCatalog("gc5", root)
    spark.sql("CREATE NAMESPACE gc5.db")
    // LOCATION elsewhere would strand a log loadTable can never find
    intercept[Exception] {
      spark.sql("CREATE TABLE gc5.db.x (k BIGINT) USING graft " +
        s"LOCATION '$root/elsewhere'")
    }
    assert(!fsOf(root).exists(new Path(s"$root/elsewhere")),
      "a refused CREATE must not leave a stray commit log")
    // empty-table ALTER: no files to map — the declared schema moves
    spark.sql("CREATE TABLE gc5.db.e (k INT, v BIGINT) USING graft " +
      "PARTITIONED BY (k)")
    spark.sql("ALTER TABLE gc5.db.e RENAME COLUMN k TO key")
    assert(spark.table("gc5.db.e").columns.toSeq == Seq("key", "v"))
    // ...including the declared partition layout, so the first
    // insert still routes into the (renamed) hive layout
    spark.sql("INSERT INTO gc5.db.e VALUES (1, 10), (2, 20)")
    val hp = new Path(s"$root/db/e")
    val (_, live) = CommitLog.ensureLoggedAt(fsOf(s"$root/db/e"), hp)
    assert(live.nonEmpty && live.forall(_.startsWith("key=")),
      s"the renamed partition layout must hold: $live")
    // dropping a declared partition column refuses
    intercept[Exception] {
      spark.sql("CREATE TABLE gc5.db.e2 (a INT, p INT) USING graft " +
        "PARTITIONED BY (p)")
      spark.sql("ALTER TABLE gc5.db.e2 DROP COLUMN p")
    }
  }

  test("SQL DELETE FROM lands as deletion vectors (merge-on-read, no " +
    "file rewrites); a condition not expressible as filters refuses " +
    "instead of deleting a superset; TIMESTAMP AS OF resolves " +
    "micros → generation") {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory("gcat4").toString
    initCatalog("gc4", root)
    spark.sql("CREATE NAMESPACE gc4.db")
    spark.sql("CREATE TABLE gc4.db.t (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO gc4.db.t SELECT id, id * 10 FROM range(100)")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    val filesBefore = CommitLog.ensureLoggedAt(fs, hp)._2.toSet
    // manifest mtimes resolve timestamps at filesystem granularity —
    // separate the snapshot instant from the delete commit
    Thread.sleep(1100)
    val tsAfterInsert = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql("DELETE FROM gc4.db.t WHERE k >= 90")
    assert(spark.sql("SELECT CAST(count(*) AS BIGINT) FROM gc4.db.t")
      .head.getLong(0) == 90L)
    // merge-on-read: the data files are untouched, only DVs landed
    assert(CommitLog.ensureLoggedAt(fs, hp)._2.toSet == filesBefore,
      "DELETE must not rewrite or remove data files")
    assert(latest(fs, hp).dvs.nonEmpty,
      "DELETE must land as deletion vectors")
    // a non-filter-expressible condition can't take the metadata-only
    // path (a partial conversion would delete a superset) — since the
    // SupportsDelta surface landed it executes ROW-LEVEL instead:
    // exact rows, still zero data files rewritten
    spark.sql("DELETE FROM gc4.db.t WHERE k % 2 = 0")
    assert(spark.table("gc4.db.t").count() == 45L,
      "the row-level DELETE must remove exactly the even keys")
    assert(CommitLog.ensureLoggedAt(fs, hp)._2.toSet == filesBefore,
      "the row-level DELETE must not rewrite or remove data files")
    // SQL time travel by TIMESTAMP sees the pre-delete rows (a bare
    // numeric literal is SECONDS since epoch in Spark SQL; the
    // catalog receives it converted to micros)
    assert(spark.sql(
      s"SELECT CAST(count(*) AS BIGINT) FROM gc4.db.t " +
        s"TIMESTAMP AS OF ${tsAfterInsert / 1000L}")
      .head.getLong(0) == 100L)
  }

  test("ALTER TABLE delegates to SchemaEvolve: RENAME COLUMN is a " +
    "metadata-only commit the catalog then serves; positional INSERT " +
    "resolves against the LOGICAL schema (never physical file order); " +
    "unsupported changes refuse loudly") {
    val root = java.nio.file.Files.createTempDirectory("gcat3").toString
    initCatalog("gc3", root)
    spark.sql("CREATE NAMESPACE gc3.db")
    spark.sql("CREATE TABLE gc3.db.t (k INT, v BIGINT) USING graft")
    spark.sql("INSERT INTO gc3.db.t VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE gc3.db.t RENAME COLUMN v TO val")
    assert(spark.table("gc3.db.t").columns.toSeq == Seq("k", "val"),
      "the catalog must serve the post-rename LOGICAL schema")
    // positional ops resolve against the logical schema of the MAPPED
    // table — physical file column names never leak into resolution
    spark.sql("INSERT INTO gc3.db.t VALUES (3, 30)")
    assert(spark.sql("SELECT CAST(sum(val) AS BIGINT) FROM gc3.db.t")
      .head.getLong(0) == 60L)
    // ...and an arity mismatch refuses instead of guessing positions
    intercept[Exception] {
      spark.sql("INSERT INTO gc3.db.t VALUES (4)")
    }
    // widening ALTER COLUMN TYPE → SchemaEvolve.widenColumn
    spark.sql("ALTER TABLE gc3.db.t ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("gc3.db.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT CAST(sum(k) AS BIGINT) FROM gc3.db.t")
      .head.getLong(0) == 6L)
    // DROP COLUMN → SchemaEvolve.dropColumn
    spark.sql("ALTER TABLE gc3.db.t DROP COLUMN val")
    assert(spark.table("gc3.db.t").columns.toSeq == Seq("k"))
    // SET/UNSET TBLPROPERTIES persist as #meta prop.* records and
    // round-trip through SHOW TBLPROPERTIES — never silently dropped
    spark.sql("ALTER TABLE gc3.db.t SET TBLPROPERTIES ('a'='b')")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES gc3.db.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("a").contains("b"))
    spark.sql("ALTER TABLE gc3.db.t UNSET TBLPROPERTIES ('a')")
    assert(!props().contains("a"))
    // a genuinely unsupported change still refuses loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gc3.db.t ALTER COLUMN k TYPE INT") // narrow
    }
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only additive evolution: " +
    "zero files rewritten (byte-identity), old rows read NULL, new " +
    "inserts must carry values; atomic with rename+widen in ONE " +
    "multi-change ALTER; duplicate and reserved names refuse") {
    val root = java.nio.file.Files.createTempDirectory("gcat10").toString
    initCatalog("gc10", root)
    spark.sql("CREATE NAMESPACE gc10.db")
    spark.sql("CREATE TABLE gc10.db.t (k INT, v BIGINT) USING graft")
    spark.sql("INSERT INTO gc10.db.t VALUES (1, 10), (2, 20)")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    def footprint() = CommitLog.ensureLoggedAt(fs, hp)._2.sorted.map {
      r =>
        val st = fs.getFileStatus(new Path(hp, r))
        (r, st.getLen, st.getModificationTime)
    }
    val before = footprint()
    spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (note STRING)")
    // ZERO data motion: every live file byte-identical by size+mtime
    assert(footprint() == before,
      "ADD COLUMNS must rewrite no data file")
    // old rows read a typed NULL for the new column
    assert(spark.table("gc10.db.t").columns.toSeq ==
      Seq("k", "v", "note"))
    assert(spark.table("gc10.db.t").schema("note").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(spark.table("gc10.db.t").filter(col("note").isNull)
      .count() == 2L)
    // the write guard now REQUIRES the column: new inserts carry it
    intercept[Exception] {
      graft.sources.GraftWriter.write(
        Seq((3, 30L)).toDF("k", "v"), path, overwrite = false,
        txn = None)
    }
    spark.sql("INSERT INTO gc10.db.t VALUES (3, 30, 'filled')")
    assert(spark.sql(
      "SELECT k FROM gc10.db.t WHERE note = 'filled'")
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(spark.table("gc10.db.t").count() == 3L)
    // dependent families untouched: a CHECK declared pre-ADD still
    // gates, stats/bloom coverage of other columns unaffected
    CommitLog.addCheck(spark, path, "v_pos", "v > 0")
    intercept[Exception] {
      spark.sql("INSERT INTO gc10.db.t VALUES (4, -1, 'bad')")
    }
    // ATOMIC multi-change: a two-column ADD is ONE commit; an
    // API-level ADD+RENAME+WIDEN batch is ONE commit; a failing
    // change mid-batch leaves NOTHING applied
    val genBefore = CommitLog.committed(fs, hp).get._1
    spark.sql(
      "ALTER TABLE gc10.db.t ADD COLUMNS (score DOUBLE, tag STRING)")
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 1,
      "a multi-column ADD must be one commit")
    import graft.operators.SchemaEvolve
    SchemaEvolve.applyChanges(spark, path, Seq(
      SchemaEvolve.Change.Add("rank", "int"),
      SchemaEvolve.Change.Rename("note", "comment"),
      SchemaEvolve.Change.Widen("k", "bigint")))
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 2,
      "a mixed ADD+RENAME+WIDEN batch must be one commit")
    assert(spark.table("gc10.db.t").columns.toSeq ==
      // metadata-added columns surface after the physical ones in
      // DECLARATION order (the #meta schema.addorder record) — what
      // positional INSERT resolution depends on
      Seq("k", "v", "comment", "score", "tag", "rank"))
    assert(spark.table("gc10.db.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.table("gc10.db.t")
      .filter(col("score").isNull).count() == 3L)
    // failing second change → nothing from the batch applies
    intercept[Exception] {
      SchemaEvolve.applyChanges(spark, path, Seq(
        SchemaEvolve.Change.Add("ok_col", "int"),
        SchemaEvolve.Change.Add("v", "int"))) // duplicate
    }
    assert(!spark.table("gc10.db.t").columns.contains("ok_col"),
      "a failing multi-change batch must apply nothing")
    // time travel reads the PRE-ADD snapshot under its own schema
    assert(!spark.sql(
      s"SELECT * FROM gc10.db.t VERSION AS OF 1").columns
      .contains("note"))
    // duplicate / reserved names refuse loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (v INT)")
    }
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (_graft_file STRING)")
    }
    assert(e.getMessage.contains("reserved"))
    val e2 = intercept[Exception] {
      spark.sql(
        "ALTER TABLE gc10.db.t RENAME COLUMN comment TO _graft_pos")
    }
    assert(e2.getMessage.contains("reserved"))
    // NOT NULL / DEFAULT / FIRST refuse (NULL is the pre-ADD value)
    intercept[Exception] {
      spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (nn INT NOT NULL)")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (f INT FIRST)")
    }
    // empty-table path: declared #meta schema gains the column and
    // the first insert must carry it
    spark.sql("CREATE TABLE gc10.db.e (a INT) USING graft")
    spark.sql("ALTER TABLE gc10.db.e ADD COLUMNS (b STRING)")
    assert(spark.table("gc10.db.e").columns.toSeq == Seq("a", "b"))
    intercept[Exception] {
      graft.sources.GraftWriter.write(
        Seq(Tuple1(1)).toDF("a"), s"$root/db/e", overwrite = false,
        txn = None)
    }
    spark.sql("INSERT INTO gc10.db.e VALUES (1, 'x')")
    assert(spark.table("gc10.db.e").count() == 1L)
    // re-adding a name whose old BYTES are still live under a
    // rename/drop mapping refuses (the add record would resolve
    // against them instead of reading NULL); normalize pays the
    // mapping debt down and the add then lands
    spark.sql("ALTER TABLE gc10.db.t DROP COLUMN comment")
    // files still physically carry `note` (renamed → dropped above)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (note STRING)")
    }
    assert(e3.getMessage.contains("normalize"))
    SchemaEvolve.normalize(spark, path)
    spark.sql("ALTER TABLE gc10.db.t ADD COLUMNS (note STRING)")
    assert(spark.table("gc10.db.t").columns.contains("note"))
    assert(spark.table("gc10.db.t").filter(col("note").isNotNull)
      .count() == 0L, "re-added column must read NULL, never the " +
      "dropped column's old bytes")
  }

  test("INSERT OVERWRITE PARTITION renders temporal spec literals " +
    "exactly as the writers render directories — a timestamp " +
    "partition overwrites cleanly instead of failing the rogue-row " +
    "check") {
    val root = java.nio.file.Files.createTempDirectory("gcat11").toString
    initCatalog("gc11", root)
    spark.sql("CREATE NAMESPACE gc11.db")
    spark.sql("CREATE TABLE gc11.db.t (k BIGINT, ts TIMESTAMP) " +
      "USING graft PARTITIONED BY (ts)")
    spark.sql("INSERT INTO gc11.db.t VALUES " +
      "(1, TIMESTAMP'2024-01-01 00:00:00'), " +
      "(2, TIMESTAMP'2024-01-02 00:00:00')")
    // java.sql.Timestamp.toString renders '...00:00:00.0' — the spec
    // literal must go through the same Cast-to-string the partition
    // writers use, or this valid statement fails the rogue-files check
    spark.sql("INSERT OVERWRITE gc11.db.t " +
      "PARTITION (ts = TIMESTAMP'2024-01-01 00:00:00') VALUES (10)")
    assert(spark.sql("SELECT k FROM gc11.db.t WHERE " +
      "ts = TIMESTAMP'2024-01-01 00:00:00'").collect()
      .map(_.getLong(0)).toSeq == Seq(10L),
      "the named timestamp partition must be re-stated")
    assert(spark.sql("SELECT k FROM gc11.db.t WHERE " +
      "ts = TIMESTAMP'2024-01-02 00:00:00'").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "the untouched timestamp partition must carry over")
    assert(spark.table("gc11.db.t").count() == 2L)
  }

  test("ATOMIC CTAS/RTAS (StagingTableCatalog): a CTAS whose SELECT " +
    "throws leaves NO table behind; RTAS swaps in ONE commit with " +
    "the old table time-travel readable and its properties/CHECKs " +
    "re-declared; REPLACE refuses a missing table, CREATE OR " +
    "REPLACE creates it") {
    val root = java.nio.file.Files.createTempDirectory("gcat12")
      .toString
    initCatalog("gc12", root)
    spark.sql("CREATE NAMESPACE gc12.db")
    // failing CTAS: the mid-query error must strand NOTHING — no
    // table, no committed path, nothing in SHOW TABLES
    intercept[Exception] {
      spark.sql("CREATE TABLE gc12.db.t USING graft AS " +
        "SELECT id, CASE WHEN id > 5 THEN " +
        "raise_error('boom') ELSE 'ok' END AS x FROM range(10)")
    }
    assert(!fsOf(root).exists(new Path(s"$root/db/t")),
      "a failed CTAS must leave no table directory behind")
    assert(spark.sql("SHOW TABLES IN gc12.db").collect().isEmpty)
    // successful CTAS lands atomically
    spark.sql("CREATE TABLE gc12.db.t USING graft AS " +
      "SELECT id AS k, id * 2 AS v FROM range(5)")
    assert(spark.table("gc12.db.t").count() == 5L)
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    CommitLog.addCheck(spark, path, "v_even", "v % 2 = 0")
    spark.sql("ALTER TABLE gc12.db.t SET TBLPROPERTIES ('tier'='old')")
    val genBefore = CommitLog.committed(fs, hp).get._1
    // RTAS: new schema, new rows, ONE commit on the SAME log
    spark.sql("REPLACE TABLE gc12.db.t USING graft AS " +
      "SELECT id AS a, concat('s', id) AS b FROM range(3)")
    assert(spark.table("gc12.db.t").columns.toSeq == Seq("a", "b"))
    assert(spark.table("gc12.db.t").count() == 3L)
    assert(CommitLog.committed(fs, hp).get._1 == genBefore + 1,
      "RTAS must publish as ONE commit on the existing log")
    // the replaced table stays time-travel readable
    assert(spark.sql(s"SELECT CAST(count(*) AS BIGINT) FROM " +
      s"gc12.db.t VERSION AS OF $genBefore").head.getLong(0) == 5L)
    assert(spark.sql(s"SELECT * FROM gc12.db.t VERSION AS OF " +
      s"$genBefore").columns.toSeq == Seq("k", "v"))
    // REPLACE re-declares: old CHECKs and properties are gone
    assert(latest(fs, hp).checks.isEmpty,
      "REPLACE must not inherit the old table's constraints")
    assert(!spark.sql("SHOW TBLPROPERTIES gc12.db.t").collect()
      .map(_.getString(0)).contains("tier"))
    // a failing RTAS leaves the ORIGINAL table fully intact
    intercept[Exception] {
      spark.sql("REPLACE TABLE gc12.db.t USING graft AS " +
        "SELECT raise_error('mid-query') AS only FROM range(1)")
    }
    assert(spark.table("gc12.db.t").count() == 3L &&
      spark.table("gc12.db.t").columns.toSeq == Seq("a", "b"),
      "a failed RTAS must leave the original table untouched")
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      spark.sql("REPLACE TABLE gc12.db.nope USING graft AS " +
        "SELECT 1 AS one")
    }
    spark.sql("CREATE OR REPLACE TABLE gc12.db.u USING graft AS " +
      "SELECT 1 AS one")
    assert(spark.table("gc12.db.u").count() == 1L)
    // a PARTITIONED CTAS routes rows into the declared hive layout
    spark.sql("CREATE TABLE gc12.db.p USING graft " +
      "PARTITIONED BY (pt) AS SELECT id AS k, " +
      "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS pt FROM range(8)")
    val (_, plive) = CommitLog.ensureLoggedAt(
      fsOf(s"$root/db/p"), new Path(s"$root/db/p"))
    assert(plive.nonEmpty && plive.forall(_.startsWith("pt=")),
      s"CTAS rows must land under the declared layout: $plive")
    // no stage debris is listed anywhere
    assert(spark.sql("SHOW TABLES IN gc12.db").collect()
      .map(_.getString(1)).toSet == Set("t", "u", "p"))
  }

  test("CREATE TABLE round-trips TBLPROPERTIES and COMMENT as #meta " +
    "records; empty-table ALTER COLUMN TYPE is widen-only; VERSION " +
    "AS OF garbage and namespace/table confusions refuse clearly") {
    val root = java.nio.file.Files.createTempDirectory("gcat6").toString
    initCatalog("gc6", root)
    spark.sql("CREATE NAMESPACE gc6.db")
    // user properties and COMMENT persist (round 11 dropped them)
    spark.sql("CREATE TABLE gc6.db.t (k INT, v BIGINT) USING graft " +
      "COMMENT 'the table' TBLPROPERTIES ('team'='etl', 'tier'='gold')")
    val props = spark.sql("SHOW TBLPROPERTIES gc6.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("team").contains("etl") &&
      props.get("tier").contains("gold"),
      s"TBLPROPERTIES must round-trip: $props")
    // COMMENT is a RESERVED property SHOW TBLPROPERTIES hides — it
    // round-trips through DESCRIBE EXTENDED (and the #meta record)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED gc6.db.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Comment").contains("the table"),
      s"COMMENT must round-trip: $desc")
    // the empty-table ALTER enforces the SAME widen-only rule as the
    // non-empty path: a narrowing ALTER would plant a declared schema
    // the first INSERT then casts into
    intercept[Exception] {
      spark.sql("ALTER TABLE gc6.db.t ALTER COLUMN v TYPE INT")
    }
    assert(spark.table("gc6.db.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType,
      "the refused narrowing must leave the declared schema untouched")
    spark.sql("ALTER TABLE gc6.db.t ALTER COLUMN k TYPE BIGINT")
    assert(spark.table("gc6.db.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // VERSION AS OF must be a generation number — a garbage literal
    // surfaces as a clear catalog error naming the table
    spark.sql("INSERT INTO gc6.db.t VALUES (1, 10)")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gc6.db.t VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("generation"),
      s"the version error must explain itself: ${e.getMessage}")
    // namespace hygiene: re-CREATE throws, IF NOT EXISTS is quiet,
    // and a TABLE path never resolves as a namespace (so DROP
    // NAMESPACE cannot delete a table through the wrong verb)
    intercept[Exception] { spark.sql("CREATE NAMESPACE gc6.db") }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gc6.db") // quiet
    intercept[Exception] {
      spark.sql("DROP NAMESPACE gc6.db.t CASCADE")
    }
    assert(spark.table("gc6.db.t").count() == 1L,
      "a table must never be deletable as a namespace")
  }

  test("INSERT OVERWRITE PARTITION (static spec) replaces exactly the " +
    "named region: untouched partitions byte-identical, one commit, " +
    "old region time-travel readable; bad specs refuse") {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory("gcat8").toString
    initCatalog("gc8", root)
    spark.sql("CREATE NAMESPACE gc8.db")
    spark.sql("CREATE TABLE gc8.db.t (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO gc8.db.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 20)")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    val (genBefore, liveBefore) = CommitLog.ensureLoggedAt(fs, hp)
    def stamp(r: String) = {
      val st = fs.getFileStatus(new Path(hp, r))
      (st.getLen, st.getModificationTime)
    }
    val bStamps = liveBefore.filter(_.startsWith("p=b/"))
      .map(r => r -> stamp(r)).toMap

    // replace partition a with a 3-row re-statement
    spark.sql("INSERT OVERWRITE gc8.db.t PARTITION (p='a') " +
      "SELECT id FROM range(100, 103)")
    val (genAfter, liveAfter) = CommitLog.ensureLoggedAt(fs, hp)
    assert(genAfter == genBefore + 1, "one commit swaps the region")
    assert(spark.table("gc8.db.t").filter($"p" === "a")
      .orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(100L, 101L, 102L))
    assert(spark.table("gc8.db.t").filter($"p" === "b").count() == 10)
    // partition b untouched, byte-for-byte
    liveAfter.filter(_.startsWith("p=b/")).foreach(r =>
      assert(bStamps.get(r).contains(stamp(r)), s"$r was touched"))
    assert(bStamps.keySet == liveAfter.filter(_.startsWith("p=b/"))
      .toSet)
    // the replaced region is still time-travel readable
    assert(spark.sql("SELECT CAST(count(*) AS BIGINT) FROM gc8.db.t " +
      s"VERSION AS OF $genBefore WHERE p = 'a'").head.getLong(0) == 10L)

    // a non-partition overwrite condition refuses at analysis
    val e = intercept[Exception] {
      spark.range(3).selectExpr("id AS k", "'a' AS p")
        .writeTo("gc8.db.t").overwrite($"k" > 5)
    }
    assert(e.getMessage != null)
    assert(spark.table("gc8.db.t").count() == 13,
      "the refused overwrite must not touch anything")
  }

  test("DYNAMIC partition overwrite replaces exactly the partitions " +
    "the batch carries (V2 write path); untouched partitions " +
    "byte-identical, one commit") {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory("gcat9").toString
    initCatalog("gc9", root)
    spark.sql("CREATE NAMESPACE gc9.db")
    spark.sql("CREATE TABLE gc9.db.t (k BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO gc9.db.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(0, 20)")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    val (genBefore, liveBefore) = CommitLog.ensureLoggedAt(fs, hp)
    def stamp(r: String) = {
      val st = fs.getFileStatus(new Path(hp, r))
      (st.getLen, st.getModificationTime)
    }
    val aStamps = liveBefore.filter(_.startsWith("p=a/"))
      .map(r => r -> stamp(r)).toMap
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try {
      // the batch carries ONLY p=b rows → only p=b is replaced
      spark.sql("INSERT OVERWRITE gc9.db.t " +
        "SELECT id, 'b' FROM range(200, 203)")
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", prev)
    val (genAfter, liveAfter) = CommitLog.ensureLoggedAt(fs, hp)
    assert(genAfter == genBefore + 1)
    assert(spark.table("gc9.db.t").filter($"p" === "b")
      .orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(200L, 201L, 202L))
    assert(spark.table("gc9.db.t").filter($"p" === "a").count() == 10)
    liveAfter.filter(_.startsWith("p=a/")).foreach(r =>
      assert(aStamps.get(r).contains(stamp(r)), s"$r was touched"))
    assert(aStamps.keySet ==
      liveAfter.filter(_.startsWith("p=a/")).toSet)
    // idempotent via #txn options stays available on the V2 path too
    assert(spark.table("gc9.db.t").count() == 13)
  }

  test("metadata-table identifiers (Iceberg's pattern): SELECT from " +
    "cat.db.t.history / .files / .changes in pure SQL; a REAL table " +
    "of that name always wins") {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory("gcat7").toString
    initCatalog("gc7", root)
    spark.sql("CREATE NAMESPACE gc7.db")
    spark.sql("CREATE TABLE gc7.db.t (k BIGINT, v STRING) USING graft")
    spark.sql("INSERT INTO gc7.db.t SELECT id, 'a' FROM range(0, 50)")
    spark.sql("INSERT INTO gc7.db.t SELECT id, 'b' FROM range(50, 80)")
    spark.sql("DELETE FROM gc7.db.t WHERE k >= 70")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    val (gen, live) = CommitLog.ensureLoggedAt(fs, hp)

    // history: one row per generation, latest = current gen
    val hist = spark.sql(
      "SELECT generation, operation FROM gc7.db.t.history " +
        "ORDER BY generation").collect()
    assert(hist.map(_.getLong(0)).max == gen)
    assert(hist.map(_.getString(1)).contains("delete"), hist.toSeq)

    // files: the live footprint with DV cardinality
    val files = spark.sql(
      "SELECT file, has_dv FROM gc7.db.t.files").collect()
    assert(files.length == live.size)
    assert(files.exists(_.getBoolean(1)), "the DELETE's DV shows up")

    // changes: the retained NET changelog (first retained generation
    // as base snapshot — a row inserted AND deleted inside the window
    // nets out, changesBetween's manifest-diff semantics)
    val ch = spark.sql(
      "SELECT _change_type, CAST(count(*) AS BIGINT) AS n " +
        "FROM gc7.db.t.changes GROUP BY 1 ORDER BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch == Map("insert" -> 70L),
      s"net changelog over the full window: $ch")

    // a genuine table named like a metadata suffix resolves as a TABLE
    spark.sql("CREATE TABLE gc7.db.history (x BIGINT) USING graft")
    spark.sql("INSERT INTO gc7.db.history VALUES (1), (2)")
    assert(spark.sql("SELECT CAST(count(*) AS BIGINT) " +
      "FROM gc7.db.history").head.getLong(0) == 2L)

    // the row-identity metadata names are RESERVED — a data column
    // spelled that way would be shadowed by the scan's identity
    // materialization and break row-level DML
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gc7.db.bad (_graft_file STRING, " +
        "v BIGINT) USING graft")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.range(3).selectExpr("id AS _graft_pos")
        .write.format("graft").mode("append").save(s"$root/db/bad2")
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("DESCRIBE DETAIL surface: cat.db.t.detail and CALL " +
    "system.detail return the one-row summary, pinned against the " +
    "manifest") {
    import graft.operators.{CommitLog, TableStats}
    val root = java.nio.file.Files.createTempDirectory("gcat8").toString
    initCatalog("gc13", root)
    spark.sql("CREATE NAMESPACE gc13.db")
    spark.sql("CREATE TABLE gc13.db.t (k BIGINT, v STRING, p INT) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO gc13.db.t SELECT id, 'a', " +
      "CAST(id % 3 AS INT) FROM range(0, 90)")
    spark.sql("DELETE FROM gc13.db.t WHERE k >= 80")
    val path = s"$root/db/t"
    val fs = fsOf(path); val hp = new Path(path)
    TableStats.analyze(spark, path, Seq("k"))
    spark.sql("CALL gc13.system.create_tag('db.t', 'v1')")
    val (gen, live) = CommitLog.ensureLoggedAt(fs, hp)
    val d = spark.sql("SELECT * FROM gc13.db.t.detail").head
    assert(d.getAs[String]("format") == "graft")
    assert(d.getAs[Long]("generation") == gen)
    assert(d.getAs[Long]("num_files") == live.size.toLong)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Long]("num_dv_files") >= 1L)
    assert(d.getAs[Long]("dv_marks") == 10L)
    assert(d.getAs[String]("partition_columns") == "p")
    // the tag pinned the head AT TAG TIME; the tag's own meta-only
    // commit then became the new head
    assert(d.getAs[String]("tags") == s"v1=${gen - 1}")
    assert(d.getAs[Long]("stats_files") == live.size.toLong)
    // the procedure returns the same row
    val p = spark.sql("CALL gc13.system.detail('db.t')").head
    assert(p.getAs[Long]("num_files") == d.getAs[Long]("num_files") &&
      p.getAs[String]("tags") == d.getAs[String]("tags") &&
      p.getAs[Long]("size_bytes") == d.getAs[Long]("size_bytes"))
    // versionAsOf pins the summary to the snapshot
    val d0 = spark.read.format("graft").option("metadata", "detail")
      .option("versionAsOf", 1).load(path).head
    assert(d0.getAs[Long]("generation") == 1L &&
      d0.getAs[Long]("num_dv_files") == 0L)
  }

  test("SHOW CREATE TABLE round-trips: the emitted DDL re-creates an " +
    "equivalent table (schema, hive + bucket layout, properties, " +
    "comment) — completing SQL introspection next to DESCRIBE " +
    "DETAIL/HISTORY") {
    val root = java.nio.file.Files.createTempDirectory("gcat14").toString
    initCatalog("gc14", root)
    spark.sql("CREATE NAMESPACE gc14.db")
    spark.sql("CREATE TABLE gc14.db.t (k BIGINT COMMENT 'the key', " +
      "v STRING, p STRING) USING graft " +
      "PARTITIONED BY (p, bucket(8, k)) " +
      "COMMENT 'round-trip me' " +
      "TBLPROPERTIES ('owner.team' = 'etl', 'tier' = 'daily')")
    val ddl = spark.sql("SHOW CREATE TABLE gc14.db.t")
      .head.getString(0)
    // the DDL names the layout and the declared properties
    assert(ddl.contains("USING graft"), ddl)
    assert(ddl.contains("PARTITIONED BY"), ddl)
    assert(ddl.contains("bucket(8, k)"), ddl)
    assert(ddl.contains("owner.team") && ddl.contains("etl"), ddl)
    assert(ddl.contains("round-trip me"), ddl)
    // re-create from the emitted DDL under a new name: equivalent
    // table — same schema, same partitioning transforms, same
    // user properties, and writes route buckets identically
    spark.sql(ddl.replace("gc14.db.t", "gc14.db.t2"))
    val t1 = spark.sessionState.catalogManager.catalog("gc14")
      .asInstanceOf[graft.sources.GraftCatalog]
    def tbl(n: String) = t1.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), n))
    assert(tbl("t2").columns.toSeq.map(c => (c.name, c.dataType)) ==
      tbl("t").columns.toSeq.map(c => (c.name, c.dataType)))
    assert(tbl("t2").partitioning.toSeq.map(_.toString) ==
      tbl("t").partitioning.toSeq.map(_.toString))
    assert(tbl("t2").properties().get("owner.team") == "etl" &&
      tbl("t2").properties().get("tier") == "daily")
    spark.sql("INSERT INTO gc14.db.t2 VALUES (1, 'a', 'x'), " +
      "(2, 'b', 'y')")
    val (_, live) = CommitLog.ensureLoggedAt(
      fsOf(s"$root/db/t2"), new Path(s"$root/db/t2"))
    assert(live.nonEmpty && live.forall(r => r.startsWith("p=") &&
      graft.operators.Bucketing.conforms(r, 8)),
      s"the re-created table must route hive dirs AND buckets: $live")
  }
}
