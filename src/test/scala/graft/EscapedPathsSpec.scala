package graft

import graft.operators.{CommitLog, DeleteVectors, Merge, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Partition values with URI-escapable characters (a space — TPC-H's
  * own `4-NOT SPECIFIED` priority — plus Hive-escaped specials like
  * `:`): the on-disk directory name is RAW, the manifest records the
  * raw name, but `_metadata.file_path` renders `SparkPath.urlEncoded`
  * (`p=NOT%20SPECIFIED`). Every scan-derived file key must decode
  * back to the raw name ([[CommitLog.relPathCol]] /
  * [[CommitLog.decodeScanPath]]) or the commit's carry-forward filter
  * silently drops the record: ANALYZE stats vanish, DV deletes are
  * lost, merges refuse. These tests pin the decode on every family
  * that derives keys from a scan. */
class EscapedPathsSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Sink partitioned by a column whose values need escaping: a
    * space (not Hive-escaped on disk — URI-escaped in scans) and a
    * colon (Hive-escaped to %3A on disk — double-escaped in scans). */
  private def mkEscapedSink(root: String): String = {
    val sink = s"$root/t"
    Seq((1L, "NOT SPECIFIED"), (2L, "NOT SPECIFIED"),
      (3L, "a:b"), (4L, "a:b"), (5L, "plain"), (6L, "plain"))
      .toDF("k", "p")
      .repartition(1).write.partitionBy("p").parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  test("ANALYZE keys stats by the raw on-disk name for escaped " +
    "partition dirs — every live file gets a record and pruning " +
    "works") {
    val root = java.nio.file.Files.createTempDirectory("esc1").toString
    val sink = mkEscapedSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    val live = CommitLog.ensureLoggedAt(fs, hp)._2
    assert(live.exists(_.contains("NOT SPECIFIED")) &&
      live.exists(_.contains("%3A")),
      s"fixture must cover both escape shapes: $live")
    TableStats.analyze(spark, sink, Seq("k"))
    val stats = latest(fs, hp).stats
    val missing = live.filterNot(stats.contains)
    assert(missing.isEmpty,
      s"every live file needs a stats record, missing: $missing")
    // the aggregate pushdown can now answer over the escaped dirs too
    val n = spark.read.format("graft").load(sink)
      .agg(count(lit(1))).head.getLong(0)
    assert(n == 6L)
  }

  test("DV deletes inside an escaped partition dir commit under the " +
    "raw name, apply on read, and survive a carry-forward commit") {
    val root = java.nio.file.Files.createTempDirectory("esc2").toString
    val sink = mkEscapedSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    DeleteVectors.deleteWhere(spark, sink,
      col("p") === "NOT SPECIFIED" && col("k") === 1L)
    val dvs = latest(fs, hp).dvs
    assert(dvs.keySet.forall(_.contains("NOT SPECIFIED")),
      s"DV keys must be the raw manifest names: ${dvs.keySet}")
    assert(CommitLog.read(spark, sink).count() == 5L)
    // a later unrelated commit must CARRY the record (key matches a
    // live file), not drop it
    Seq((7L, "plain")).toDF("k", "p")
      .write.format("graft").mode("append").option("path", sink).save()
    assert(latest(fs, hp).dvs.nonEmpty,
      "the DV record must survive the append's carry-forward")
    assert(CommitLog.read(spark, sink).count() == 6L)
    assert(CommitLog.read(spark, sink)
      .filter(col("k") === 1L).count() == 0L)
    // SQL row-level path over the escaped dir too
    DeleteVectors.deleteWhere(spark, sink, col("p") === "a:b")
    assert(CommitLog.read(spark, sink).count() == 4L)
  }

  test("merge touches files in escaped dirs: touched-file detection " +
    "relativizes through the decode and the rewrite lands") {
    val root = java.nio.file.Files.createTempDirectory("esc3").toString
    val sink = mkEscapedSink(root)
    val batch = Seq((1L, "NOT SPECIFIED", true), (3L, "a:b", true))
      .toDF("k", "p", "touched")
    // align schemas: the sink has (k, p); add the flag via update
    val upd = batch.select(col("k"), col("p"))
    val st = Merge.mergeParquet(spark, upd, Seq("k"), sink)
    assert(st.rowsUpdated == 2L && st.filesTouched == 2L, st.toString)
    assert(CommitLog.read(spark, sink).count() == 6L)
    // bloom build over escaped dirs keys records by raw names
    TableStats.buildBloom(spark, sink, Seq("k"),
      expectedKeysPerFile = 100L)
    val blooms = latest(fsOf(sink), new Path(sink)).blooms
    val live = CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))._2
    assert(live.forall(blooms.contains),
      s"every live file needs a bloom record: missing ${
        live.filterNot(blooms.contains)}")
  }

  /** A `+` is literal in a path: `p=a+b` scans as itself (no `%`, so
    * the decode is skipped), `p=a+ b` scans as `p=a+%20b` (decoded,
    * with the `+` kept). Both must key DV records, reads and change
    * feed windows by the raw on-disk names. */
  Seq("a+b" -> "no escape: the decode is skipped",
    "a+ b" -> "an escaped space: the decode runs").foreach {
    case (value, branch) =>
      test(s"partition value '$value' ($branch): a DV delete, a read " +
        "and a change-feed window use the raw manifest names") {
        val root = java.nio.file.Files.createTempDirectory("esc4").toString
        val sink = s"$root/t"
        Seq((1L, value), (2L, value), (3L, "plain"), (4L, "plain"))
          .toDF("k", "p").repartition(1).write.partitionBy("p")
          .parquet(sink)
        val fs = fsOf(sink); val hp = new Path(sink)
        val (g0, live) = CommitLog.ensureLoggedAt(fs, hp)
        assert(live.exists(_.startsWith(s"p=$value/")),
          s"the raw name is on disk: $live")
        DeleteVectors.deleteWhere(spark, sink, col("k").isin(1L, 3L))
        val (g1, m) = CommitLog.latestSnapshot(fs, hp).get
        assert(m.dvs.keySet == live.toSet,
          s"DV keys must be the raw manifest names: ${m.dvs.keySet}")
        assert(CommitLog.read(spark, sink).select("k", "p").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
          Seq((2L, value), (4L, "plain")))
        val feed = CommitLog.changesBetween(spark, sink, g0, g1, Seq("k"))
          .select("k", "p", "_change_type").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .sorted.toSeq
        assert(feed == Seq((1L, value, "delete"), (3L, "plain", "delete")))
        graft.io.Sources.deleteRecursively(root)
      }
  }
}
