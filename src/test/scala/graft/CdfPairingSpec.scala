package graft

import graft.operators.{CommitLog, DeleteVectors, Merge}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Update pairing of the keyed change feed
  * ([[CommitLog.changesBetween]] with `keys`): a key with rows on both
  * the delete and the insert half of a window becomes an
  * `update_preimage`/`update_postimage` pair, every other row stays
  * `delete`/`insert`, and a null key never pairs. One merge-on-read
  * window (deletion vectors plus appended files) and one copy-on-write
  * window (rewritten files) pin the exact multiset of
  * `(k, _change_type)` rows. */
class CdfPairingSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A logged (k, v) table with one file per key group; `k` is a
    * nullable long. Returns the sink and its generation. */
  private def table(root: String, files: Seq[Seq[Option[Long]]])
  : (String, Long) = {
    val sink = s"$root/t"
    files.foreach { ks =>
      ks.map(k => (k, k.getOrElse(-1L) * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    (sink, CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))._1)
  }

  private def append(sink: String, rows: Seq[(Option[Long], Long)]): Unit =
    rows.toDF("k", "v").write.format("graft").mode("append").save(sink)

  /** The window's (k, _change_type) rows, sorted (nulls first). */
  private def window(sink: String, from: Long)
  : Seq[(Option[Long], String)] = {
    val to = CommitLog.latestSnapshot(fsOf(sink), new Path(sink)).get._1
    CommitLog.changesBetween(spark, sink, from, to, Seq("k"))
      .select("k", "_change_type").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1)))
      .toSeq.sorted
  }

  test("merge-on-read window: updated and deleted-then-reinserted keys " +
    "pair, a deleted key deletes, a new key inserts, null keys never " +
    "pair") {
    val root = java.nio.file.Files.createTempDirectory("cdfp1").toString
    val (sink, g0) = table(root,
      Seq(Seq(Some(1L), Some(2L), Some(3L), None),
        Seq(Some(4L), Some(5L))))
    // 1 updated (DV mark + appended row)
    DeleteVectors.mergeOnRead(spark, sink,
      Seq((1L, 11L)).toDF("k", "v"), Seq("k"))
    // 2 deleted; 3 deleted, then inserted again
    DeleteVectors.deleteWhere(spark, sink, col("k").isin(2L, 3L))
    append(sink, Seq((Some(3L), 33L)))
    // 7 inserted
    append(sink, Seq((Some(7L), 70L)))
    // a null key deleted on one side and inserted on the other
    DeleteVectors.deleteWhere(spark, sink, col("k").isNull)
    append(sink, Seq((None, 99L)))
    assert(window(sink, g0) == Seq(
      (None, "delete"), (None, "insert"),
      (Some(1L), "update_postimage"), (Some(1L), "update_preimage"),
      (Some(2L), "delete"),
      (Some(3L), "update_postimage"), (Some(3L), "update_preimage"),
      (Some(7L), "insert")))
    graft.io.Sources.deleteRecursively(root)
  }

  test("copy-on-write window: every kept row of a rewritten file pairs " +
    "with its copy, deleted keys delete, re-inserted keys pair, new keys " +
    "insert, null keys never pair") {
    val root = java.nio.file.Files.createTempDirectory("cdfp2").toString
    val (sink, g0) = table(root,
      Seq(Seq(Some(1L), Some(2L), Some(3L)),
        Seq(Some(4L), Some(5L), None)))
    // delete 2 and 3: the first file is rewritten with 1 alone (the
    // replaced files stay on disk for the window to read)
    Merge.applyCdcParquet(spark,
      Seq((Some(2L), 0L, "D"), (Some(3L), 0L, "D")).toDF("k", "v", "op"),
      Seq("k"), "op", sink, keepReplaced = true)
    // update 4, insert 8 and re-insert 2: the second file is rewritten
    // with 5 and the null key kept
    Merge.mergeParquet(spark,
      Seq((Some(4L), 44L), (Some(8L), 80L), (Some(2L), 22L))
        .toDF("k", "v"), Seq("k"), sink, keepReplaced = true)
    assert(window(sink, g0) == Seq(
      (None, "delete"), (None, "insert"),
      (Some(1L), "update_postimage"), (Some(1L), "update_preimage"),
      (Some(2L), "update_postimage"), (Some(2L), "update_preimage"),
      (Some(3L), "delete"),
      (Some(4L), "update_postimage"), (Some(4L), "update_preimage"),
      (Some(5L), "update_postimage"), (Some(5L), "update_preimage"),
      (Some(8L), "insert")))
    graft.io.Sources.deleteRecursively(root)
  }
}
