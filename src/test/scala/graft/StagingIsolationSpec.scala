package graft

import graft.operators.{Cluster, CommitLog, Compact, DeleteVectors, Merge}
import org.apache.hadoop.fs.Path

/** Each writer stages in a scratch directory of its own
  * ([[CommitLog.stageIn]]): a sibling directory another writer is
  * still filling — stood in for here by a directory under a verb's
  * old fixed scratch name, holding a sentinel file — is never deleted
  * or adopted, and the writer leaves no scratch directory behind. */
class StagingIsolationSpec extends SparkSpec {
  import spark.implicits._

  test("mergeParquet, mergeOnRead, applyDeletes, compactSink and " +
    "zorderBy leave a concurrent writer's staging directory alone") {
    val root = java.nio.file.Files.createTempDirectory("stiso").toString
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).foreach { r =>
      Seq(r).toDF("k", "v").coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = new Path(sink).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    /** Run `verb` while another writer's staging `<sink>__<tag>_tmp`
      * holds a file; that file must survive and no scratch of the
      * verb's own may remain. */
    def isolated[A](tag: String)(verb: => A): A = {
      val sentinel = new Path(s"${sink}__${tag}_tmp/sentinel.parquet")
      val out = fs.create(sentinel)
      out.write(Array[Byte](1, 2, 3)); out.close()
      val result = verb
      assert(fs.exists(sentinel),
        s"the $tag writer deleted another writer's staged file")
      fs.delete(sentinel.getParent, true)
      val debris = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.contains("_tmp"))
      assert(debris.isEmpty, s"$tag left scratch debris: ${
        debris.mkString(", ")}")
      result
    }
    def rows: Seq[(Long, Long)] = CommitLog.read(spark, sink)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

    val m = isolated("merge")(Merge.mergeParquet(spark,
      Seq((1L, 11L), (9L, 90L)).toDF("k", "v"), Seq("k"), sink))
    assert(m == Merge.MergeStats(4L, 1L, 1L, 1L))
    assert(isolated("mor")(DeleteVectors.mergeOnRead(spark, sink,
      Seq((2L, 22L), (8L, 80L)).toDF("k", "v"), Seq("k"))) == (1L, 2L))
    val want = Seq((1L, 11L), (2L, 22L), (3L, 30L), (4L, 40L),
      (8L, 80L), (9L, 90L))
    assert(rows == want)
    assert(isolated("dv")(DeleteVectors.applyDeletes(spark, sink))._1
      == 1L)
    assert(rows == want)
    assert(isolated("compact")(Compact.compactSink(spark, sink))._2
      == 1L)
    assert(rows == want)
    val (_, zAfter) = isolated("z")(Cluster.zorderBy(spark, sink,
      Seq("k", "v"), nFiles = 2))
    assert(zAfter >= 1L && zAfter <= 2L)
    assert(rows == want)
    graft.io.Sources.deleteRecursively(root)
  }
}
