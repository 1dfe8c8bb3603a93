package graft

import graft.operators.{CommitLog, Merge, SchemaEvolve}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Reads under the manifest's schema record (`#meta schema.ddl`) give
  * the rows and schema the footer-inferring readers gave: every case
  * below pins, for the two logged readers (`format("graft")` and
  * [[CommitLog.read]]), the schema DDL and sorted rows recorded with
  * the inferring readers — tables whose files carry different column
  * sets (an ADD COLUMN, then appends; a widening merge, then a CDC
  * apply), a rename and a drop, a manifest without the record, and a
  * never-logged sink a CDC apply bootstraps. */
class SchemaRecordSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def of(df: DataFrame): (String, Seq[String]) =
    (df.schema.toDDL, df.collect().map(_.toString).sorted.toSeq)

  /** (schema, rows) of both logged readers. */
  private def seen(sink: String): Seq[(String, Seq[String])] =
    Seq(of(spark.read.format("graft").load(sink)),
      of(CommitLog.read(spark, sink, mergeSchema = true)))

  private def plainFiles(sink: String, batches: Seq[DataFrame]): String = {
    batches.foreach(_.coalesce(1).write.mode("append").parquet(sink))
    sink
  }

  private def logged(sink: String, batches: Seq[DataFrame]): String = {
    plainFiles(sink, batches)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("ADD COLUMN, then appends that carry it") {
    val root = tmp("sr_add")
    val sink = logged(s"$root/t", Seq(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      Seq((3L, 30L)).toDF("k", "v")))
    SchemaEvolve.addColumn(spark, sink, "w", "string")
    Seq((4L, 40L, "d")).toDF("k", "v", "w").write.format("graft")
      .mode("append").save(sink)
    Seq((5L, 50L, null: String)).toDF("k", "v", "w").write
      .format("graft").mode("append").save(sink)
    val want = ("k BIGINT,v BIGINT,w STRING", Seq("[1,10,null]",
      "[2,20,null]", "[3,30,null]", "[4,40,d]", "[5,50,null]"))
    assert(seen(sink) == Seq(want, want))
    graft.io.Sources.deleteRecursively(root)
  }

  test("a widening mergeParquet, then a CDC apply") {
    val root = tmp("sr_widen")
    val sink = logged(s"$root/t", Seq(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      Seq((3L, 30L), (4L, 40L)).toDF("k", "v")))
    Merge.mergeParquet(spark, Seq((2L, 21L, "x2"), (9L, 90L, "x9"))
      .toDF("k", "v", "x"), Seq("k"), sink, allowSchemaEvolution = true)
    Merge.applyCdcParquet(spark, Seq((3L, 31L, "x3", "U"),
        (9L, 0L, null, "D"), (11L, 110L, null, "U"))
      .toDF("k", "v", "x", "__op"), Seq("k"), "__op", sink)
    val want = ("k BIGINT,v BIGINT,x STRING", Seq("[1,10,null]",
      "[11,110,null]", "[2,21,x2]", "[3,31,x3]", "[4,40,null]"))
    assert(seen(sink) == Seq(want, want))
    graft.io.Sources.deleteRecursively(root)
  }

  test("rename and drop, then an append under the new names") {
    val root = tmp("sr_rename")
    val sink = logged(s"$root/t", Seq(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "u")))
    SchemaEvolve.renameColumn(spark, sink, "v", "v2")
    SchemaEvolve.dropColumn(spark, sink, "u")
    Seq((3L, 30L)).toDF("k", "v2").write.format("graft").mode("append")
      .save(sink)
    val want = ("k BIGINT,v2 BIGINT", Seq("[1,10]", "[2,20]", "[3,30]"))
    assert(seen(sink) == Seq(want, want))
    graft.io.Sources.deleteRecursively(root)
  }

  test("a manifest without the schema record reads by inference, and " +
    "the next writer keeps it readable") {
    val root = tmp("sr_old")
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.format("graft")
      .mode("append").save(sink)
    Seq((3L, 30L)).toDF("k", "v").write.format("graft").mode("append")
      .save(sink)
    // every manifest as a writer that never recorded a schema left it
    val fs = fsOf(sink)
    fs.listStatus(new Path(sink, CommitLog.LogDirName))
      .filter(_.getPath.getName.endsWith(".manifest")).foreach { st =>
        val in = fs.open(st.getPath)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        val out = fs.create(st.getPath, true)
        try out.write(body.split('\n').filterNot(_.startsWith(
          "#meta\tschema.ddl\t")).mkString("\n")
          .getBytes("UTF-8")) finally out.close()
      }
    CommitLog.clearManifestCache()
    val before = ("k BIGINT,v BIGINT", Seq("[1,10]", "[2,20]", "[3,30]"))
    assert(seen(sink) == Seq(before, before))
    Merge.mergeParquet(spark, Seq((2L, 22L), (4L, 40L)).toDF("k", "v"),
      Seq("k"), sink)
    val after = ("k BIGINT,v BIGINT",
      Seq("[1,10]", "[2,22]", "[3,30]", "[4,40]"))
    assert(seen(sink) == Seq(after, after))
    graft.io.Sources.deleteRecursively(root)
  }

  test("a never-logged sink bootstrapped by a CDC apply") {
    val root = tmp("sr_boot")
    val sink = plainFiles(s"$root/r", Seq(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"),
      Seq((3L, 30L, "c")).toDF("k", "v", "s")))
    Merge.applyCdcParquet(spark, Seq((1L, 0L, null, "D"),
        (3L, 33L, "cc", "U"), (4L, 40L, "d", "U"))
      .toDF("k", "v", "s", "__op"), Seq("k"), "__op", sink)
    val want = ("k BIGINT,v BIGINT,s STRING",
      Seq("[2,20,b]", "[3,33,cc]", "[4,40,d]"))
    assert(seen(sink) == Seq(want, want))
    graft.io.Sources.deleteRecursively(root)
  }
}
