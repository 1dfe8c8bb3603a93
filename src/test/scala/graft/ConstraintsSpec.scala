package graft

import graft.operators.{CommitLog, DeleteVectors, Merge, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Table-level CHECK constraints as manifest records
  * ([[CommitLog.addCheck]] / [[CommitLog.requireChecks]], Delta's
  * constraint feature): declared in one commit after a validating
  * pass over existing rows, enforced on every batch writer BEFORE
  * anything stages, carried unconditionally through rewrites, dropped
  * by tombstone. */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  test("addCheck validates EXISTING rows first; a constraint the " +
    "current data violates is refused and nothing commits") {
    val root = java.nio.file.Files.createTempDirectory("ck1").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    val gBefore = CommitLog.committed(fs, hp).get._1
    val e = intercept[IllegalArgumentException] {
      CommitLog.addCheck(spark, sink, "big", "v > 15")
    }
    assert(e.getMessage.contains("existing rows violate"))
    assert(CommitLog.committed(fs, hp).get._1 == gBefore)
    assert(latest(fs, hp).checks.isEmpty)
  }

  test("a violating batch is refused BEFORE anything stages — sink " +
    "bytes and generation unchanged — for upsert, mergeOnRead, " +
    "mergeParquet and applyCdc; conforming batches land; NULL " +
    "evaluates as a violation") {
    val root = java.nio.file.Files.createTempDirectory("ck2").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.addCheck(spark, sink, "v_pos", "v > 0")
    val gAfterAdd = CommitLog.committed(fs, hp).get._1
    def unchanged(): Unit = {
      assert(CommitLog.committed(fs, hp).get._1 == gAfterAdd)
      assert(CommitLog.read(spark, sink).count() == 2L)
    }
    intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark, Seq((9L, -1L)).toDF("k", "v"),
        Seq("k"), Seq("k"), sink)
    }
    unchanged()
    intercept[IllegalArgumentException] {
      DeleteVectors.mergeOnRead(spark, sink,
        Seq((1L, -5L)).toDF("k", "v"), Seq("k"))
    }
    unchanged()
    intercept[IllegalArgumentException] {
      Merge.mergeParquet(spark, Seq((1L, 0L)).toDF("k", "v"),
        Seq("k"), sink)
    }
    unchanged()
    intercept[IllegalArgumentException] {
      Merge.applyCdcParquet(spark,
        Seq((9L, -2L, "U")).toDF("k", "v", "op"), Seq("k"), "op", sink)
    }
    unchanged()
    // NULL in the checked column = violation (must evaluate TRUE)
    intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark,
        Seq((9L, null.asInstanceOf[java.lang.Long]))
          .toDF("k", "v"), Seq("k"), Seq("k"), sink)
    }
    unchanged()
    // a delete op's payload is exempt (it never lands)
    val st = Merge.applyCdcParquet(spark,
      Seq((2L, -99L, "D"), (9L, 90L, "U")).toDF("k", "v", "op"),
      Seq("k"), "op", sink)
    assert(st.rowsDeleted == 1L && st.rowsInserted == 1L)
    // conforming upsert lands
    val n = Upsert.upsertParquet(spark, Seq((11L, 110L)).toDF("k", "v"),
      Seq("k"), Seq("k"), sink)
    assert(n == 1L)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 9L, 11L))
  }

  test("constraints carry unconditionally through rewrites; dropCheck " +
    "tombstones; re-declaring after drop revalidates") {
    val root = java.nio.file.Files.createTempDirectory("ck3").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.addCheck(spark, sink, "v_pos", "v > 0")
    // DV delete + MoR→CoW + compaction: the record rides every commit
    DeleteVectors.deleteWhere(spark, sink, col("k") === 2L)
    DeleteVectors.applyDeletes(spark, sink)
    graft.operators.Compact.compactSink(spark, sink)
    assert(latest(fs, hp).checks == Map("v_pos" -> "v > 0"))
    intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark, Seq((9L, -1L)).toDF("k", "v"),
        Seq("k"), Seq("k"), sink)
    }
    CommitLog.dropCheck(spark, sink, "v_pos")
    assert(latest(fs, hp).checks.isEmpty)
    // the formerly-violating write now lands
    Upsert.upsertParquet(spark, Seq((9L, -1L)).toDF("k", "v"),
      Seq("k"), Seq("k"), sink)
    // re-declaring must revalidate and refuse (a -1 row now exists)
    intercept[IllegalArgumentException] {
      CommitLog.addCheck(spark, sink, "v_pos", "v > 0")
    }
  }

  test("rename rewrites a referencing CHECK in the same commit — the " +
    "write path stays enforceable under the new name; drop refuses " +
    "while referenced") {
    import graft.operators.SchemaEvolve
    val root = java.nio.file.Files.createTempDirectory("ck4").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.addCheck(spark, sink, "v_pos", "v > 0")
    SchemaEvolve.renameColumn(spark, sink, "v", "val")
    val rewritten = latest(fs, hp).checks("v_pos")
    assert(rewritten.contains("val"),
      s"check must reference the new name, got: $rewritten")
    // enforcement still fires — with the CLEAN constraint error, not
    // an unresolved-column AnalysisException
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark, Seq((9L, -1L)).toDF("k", "val"),
        Seq("k"), Seq("k"), sink)
    }
    assert(e.getMessage.contains("v_pos"))
    // and a conforming batch lands: the write path is NOT bricked
    assert(Upsert.upsertParquet(spark, Seq((9L, 90L)).toDF("k", "val"),
      Seq("k"), Seq("k"), sink) == 1L)
    // dropping the referenced column is refused until dropCheck
    val e2 = intercept[IllegalArgumentException] {
      SchemaEvolve.dropColumn(spark, sink, "val")
    }
    assert(e2.getMessage.contains("v_pos"))
    CommitLog.dropCheck(spark, sink, "v_pos")
    SchemaEvolve.dropColumn(spark, sink, "val")
    assert(SchemaEvolve.logicalColumns(spark, sink) == Seq("k"))
    // an UNRELATED check is untouched by a rename of another column
    val sink2 = s"$root/u"
    Seq((1L, 10L)).toDF("k", "v").coalesce(1).write.parquet(sink2)
    CommitLog.ensureLoggedAt(fsOf(sink2), new Path(sink2))
    CommitLog.addCheck(spark, sink2, "v_pos", "v > 0")
    SchemaEvolve.renameColumn(spark, sink2, "k", "key")
    assert(latest(fsOf(sink2), new Path(sink2)).checks ==
      Map("v_pos" -> "v > 0"))
  }
}
