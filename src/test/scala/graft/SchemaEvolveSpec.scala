package graft

import graft.operators.{CommitLog, DeleteVectors, Merge, SchemaEvolve,
  Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Non-additive schema evolution ([[graft.operators.SchemaEvolve]]):
  * RENAME and DROP as metadata-only manifest commits (per-file
  * `#colmap` records), the logical-schema reader
  * ([[CommitLog.mappedScan]] epochs), the operators that keep working
  * through the mapping (read, time travel, merge, erase, predicate
  * delete, insert-only upsert), the positional family that refuses it
  * loudly (compaction, applyDeletes), and the explicit
  * [[SchemaEvolve.normalize]] rewrite that pays the mapping down. */
class SchemaEvolveSpec extends SparkSpec {
  import spark.implicits._

  private case class Killed(at: String) extends RuntimeException(at)
  private def killAt(point: String): String => Unit =
    p => if (p == point) throw Killed(point)

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Logged sink, one single-row (k, v) parquet file per key. */
  private def mkSink(root: String, keys: Seq[Long]): String = {
    val sink = s"$root/t"
    keys.foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  /** Stage one fresh single-row file (under the CURRENT logical
    * column names) and commit it as a logged append. */
  private def appendRow(sink: String, cols: Seq[String],
                        k: Long, v: Long): Unit = {
    val fs = fsOf(sink)
    val hp = new Path(sink)
    val tmp = new Path(sink + "__stage-" +
      java.util.UUID.randomUUID().toString)
    Seq((k, v)).toDF(cols: _*).coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = part.getName
    assert(fs.rename(part, new Path(sink, rel)))
    fs.delete(tmp, true)
    val (g, live) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, g, live, Seq(rel))
  }

  test("rename is metadata-only: zero data motion, logical reads, " +
    "mixed-epoch appends union, time travel keeps each snapshot's " +
    "names, rename-back sheds the records") {
    val root = java.nio.file.Files.createTempDirectory("se_r1").toString
    val sink = mkSink(root, Seq(1L, 2L))
    val fs = fsOf(sink); val hp = new Path(sink)
    val (g0, live0) = CommitLog.ensureLoggedAt(fs, hp)
    SchemaEvolve.renameColumn(spark, sink, "v", "score")
    // metadata-only: the live file set is IDENTICAL
    val (g1, live1) = CommitLog.ensureLoggedAt(fs, hp)
    assert(g1 == g0 + 1 && live1.sorted == live0.sorted)
    assert(latest(fs, hp).colmaps.values.toSet ==
      Set(Map("v" -> "score")))
    // logical read
    val df = CommitLog.read(spark, sink)
    assert(df.columns.sorted.toSeq == Seq("k", "score"))
    assert(df.orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L))
    // post-rename append writes the LOGICAL schema, no record needed;
    // both epochs union by logical name
    appendRow(sink, Seq("k", "score"), 3L, 30L)
    val df2 = CommitLog.read(spark, sink).orderBy("k")
    assert(df2.columns.sorted.toSeq == Seq("k", "score"))
    assert(df2.collect().map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L))
    assert(latest(fs, hp).colmaps.size == 2,
      "the appended file must carry NO record")
    // time travel: the pre-rename snapshot reads under ITS names
    assert(CommitLog.readAt(spark, sink, g0).columns.sorted.toSeq ==
      Seq("k", "v"))
    assert(CommitLog.readAt(spark, sink, g1).columns.sorted.toSeq ==
      Seq("k", "score"))
    // rename back: the original files' mapping returns to identity and
    // the records shed; the post-rename file now carries score→v
    SchemaEvolve.renameColumn(spark, sink, "score", "v")
    val cms = latest(fs, hp).colmaps
    assert(cms.values.toSet == Set(Map("score" -> "v")),
      s"only the mid-epoch file keeps a record, got $cms")
    assert(CommitLog.read(spark, sink).columns.sorted.toSeq ==
      Seq("k", "v"))
  }

  test("rename validations: unknown source, colliding target, " +
    "rename-to-self all refuse") {
    val root = java.nio.file.Files.createTempDirectory("se_r2").toString
    val sink = mkSink(root, Seq(1L))
    intercept[IllegalArgumentException] {
      SchemaEvolve.renameColumn(spark, sink, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      SchemaEvolve.renameColumn(spark, sink, "v", "k")
    }
    intercept[IllegalArgumentException] {
      SchemaEvolve.renameColumn(spark, sink, "v", "v")
    }
  }

  test("merge and erase keep working through the mapping: batches in " +
    "LOGICAL names, touched files normalize as a side effect, " +
    "untouched files keep their records") {
    val root = java.nio.file.Files.createTempDirectory("se_m1").toString
    val sink = mkSink(root, Seq(1L, 2L, 3L, 4L))
    val fs = fsOf(sink); val hp = new Path(sink)
    SchemaEvolve.renameColumn(spark, sink, "v", "score")
    // MERGE with a logical-schema batch: update k=1, insert k=9
    val st = Merge.mergeParquet(spark,
      Seq((1L, 111L), (9L, 90L)).toDF("k", "score"), Seq("k"), sink)
    assert(st.rowsUpdated == 1L && st.rowsInserted == 1L)
    val rows = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("score")))).toSeq
    assert(rows == Seq((1L, 111L), (2L, 20L), (3L, 30L), (4L, 40L),
      (9L, 90L)))
    // the touched file was rewritten with the logical schema → its
    // record left; untouched files keep theirs
    val cms = latest(fs, hp).colmaps
    assert(cms.size == 3 &&
      cms.values.toSet == Set(Map("v" -> "score")))
    // ERASE by logical key column
    val es = Merge.eraseParquet(spark, Seq(Tuple1(2L)).toDF("k"),
      Seq("k"), sink)
    assert(es.rowsDeleted == 1L)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 9L))
  }

  test("predicate delete (DV) and insert-only upsert work through " +
    "the mapping in logical names") {
    val root = java.nio.file.Files.createTempDirectory("se_d1").toString
    val sink = mkSink(root, Seq(1L, 2L, 3L))
    SchemaEvolve.renameColumn(spark, sink, "v", "score")
    // upsert FIRST (the DV guard on its raw-reading publish path is a
    // separate, pre-existing contract): an existing + a fresh key —
    // the anti-join must see the MAPPED sink and suppress only the
    // existing key
    Upsert.upsertParquet(spark,
      Seq((1L, 999L), (7L, 70L)).toDF("k", "score"),
      Seq("k"), Seq("k"), sink)
    val after = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("score")))).toSeq
    assert(after == Seq((1L, 10L), (2L, 20L), (3L, 30L), (7L, 70L)),
      s"only the fresh key may land, got $after")
    // predicate delete in LOGICAL names over the mapped sink
    val (n, _) = DeleteVectors.deleteWhere(spark, sink,
      col("score") === 20L)
    assert(n == 1L)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 7L))
    // MoR MERGE through the mapping: batch in LOGICAL names, matched
    // version vanishes behind a DV, update appends logical-schema
    val (marked, appended) = DeleteVectors.mergeOnRead(spark, sink,
      Seq((3L, 333L)).toDF("k", "score"), Seq("k"))
    assert(marked == 1L && appended == 1L)
    val rows = CommitLog.read(spark, sink).orderBy("k")
      .collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getLong(r.fieldIndex("score")))).toSeq
    assert(rows == Seq((1L, 10L), (3L, 333L), (7L, 70L)))
  }

  test("widenColumn (int → bigint) is metadata-only: narrow files " +
    "read cast, post-widen appends are wide, merge works through the " +
    "cast, narrowing is refused, positional ops refuse, normalize " +
    "pays it down") {
    val root = java.nio.file.Files.createTempDirectory("se_w1").toString
    val sink = s"$root/t"
    // v is a genuine 32-bit int on disk; k stays bigint
    Seq((1L, 10), (2L, 20)).foreach { case (k, v) =>
      Seq((k, v)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    assert(CommitLog.read(spark, sink).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val (_, liveBefore) = CommitLog.ensureLoggedAt(fs, hp)
    SchemaEvolve.widenColumn(spark, sink, "v", "bigint")
    val (_, liveAfter) = CommitLog.ensureLoggedAt(fs, hp)
    assert(liveAfter.sorted == liveBefore.sorted,
      "widen must move no data")
    val df = CommitLog.read(spark, sink)
    assert(df.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L))
    // post-widen append writes the wide type, new epoch, no record
    appendRow(sink, Seq("k", "v"), 3L, 3000000000L) // > Int.MaxValue
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(1)).toSeq == Seq(10L, 20L, 3000000000L))
    // merge through the cast: the touched narrow file rewrites WIDE
    // and sheds its record; untouched narrow file keeps its record
    Merge.mergeParquet(spark,
      Seq((1L, 4000000000L)).toDF("k", "v"), Seq("k"), sink)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(1)).toSeq ==
      Seq(4000000000L, 20L, 3000000000L))
    assert(latest(fs, hp).coltypes.size == 1)
    // narrowing and unknown targets are refused
    intercept[IllegalArgumentException] {
      SchemaEvolve.widenColumn(spark, sink, "v", "int")
    }
    intercept[IllegalArgumentException] {
      SchemaEvolve.widenColumn(spark, sink, "v", "string")
    }
    // positional ops refuse the remaining narrow file; normalize
    // rewrites it wide and clears the record
    intercept[IllegalArgumentException] {
      graft.operators.Compact.compactSink(spark, sink)
    }
    val (rewritten, _) = SchemaEvolve.normalize(spark, sink)
    assert(rewritten == 1L)
    assert(latest(fs, hp).coltypes.isEmpty)
    assert(CommitLog.read(spark, sink).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(CommitLog.read(spark, sink).count() == 3L)
  }

  test("an append racing a RENAME stays terminal: its staged files " +
    "carry the old physical names and must not rebase past the " +
    "schema change; the re-run lands under the new logical schema") {
    val root = java.nio.file.Files.createTempDirectory("se_rc1").toString
    val sink = mkSink(root, Seq(1L, 2L))
    var fired = false
    val e = intercept[graft.operators.CommitConflictException] {
      Upsert.upsertParquet(spark, Seq((9L, 90L)).toDF("k", "v"),
        Seq("k"), Seq("k"), sink,
        failpoint = p => if (p == "staged" && !fired) {
          fired = true
          SchemaEvolve.renameColumn(spark, sink, "v", "score")
        })
    }
    assert(e.getMessage.contains("evolved the schema"))
    // the re-run writes the CURRENT logical schema and lands clean
    val n = Upsert.upsertParquet(spark,
      Seq((9L, 90L)).toDF("k", "score"), Seq("k"), Seq("k"), sink)
    assert(n == 1L)
    val df = CommitLog.read(spark, sink)
    assert(df.columns.sorted.toSeq == Seq("k", "score"),
      s"no phantom column may appear, got ${df.columns.mkString(",")}")
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 9L))
  }

  test("drop column: metadata-only tombstone, reads exclude it, " +
    "normalize rewrites it away physically") {
    val root = java.nio.file.Files.createTempDirectory("se_dr1").toString
    val sink = mkSink(root, Seq(1L, 2L))
    val fs = fsOf(sink); val hp = new Path(sink)
    val (_, live0) = CommitLog.ensureLoggedAt(fs, hp)
    SchemaEvolve.dropColumn(spark, sink, "v")
    val (_, live1) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live1.sorted == live0.sorted, "drop must move no data")
    assert(CommitLog.read(spark, sink).columns.toSeq == Seq("k"))
    intercept[IllegalArgumentException] {
      SchemaEvolve.dropColumn(spark, sink, "k") // only column left
    }
    // normalize: mapped files rewrite to the logical schema
    val (rewritten, _) = SchemaEvolve.normalize(spark, sink)
    assert(rewritten == 2L)
    assert(latest(fs, hp).colmaps.isEmpty)
    assert(CommitLog.read(spark, sink).columns.toSeq == Seq("k"))
    assert(CommitLog.read(spark, sink).count() == 2L)
  }

  test("positional operators refuse mapped files loudly; normalize " +
    "re-enables them and applies pending DVs in the same pass; " +
    "crash-atomic at the added failpoint") {
    val root = java.nio.file.Files.createTempDirectory("se_g1").toString
    val sink = mkSink(root, Seq(1L, 2L, 3L, 4L))
    val fs = fsOf(sink); val hp = new Path(sink)
    SchemaEvolve.renameColumn(spark, sink, "v", "score")
    // mapped, DV-free: the COLMAP guard is what fires
    val e = intercept[IllegalArgumentException] {
      graft.operators.Compact.compactSink(spark, sink)
    }
    assert(e.getMessage.contains("SchemaEvolve.normalize"))
    // now add a DV through the mapping; applyDeletes hits the colmap
    // guard on its mapped targets
    DeleteVectors.deleteWhere(spark, sink, col("score") === 40L)
    val e2 = intercept[IllegalArgumentException] {
      DeleteVectors.applyDeletes(spark, sink)
    }
    assert(e2.getMessage.contains("SchemaEvolve.normalize"))
    // crash between add and commit: old generation intact
    val gBefore = CommitLog.committed(fs, hp).get._1
    intercept[Killed] {
      SchemaEvolve.normalize(spark, sink, failpoint = killAt("added"))
    }
    assert(CommitLog.committed(fs, hp).get._1 == gBefore)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the re-run completes: records cleared, DVs applied, compaction OK
    val (rewritten, _) = SchemaEvolve.normalize(spark, sink)
    assert(rewritten == 4L)
    assert(latest(fs, hp).colmaps.isEmpty)
    assert(latest(fs, hp).dvs.isEmpty)
    assert(CommitLog.read(spark, sink).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    graft.operators.Compact.compactSink(spark, sink)
    assert(CommitLog.read(spark, sink).count() == 3L)
  }

  test("normalizeCompact fuses the mapping/DV paydown with the " +
    "bin-packing rewrite: one I/O pass lands the plan layout with " +
    "records cleared; untouched files stay byte-identical with " +
    "records intact; crash-atomic at both failpoints") {
    val root = java.nio.file.Files.createTempDirectory("sec1").toString
    val sink = mkSink(root, 1L to 20L) // 20 single-row files
    val fs = fsOf(sink); val hp = new Path(sink)
    SchemaEvolve.renameColumn(spark, sink, "k", "key") // maps ALL 20
    DeleteVectors.deleteWhere(spark, sink, col("key") % 5 === 0)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    // assign the files holding keys 1..10 to two bins; leave 11..20
    // untouched (a wave-based planner's partial pass)
    val keyOf: Map[String, Long] = live.map { f =>
      f -> CommitLog.mappedScan(spark, hp, Seq(f),
        latest(fs, hp).colmaps).select("key")
        .head.getLong(0)
    }.toMap
    val assigned = live.filter(f => keyOf(f) <= 10L)
    val untouched = live.filterNot(f => keyOf(f) <= 10L)
    val plan = assigned.map(f =>
      f -> (if (keyOf(f) <= 5L) "bin0" else "bin1")).toMap
    val statusBefore = untouched.map(f =>
      f -> fs.getFileStatus(new Path(sink, f))).toMap
    // crash BEFORE the commit: reader unchanged, re-run completes
    intercept[Killed] {
      SchemaEvolve.normalizeCompact(spark, sink, plan,
        failpoint = killAt("added"))
    }
    assert(CommitLog.read(spark, sink).count() == 16L)
    // crash AFTER the commit: new state is already durable
    intercept[Killed] {
      SchemaEvolve.normalizeCompact(spark, sink, plan,
        failpoint = killAt("committed"))
    }
    val (gAfter, liveAfter) = CommitLog.ensureLoggedAt(fs, hp)
    assert(liveAfter.size == 12, // 10 untouched + 2 bins
      s"expected 12 live files, got ${liveAfter.size}")
    // the two bins carry their id in the file name (plan layout)
    val bins = liveAfter.filterNot(untouched.contains)
    assert(bins.size == 2 &&
      bins.count(_.startsWith("bin0-")) == 1 &&
      bins.count(_.startsWith("bin1-")) == 1, bins.toString)
    // assigned files' records left WITH them; untouched keep theirs
    val cmAfter = latest(fs, hp).colmaps
    assert(cmAfter.keySet == untouched.toSet,
      "mapping debt cleared exactly on the rewritten files")
    val dvAfter = latest(fs, hp).dvs
    assert(dvAfter.keySet.forall(untouched.contains) &&
      dvAfter.nonEmpty,
      "DVs cleared on rewritten files, kept on untouched ones")
    // untouched files byte-identical (same path, mtime, length)
    untouched.foreach { f =>
      val st = fs.getFileStatus(new Path(sink, f))
      assert(st.getLen == statusBefore(f).getLen &&
        st.getModificationTime == statusBefore(f).getModificationTime,
        s"untouched file $f was rewritten")
    }
    // rows exact: deleted keys stay gone, bins read under the
    // LOGICAL schema, untouched mapped files still resolve
    assert(CommitLog.read(spark, sink).orderBy("key")
      .collect().map(_.getLong(0)).toSeq ==
      (1L to 20L).filterNot(_ % 5 == 0))
    // positional family unblocked for the normalized subset only;
    // a full normalizeCompact wave clears the rest
    val plan2 = untouched.map(f => f -> "bin2").toMap
    SchemaEvolve.normalizeCompact(spark, sink, plan2)
    assert(latest(fs, hp).colmaps.isEmpty &&
      latest(fs, hp).dvs.isEmpty)
    graft.operators.Compact.compactSink(spark, sink)
    assert(CommitLog.read(spark, sink).count() == 16L)
    assert(CommitLog.committed(fs, hp).get._1 > gAfter)
  }

  test("applyChanges batches a multi-change ALTER into ONE atomic " +
    "commit: all-or-nothing on failure, later changes see earlier " +
    "ones, dependent records evolve together") {
    import SchemaEvolve.Change
    val root = java.nio.file.Files.createTempDirectory("sev9").toString
    val sink = s"$root/t"
    Seq((1, 10L), (2, 20L), (3, 30L)).toDF("k", "v")
      .coalesce(1).write.parquet(sink) // k: INT, v: BIGINT
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.addCheck(spark, sink, "v_pos", "v >= 0")
    graft.operators.TableStats.analyze(spark, sink, Seq("k", "v"))
    val genBefore = CommitLog.committed(fs, hp).get._1
    val schemaBefore = CommitLog.read(spark, sink).schema
    // a failing change ANYWHERE in the list leaves the table
    // untouched — no half-applied ALTER (the round-11 sequential
    // commits would have landed the rename before the widen failed)
    intercept[IllegalArgumentException] {
      SchemaEvolve.applyChanges(spark, sink, Seq(
        Change.Rename("k", "key"),
        Change.Widen("v", "int"))) // narrowing → refused
    }
    assert(CommitLog.committed(fs, hp).get._1 == genBefore,
      "a failed multi-change ALTER must commit nothing")
    assert(CommitLog.read(spark, sink).schema == schemaBefore)
    // a valid list lands as EXACTLY one commit; later changes
    // resolve against earlier ones (the widen targets the RENAMED
    // name, which only exists because the rename ran first)
    SchemaEvolve.applyChanges(spark, sink, Seq(
      Change.Rename("k", "key"),
      Change.Rename("v", "val"),
      Change.Widen("key", "bigint")))
    val genAfter = CommitLog.committed(fs, hp).get._1
    assert(genAfter == genBefore + 1,
      s"multi-change ALTER must be ONE commit: $genBefore → $genAfter")
    val evolved = CommitLog.read(spark, sink)
    assert(evolved.columns.toSeq == Seq("key", "val"))
    assert(evolved.schema("key").dataType ==
      org.apache.spark.sql.types.LongType,
      "the widen must apply to the renamed column")
    // dependent families moved in the same commit: the CHECK now
    // references `val`, and the stats records are rekeyed so pruning
    // keeps working without a re-analyze
    assert(latest(fs, hp).checks("v_pos").contains("val"))
    assert(latest(fs, hp).stats.values
      .forall(m => m.contains("key") && m.contains("val")),
      "stats must rekey to the new logical names")
    // the legality checks run against the EVOLVED schema: key is now
    // bigint, so widening it again refuses
    intercept[IllegalArgumentException] {
      SchemaEvolve.applyChanges(spark, sink, Seq(
        Change.Widen("key", "bigint")))
    }
    // and the evolved table still reads correctly
    assert(evolved.agg(sum("val")).head.getLong(0) == 60L)
  }
}
