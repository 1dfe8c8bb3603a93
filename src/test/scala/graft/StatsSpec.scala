package graft

import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve,
  TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Manifest-resident per-file column statistics
  * ([[graft.operators.TableStats]]): ANALYZE computes `#stats` bounds
  * in one grouped scan, band reads prune their file list from the
  * manifest alone, pruning is pure I/O elision (always exact), and
  * the records compose with appends, deletion vectors, and column
  * mapping conservatively. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Range-clustered sink: one file per decade bucket of k. */
  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    (0 until 5).foreach { b =>
      (0 until 10).map(i => (b * 10L + i, f"s${b * 10 + i}%03d"))
        .toDF("k", "s").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    sink
  }

  test("analyze + band read: bounds land per (file, column), the " +
    "pruned read equals the plain filter, and exactly the " +
    "out-of-band files are skipped") {
    val root = java.nio.file.Files.createTempDirectory("st1").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    assert(TableStats.analyze(spark, sink, Seq("k", "s")) == 5L)
    val stats = latest(fs, hp).stats
    assert(stats.size == 5 &&
      stats.values.forall(m => m.contains("k") && m.contains("s")))
    // numeric band spanning two buckets
    val (keep, skip) = TableStats.pruneBand(fs, hp, "k", 15L, 25L)
    assert(keep.size == 2 && skip.size == 3,
      s"expected 2 kept / 3 skipped, got $keep / $skip")
    val pruned = TableStats.readBand(spark, sink, "k", 15L, 25L)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(pruned == (15L to 25L))
    // string band (lexical bounds)
    val (k2, s2) = TableStats.pruneBand(fs, hp, "s", "s012", "s018")
    assert(k2.size == 1 && s2.size == 4)
    assert(TableStats.readBand(spark, sink, "s", "s012", "s018")
      .count() == 7L)
    // a band no file can hold plans an empty exact read
    assert(TableStats.readBand(spark, sink, "k", 900L, 999L)
      .count() == 0L)
  }

  test("appends stay exact unpruned until the incremental analyze " +
    "catches up; onlyMissing touches only the new file") {
    val root = java.nio.file.Files.createTempDirectory("st2").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    TableStats.analyze(spark, sink, Seq("k"))
    // logged append of an out-of-band file, NOT yet analyzed
    val tmp = new Path(sink + "__st")
    Seq((100L, "x")).toDF("k", "s").coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new Path(sink, part.getName)))
    fs.delete(tmp, true)
    val (g, live) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, g, live, Seq(part.getName))
    // conservative: the unknown file survives every band (exactness)
    val (keep, _) = TableStats.pruneBand(fs, hp, "k", 0L, 5L)
    assert(keep.contains(part.getName))
    assert(TableStats.readBand(spark, sink, "k", 95L, 105L)
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
    // incremental catch-up: exactly the one new file analyzed
    assert(TableStats.analyze(spark, sink, Seq("k")) == 1L)
    val (keep2, _) = TableStats.pruneBand(fs, hp, "k", 0L, 5L)
    assert(!keep2.contains(part.getName),
      "the analyzed append must now prune")
    assert(TableStats.analyze(spark, sink, Seq("k")) == 0L)
  }

  test("encode/compare ordering is exact over adversarial domains: " +
    "negative longs, fractional doubles, and pre-epoch timestamps " +
    "never misprune across a band sweep") {
    val root = java.nio.file.Files.createTempDirectory("st4").toString
    // longs spanning signs and magnitudes, one file per bucket
    val lsink = s"$root/l"
    Seq(Seq(-1000000007L, -999999L), Seq(-5L, 3L),
      Seq(1000L, 4611686018427387904L)).foreach { vs =>
      vs.toDF("k").coalesce(1).write.mode("append").parquet(lsink)
    }
    CommitLog.ensureLoggedAt(fsOf(lsink), new Path(lsink))
    TableStats.analyze(spark, lsink, Seq("k"))
    Seq((-1000000L, 0L), (-10L, -6L), (4L, 999L),
      (Long.MinValue, Long.MaxValue)).foreach { case (lo, hi) =>
      val pruned = TableStats.readBand(spark, lsink, "k", lo, hi)
        .collect().map(_.getLong(0)).toSet
      val plain = CommitLog.read(spark, lsink)
        .filter(col("k") >= lo && col("k") <= hi)
        .collect().map(_.getLong(0)).toSet
      assert(pruned == plain, s"long band [$lo,$hi]")
    }
    // doubles with fractions and exponents (a lexical compare would
    // order "-0.25" and "12.5" wrong)
    val dsink = s"$root/d"
    Seq(Seq(-1.5e9, -0.25), Seq(0.001, 0.75), Seq(12.5, 3.25e8))
      .foreach { vs =>
        vs.toDF("x").coalesce(1).write.mode("append").parquet(dsink)
      }
    CommitLog.ensureLoggedAt(fsOf(dsink), new Path(dsink))
    TableStats.analyze(spark, dsink, Seq("x"))
    Seq((-1.0, 1.0), (-2e9, -1.0), (12.0, 13.0)).foreach {
      case (lo, hi) =>
        val pruned = TableStats.readBand(spark, dsink, "x", lo, hi)
          .collect().map(_.getDouble(0)).toSet
        val plain = CommitLog.read(spark, dsink)
          .filter(col("x") >= lo && col("x") <= hi)
          .collect().map(_.getDouble(0)).toSet
        assert(pruned == plain, s"double band [$lo,$hi]")
    }
    // timestamps spanning the epoch (pre-1970 = NEGATIVE micros)
    val tsink = s"$root/t"
    Seq(Seq("1969-06-01 00:00:00", "1969-12-31 23:59:59"),
      Seq("1970-01-01 00:00:01", "1999-01-01 00:00:00"),
      Seq("2030-01-01 00:00:00", "2031-01-01 00:00:00")).foreach { vs =>
      vs.map(java.sql.Timestamp.valueOf).toDF("ts")
        .coalesce(1).write.mode("append").parquet(tsink)
    }
    CommitLog.ensureLoggedAt(fsOf(tsink), new Path(tsink))
    TableStats.analyze(spark, tsink, Seq("ts"))
    Seq(("1969-01-01 00:00:00", "1969-12-31 23:59:59"),
      ("1969-12-01 00:00:00", "1970-06-01 00:00:00"),
      ("2029-01-01 00:00:00", "2030-06-01 00:00:00")).foreach {
      case (lo, hi) =>
        val (tlo, thi) = (java.sql.Timestamp.valueOf(lo),
          java.sql.Timestamp.valueOf(hi))
        val pruned = TableStats.readBand(spark, tsink, "ts", tlo, thi)
          .count()
        val plain = CommitLog.read(spark, tsink)
          .filter(col("ts") >= lit(tlo) && col("ts") <= lit(thi))
          .count()
        assert(pruned == plain, s"ts band [$lo,$hi]")
    }
  }

  test("bounds stay sound under deletion vectors (raw superset) and " +
    "a mapped sink reads exactly with pruning disabled on mapped " +
    "files") {
    val root = java.nio.file.Files.createTempDirectory("st3").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    TableStats.analyze(spark, sink, Seq("k"))
    // delete every in-band row of bucket 1; the file still carries
    // its (now loose) bounds, the DV-applied band read stays exact
    DeleteVectors.deleteWhere(spark, sink,
      col("k") >= 15L && col("k") <= 19L)
    assert(TableStats.readBand(spark, sink, "k", 15L, 25L)
      .orderBy("k").collect().map(_.getLong(0)).toSeq == (20L to 25L))
    // rename REKEYS the stats records inside the same commit: the
    // skip counts survive the rename with NO re-analyze, and the
    // logical band read stays exact
    SchemaEvolve.renameColumn(spark, sink, "k", "key")
    val (keep, skip) = TableStats.pruneBand(fs, hp, "key", 15L, 25L)
    assert(keep.size == 2 && skip.size == 3,
      s"rekeyed stats must keep pruning after a rename: $keep/$skip")
    assert(TableStats.readBand(spark, sink, "key", 15L, 25L)
      .orderBy("key").collect().map(_.getLong(0)).toSeq ==
      (20L to 25L))
    // the retired name resolves nothing — no stale-key pruning
    assert(latest(fs, hp).stats.values
      .forall(m => !m.contains("k")), "old key must be gone")
    // re-analyze now reads the mapped files through their LOGICAL
    // view — same keying, refreshed bounds, pruning intact
    assert(TableStats.analyze(spark, sink, Seq("key"),
      onlyMissing = false) == 5L)
    val (k3, s3) = TableStats.pruneBand(fs, hp, "key", 15L, 25L)
    assert(k3.size == 2 && s3.size == 3)
  }

  test("analyze covers mapped files through the logical view: a " +
    "sink renamed BEFORE any analyze still becomes fully prunable") {
    val root = java.nio.file.Files.createTempDirectory("st10").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    SchemaEvolve.renameColumn(spark, sink, "k", "key")
    assert(TableStats.analyze(spark, sink, Seq("key")) == 5L)
    val (keep, skip) = TableStats.pruneBand(fs, hp, "key", 15L, 25L)
    assert(keep.size == 2 && skip.size == 3,
      s"mapped files must analyze and prune under logical names: " +
        s"$keep / $skip")
    assert(TableStats.readBand(spark, sink, "key", 15L, 25L)
      .orderBy("key").collect().map(_.getLong(0)).toSeq ==
      (15L to 25L))
    // a dropped column is invisible to analyze (logical view)
    SchemaEvolve.dropColumn(spark, sink, "s")
    intercept[IllegalArgumentException] {
      TableStats.analyze(spark, sink, Seq("s"), onlyMissing = false)
    }
  }

  test("drop-then-rename can never prune against the dropped " +
    "column's stale bounds (stats leave with the drop, arrive " +
    "rekeyed with the rename)") {
    val root = java.nio.file.Files.createTempDirectory("st5").toString
    val sink = s"$root/t"
    // a: 0..49 clustered; b: 1000..1049 clustered the SAME way —
    // adversarial: if stats stayed keyed physical, after drop(a) +
    // rename(b→a) a band on logical 'a' would hit physical-a bounds
    (0 until 5).foreach { bkt =>
      (0 until 10).map(i => (bkt * 10L + i, 1000L + bkt * 10 + i))
        .toDF("a", "b").coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("a", "b"))
    SchemaEvolve.dropColumn(spark, sink, "a")
    SchemaEvolve.renameColumn(spark, sink, "b", "a")
    // logical 'a' is the OLD b: a band in b's domain must prune with
    // b's (rekeyed) bounds and read exactly
    val (keep, skip) = TableStats.pruneBand(fs, hp, "a", 1015L, 1025L)
    assert(keep.size == 2 && skip.size == 3, s"$keep / $skip")
    assert(TableStats.readBand(spark, sink, "a", 1015L, 1025L)
      .orderBy("a").collect().map(_.getLong(0)).toSeq ==
      (1015L to 1025L))
    // a band in the DROPPED column's domain matches nothing — and
    // provably so from the manifest (old-a bounds are gone, not stale)
    val (k2, _) = TableStats.pruneBand(fs, hp, "a", 15L, 25L)
    assert(k2.isEmpty, "dropped column's bounds must not resurrect")
    assert(TableStats.readBand(spark, sink, "a", 15L, 25L).count() == 0)
  }

  test("string bounds compare in UTF-8 byte order: supplementary " +
    "code points vs U+E000.. never misprune") {
    val root = java.nio.file.Files.createTempDirectory("st6").toString
    val sink = s"$root/t"
    // file A tops out at U+E000 (UTF-8 EE 80 80); file B holds an
    // emoji U+1F600 (UTF-8 F0 9F 98 80). UTF-16 order puts the emoji
    // (surrogate 0xD83D) BELOW U+E000 — byte order puts it above.
    val e000 = ""
    val emoji = new String(Character.toChars(0x1F600))
    Seq(Seq("a", e000), Seq(emoji), Seq("zz")).foreach { vs =>
      vs.toDF("s").coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("s"))
    Seq((e000, emoji), ("a", e000), (emoji, emoji), ("z", "￿"))
      .foreach { case (lo, hi) =>
        val pruned = TableStats.readBand(spark, sink, "s", lo, hi)
          .collect().map(_.getString(0)).toSet
        val plain = CommitLog.read(spark, sink)
          .filter(col("s") >= lit(lo) && col("s") <= lit(hi))
          .collect().map(_.getString(0)).toSet
        assert(pruned == plain, s"string band [$lo,$hi]")
      }
  }

  test("NaN/Infinity bounds record as unprunable None instead of " +
    "crashing analyze; reads stay exact") {
    val root = java.nio.file.Files.createTempDirectory("st7").toString
    val sink = s"$root/t"
    Seq(Seq(1.0, Double.NaN), Seq(Double.NegativeInfinity, 2.0),
      Seq(10.0, 20.0)).foreach { vs =>
      vs.toDF("x").coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    assert(TableStats.analyze(spark, sink, Seq("x")) == 3L)
    val stats = latest(fs, hp).stats
    assert(stats.values.count(m => m("x").min.isEmpty &&
      m("x").max.isEmpty) == 2, "non-finite files record None bounds")
    // the NaN/Inf files never prune (conservative); the finite one does
    val (keep, skip) = TableStats.pruneBand(fs, hp, "x", 100.0, 200.0)
    assert(keep.size == 2 && skip.size == 1)
    val pruned = TableStats.readBand(spark, sink, "x", 0.5, 15.0)
      .collect().map(_.getDouble(0)).toSet
    assert(pruned == Set(1.0, 2.0, 10.0))
  }

  test("a fully-DV-deleted file prunes from the manifest's mark " +
    "cardinality alone, before applyDeletes") {
    val root = java.nio.file.Files.createTempDirectory("st8").toString
    val sink = mkSink(root)
    val fs = fsOf(sink); val hp = new Path(sink)
    TableStats.analyze(spark, sink, Seq("k"))
    // kill EVERY row of bucket 2 (k in 20..29) — the file's raw
    // bounds still intersect [20,29], but its mark count == row count
    DeleteVectors.deleteWhere(spark, sink,
      col("k") >= 20L && col("k") <= 29L)
    val full = latest(fs, hp).dvMarks
    assert(full.values.toSeq == Seq(10L), s"mark cardinality: $full")
    val (keep, skip) = TableStats.pruneBand(fs, hp, "k", 20L, 29L)
    assert(keep.isEmpty && skip.size == 5,
      s"fully-deleted file must skip manifest-only: $keep / $skip")
    assert(TableStats.readBand(spark, sink, "k", 20L, 29L).count() == 0)
    // a PARTIAL delete must not skip (still has visible rows)
    DeleteVectors.deleteWhere(spark, sink, col("k") === 35L)
    val (k2, _) = TableStats.pruneBand(fs, hp, "k", 30L, 39L)
    assert(k2.size == 1)
    assert(TableStats.readBand(spark, sink, "k", 30L, 39L)
      .collect().map(_.getLong(0)).toSet ==
      ((30L to 39L).toSet - 35L))
  }

  test("partition-value pruning needs NO analyze: hive path levels " +
    "prune equality/IN/bands/null manifest-only, escaped and " +
    "non-canonical external layouts never misprune") {
    import org.apache.spark.sql.sources
    val root = java.nio.file.Files.createTempDirectory("st11").toString
    val sink = s"$root/t"
    // string partitions incl. a SPACE (escaped in the dir name) and a
    // NULL partition; int partitions incl. a negative value
    Seq((1L, "alpha", 10L), (2L, "beta gamma", 10L),
      (3L, null.asInstanceOf[String], -5L), (4L, "delta", -5L),
      (5L, "alpha", 20L))
      .toDF("k", "g", "b")
      .repartition(col("g"), col("b"))
      .write.partitionBy("g", "b").parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    // NO analyze anywhere in this test — pruning is path-level only
    def check(filters: Seq[sources.Filter],
              pred: org.apache.spark.sql.Column,
              expectKeep: Int, expectSkip: Int): Unit = {
      val (keep, skip) = TableStats.pruneFiles(fs, hp, filters)
      assert(keep.size == expectKeep && skip.size == expectSkip,
        s"$filters → $keep / $skip")
      val pruned = TableStats.readWhere(spark, sink, filters, pred)
        .select("k").collect().map(_.getLong(0)).toSet
      val plain = CommitLog.read(spark, sink).filter(pred)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(pruned == plain, s"$filters: $pruned != $plain")
    }
    // escaped string equality (the space survives the round trip)
    check(Seq(sources.EqualTo("g", "beta gamma")),
      col("g") === "beta gamma", 1, 4)
    // IN over two string partitions
    check(Seq(sources.In("g", Array[Any]("alpha", "delta"))),
      col("g").isin("alpha", "delta"), 3, 2)
    // IS NULL hits exactly the default partition
    check(Seq(sources.IsNull("g")), col("g").isNull, 1, 4)
    check(Seq(sources.IsNotNull("g")), col("g").isNotNull, 4, 1)
    // integer band over the b level (negative values parse as values)
    check(Seq(sources.LessThan("b", 0L)), col("b") < 0L, 2, 3)
    // conjunction across BOTH partition levels
    check(Seq(sources.EqualTo("g", "alpha"),
      sources.GreaterThanOrEqual("b", 15L)),
      col("g") === "alpha" && col("b") >= 15L, 1, 4)
    // string prefix on a partition value
    check(Seq(sources.StringStartsWith("g", "beta")),
      col("g").startsWith("beta"), 1, 4)
    // an EXTERNAL non-canonical layout (zero-padded int dir) must be
    // KEPT for the value it denotes — numeric parse, never string form
    val ext = new Path(sink, "g=ext/b=020")
    fs.mkdirs(ext)
    val tmp = new Path(sink + "__ext")
    Seq((9L, "ext", 20L)).toDF("k", "g", "b").select("k")
      .coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new Path(ext, part.getName)))
    fs.delete(tmp, true)
    val (g2, live2) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, g2, live2,
      Seq(s"g=ext/b=020/${part.getName}"))
    val (keepExt, _) = TableStats.pruneFiles(fs, hp,
      Seq(sources.EqualTo("b", 20L)))
    assert(keepExt.exists(_.startsWith("g=ext/b=020/")),
      s"zero-padded external dir must be kept for its value: $keepExt")
  }

  test("conjunctive / equality / IN / IS NULL pruning over " +
    "pruneFiles is exact and skips provably-irrelevant files") {
    import org.apache.spark.sql.sources
    val root = java.nio.file.Files.createTempDirectory("st9").toString
    val sink = s"$root/t"
    // files clustered on k; g cycles so only SOME files hold each g;
    // one file is all-null in s
    Seq(
      (0 until 10).map(i => (i.toLong, "g1", f"v$i%03d")),
      (10 until 20).map(i => (i.toLong, "g2", f"v$i%03d")),
      (20 until 30).map(i => (i.toLong, "g1", null: String)),
      (30 until 40).map(i => (i.toLong, "g3", f"v$i%03d"))
    ).foreach { rows =>
      rows.toDF("k", "g", "s").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("k", "g", "s"))
    // conjunction over two columns: k band keeps files 1,2; g = 'g1'
    // keeps files 0,2 → intersection must scan exactly file 2
    val conj = Seq[sources.Filter](
      sources.GreaterThanOrEqual("k", 15L),
      sources.LessThanOrEqual("k", 29L),
      sources.EqualTo("g", "g1"))
    val (keep, skip) = TableStats.pruneFiles(fs, hp, conj)
    assert(keep.size == 1 && skip.size == 3, s"$keep / $skip")
    val exact = TableStats.readWhere(spark, sink, conj,
      col("k") >= 15L && col("k") <= 29L && col("g") === "g1")
      .collect().map(_.getLong(0)).toSet
    assert(exact == (20L to 29L).toSet)
    // IN over points in two files
    val (kIn, sIn) = TableStats.pruneFiles(fs, hp,
      Seq(sources.In("k", Array[Any](5L, 35L))))
    assert(kIn.size == 2 && sIn.size == 2)
    // IS NULL: only the all-null-s file (others have zero nulls)
    val (kN, sN) = TableStats.pruneFiles(fs, hp,
      Seq(sources.IsNull("s")))
    assert(kN.size == 1 && sN.size == 3)
    assert(TableStats.readWhere(spark, sink, Seq(sources.IsNull("s")),
      col("s").isNull).count() == 10L)
    // IS NOT NULL skips the all-null file
    val (kNN, sNN) = TableStats.pruneFiles(fs, hp,
      Seq(sources.IsNotNull("s")))
    assert(kNN.size == 3 && sNN.size == 1)
    // string prefix
    val (kP, sP) = TableStats.pruneFiles(fs, hp,
      Seq(sources.StringStartsWith("s", "v01")))
    assert(kP.size == 1 && sP.size == 3)
    // OR of two disjoint bands keeps both ends, skips the middle
    val (kO, sO) = TableStats.pruneFiles(fs, hp,
      Seq(sources.Or(sources.LessThan("k", 5L),
        sources.GreaterThan("k", 35L))))
    assert(kO.size == 2 && sO.size == 2)
    // an unknown filter shape contributes no pruning (all kept)
    val (kU, sU) = TableStats.pruneFiles(fs, hp,
      Seq(sources.StringContains("s", "01")))
    assert(kU.size == 4 && sU.isEmpty)
  }

  test("reads never commit: readBand and pruneBand on a plain parquet " +
    "directory return the unpruned rows and leave no commit log") {
    val root = java.nio.file.Files.createTempDirectory("st_ro").toString
    val sink = s"$root/t"
    (0 until 3).foreach { b =>
      (0 until 10).map(i => (b * 10L + i, s"v$b")).toDF("k", "s")
        .coalesce(1).write.mode("append").parquet(sink)
    }
    val fs = fsOf(sink); val hp = new Path(sink)
    val want = spark.read.parquet(sink).filter(col("k").between(5L, 15L))
      .orderBy("k").collect().toSeq
    assert(TableStats.readBand(spark, sink, "k", 5L, 15L).orderBy("k")
      .collect().toSeq == want)
    val (kept, skipped) = TableStats.pruneBand(fs, hp, "k", 5L, 15L)
    assert(kept.size == 3 && skipped.isEmpty,
      "a never-analyzed sink prunes nothing")
    assert(!fs.exists(new Path(hp, CommitLog.LogDirName)),
      "a read bootstrapped the commit log")
    assert(CommitLog.latestSnapshot(fs, hp).isEmpty)
    graft.io.Sources.deleteRecursively(root)
  }
}
