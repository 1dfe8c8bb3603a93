package graft

import graft.operators.{Cluster, CommitLog, DeleteVectors, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

/** OPTIMIZE ZORDER BY ([[Cluster.zorderBy]]): after the rewrite, the
  * manifest's per-file bounds are tight on EVERY clustering column,
  * so a selective band on ANY of them prunes files — which a linear
  * sort can only do for its leading column. The rewrite is also a
  * debt paydown: DV'd rows stay deleted, rows are preserved exactly. */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("zorderBy: both clustered dimensions prune after the rewrite, " +
    "a linear sort serves only its leading column, and rows + DV " +
    "deletions survive the rewrite exactly") {
    val root = java.nio.file.Files.createTempDirectory("zo1").toString
    // uniform uncorrelated 2-D cloud: x walks 0..999, y is a
    // coprime-multiplier shuffle of the same range
    def cloud = spark.range(100000).select(
      (col("id") % 1000).as("x"),
      (col("id") * 7919 % 1000).as("y"),
      col("id").as("payload"))
    val sink = s"$root/z"
    cloud.repartition(8).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    // pre-existing coverage on a NON-clustering column must survive
    // the rewrite (records leave with files; the re-analyze unions)
    TableStats.analyze(spark, sink, Seq("payload"))
    DeleteVectors.deleteWhere(spark, sink, col("x") === 5L)
    val want = CommitLog.read(spark, sink)
      .agg(count(lit(1)), sum("x"), sum("y"), sum("payload")).head
    val (before, after) = Cluster.zorderBy(spark, sink,
      Seq("x", "y"), nFiles = 16)
    assert(before == 8L && after == 16L)
    // rows preserved exactly, deletions included (debt paydown)
    val got = CommitLog.read(spark, sink)
      .agg(count(lit(1)), sum("x"), sum("y"), sum("payload")).head
    assert(got == want, s"rewrite must preserve rows: $got vs $want")
    assert(CommitLog.read(spark, sink).filter(col("x") === 5L)
      .count() == 0L, "DV'd rows must stay deleted after the rewrite")
    assert(latest(fs, hp).dvs.isEmpty,
      "the rewrite replaces DV'd files — no records remain")
    // the non-clustering column's stats coverage survived the rewrite
    assert(latest(fs, hp).stats.values
      .forall(_.contains("payload")),
      "zorderBy must re-analyze previously covered columns too")
    // BOTH dimensions prune: a 5%-wide band on either column skips
    // at least half the 16 hypercube files, manifest-only
    val (keptX, skippedX) = TableStats.pruneFiles(fs, hp, Seq(
      GreaterThanOrEqual("x", 100L), LessThanOrEqual("x", 150L)))
    val (keptY, skippedY) = TableStats.pruneFiles(fs, hp, Seq(
      GreaterThanOrEqual("y", 100L), LessThanOrEqual("y", 150L)))
    assert(skippedX.size >= 8,
      s"x band must prune hypercubes: kept=${keptX.size} " +
        s"skipped=${skippedX.size}")
    assert(skippedY.size >= 8,
      s"y band must prune hypercubes: kept=${keptY.size} " +
        s"skipped=${skippedY.size}")
    // exactness above the pruned scan
    assert(CommitLog.read(spark, sink)
      .filter(col("x").between(100L, 150L)).count() ==
      cloud.filter(col("x").between(100L, 150L) && col("x") =!= 5L)
        .count())

    // the linear-sort baseline: same data range-sorted by x ONLY —
    // x prunes fine, y cannot prune at all (every x-slab spans y)
    val lin = s"$root/lin"
    cloud.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(lin)
    val lfs = fsOf(lin); val lhp = new Path(lin)
    CommitLog.ensureLoggedAt(lfs, lhp)
    TableStats.analyze(spark, lin, Seq("x", "y"))
    val (_, linSkipX) = TableStats.pruneFiles(lfs, lhp, Seq(
      GreaterThanOrEqual("x", 100L), LessThanOrEqual("x", 150L)))
    val (_, linSkipY) = TableStats.pruneFiles(lfs, lhp, Seq(
      GreaterThanOrEqual("y", 100L), LessThanOrEqual("y", 150L)))
    assert(linSkipX.size >= 12, "linear serves its leading column")
    assert(linSkipY.size == 0,
      s"a linear sort is blind on the second column " +
        s"(skipped ${linSkipY.size}) — the property Z-ordering adds")
  }

  test("zorderBy refusals are loud: single column, unknown columns, " +
    "all-null columns, non-numeric columns, partition columns") {
    val root = java.nio.file.Files.createTempDirectory("zo2").toString
    val flat = s"$root/flat"
    spark.range(100).select(col("id").as("x"), (col("id") % 7).as("y"),
        lit(null).cast("long").as("z"),
        concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.parquet(flat)
    CommitLog.ensureLoggedAt(fsOf(flat), new Path(flat))
    intercept[IllegalArgumentException] {
      Cluster.zorderBy(spark, flat, Seq("x"), 4)
    }
    intercept[IllegalArgumentException] {
      Cluster.zorderBy(spark, flat, Seq("x", "nope"), 4)
    }
    intercept[IllegalArgumentException] {
      Cluster.zorderBy(spark, flat, Seq("x", "z"), 4) // all-null
    }
    // a non-numeric column refuses UP FRONT with the real reason, not
    // a downstream all-null-after-cast error
    val e = intercept[IllegalArgumentException] {
      Cluster.zorderBy(spark, flat, Seq("x", "s"), 4)
    }
    assert(e.getMessage.contains("must be numeric"),
      s"the refusal must name the type problem: ${e.getMessage}")
    // clustering a PARTITION column is meaningless (constant within
    // each partition) — refuse with the pruning rationale
    val hive = s"$root/hive"
    spark.range(100).select(col("id").as("x"), (col("id") % 3).as("p"),
        (col("id") % 7).as("y"))
      .write.partitionBy("p").parquet(hive)
    CommitLog.ensureLoggedAt(fsOf(hive), new Path(hive))
    intercept[IllegalArgumentException] {
      Cluster.zorderBy(spark, hive, Seq("x", "p"), 4)
    }
  }

  test("zorderBy(keepReplaced = true) keeps prior generations " +
    "readable — time travel parity with compactSink") {
    val root = java.nio.file.Files.createTempDirectory("zo3").toString
    val sink = s"$root/t"
    spark.range(10000).select((col("id") % 100).as("x"),
        (col("id") * 31 % 100).as("y"))
      .repartition(4).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    val prior = CommitLog.committed(fs, hp).get._1
    val wantPrior = CommitLog.readAt(spark, sink, prior).count()
    Cluster.zorderBy(spark, sink, Seq("x", "y"), 8,
      keepReplaced = true)
    // the replaced files are still on disk: the prior snapshot reads
    assert(CommitLog.readAt(spark, sink, prior).count() == wantPrior,
      "keepReplaced must keep the prior generation readable")
    assert(CommitLog.read(spark, sink).count() == wantPrior)
  }

  test("zorderBy on a hive-partitioned sink: per-partition clustering " +
    "in one commit — partition pruning AND in-partition band pruning " +
    "both hold") {
    val root = java.nio.file.Files.createTempDirectory("zo4").toString
    val sink = s"$root/pt"
    // 3 partitions × uncorrelated (x, y) cloud; x ranges DIFFER per
    // partition (0..999 shifted by 1000·p) so global boundaries would
    // cluster badly — per-partition equi-depth is the point
    spark.range(60000).select(
        (col("id") % 3).as("p"),
        (col("id") % 1000 + (col("id") % 3) * 1000L).as("x"),
        (col("id") * 7919 % 1000).as("y"),
        col("id").as("payload"))
      .repartition(6).write.partitionBy("p").parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    val want = CommitLog.read(spark, sink)
      .agg(count(lit(1)), sum("x"), sum("y"), sum("payload")).head
    val (before, after) = Cluster.zorderBy(spark, sink,
      Seq("x", "y"), nFiles = 12)
    assert(before == 18L, s"3 partitions × 6 tasks: $before")
    // rows preserved exactly and the hive layout held
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.forall(_.startsWith("p=")),
      s"the rewrite must preserve the hive layout: $live")
    val got = CommitLog.read(spark, sink)
      .agg(count(lit(1)), sum("x"), sum("y"), sum("payload")).head
    assert(got == want, s"rewrite must preserve rows: $got vs $want")
    // partition pruning still serves p (partition-value tier)...
    val (keptP, skippedP) = TableStats.pruneFiles(fs, hp, Seq(
      org.apache.spark.sql.sources.EqualTo("p", 1L)))
    assert(keptP.forall(_.startsWith("p=1/")) && skippedP.nonEmpty,
      s"partition pruning must hold: kept=$keptP")
    // ...and a selective x band prunes WITHIN partitions: p=1's x
    // spans 1000..1999, so a 5% band keeps few of its files
    val inP1 = live.count(_.startsWith("p=1/"))
    val (keptX, _) = TableStats.pruneFiles(fs, hp, Seq(
      org.apache.spark.sql.sources.EqualTo("p", 1L),
      GreaterThanOrEqual("x", 1100L), LessThanOrEqual("x", 1150L)))
    assert(keptX.size < inP1 && keptX.nonEmpty,
      s"in-partition band must prune: kept=${keptX.size} of $inP1 " +
        s"files in p=1 (after=$after)")
    // exactness above the pruned scan: 51 x-values in the band, each
    // one residue class mod 3000 → 20 rows
    assert(CommitLog.read(spark, sink)
      .filter(col("p") === 1L && col("x").between(1100L, 1150L))
      .count() == 51L * 20L)
  }
}
