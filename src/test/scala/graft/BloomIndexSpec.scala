package graft

import graft.operators.{CommitLog, SchemaEvolve, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}

/** `#bloom` point-lookup indexes ([[TableStats.buildBloom]]): the
  * pruning tier for layouts min/max bounds cannot serve. On a
  * hash-scattered sink every file spans the full key range (bounds
  * keep everything), while each KEY lives in exactly one file — the
  * Bloom sidecars know which, at the cost of one KB-sized driver
  * read per surviving file at plan time. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("point lookups prune a hash-scattered layout that min/max " +
    "keeps whole; string keys too; absent keys prune everything; the " +
    "format read composes the tier at plan time") {
    val root = java.nio.file.Files.createTempDirectory("bl1").toString
    val sink = s"$root/t"
    spark.range(40000)
      .select(col("id").as("k"), concat(lit("u"), col("id")).as("s"))
      .repartition(8, col("k")).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("k"))
    // bounds evidence alone is BLIND here: every file spans the range
    val (k0, s0) = TableStats.pruneFiles(fs, hp, Seq(EqualTo("k", 123L)))
    assert(k0.size == 8 && s0.isEmpty,
      "hash-scattered bounds must keep every file (the gap blooms fill)")
    assert(TableStats.buildBloom(spark, sink, Seq("k", "s"),
      expectedKeysPerFile = 10000) == 8L)
    // a key lives in ONE file — the index keeps (about) that one
    val (k1, s1) = TableStats.pruneFiles(fs, hp, Seq(EqualTo("k", 123L)))
    assert(s1.size >= 6, s"bloom must prune: kept=${k1.size}")
    assert(CommitLog.read(spark, sink).filter(col("k") === 123L)
      .count() == 1L)
    // string keys normalize UTF-8 on both sides
    val (k2, s2) = TableStats.pruneFiles(fs, hp,
      Seq(EqualTo("s", "u123")))
    assert(s2.size >= 6, s"string bloom must prune: kept=${k2.size}")
    // an ABSENT key proves every file empty
    val (k3, _) = TableStats.pruneFiles(fs, hp,
      Seq(EqualTo("k", 999999L)))
    assert(k3.isEmpty, s"absent key must prune everything: $k3")
    // IN probes the union of values
    val (k4, s4) = TableStats.pruneFiles(fs, hp,
      Seq(In("k", Array(123L, 456L))))
    assert(s4.size >= 5 && k4.size <= 3)
    // the V2 format read runs the tier at PLAN time: equality filter
    // → few files on the relation, result exact
    val df = spark.read.format("graft").load(sink)
      .filter(col("k") === 123L)
    val info = df.queryExecution.sparkPlan.collect {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        r.relation
    }.collectFirst { case g: graft.sources.GraftScanInfo => g }.get
    assert(info.keptCount <= 2 && info.skippedCount >= 6,
      s"plan-time bloom prune: kept=${info.keptCount}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((123L, "u123")))
  }

  test("records are rename-proof (physical keying), the build is " +
    "incremental, and expired sidecars are vacuum debris") {
    val root = java.nio.file.Files.createTempDirectory("bl2").toString
    val sink = s"$root/t"
    spark.range(10000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(4, col("k")).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    assert(TableStats.buildBloom(spark, sink, Seq("k"),
      expectedKeysPerFile = 5000) == 4L)
    // rename k → key: #bloom records stay keyed by the files'
    // PHYSICAL name; a filter on the NEW logical name still resolves
    // and prunes — no rewrite, no staleness window
    SchemaEvolve.renameColumn(spark, sink, "k", "key")
    val (kept, skipped) = TableStats.pruneFiles(fs, hp,
      Seq(EqualTo("key", 77L)))
    assert(skipped.size >= 2,
      s"post-rename lookup must still prune: kept=${kept.size}")
    assert(CommitLog.read(spark, sink).filter(col("key") === 77L)
      .count() == 1L)
    // incremental: an append leaves old files' records valid; the
    // catch-up build reads ONLY the new file
    Seq((990001L, 5L)).toDF("key", "v")
      .write.format("graft").mode("append").save(sink)
    assert(TableStats.buildBloom(spark, sink, Seq("key"),
      expectedKeysPerFile = 5000) == 1L,
      "catch-up must index only the appended file")
    val (kNew, _) = TableStats.pruneFiles(fs, hp,
      Seq(EqualTo("key", 990001L)))
    assert(kNew.size == 1, s"the new key lives in the new file: $kNew")
    // truncate-overwrite drops every record with its file; after
    // retention expiry the sidecars are unreferenced debris
    Seq((1L, 1L)).toDF("key", "v")
      .write.format("graft").mode("overwrite").save(sink)
    CommitLog.expireGenerations(fs, hp, keepLast = 1) // expire vacuums
    assert(latest(fs, hp).blooms.isEmpty)
    val bloomDir = new Path(sink, CommitLog.BloomDirName)
    assert(!fs.exists(bloomDir) || fs.listStatus(bloomDir).isEmpty,
      "expired sidecars must be reclaimed with their generations")
    // unsupported types refuse loudly
    intercept[IllegalArgumentException] {
      TableStats.buildBloom(spark, sink, Seq("nope"), 100)
    }
  }
}
