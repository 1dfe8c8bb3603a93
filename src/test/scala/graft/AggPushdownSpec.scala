package graft

import graft.operators.{CommitLog, DeleteVectors, TableStats}
import graft.sources.GraftAggInfo
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.functions._

/** METADATA-ONLY aggregation and statistics reporting on the V2
  * surface ([[graft.sources.GraftMetaAgg]]): `COUNT(*)` / `COUNT(col)`
  * / `MIN` / `MAX` — grouped by partition columns, under
  * partition-exact predicates — answer from `#stats` row counts,
  * `#dv` cardinalities and partition path values with ZERO data I/O;
  * anything unprovable falls back to the ordinary scan (correctness
  * never depends on coverage); and `SupportsReportStatistics` feeds
  * Catalyst the table's true size so dimension-sized graft tables
  * broadcast without a hint. */
class AggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The metadata-aggregate relation of a plan, if the aggregate was
    * completely pushed. */
  private def aggInfoOf(df: DataFrame): Option[GraftAggInfo] = {
    val plan = df.queryExecution.executedPlan
    (plan +: plan.collectLeaves()).collectFirst {
      case r: RowDataSourceScanExec
        if r.relation.isInstanceOf[GraftAggInfo] =>
        r.relation.asInstanceOf[GraftAggInfo]
    }
  }

  private def assertPushed(df: DataFrame): GraftAggInfo =
    aggInfoOf(df).getOrElse(fail(
      s"expected a pushed metadata aggregate in:\n" +
        df.queryExecution.executedPlan.toString))

  private def assertNotPushed(df: DataFrame): Unit =
    assert(aggInfoOf(df).isEmpty,
      "aggregate must NOT push down here:\n" +
        df.queryExecution.executedPlan.toString)

  /** Partitioned, analyzed sink: p ∈ {0,1,2,null}, typed payload
    * columns across every stats domain. */
  private def mkSink(root: String): String = {
    val sink = s"$root/t"
    val df = (0 until 400).map { i =>
      val p: java.lang.Integer =
        if (i % 4 == 3) null else Integer.valueOf(i % 4)
      (p, i.toLong, s"s$i%03d".format(i),
        java.sql.Date.valueOf(java.time.LocalDate
          .of(2024, 1, 1).plusDays(i % 90)),
        java.sql.Timestamp.valueOf(s"2024-01-01 00:0${i % 6}:00"),
        i * 1.5,
        new java.math.BigDecimal(s"${i}.25"),
        if (i % 10 == 0) null else s"v$i")
    }.toDF("p", "k", "s", "d", "ts", "x", "dec", "nv")
      .withColumn("dec", col("dec").cast("decimal(10,2)"))
    df.repartition(2).write.partitionBy("p").parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    TableStats.analyze(spark, sink,
      Seq("k", "s", "d", "ts", "x", "dec", "nv"))
    sink
  }

  private def graftRead(sink: String): DataFrame =
    spark.read.format("graft").load(sink)

  test("global count/min/max/count(col) push completely and decode " +
    "bit-exact across every stats domain") {
    val root = java.nio.file.Files.createTempDirectory("agg1").toString
    val sink = mkSink(root)
    val t = graftRead(sink)
    val pushed = t.agg(
      count(lit(1)).as("n"), count(col("nv")).as("nnv"),
      min("k").as("mnk"), max("k").as("mxk"),
      min("s").as("mns"), max("s").as("mxs"),
      min("d").as("mnd"), max("d").as("mxd"),
      min("ts").as("mnt"), max("ts").as("mxt"),
      min("x").as("mnx"), max("x").as("mxx"),
      min("dec").as("mndec"), max("dec").as("mxdec"))
    val info = assertPushed(pushed)
    assert(info.resultRowCount == 1)
    // oracle: the same aggregates computed by scanning the data
    val oracle = spark.read.parquet(sink).agg(
      count(lit(1)), count(col("nv")), min("k"), max("k"),
      min("s"), max("s"), min("d"), max("d"), min("ts"), max("ts"),
      min("x"), max("x"), min("dec"), max("dec")).head
    assert(pushed.head == oracle)
    // count(partition col): nulls excluded via the default marker
    val pc = t.agg(count(col("p")).as("np"))
    assertPushed(pc)
    assert(pc.head.getLong(0) == 300L)
  }

  test("group-by partition column pushes, including the null " +
    "partition; partition-exact filters compose and data-column " +
    "filters refuse") {
    val root = java.nio.file.Files.createTempDirectory("agg2").toString
    val sink = mkSink(root)
    val t = graftRead(sink)
    val grouped = t.groupBy("p").agg(
      count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    assertPushed(grouped)
    val got = grouped.orderBy(col("p").asc_nulls_last).collect()
    val want = spark.read.parquet(sink).groupBy("p")
      .agg(count(lit(1)).as("n"), min("k").as("mn"),
        max("k").as("mx"))
      .orderBy(col("p").asc_nulls_last).collect()
    assert(got.toSeq == want.toSeq)
    // a partition-EQUALITY predicate is exactly enforced by the
    // layout: zero residual filter, aggregate still pushes
    val filtered = t.filter(col("p") === 1)
      .agg(count(lit(1)).as("n"), max("k").as("mx"))
    val info = assertPushed(filtered)
    assert(info.pushedAggDesc.contains("files="))
    assert(filtered.head ==
      spark.read.parquet(sink).filter(col("p") === 1)
        .agg(count(lit(1)), max("k")).head)
    // IS NULL selects exactly the default partition
    val nullPart = t.filter(col("p").isNull).agg(count(lit(1)))
    assertPushed(nullPart)
    assert(nullPart.head.getLong(0) == 100L)
    // a data-column predicate is only ever file-granular: residual
    // filter stays, aggregate must NOT push
    assertNotPushed(t.filter(col("k") < 100).agg(count(lit(1))))
    // distinct aggregates never push
    assertNotPushed(t.agg(countDistinct(col("k"))))
    // avg decomposes into pushed sum/count (Spark projects the
    // division on top), so it is ALSO metadata-answered
    val av = t.agg(avg("k").as("a"))
    assertPushed(av)
    assert(av.head.getDouble(0) ==
      spark.read.parquet(sink).agg(avg("k")).head.getDouble(0))
    // genuinely unsupported aggregate functions never push
    assertNotPushed(t.agg(stddev("k")))
    // group-by a DATA column never pushes
    assertNotPushed(t.groupBy("s").agg(count(lit(1))).limit(1))
  }

  test("deletion vectors: count stays exact via #dv cardinality, " +
    "data-column min/max refuses, partition-column variants stay " +
    "pushed; a file without stats refuses everything") {
    val root = java.nio.file.Files.createTempDirectory("agg3").toString
    val sink = mkSink(root)
    // mark some rows deleted in partition 1 (merge-on-read);
    // p = k % 4, so p=1 rows have k ≡ 1 (mod 4) — bound on k instead
    DeleteVectors.deleteWhere(spark, sink,
      col("p") === 1 && col("k") <= 200)
    val t = graftRead(sink)
    val cnt = t.agg(count(lit(1)).as("n"))
    assertPushed(cnt)
    assert(cnt.head.getLong(0) == CommitLog.read(spark, sink).count())
    // min/max over a DV'd file cannot trust raw-row bounds
    assertNotPushed(t.agg(min("k")))
    // ... but a partition-filtered min/max that keeps only clean
    // files still pushes (the DV'd files are skipped by the layout)
    val clean = t.filter(col("p") === 2).agg(min("k").as("mn"))
    assertPushed(clean)
    assert(clean.head.getLong(0) == 2L)
    // deleted keys really are gone from the ordinary scan
    assert(CommitLog.read(spark, sink)
      .filter(col("p") === 1 && col("k") <= 200).count() == 0L)
    // partition-column min/max is row-invariant, exact under DVs
    val pmx = t.agg(max("p").as("mx"), count(col("p")).as("np"))
    assertPushed(pmx)
    val oracle = CommitLog.read(spark, sink)
      .agg(max("p"), count(col("p"))).head
    assert(pmx.head == oracle)
    // append a file and do NOT analyze it: every aggregate refuses,
    // results still correct through the ordinary scan
    val one = spark.read.parquet(sink).limit(1)
      .withColumn("k", lit(9999L)).withColumn("p", lit(5))
    one.write.format("graft").mode("append")
      .option("path", sink).save()
    val t2 = graftRead(sink)
    val c2 = t2.agg(count(lit(1)).as("n"), max("k").as("mx"))
    assertNotPushed(c2)
    assert(c2.head.getLong(1) == 9999L)
  }

  test("SupportsReportStatistics: exact visible row count and a " +
    "file-bytes size reach Catalyst, and a dimension-sized graft " +
    "table broadcasts without a hint") {
    val root = java.nio.file.Files.createTempDirectory("agg4").toString
    val sink = mkSink(root)
    DeleteVectors.deleteWhere(spark, sink,
      col("p") === 0 && col("k") < 40)
    val t = graftRead(sink)
    val visible = CommitLog.read(spark, sink).count()
    val stats = t.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(visible)),
      s"expected rowCount=$visible, got ${stats.rowCount}")
    assert(stats.sizeInBytes > 0 &&
      stats.sizeInBytes < 100L * 1024 * 1024)
    // a narrow projection reports a smaller size than the full scan
    val narrow = t.select("k").queryExecution.optimizedPlan.stats
    assert(narrow.sizeInBytes < stats.sizeInBytes)
    // join planning: the graft dim's reported size is under the
    // broadcast threshold, so the join broadcasts with no hint
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val fact = spark.range(0, 10000)
        .withColumn("k", col("id") % 400)
      val joined = fact.join(t, "k")
      val hasBhj = joined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      assert(hasBhj, "graft dim under the threshold must broadcast:\n" +
        joined.queryExecution.executedPlan.toString)
      assert(joined.count() ==
        fact.join(CommitLog.read(spark, sink), "k").count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("SUM pushes from the #stats exact-sum field for integral and " +
    "decimal columns; doubles, DV'd files and overflow refuse; the " +
    "partition-valued sum stays exact under DVs") {
    val root = java.nio.file.Files.createTempDirectory("agg6").toString
    val sink = mkSink(root)
    val t = graftRead(sink)
    // integral + decimal sums push and decode exact
    val sdf = t.agg(sum("k").as("sk"), sum("dec").as("sdec"),
      count(lit(1)).as("n"))
    assertPushed(sdf)
    assert(sdf.head == spark.read.parquet(sink)
      .agg(sum("k"), sum("dec"), count(lit(1))).head)
    // grouped sums push too
    val gs = t.groupBy("p").agg(sum("k").as("sk"))
    assertPushed(gs)
    assert(gs.orderBy(col("p").asc_nulls_last).collect().toSeq ==
      spark.read.parquet(sink).groupBy("p").agg(sum("k").as("sk"))
        .orderBy(col("p").asc_nulls_last).collect().toSeq)
    // double sums are order-dependent: never recorded, never pushed
    assertNotPushed(t.agg(sum("x")))
    // the partition-valued sum is value × visible rows — exact under
    // DVs while the data-column sum refuses
    DeleteVectors.deleteWhere(spark, sink,
      col("p") === 1 && col("k") <= 200)
    val t2 = graftRead(sink)
    assertNotPushed(t2.agg(sum("k")))
    val ps = t2.agg(sum("p").as("sp"))
    assertPushed(ps)
    assert(ps.head.getLong(0) ==
      CommitLog.read(spark, sink).agg(sum("p")).head.getLong(0))
    // a sum beyond long range refuses pushdown, so overflow keeps the
    // SCAN's (ANSI) semantics: the graft read throws exactly like the
    // plain parquet read instead of silently answering the wide value
    val big = s"$root/big"
    Seq(Long.MaxValue - 1, Long.MaxValue - 2, 5L).toDF("v")
      .coalesce(1).write.parquet(big)
    CommitLog.ensureLoggedAt(fsOf(big), new Path(big))
    TableStats.analyze(spark, big, Seq("v"))
    val os = graftRead(big).agg(sum("v").as("s"))
    assertNotPushed(os)
    def overflows(f: => Any): Boolean =
      try { f; false }
      catch { case e: Exception =>
        e.toString.contains("ARITHMETIC_OVERFLOW") }
    assert(overflows(os.head))
    assert(overflows(spark.read.parquet(big).agg(sum("v")).head))
  }

  test("widen drops the column's stale pre-widen bounds in the same " +
    "commit: no misprune, no diverging pushed extremum; re-ANALYZE " +
    "restores exact pushdown through the cast") {
    val root = java.nio.file.Files.createTempDirectory("agg7").toString
    val sink = s"$root/t"
    // 0.1f is the poison value: its float shortest rendering is
    // "0.1", but read through a float→double widen it is
    // 0.10000000149…d — strictly greater than the literal 0.1d
    Seq((1L, 0.1f), (2L, 0.05f)).toDF("k", "xf")
      .coalesce(1).write.parquet(sink)
    CommitLog.ensureLoggedAt(fsOf(sink), new Path(sink))
    TableStats.analyze(spark, sink, Seq("k", "xf"))
    graft.operators.SchemaEvolve.widenColumn(spark, sink, "xf",
      "double")
    val t = graftRead(sink)
    // pruning must keep the file: with the stale bound "0.1" kept, a
    // `xf > 0.1d` conjunct would prove max <= 0.1 and skip the file
    // even though the widened scan holds 0.10000000149…
    assert(t.filter(col("xf") > 0.1d).count() == 1L)
    // extremum refuses (bounds gone with the widen commit) and the
    // fallback scan answers the true widened value
    val mx = t.agg(max("xf").as("m"))
    assertNotPushed(mx)
    val trueMax = 0.1f.toDouble
    assert(mx.head.getDouble(0) == trueMax)
    // the untouched column's bounds survive and still push
    val mk = t.agg(max("k").as("m"))
    assertPushed(mk)
    assert(mk.head.getLong(0) == 2L)
    // re-ANALYZE records bounds THROUGH the cast: pushdown returns
    // and decodes the exact double
    TableStats.analyze(spark, sink, Seq("xf"))
    val mx2 = graftRead(sink).agg(max("xf").as("m"))
    assertPushed(mx2)
    assert(mx2.head.getDouble(0) == trueMax)
  }

  test("a committed zero-row file never fabricates a group: grouped " +
    "pushdown drops zero-visible groups, the global row stays") {
    val root = java.nio.file.Files.createTempDirectory("agg8").toString
    val sink = mkSink(root)
    val fs = fsOf(sink)
    val hPath = new Path(sink)
    // stage a 0-row data file with the table's data schema and commit
    // it under a NEW partition directory with an explicit nRows=0
    // stats record — the external add-files shape (no #dv record, so
    // fullyDeleted pruning never removes it)
    val stage = s"$root/stage"
    spark.read.parquet(sink).drop("p").limit(0)
      .coalesce(1).write.parquet(stage)
    val part = fs.listStatus(new Path(stage))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val rel = "p=7/zero.parquet"
    fs.mkdirs(new Path(hPath, "p=7"))
    fs.rename(part, new Path(hPath, rel))
    val (gen, live) = CommitLog.ensureLoggedAt(fs, hPath)
    CommitLog.commitNext(fs, hPath, gen, live :+ rel,
      stats = Map(rel -> Map("k" ->
        CommitLog.ColStats("long", 0L, 0L, None, None, None))))
    val t = graftRead(sink)
    val grouped = t.groupBy("p").agg(count(lit(1)).as("n"))
    assertPushed(grouped)
    val got = grouped.collect().map(r =>
      (Option(r.get(0)), r.getLong(1))).toSet
    assert(!got.exists(_._1.contains(7)),
      s"zero-visible group p=7 must not appear: $got")
    assert(got == spark.read.parquet(sink).groupBy("p")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toSet)
    // global aggregates keep their single row — count 0 contributes
    val g = t.agg(count(lit(1)).as("n"))
    assertPushed(g)
    assert(g.head.getLong(0) == 400L)
  }

  test("partial pushdown: clean files answer from the manifest, " +
    "exactly the dirty remainder is scanned, values hash-equal to " +
    "the full recompute") {
    import graft.sources.GraftPartialAggInfo
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // AQE hides the scan behind a leaf AdaptiveSparkPlanExec —
    // descend into its current physical plan too
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case _ => Nil
      })
    def partialInfoOf(df: DataFrame): Option[GraftPartialAggInfo] =
      nodes(df.queryExecution.executedPlan).collectFirst {
        case r: RowDataSourceScanExec
          if r.relation.isInstanceOf[GraftPartialAggInfo] =>
          r.relation.asInstanceOf[GraftPartialAggInfo]
      }
    def assertPartial(df: DataFrame): GraftPartialAggInfo =
      partialInfoOf(df).getOrElse(fail(
        "expected a PARTIALLY pushed metadata aggregate in:\n" +
          df.queryExecution.executedPlan.toString))
    val root = java.nio.file.Files.createTempDirectory("agg9").toString
    val sink = mkSink(root)
    // dirty a strict subset: DVs land on partition 1's files only
    DeleteVectors.deleteWhere(spark, sink,
      col("p") === 1 && col("k") <= 200)
    val dirtyCount = latest(fsOf(sink),
      new Path(sink)).dvs.size
    assert(dirtyCount >= 1)
    val t = graftRead(sink)
    val oracle = CommitLog.read(spark, sink)
    // global min/max/sum/count over the DV'd table: complete refused
    // (round-13 behavior was a FULL scan); now partial — scan reads
    // only the DV'd files
    val g = t.agg(min("k").as("mn"), max("k").as("mx"),
      sum("k").as("sk"), count(lit(1)).as("n"),
      count(col("nv")).as("nnv"))
    assert(aggInfoOf(g).isEmpty, "must not claim COMPLETE pushdown")
    val info = assertPartial(g)
    assert(info.scannedFileCount == dirtyCount,
      s"must scan exactly the dirty files: $info")
    assert(g.head == oracle.agg(min("k"), max("k"), sum("k"),
      count(lit(1)), count(col("nv"))).head)
    // grouped partial: the DV'd partition's groups merge scan-side
    // partials with manifest-side rows for the clean partitions
    val gr = t.groupBy("p").agg(min("k").as("mn"),
      count(lit(1)).as("n"), sum("k").as("sk"))
    assertPartial(gr)
    assert(gr.orderBy(col("p").asc_nulls_last).collect().toSeq ==
      oracle.groupBy("p").agg(min("k").as("mn"),
        count(lit(1)).as("n"), sum("k").as("sk"))
        .orderBy(col("p").asc_nulls_last).collect().toSeq)
    // avg decomposes to sum+count and rides the partial tier too
    val av = t.agg(avg("k").as("a"))
    assertPartial(av)
    assert(av.head.getDouble(0) ==
      oracle.agg(avg("k")).head.getDouble(0))
    // an unanalyzed appended file is another dirty shape: count/max
    // still push partially and stay exact
    val one = spark.read.parquet(sink).limit(1)
      .withColumn("k", lit(9999L)).withColumn("p", lit(5))
    one.write.format("graft").mode("append")
      .option("path", sink).save()
    val t2 = graftRead(sink)
    val c2 = t2.agg(count(lit(1)).as("n"), max("k").as("mx"))
    val info2 = assertPartial(c2)
    assert(info2.scannedFileCount == dirtyCount + 1,
      s"dirty = DV'd files + the record-less append: $info2")
    val o2 = CommitLog.read(spark, sink)
      .agg(count(lit(1)), max("k")).head
    assert(c2.head == o2)
    // a partition-exact filter that keeps only CLEAN files still
    // prefers the complete tier
    val clean = t2.filter(col("p") === 2).agg(min("k").as("mn"))
    assert(aggInfoOf(clean).isDefined,
      "all-clean subsets must stay COMPLETELY pushed")
    // everything-dirty refuses partial too (nothing to answer from
    // metadata): fresh unanalyzed table
    val raw = s"$root/raw"
    Seq((1L, 2L), (3L, 4L)).toDF("a", "b").write.parquet(raw)
    CommitLog.ensureLoggedAt(fsOf(raw), new Path(raw))
    val rdf = spark.read.format("graft").load(raw).agg(max("a"))
    assert(aggInfoOf(rdf).isEmpty && partialInfoOf(rdf).isEmpty)
    assert(rdf.head.getLong(0) == 3L)
  }

  test("time travel aggregates against the pinned snapshot's " +
    "manifest, and an empty table answers zero") {
    val root = java.nio.file.Files.createTempDirectory("agg5").toString
    val sink = mkSink(root)
    val fs = fsOf(sink)
    val g0 = CommitLog.committed(fs, new Path(sink)).get._1
    DeleteVectors.deleteWhere(spark, sink, col("k") < 200)
    val now = graftRead(sink).agg(count(lit(1)))
    assertPushed(now)
    assert(now.head.getLong(0) == 200L)
    val asOf = spark.read.format("graft")
      .option("versionAsOf", g0).load(sink).agg(count(lit(1)))
    assertPushed(asOf)
    assert(asOf.head.getLong(0) == 400L)
    // an empty-batch V2 write commits one 0-row file with no stats:
    // the aggregate refuses (no provable row count) and the ordinary
    // scan still answers correctly
    val empty = s"$root/empty"
    Seq.empty[(Int, Long)].toDF("a", "b")
      .write.format("graft").mode("append")
      .option("path", empty).save()
    val ec = graftRead(empty).agg(count(lit(1)).as("n"),
      max("b").as("mx"))
    assertNotPushed(ec)
    val r = ec.head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }
}
