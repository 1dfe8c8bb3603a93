package graft

import graft.operators.{CommitLog, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NDV column statistics → cost-based join ordering: ANALYZE records
  * per-file approx distinct counts as the `#stats` record's tenth
  * field, the scan aggregates them into V2 column statistics
  * ([[graft.sources.GraftScan.estimateStatistics]] `columnStats`),
  * the preCBO-injected [[graft.sources.GraftStatsRule]] makes them
  * visible BEFORE the Join Reorder batch, and Spark's CBO reorders a
  * multi-join against real NDVs instead of defaults — at 100 TB the
  * difference between joining the reducing dimension first and
  * carrying the full fact width through every join. */
class NdvCboSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withConfs[A](pairs: (String, String)*)(f: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def cboConfs[A](f: => A): A = withConfs(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")(f)

  test("ANALYZE records approx NDV per (file, column); the grammar " +
    "round-trips; the scan surfaces distinctCount/nullCount as V2 " +
    "column statistics visible in attributeStats under CBO") {
    val root = java.nio.file.Files.createTempDirectory("ndv1").toString
    val sink = s"$root/t"
    spark.range(0, 20000)
      .select(($"id" % 500).as("k"),
        when($"id" % 10 === 0, lit(null).cast("long"))
          .otherwise($"id").as("v"))
      .repartition(3).write.parquet(sink)
    val fs = fsOf(sink); val hp = new Path(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("k", "v"))
    val recs = latest(fs, hp).stats
    assert(recs.nonEmpty)
    // every record carries an NDV; per-file k-NDV ≈ 500 (HLL ±5%)
    recs.values.foreach { cols =>
      val k = cols("k")
      assert(k.ndv.isDefined, "analyze must record ndv")
      assert(math.abs(k.ndv.get - 500L) <= 50L,
        s"k ndv off: ${k.ndv}")
      assert(cols("v").ndv.isDefined)
    }
    // grammar round-trip: a metadata-only commit re-serializes the
    // records; the parse must preserve sum AND ndv fields
    val (g, live) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitNext(fs, hp, g, live,
      meta = Map("prop.touch" -> "1"))
    val recs2 = latest(fs, hp).stats
    assert(recs2 == recs, "stats records must round-trip byte-stably")
    cboConfs {
      val df = spark.read.format("graft").load(sink)
        .join(spark.range(1).toDF("z"), lit(true))
      val rel = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      }.head
      val attrStats = rel.stats.attributeStats
      val kAttr = rel.output.find(_.name == "k").get
      val kStat = attrStats.get(kAttr)
      assert(kStat.exists(_.distinctCount.isDefined),
        s"k distinctCount missing from attributeStats: $attrStats")
      // the scan reports the per-file UNION BOUND (3 files × ~500
      // each overlap fully here) capped at the row count — an
      // estimate in [true ndv, rows], which is what CBO consumes
      val kNdv = kStat.get.distinctCount.get.toLong
      assert(kNdv >= 450L && kNdv <= 1650L, s"k ndv bound off: $kNdv")
      val vStat = attrStats.get(rel.output.find(_.name == "v").get)
      assert(vStat.exists(_.nullCount.exists(_ == BigInt(2000))),
        s"v nullCount must be exact: ${vStat.map(_.nullCount)}")
    }
  }

  test("CBO join reorder flips a skewed 3-table join: the selective " +
    "dimension joins FIRST once NDVs say so; without CBO the written " +
    "order stands; results identical") {
    val root = java.nio.file.Files.createTempDirectory("ndv2").toString
    val (fact, dimA, dimB) = (s"$root/f", s"$root/a", s"$root/b")
    // fact: 40k rows, both keys ndv 2000
    spark.range(0, 40000)
      .select(($"id" % 2000).as("k1"), ($"id" % 2000).as("k2"),
        $"id".as("m"))
      .repartition(2).write.parquet(fact)
    // dimA: 2000 keys → F⋈A keeps all 40k rows
    spark.range(0, 2000).select($"id".as("a_k"), ($"id" * 7).as("av"))
      .coalesce(1).write.parquet(dimA)
    // dimB: 100 keys → F⋈B keeps ~2k rows (the reducing join)
    spark.range(0, 100).select($"id".as("b_k"), ($"id" * 3).as("bv"))
      .coalesce(1).write.parquet(dimB)
    for (p <- Seq(fact, dimA, dimB)) {
      CommitLog.ensureLoggedAt(fsOf(p), new Path(p))
      TableStats.analyze(spark, p,
        spark.read.parquet(p).columns.toSeq)
    }
    def q: DataFrame = {
      val f = spark.read.format("graft").load(fact)
      val a = spark.read.format("graft").load(dimA)
      val b = spark.read.format("graft").load(dimB)
      // written order: the NON-selective dim first
      f.join(a, $"k1" === $"a_k").join(b, $"k2" === $"b_k")
        .agg(count(lit(1)).as("n"), sum($"m" + $"av" + $"bv").as("s"))
    }
    // which table feeds the INNERMOST join's right side?
    def innerRightCols(df: DataFrame): Set[String] = {
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      joins.last.right.output.map(_.name).toSet
    }
    val expected = q.collect().toSeq
    val plain = innerRightCols(q)
    assert(plain.contains("a_k"),
      s"without CBO the written order must stand: $plain")
    cboConfs {
      val flipped = innerRightCols(q)
      assert(flipped.contains("b_k"),
        s"CBO must join the reducing dimension first: $flipped")
      assert(q.collect().toSeq == expected,
        "reorder must not change results")
    }
  }
}
