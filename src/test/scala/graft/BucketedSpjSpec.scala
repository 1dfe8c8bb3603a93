package graft

import graft.operators.{Bucketing, CommitLog, Compact}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Storage-partitioned joins over declared bucket layouts
  * ([[graft.operators.Bucketing]], [[graft.sources.GraftBucketedScan]],
  * [[graft.sources.GraftBucketFunction]]): two graft tables bucketed
  * `(n, key)` join with ZERO exchanges, results identical to the
  * shuffled join; writers/compaction preserve routing; a commit that
  * cannot route drops the declaration loudly. */
class BucketedSpjSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def initCatalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
  }

  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.SparkPlan] =
    (p +: p.children.flatMap(nodes)) ++ (p match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
        .QueryStageExec => nodes(q.plan)
      case _ => Nil
    })

  private def shuffles(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case _: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => true
      case _ => false
    }

  private def bucketedScans(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec =>
        b.scan.isInstanceOf[graft.sources.GraftBucketedScan]
      case _ => false
    }

  private def withConfs[A](pairs: (String, String)*)(f: => A): A = {
    val olds = pairs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def spjConfs[A](f: => A): A = withConfs(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")(f)

  test("the V2 bucket function is value-identical to the writer's " +
    "routing expression over every supported key type (nulls, " +
    "negatives, unicode included)") {
    import org.apache.spark.sql.types._
    val n = 7
    def viaExpr(df: DataFrame): Seq[Any] =
      df.withColumn("b", Bucketing.bucketExpr("k", n))
        .select("b").collect().map(_.getInt(0)).toSeq
    def viaFunc(dt: DataType, vs: Seq[Any]): Seq[Any] = {
      val f = graft.sources.GraftBoundBucket(dt)
      vs.map { v =>
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](n, v))
        f.produceResult(row).intValue
      }
    }
    val longs = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue)
    assert(viaExpr(longs.toDF("k")) ==
      viaFunc(LongType, longs.map(x => x: Any)))
    val ints = Seq(0, 5, -7, Int.MaxValue, Int.MinValue)
    assert(viaExpr(ints.toDF("k")) ==
      viaFunc(IntegerType, ints.map(x => x: Any)))
    val strs = Seq("", "a", "zażółć", "NOT SPECIFIED", "x" * 100)
    assert(viaExpr(strs.toDF("k")) == viaFunc(StringType,
      strs.map(org.apache.spark.unsafe.types.UTF8String.fromString)))
    // null routes to pmod(seed, n) on both sides
    val nullDf = Seq[Option[Long]](None).toDF("k")
    assert(viaExpr(nullDf) == viaFunc(LongType, Seq(null)))
  }

  test("two graft tables bucketed (8, k) storage-partition-join with " +
    "ZERO exchanges; rows match the shuffled join exactly; pruning " +
    "and DVs compose") {
    val root = java.nio.file.Files.createTempDirectory("spj1").toString
    initCatalog("spj1", root)
    spark.sql("CREATE NAMESPACE spj1.db")
    spark.sql("CREATE TABLE spj1.db.a (k BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE spj1.db.b (k BIGINT, w STRING) " +
      "USING graft PARTITIONED BY (bucket(8, k))")
    spark.range(0, 1000).select($"id".as("k"), ($"id" * 3).as("v"))
      .repartition(4)
      .writeTo("spj1.db.a").append()
    spark.range(0, 1000, 2)
      .select($"id".as("k"), concat(lit("w"), $"id").as("w"))
      .repartition(3)
      .writeTo("spj1.db.b").append()
    // every committed file carries its bucket id in the NAME
    for (t <- Seq("a", "b")) {
      val (_, live) = CommitLog.ensureLoggedAt(
        fsOf(s"$root/db/$t"), new Path(s"$root/db/$t"))
      assert(live.nonEmpty && live.forall(Bucketing.conforms(_, 8)),
        s"unrouted files in $t: $live")
    }
    val q = "SELECT a.k, a.v, b.w FROM spj1.db.a a " +
      "JOIN spj1.db.b b ON a.k = b.k"
    val expected = spark.range(0, 1000, 2)
      .select($"id".as("k"), ($"id" * 3).as("v"),
        concat(lit("w"), $"id").as("w"))
      .orderBy("k").collect().toSeq
    spjConfs {
      val df = spark.sql(q)
      assert(bucketedScans(df) == 2,
        s"expected both sides bucketed:\n${
          df.queryExecution.executedPlan}")
      assert(shuffles(df) == 0,
        s"expected a zero-exchange storage-partitioned join:\n${
          df.queryExecution.executedPlan}")
      assert(df.orderBy("k").collect().toSeq == expected)
      // a filter composes: pruning + SPJ, still zero exchanges
      val f = spark.sql(q + " WHERE a.k < 100")
      assert(shuffles(f) == 0)
      assert(f.count() == 50)
    }
    // the shuffled fallback (v2 bucketing off) returns the same rows
    assert(spark.sql(q).orderBy("k").collect().toSeq == expected)
    // merge-on-read DELETE: DV'd files stay SPJ-eligible (in-reader
    // anti-apply), rows drop exactly
    spark.sql("DELETE FROM spj1.db.a WHERE k % 10 = 4")
    spjConfs {
      val df = spark.sql(q)
      assert(shuffles(df) == 0 && bucketedScans(df) == 2)
      assert(df.count() == expected.size -
        expected.count(_.getLong(0) % 10 == 4))
    }
    // row-level UPDATE routes its post-image rows to bucket files —
    // the declaration SURVIVES DML and SPJ keeps serving
    spark.sql("UPDATE spj1.db.a SET v = v + 1 WHERE k = 2")
    val aPath = s"$root/db/a"
    val (_, liveAfter) = CommitLog.ensureLoggedAt(
      fsOf(aPath), new Path(aPath))
    assert(liveAfter.forall(Bucketing.conforms(_, 8)),
      s"DML delta files must bucket-route: $liveAfter")
    assert(Bucketing.specOf(latest(
      fsOf(aPath), new Path(aPath)).meta).contains(("k", 8)),
      "the declaration must survive row-level DML")
    spjConfs {
      val df = spark.sql(q)
      assert(shuffles(df) == 0 && bucketedScans(df) == 2,
        s"SPJ must serve after DML:\n${df.queryExecution.executedPlan}")
      assert(df.filter(col("k") === 2).head.getLong(1) == 7L)
    }
  }

  test("compaction preserves bucket routing (SPJ survives); a commit " +
    "adding an unrouted file drops the declaration LOUDLY in the " +
    "same commit and the scan falls back — same rows either way") {
    val root = java.nio.file.Files.createTempDirectory("spj2").toString
    initCatalog("spj2", root)
    spark.sql("CREATE NAMESPACE spj2.db")
    spark.sql("CREATE TABLE spj2.db.a (k BIGINT, v BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE spj2.db.d (k BIGINT, w BIGINT) " +
      "USING graft PARTITIONED BY (bucket(4, k))")
    // many small appends → many files per bucket
    for (i <- 0 until 4)
      spark.range(i * 100, (i + 1) * 100)
        .select($"id".as("k"), ($"id" + 1).as("v"))
        .writeTo("spj2.db.a").append()
    spark.range(0, 400).select($"id".as("k"), ($"id" * 2).as("w"))
      .writeTo("spj2.db.d").append()
    val aPath = s"$root/db/a"
    val (beforeN, afterN) = Compact.compactSink(spark, aPath,
      targetBytes = 512L * 1024 * 1024)
    assert(afterN < beforeN, s"compaction no-opped ($beforeN)")
    val fs = fsOf(aPath); val hp = new Path(aPath)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.forall(Bucketing.conforms(_, 4)),
      s"compaction lost bucket routing: $live")
    assert(Bucketing.specOf(latest(fs, hp).meta).nonEmpty,
      "compaction must preserve the declaration")
    val q = "SELECT a.k, a.v, d.w FROM spj2.db.a a " +
      "JOIN spj2.db.d d ON a.k = d.k"
    spjConfs {
      val df = spark.sql(q)
      assert(shuffles(df) == 0 && bucketedScans(df) == 2)
      assert(df.count() == 400)
    }
    // foreign commit: an unrouted file lands via the operator API —
    // the SAME commit drops the declaration and records why
    val extraSrc = java.nio.file.Files
      .createTempDirectory("spj2x").toString + "/p"
    Seq((9999L, 1L)).toDF("k", "v").coalesce(1).write.parquet(extraSrc)
    val part = fs.listStatus(new Path(extraSrc))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(hp, "extra-unrouted.parquet"))
    val (gen, liveNow) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, gen, liveNow,
      Seq("extra-unrouted.parquet"))
    val meta = latest(fs, hp).meta
    assert(Bucketing.specOf(meta).isEmpty,
      "declaration must drop when an unrouted file lands")
    assert(meta.get(Bucketing.DroppedKey).exists(
      _.contains("extra-unrouted.parquet")),
      s"drop must be recorded loudly: $meta")
    spjConfs {
      val df = spark.sql(q)
      // d keeps its (intact) declaration; a must no longer plan one
      assert(bucketedScans(df) <= 1,
        "dropped declaration must not plan a bucketed scan")
      assert(df.count() == 400) // rows stay correct on the fallback
      assert(spark.table("spj2.db.a").count() == 401)
    }
    // re-declare refuses while unrouted files are live
    intercept[IllegalArgumentException] {
      Bucketing.declare(spark, aPath, "k", 4)
    }
    // the RECOVERY verb: rebucket truncate-rewrites the visible rows
    // through the routing writer — declaration restored, every file
    // conforms, SPJ serves again, rows unchanged
    spark.sql("CALL spj2.system.rebucket('db.a', 'k', 4)")
    val (_, live2) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live2.nonEmpty && live2.forall(Bucketing.conforms(_, 4)),
      s"rebucket must route every file: $live2")
    assert(Bucketing.specOf(latest(fs, hp).meta)
      .contains(("k", 4)))
    spjConfs {
      val df = spark.sql(q)
      assert(shuffles(df) == 0 && bucketedScans(df) == 2,
        s"SPJ must serve after rebucket:\n${
          df.queryExecution.executedPlan}")
      assert(df.count() == 400)
      assert(spark.table("spj2.db.a").count() == 401)
    }
  }

  test("path-based declare() + format writes route buckets; a " +
    "path-based read (no function catalog) still answers correctly " +
    "via the shuffled fallback") {
    val root = java.nio.file.Files.createTempDirectory("spj3").toString
    val sink = s"$root/t"
    // declare on an empty CREATE'd sink, then write through the format
    val fs = fsOf(sink); val hp = new Path(sink)
    fs.mkdirs(hp)
    val (g0, _) = CommitLog.ensureLoggedAt(fs, hp)
    // a bare sink created outside the catalog declares its schema the
    // same way CREATE TABLE does — the `#meta` bootstrap record
    CommitLog.commitNext(fs, hp, g0, Nil,
      meta = Map("schema.ddl" -> "k BIGINT, v BIGINT"))
    Bucketing.declare(spark, sink, "k", 6)
    spark.range(0, 300).select($"id".as("k"), ($"id" % 5).as("v"))
      .write.format("graft").mode("append").save(sink)
    val (_, live) = CommitLog.ensureLoggedAt(fs, hp)
    assert(live.nonEmpty && live.forall(Bucketing.conforms(_, 6)))
    val df = spark.read.format("graft").load(sink)
    assert(df.count() == 300)
    assert(df.agg(sum("k")).head.getLong(0) == 299L * 300 / 2)
  }
}
