package graft

import java.nio.file.{Files, Paths}

import graft.io.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  test("S1: CSV scan with explicit schema and header") {
    val dir = Files.createTempDirectory("csv").toString
    Files.writeString(Paths.get(s"$dir/data.csv"), "id,name\n1,a\n2,b\n")
    val df = Sources.csv(spark, s"$dir/data.csv", schema)
    assert(df.schema == schema)
    assert(df.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("S2: glob of hourly files is one distributed scan (implicit union)") {
    val dir = Files.createTempDirectory("glob").toString
    Files.writeString(Paths.get(s"$dir/h00.csv"), "id,name\n1,x\n")
    Files.writeString(Paths.get(s"$dir/h01.csv"), "id,name\n2,y\n")
    val df = Sources.csvGlob(spark, s"$dir/h*.csv", schema)
    assert(df.count() == 2)
  }

  test("S3: time-partitioned write/read round-trips and prunes " +
      "partitions at the scan") {
    val dir = Files.createTempDirectory("part").toString
    import spark.implicits._
    val df = (0 until 96).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-12-${25 + i % 4}%02d ${i % 24}%02d:15:00")))
      .toDF("id", "ts")
    Sources.writeTimePartitioned(df, "ts", s"$dir/t")
    val pruned = Sources.timePartitioned(spark, s"$dir/t")
      .filter(col("day") === 26)
    assert(pruned.count() == 24)
    // partition pruning is visible in the scan's partition filters:
    // only day=26 directories are listed
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("PartitionFilters") && s.contains("day"), s)
  }

  test("S10/G3: registerAll tolerates missing tables; smokeVerify probes") {
    val dir = Files.createTempDirectory("reg").toString
    import spark.implicits._
    Seq((1L, "r")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    // only region exists; the other 9 tables are missing → warn + skip
    Sources.registerAll(spark, dir)
    assert(spark.catalog.tableExists("region"))
    assert(!spark.catalog.tableExists("lineitem"))
    assert(Sources.smokeVerify(spark).isEmpty) // registered tables probe OK
  }

  test("S4: harness parquet read truncates ns timestamps to µs like DuckDB") {
    val ev = Sources.table(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(ev.limit(1).count() == 1)
  }

  test("streamShufflePartitions scales with input bytes, never the cores") {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    // fixture-sized input → floor of 1 (not the 32-core session default)
    assert(Sources.streamShufflePartitions(spark, 1L) == 1)
    assert(Sources.streamShufflePartitions(spark, advisory) == 1)
    // one advisory unit per partition, ceil semantics
    assert(Sources.streamShufflePartitions(spark, advisory + 1) == 2)
    assert(Sources.streamShufflePartitions(spark, 10 * advisory) == 10)
    // large input computes a large count regardless of local cores —
    // the anti-"tuned to local[32]" half of the contract
    assert(Sources.streamShufflePartitions(spark, 1000 * advisory) == 1000)
    // runaway inputs cap at 2^15 instead of overflowing the scheduler
    assert(Sources.streamShufflePartitions(spark,
      Long.MaxValue - advisory) == (1 << 15))
    // overflow guard: inputs within `advisory` of Long.MaxValue must
    // hit the cap, not wrap negative into the 1-partition floor
    assert(Sources.streamShufflePartitions(spark,
      Long.MaxValue) == (1 << 15))
    assert(Sources.streamShufflePartitions(spark,
      Long.MaxValue - 1) == (1 << 15))
  }

  test("sizedForWrite right-sizes staged output by bytes, never the " +
    "session task count") {
    import org.apache.spark.sql.functions.col
    // a fixture-sized scan splits into many leaf tasks on a many-core
    // session; the write-side frame must coalesce to the byte-derived
    // count (floor 1), so a tiny append stages ONE file, not one per
    // core
    val tiny = Sources.table(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"))
    assert(Sources.sizedForWrite(tiny).rdd.getNumPartitions == 1)
    // coalesce never INCREASES parallelism: a frame whose size
    // estimate is unknown (defaultSizeInBytes) hits the 2^15 cap and
    // passes through with its own partitioning
    val opaque = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)),
        3),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType))))
    assert(Sources.sizedForWrite(opaque).rdd.getNumPartitions == 3)
  }

  test("sizedForWrite never narrows a frame's input partitions more " +
    "than MaxWriteShrink-fold, however low the size estimate") {
    // 64 range slices projected to 100 KB strings: Catalyst sizes the
    // projection by the string type's default width (tens of KB in
    // all), while the rows hold ~100 MB — the byte rule alone would
    // coalesce the whole projection into one task
    val wide = spark.range(0, 1000, 1, 64)
      .selectExpr("repeat('x', 100000) AS s")
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes <
      spark.sessionState.conf.getConf(org.apache.spark.sql.internal
        .SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    assert(Sources.sizedForWrite(wide).rdd.getNumPartitions ==
      64 / Sources.MaxWriteShrink)
  }

  test("withShufflePartitions scopes the override and always restores") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = Sources.withShufflePartitions(spark, 3) {
      spark.conf.get(key)
    }
    assert(inside == "3")
    assert(spark.conf.get(key) == before)
    // restores on failure too (the streaming run may throw)
    intercept[RuntimeException] {
      Sources.withShufflePartitions(spark, 5) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == before)
  }

  test("table reuses an input's schema until its files change; " +
    "concurrent first reads infer one schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Sources.table(spark, dir, "t").schema.fieldNames.toSeq ==
      Seq("id", "name"))
    // a rewrite with a different schema is seen by the next read
    Seq((2L, 3.5, "b")).toDF("id", "score", "name").write
      .mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Sources.table(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq == Seq("id", "score", "name"))
    assert(again.collect().map(r => (r.getLong(0), r.getDouble(1),
      r.getString(2))).toSeq == Seq((2L, 3.5, "b")))
    // two concurrent first reads of a fresh path
    Seq((4L, "d")).toDF("id", "name").write.parquet(s"$dir/u.parquet")
    val reads = graft.operators.Publish.concurrently(Seq(1, 2)) { _ =>
      Sources.table(spark, dir, "u").schema
    }
    assert(reads.distinct.size == 1 &&
      reads.head.fieldNames.toSeq == Seq("id", "name"))
  }
}
