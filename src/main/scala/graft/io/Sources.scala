package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

import scala.util.{Failure, Success, Try}

/** Table access over the harness parquet layout (`TESTDATA.md`):
  * one parquet directory/file per table under `sfDir`.
  *
  * Scale notes: at 100 TB each `table()` call is a partitioned columnar
  * scan — predicate pushdown and column pruning happen because callers
  * compose `select`/`filter` on the returned lazy DataFrame (never
  * `.cache()` here). Reference equivalents: the CSV/DuckDB loaders at
  * `src/gtfs.py:22`, `src/delays.py:23`, `src/vehicles.py:10`,
  * `src/weather.py:136` in jakublaba/idh-etl-demo.
  */
object Sources {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet columns stored as TIMESTAMP(NANOS) — Spark has no ns-precision
    * timestamp type, so these are read as raw ns longs
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncated to µs here,
    * exactly matching DuckDB's ns→µs truncation on read. */
  private val nanosColumns: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** Session confs for reading harness parquet, set-if-needed (an
    * unconditional set on every call churns the session conf, and
    * anything keyed on its version, once per scan):
    *   - `nanosAsLong`: TIMESTAMP(NANOS) columns (which Spark cannot
    *     represent) surface as raw ns longs for [[normalizeNsTs]];
    *   - NTZ inference OFF: harness generations that store naive
    *     (isAdjustedToUTC=false) µs timestamps must read as
    *     TimestampType — the engine's timestamp surface, and the type
    *     that matches the DuckDB oracle's naive TIMESTAMP bit-for-bit
    *     under a UTC session — not TIMESTAMP_NTZ. */
  def harnessReadConf(spark: SparkSession): Unit = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
        "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
        "true") != "false")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  /** Normalize a possibly-TIMESTAMP(NANOS) column: when the harness
    * generation stored ns (read as raw longs under `nanosAsLong`), the
    * value is truncated to µs exactly as DuckDB truncates on read;
    * µs-timestamp generations pass through untouched. */
  def normalizeNsTs(df: DataFrame, c: String): DataFrame =
    if (df.schema.fieldNames.contains(c) &&
        df.schema(c).dataType == org.apache.spark.sql.types.LongType)
      // integer `div`, not `/`: ns epochs (~1.7e18) exceed double's exact
      // integer range, so float division would corrupt the microseconds
      df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
    else df

  /** Lazy parquet scan for one table. The first read of a path infers
    * its schema (one footer job); later reads in the same session reuse
    * that SCHEMA — never rows or plans — while the path's leaf files
    * are unchanged, keyed by the path and the read confs and judged by
    * each leaf file's name, length and modification time (one listing,
    * no job). A rewritten input infers again. Concurrent first reads of
    * one path infer once. The memo holds [[SchemaMemoSize]] paths per
    * session and dies with the session. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    harnessReadConf(spark)
    val df = memoizedRead(spark, s"$dir/$name.parquet")
    nanosColumns.getOrElse(name, Nil).foldLeft(df)(normalizeNsTs)
  }

  /** Paths whose inferred schema one session keeps. */
  val SchemaMemoSize = 256

  /** One path's inferred schema and the leaf files it was inferred
    * from; the cell is the lock its inference runs under. */
  private final class SchemaCell {
    var files: Seq[(String, Long, Long)] = Nil
    var schema: StructType = _
  }

  /** Per session (weakly held): path + read confs → schema cell, LRU. */
  private val schemaMemos =
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[(String, String, String), SchemaCell]]

  private def schemaCell(spark: SparkSession,
                         key: (String, String, String)): SchemaCell =
    schemaMemos.synchronized {
      val memo = schemaMemos.computeIfAbsent(spark, _ =>
        new java.util.LinkedHashMap[(String, String, String), SchemaCell](
            16, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[
              (String, String, String), SchemaCell]): Boolean =
            size() > SchemaMemoSize
        })
      memo.computeIfAbsent(key, _ => new SchemaCell)
    }

  /** (name, length, mtime) of every file under `path`, sorted; empty
    * when the path does not exist (the read then fails as before). */
  private def leafFiles(spark: SparkSession,
                        path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: org.apache.hadoop.fs.FileStatus)
    : Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try fs.listStatus(p).toSeq.flatMap(walk).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  private def memoizedRead(spark: SparkSession, path: String): DataFrame = {
    val key = (path,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", ""),
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", ""))
    val files = leafFiles(spark, path)
    val cell = schemaCell(spark, key)
    cell.synchronized {
      if (cell.schema != null && cell.files == files)
        spark.read.schema(cell.schema).parquet(path)
      else {
        val df = spark.read.parquet(path)
        cell.files = files
        cell.schema = df.schema
        df
      }
    }
  }

  /** CSV scan with explicit schema (S1) — explicit StructType rather than
    * inference: inference costs an extra pass over 100 TB and is a
    * correctness hazard (reference defensively re-casts inferred dtypes,
    * `src/queries.py:80-81`). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).schema(schema).csv(path)

  /** Multi-file scan + implicit union (S2): a directory/glob of hourly
    * files is one distributed scan, not a driver-side concat loop
    * (reference: `src/delays.py:11-24`, `src/weather.py:124-142`). */
  def csvGlob(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(glob)

  /** Write a frame hive-partitioned by calendar columns derived from a
    * timestamp — the Spark-native form of the reference's
    * `data/<src>/YYYY/MM/DD/` object layout (`src/blob_storage.py:23-44`,
    * `src/gtfs.py:21`). Readers that filter on year/month/day/hour then
    * list only matching directories (S3 partition pruning). */
  def writeTimePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("year", org.apache.spark.sql.functions.year(
        org.apache.spark.sql.functions.col(tsCol)))
      .withColumn("month", org.apache.spark.sql.functions.month(
        org.apache.spark.sql.functions.col(tsCol)))
      .withColumn("day", org.apache.spark.sql.functions.dayofmonth(
        org.apache.spark.sql.functions.col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("year", "month", "day").parquet(path)

  /** Read a time-partitioned layout written by [[writeTimePartitioned]]
    * (or any hive-style `year=/month=/day=` tree). Compose `.filter` on
    * the partition columns — pruning shows up as `PartitionFilters` on
    * the scan, and non-matching days are never listed or read. This is
    * the production S3 path; the reference's driver-side prefix listing
    * + chronological iteration (`blob_storage.py:23-44`) collapses into
    * the catalog's partition discovery. */
  def timePartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Register every harness table as a temp view (the Spark analog of the
    * reference's shard-merge into one DuckDB catalog,
    * `dags/idh_etl.py:139-164` — one SparkSession = one catalog, S6). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { n =>
      Try(table(spark, dir, n)) match {
        case Success(df) => df.createOrReplaceTempView(n)
        case Failure(e)  => // missing-shard tolerance (G3): warn + continue
          System.err.println(s"[sources] skip $n: ${e.getMessage}")
      }
    }

  /** Catalog smoke verification (S10): `limit 1` probe per registered table
    * (reference `dags/idh_etl.py:166-178`). Returns tables that failed. */
  def smokeVerify(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter { t =>
      Try(spark.table(t).limit(1).collect()).isFailure
    }

  /** Total byte size of a data path (file or directory, recursive) —
    * the input-size signal [[streamShufflePartitions]] scales from.
    * One driver-side fs call; manifest-free paths only (the graft
    * format's own scans report exact sizes through the V2 stats). */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Scale-adaptive shuffle-partition count for a STATEFUL streaming
    * run. Stateful operators pin one state store per shuffle partition
    * per micro-batch, and — unlike batch shuffles — AQE cannot coalesce
    * them (stateful exchanges are excluded from adaptive execution), so
    * `spark.sql.shuffle.partitions` left at the session default is a
    * constant tuned to the CLUSTER, not the data: a fixture-sized
    * replay on local[32] pays 32 state-store open/commit/checkpoint
    * lifecycles per stateful operator per micro-batch (measured on
    * q159_stream_pairs: 342.7 s of cumulative task time at 32 state
    * partitions vs 13.4 s at 8 — the store lifecycle, not the data,
    * was the cost), while a 100 TB/day feed would WANT thousands.
    * Derive the count from the stream's input bytes against the
    * session's advisory partition size (the same size signal AQE's
    * batch coalescing targets): ceil(bytes / advisory), floor 1, cap
    * 2^15. Deliberately NOT capped at the core count — a large input
    * computes a large count regardless of the local machine. */
  def streamShufflePartitions(spark: SparkSession, inputBytes: Long): Int =
    sizeDerivedPartitions(spark, BigInt(inputBytes))

  /** ceil(bytes / advisory), floor 1, cap 2^15 — the shared formula
    * behind [[streamShufflePartitions]] and [[sizedForWrite]]. BigInt
    * ceil division: the additive `(b + a - 1) / a` form overflowed
    * Long for inputs within `advisory` of Long.MaxValue, returning the
    * 1-partition floor for exactly the largest inputs. */
  private def sizeDerivedPartitions(spark: SparkSession,
                                    bytes: BigInt): Int = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val n = (bytes + advisory - 1) / advisory
    n.max(1).min(1 << 15).toInt
  }

  /** Scale-adaptive OUTPUT sizing for a sink write (guide §2.2/§6):
    * coalesce the batch so the number of staged files follows the
    * batch's BYTES (ceil(estimate / advisoryPartitionSizeInBytes),
    * floor 1, cap 2^15), never the session's task count. Without this
    * every flat graft write landed one file per leaf task — and leaf
    * scan splitting targets `spark.sql.files.minPartitionNum` ≈ the
    * CORE count, so a fixture-sized append on local[32] staged 32 tiny
    * files, each billing a create+fsync+rename at staging AND a rename
    * at move-in plus a manifest entry (the per-core fs-op overhead that
    * made the write family 1.4–5.6× FASTER at 8 cores than 32), while
    * at 100 TB the same constant under-parallelizes. `coalesce` never
    * increases the partition count and inserts no shuffle, so the
    * plan's compute shape is untouched when the estimate says the
    * batch is already right-sized; frames whose size Catalyst cannot
    * estimate (e.g. rewrapped micro-batches, which report
    * `defaultSizeInBytes`) hit the cap and pass through unchanged.
    * The estimate is Catalyst's, and one that undershoots (after a
    * filter or join) would also coalesce the narrow stages upstream of
    * the write down to a few tasks — so the count never falls below
    * the frame's input partition count / [[MaxWriteShrink]]: a bad
    * estimate costs file size, not stage parallelism. Results are
    * layout-independent — file counts change, rows never do. */
  def sizedForWrite(df: DataFrame): DataFrame =
    df.coalesce(sizeDerivedPartitions(df.sparkSession,
      df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .max(ceilDiv(inputPartitions(df.queryExecution.sparkPlan),
        MaxWriteShrink)))

  /** The most [[sizedForWrite]] narrows a frame's input parallelism. */
  val MaxWriteShrink = 16

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** The partitions a physical plan reads its inputs in, known before
    * it runs: file-scan splits, range slices and RDD partitions, summed
    * over a union and the widest input of any other operator; 1 for an
    * input whose count it cannot learn without running something. */
  private def inputPartitions(plan: org.apache.spark.sql.execution
      .SparkPlan): Int = {
    import org.apache.spark.sql.execution._
    plan match {
      case s: FileSourceScanExec =>
        // a runtime-filtered scan's splits wait on its subqueries
        Try(s.inputRDD.getNumPartitions).getOrElse(1)
      case r: RangeExec => r.numSlices
      case r: RDDScanExec => r.inputRDD.getNumPartitions
      case r: ExternalRDDScanExec[_] => r.rdd.getNumPartitions
      case u: UnionExec => u.children.map(inputPartitions).sum
      case p if p.children.nonEmpty => p.children.map(inputPartitions).max
      case _ => 1
    }
  }

  /** DataFrameWriter for graft-INTERNAL writes (staging dirs, logged
    * sinks, index sidecars): suppresses the job-level `_SUCCESS`
    * marker — the commit log's manifest IS the completion marker for
    * every graft surface, and nothing in the engine reads the flag
    * file, so its create (+ checksum sidecar on local filesystems,
    * + PUT on object stores) is one pure wasted fs op per write
    * (guide §6: per-op costs dominate small writes). User-facing
    * writes through public Spark APIs are untouched. */
  def internalWriter(df: DataFrame)
  : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.option(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Run `f` (a bounded streaming start + awaitTermination) with
    * `spark.sql.shuffle.partitions` set to `n`, restoring the previous
    * value after. The conf is read by the stream at query start and
    * pinned into its checkpoint's offset metadata, so the override must
    * cover the whole run; batch plans evaluated after the restore are
    * unaffected (and batch shuffles stay AQE-coalesced either way).
    * Results are partitioning-independent — every caller is a keyed
    * aggregation/join whose content does not depend on the layout.
    *
    * CONSTRAINTS (scope of validity):
    *   - single-threaded sessions only: the override mutates the
    *     session-wide conf for the duration of `f`, so a concurrent
    *     query started on the same SparkSession inside that window
    *     would silently inherit the stream-sized value (and
    *     interleaved calls could restore a stale one). Every caller in
    *     this repo runs its bounded replay on the session's only
    *     thread; a multi-tenant deployment should run the override on
    *     a cloned session (`spark.newSession()` isolates SQLConf while
    *     sharing the state-store coordinator).
    *   - bounded (AvailableNow/replay) runs only: a STANDING stream
    *     pins the count into its checkpoint forever, so deriving it
    *     from the first trigger's input would lock a backfill-sized
    *     layout for the stream's life — floor an unbounded stream at a
    *     deployment minimum instead of calling this with a first-batch
    *     estimate. */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** [[withShufflePartitions]] with the count derived from an input
    * path's size — the one-line form the streaming queries use. */
  def withStreamPartitionsFor[A](spark: SparkSession, inputPath: String)
                                (f: => A): A =
    withShufflePartitions(spark,
      streamShufflePartitions(spark, pathBytes(spark, inputPath)))(f)

  /** Recursive local-path delete for scratch staging/sink directories
    * (deepest-first, tolerant of already-missing entries). Runs inside
    * `finally` blocks, so it must never mask the primary exception: any
    * IO failure is logged and swallowed, and the walk stream is closed
    * deterministically (not left to GC). A failed cleanup only leaks
    * scratch space under java.io.tmpdir. */
  def deleteRecursively(root: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq.reverseIterator
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[sources] cleanup of $root failed: $e")
    }
}
