package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Declared HASH BUCKETING for graft tables — the storage layout that
  * lets two 100-TB fact tables join with ZERO exchanges
  * (storage-partitioned joins, Iceberg's `bucket(n, col)` transform;
  * the reference's warehouse gets the same effect from BigQuery
  * clustered tables, `dags/idh_etl.py:247-256`).
  *
  * The declaration is two `#meta` records:
  *
  *   - `bucket.cols` — the bucketing column (one column, the join
  *     key);
  *   - `bucket.n`    — the bucket count.
  *
  * Writers ([[graft.sources.GraftWriter]], and [[Compact]]'s
  * bin-packing rewrite) route every row to bucket
  * `pmod(hash(col), n)` (Spark's Murmur3, seed 42 — identical to
  * `functions.hash`) and stamp the bucket id into the FILE NAME
  * (`b00003-<uuid>.parquet`), never the directory — hive partition
  * discovery and every path-derived surface (partition pruning,
  * `#stats` keys, DV bindings) are untouched. A reader can therefore
  * recover each file's bucket with zero I/O, which is exactly what
  * [[graft.sources.GraftScanBuilder]] needs to plan a V2 batch scan
  * reporting `KeyGroupedPartitioning(bucket(n, col))`: Spark's
  * storage-partitioned join machinery then co-locates matching
  * buckets of two graft tables without a shuffle on either side.
  *
  * INVARIANT (all-or-nothing, like the `#ann` index): the bucketed
  * scan plans only when EVERY live file carries a conforming bucket
  * name. A writer that cannot route (row-level MERGE/UPDATE deltas,
  * operator-API appends that bypass [[graft.sources.GraftWriter]])
  * would silently break co-location — so [[CommitLog.commitNext]]
  * guards the declaration itself: any commit adding a non-conforming
  * data file DROPS the declaration in the same atomic commit and
  * records why under `bucket.dropped` (loud, durable, inspectable via
  * DESCRIBE DETAIL / SHOW TBLPROPERTIES — never a silent perf cliff).
  * Re-declare after a `CALL system.rebucket`-style rewrite
  * ([[Compact.compactSinkCols]] preserves routing, so compaction
  * never drops it). */
object Bucketing {

  val ColsKey = "bucket.cols"
  val NKey = "bucket.n"
  val DroppedKey = "bucket.dropped"

  /** The staging-only routing column writers partition by before the
    * move-in ([[CommitLog.stageIn]]) folds it into the file-name
    * prefix. Reserved: a data column of this name would collide with
    * the router. */
  val StageCol = "__graft_bucket"

  private val FileRe = """^b(\d{5})-""".r

  /** The declared (bucket column, bucket count), if any. */
  def specOf(meta: Map[String, String]): Option[(String, Int)] =
    for {
      c <- meta.get(ColsKey).map(_.trim).filter(_.nonEmpty)
      n <- meta.get(NKey).flatMap(_.trim.toIntOption).filter(_ > 0)
    } yield (c, n)

  /** The bucket id a committed file's NAME carries, or None for a
    * non-conforming (unrouted) file. Zero I/O — pure string work on
    * the manifest-relative path. */
  def bucketIdOf(rel: String): Option[Int] = {
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    FileRe.findFirstMatchIn(name).map(_.group(1).toInt)
  }

  /** Whether a file conforms to an `n`-bucket layout. */
  def conforms(rel: String, n: Int): Boolean =
    bucketIdOf(rel).exists(_ < n)

  /** The routing expression — MUST stay identical to the V2 bucket
    * function ([[graft.sources.GraftBucketFunction]]): Murmur3 seed
    * 42 (`functions.hash`), positive modulo. */
  def bucketExpr(c: String, n: Int): Column = pmod(hash(col(c)), lit(n))

  /** Declare bucketing on an EMPTY table (freshly created, or
    * truncated): one metadata commit carrying the two records. A
    * non-empty table would instantly violate the all-files-conform
    * invariant (its existing files are unrouted), so it refuses —
    * rewrite through a truncating re-write first. */
  def declare(spark: SparkSession, path: String, column: String,
              n: Int): Long = {
    require(n > 0 && n <= 100000,
      s"bucketing: bucket count $n out of range (1..100000 — the " +
        "file-name prefix is 5 digits)")
    require(column.nonEmpty && !column.contains(","),
      s"bucketing: exactly one bucket column (got '$column')")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, live) = CommitLog.ensureLoggedAt(fs, hPath)
    require(live.isEmpty || live.forall(conforms(_, n)),
      s"bucketing: $path has ${live.count(!conforms(_, n))} " +
        "unrouted live file(s) — bucketing can only be declared on " +
        "an empty table (or one whose files already conform); " +
        "truncate-rewrite first")
    CommitLog.commitNext(fs, hPath, gen, live, meta = Map(
      ColsKey -> column, NKey -> n.toString, DroppedKey -> ""))
  }

  /** RESTORE the bucket layout after a loud drop (or declare it on a
    * table that already has data): commits the declaration, then
    * truncate-rewrites the CURRENT visible rows through the routing
    * writer — every file conforms, the old generation stays
    * time-travel readable, checks/properties carry. Between the
    * declaration commit and the rewrite the scan simply falls back
    * (the all-or-nothing eligibility makes the interim state sound).
    * Cost ∝ table size — this IS a rewrite; at 100 TB it is the same
    * one-time layout investment `bucketBy` ingest pays, which every
    * subsequent fact-fact join then never shuffles for. Returns the
    * committed generation. */
  def rebucket(spark: SparkSession, path: String, column: String,
               n: Int): Long = {
    require(n > 0 && n <= 100000,
      s"bucketing: bucket count $n out of range (1..100000)")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, live) = CommitLog.ensureLoggedAt(fs, hPath)
    val rows = CommitLog.read(spark, path)
    require(rows.columns.contains(column),
      s"bucketing: no column '$column' at $path")
    CommitLog.commitNext(fs, hPath, gen, live, meta = Map(
      ColsKey -> column, NKey -> n.toString, DroppedKey -> ""))
    rows.write.format("graft").mode("overwrite")
      .option("path", path).save()
    CommitLog.committed(fs, hPath).map(_._1).getOrElse(-1L)
  }

  /** The guard [[CommitLog.commitNext]] applies to every commit: if
    * the (merged) metadata declares bucketing but any NEWLY ADDED
    * data file does not conform, the declaration is dropped in this
    * same commit and the reason recorded — the loud-drop half of the
    * preserve-or-drop contract. Returns the metadata to commit. */
  private[operators] def guardMeta(meta: Map[String, String],
                                   baseFiles: Set[String],
                                   files: Seq[String])
  : Map[String, String] =
    specOf(meta) match {
      case Some((_, n)) =>
        val rogue = files.filterNot(baseFiles)
          .filterNot(conforms(_, n))
        if (rogue.isEmpty) meta
        else meta ++ Map(
          ColsKey -> "", NKey -> "",
          DroppedKey -> (s"declaration dropped: ${rogue.size} " +
            s"added file(s) not bucket-routed (first: ${
              rogue.head}) — re-declare after a bucket-routed rewrite"))
      case None => meta
    }
}
