package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Small-file compaction for append-only parquet sinks — the maintenance
  * operator the partitioned publish path ([[Upsert.upsertParquet]])
  * eventually needs: every batch appends at least one file per touched
  * partition, so an hourly publish grows a day's partition to ~24 small
  * files, and parquet scan cost at 100 TB is driven by file count
  * (footer reads, task scheduling) as much as bytes. Compaction
  * rewrites the sink to ~`targetBytes` files, preserving rows exactly —
  * the same role OPTIMIZE plays for table formats.
  *
  * Semantics and limits (deliberately explicit):
  *   - rows are preserved (same values; order within the sink is
  *     unspecified, as for any parquet table). A partitioned sink's
  *     DIRECTORY NAMES are preserved verbatim: the rewrite reads the
  *     partition column as STRING (no type inference), so `day=007`
  *     stays `day=007` instead of being re-inferred to int 7 and
  *     rewritten as `day=7`; downstream readers re-infer from the
  *     unchanged names exactly as before;
  *   - already-compacted sinks no-op: the target file count for a
  *     partitioned sink is at least one file per partition value;
  *   - the swap is crash-atomic under the [[CommitLog]] protocol:
  *     compacted files are written to a scratch dir, moved into the
  *     sink under fresh unique names (partition directories
  *     preserved), ONE manifest rename commits the new generation,
  *     and only then are the old files deleted as garbage. A
  *     manifest-resolving reader ([[CommitLog.read]]) sees every row
  *     exactly once at every intermediate point; a crash leaves
  *     debris that explicit [[CommitLog.vacuum]] maintenance reclaims
  *     (CommitProtocolSpec kills the swap at both points and proves
  *     it). This replaces
  *     the previous rename-aside swap, whose add-then-delete window
  *     could double rows for directory readers.
  */
object Compact {

  /** Compact the sink at `path` to ~`targetBytes` output files
    * (at least one per partition value when `partitionCol` is set).
    * Returns (filesBefore, filesAfter); equal counts with no rewrite
    * when the sink is missing, empty, or already at the target.
    * `failpoint` is the crash-injection hook for the swap spec
    * (`"added"` / `"committed"`, see [[Merge.mergeParquet]]).
    * `keepReplaced = true` skips the post-commit GC so every prior
    * generation stays readable via [[CommitLog.readAt]] — compaction
    * becomes a pure layout optimization on a time-travel sink
    * (bounded later by [[CommitLog.expireGenerations]]); the default
    * reclaims the old files immediately. */
  def compactSink(spark: SparkSession, path: String,
                  partitionCol: Option[String] = None,
                  targetBytes: Long = 128L * 1024 * 1024,
                  failpoint: String => Unit = _ => (),
                  keepReplaced: Boolean = false): (Long, Long) =
    compactSinkCols(spark, path, partitionCol.toSeq, targetBytes,
      failpoint, keepReplaced)

  /** [[compactSink]] for MULTI-LEVEL hive layouts: bin-pack within
    * each LEAF partition directory (all levels preserved verbatim —
    * partition values read back as the same strings, zero-padding
    * included), one shuffle keyed by the full partition tuple, one
    * commit. `partitionCols` must be the committed layout's levels in
    * directory order. The single-level form is the one-element case. */
  def compactSinkCols(spark: SparkSession, path: String,
                      partitionCols: Seq[String],
                      targetBytes: Long = 128L * 1024 * 1024,
                      failpoint: String => Unit = _ => (),
                      keepReplaced: Boolean = false): (Long, Long) = {
    // normalize through Path so a trailing slash can't nest the scratch
    // dir INSIDE the sink (where the swap would destroy it)
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return (0L, 0L)

    // bootstrap gen 0 / read the latest manifest. Everything below
    // works on the LIVE set, never the directory listing: a sink with
    // retained time-travel history (keepReplaced rewrites) has
    // old-generation files on disk that a directory read would
    // double-count into the compacted output
    // one manifest snapshot serves live set, guards and the bucket
    // declaration (CommitLog.ensureSnapshotAt, guide §6)
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    CommitLog.requireNoDvs(m.dvs, hPath, "compactSink")
    CommitLog.requireNoColmaps(m.colmaps, m.coltypes, "compactSink")
    // a declared bucket layout is PRESERVED through compaction: rows
    // re-route by the same hash the writers used and the bucket id
    // rides the rewritten file names — the bin-packing unit becomes
    // (leaf partition, bucket), so storage-partitioned-join
    // co-location survives the rewrite (the preserve half of the
    // preserve-or-loudly-drop contract; CommitLog.commitNext's guard
    // is the drop half for rewrites that cannot route)
    val bucketSpec = Bucketing.specOf(m.meta)
    // ONE listStatus per parent directory instead of one getFileStatus
    // RPC per live file (the GraftDataSource stats-batching discipline;
    // on an object store the per-file HEAD calls dominate a deep
    // layout's planning time)
    val before: Seq[org.apache.hadoop.fs.FileStatus] = {
      val byDir = live.map(r => new Path(hPath, r)).groupBy(_.getParent)
      val found = byDir.toSeq.flatMap { case (d, paths) =>
        val want = paths.map(_.getName).toSet
        fs.listStatus(d).filter(st => want(st.getPath.getName))
      }
      // fail-loud on manifest/filesystem disagreement: the per-file
      // getFileStatus this listing replaced threw FileNotFoundException
      // for a vanished live file; a silent drop here would understate
      // totalBytes/bin targets and could report a clean no-op on a
      // corrupt sink (preserve-or-loudly-drop)
      require(found.size == live.size,
        s"compactSink: ${live.size - found.size} live file(s) of " +
          s"$path are missing on disk: ${
            (live.map(r => new Path(hPath, r).toString).toSet --
              found.map(_.getPath.toString).toSet).toSeq.sorted.take(5)
              .mkString(", ")}")
      // deterministic order: groupBy is hash-ordered
      found.sortBy(_.getPath.toString)
    }
    if (before.isEmpty) return (0L, 0L)
    val totalBytes = before.map(_.getLen).sum
    val nLeafBins =
      (if (partitionCols.nonEmpty)
        before.map(_.getPath.getParent.toString).distinct.size
      else 1) * bucketSpec.flatMap { case (_, n) =>
        if (live.forall(Bucketing.conforms(_, n)))
          Some(live.flatMap(Bucketing.bucketIdOf).distinct.size)
        else None
      }.getOrElse(1)
    val targetFiles = math.max(nLeafBins.toLong,
      (totalBytes + targetBytes - 1) / targetBytes)
    if (before.size <= targetFiles) return (before.size, before.size)
    val liveAbs = live.map(r => new Path(hPath, r).toString)

    def routed(df: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = bucketSpec match {
      case Some((bc, n)) => df.withColumn(Bucketing.StageCol,
        Bucketing.bucketExpr(bc, n))
      case None => df
    }
    val stageCols = partitionCols ++
      bucketSpec.map(_ => Bucketing.StageCol)

    // every live row, under the schema record; a partitioned sink
    // reads each partition column as STRING via the explicit schema:
    // directory names round-trip verbatim (no int re-inference)
    val record = CommitLog.recordedSchema(m.meta)
    val rows =
      if (partitionCols.isEmpty)
        CommitLog.scanFiles(spark, hPath, live, record)
      else {
        val logical = record.getOrElse(
          CommitLog.scanFiles(spark, hPath, live, None).schema)
        spark.read.schema(StructType(logical.fields
            .filterNot(f => partitionCols.contains(f.name)) ++
            partitionCols.map(StructField(_, StringType))))
          .option("basePath", hPath.toString).parquet(liveAbs: _*)
      }

    // add → COMMIT → delete: the compacted files move in (partition
    // directories preserved, bucket ids folded into fresh names), the
    // new generation commits, then every pre-compaction file is GC'd
    val newFiles = CommitLog.stageIn(fs, hPath, "compact") { tmp =>
      if (stageCols.nonEmpty)
        graft.io.Sources.internalWriter(
          // one task per LEAF (partition tuple, bucket) → one file per
          // leaf (a partition larger than targetBytes stays one file
          // here; a finer split would hash-salt within the partition)
          routed(rows).repartition(stageCols.map(col): _*))
          .partitionBy(stageCols: _*).parquet(tmp.toString)
      else graft.io.Sources.internalWriter(
          rows.repartition(targetFiles.toInt)).parquet(tmp.toString)
    }
    CommitLog.swap(fs, hPath, baseGen, live, live, newFiles, failpoint,
      keepReplaced, schema = Some(rows.schema))
    (before.size, newFiles.size)
  }

  /** Execute a file→bin compaction PLAN (the q310 bin-packing output
    * turned into motion): every assigned live file's rows are
    * rewritten so each bin becomes EXACTLY ONE output file in its
    * partition directory, under the same [[CommitLog]] add → COMMIT →
    * delete swap as [[compactSink]]. This is the planner/executor
    * split real table-format OPTIMIZE jobs use: the plan is computed
    * from the manifest (file names + sizes, never data — q310), can be
    * inspected/throttled/resumed, and this executor is dumb — it moves
    * exactly the bytes the plan names.
    *
    * `plan`: sink-relative live-file path → bin id. Bin ids must be
    * directory-name-safe and globally unique (a bin must not span
    * partition values — the planner's per-partition discipline).
    * Files absent from the plan are left untouched (a resumable
    * planner compacts in waves). `collapseCols`: partition levels of
    * the CURRENT layout to drop in the rewrite (e.g. a per-batch
    * `file_key=` level that exists only to make files addressable);
    * the output keeps `partitionCol` as its single partition level.
    *
    * Exactly-one-file-per-bin mechanics: rows are repartitioned by
    * bin (all of a bin's rows land in one task) and written
    * `partitionBy(partitionCol, "__bin")` — a task holding several
    * bins still writes one file per (partition, bin) DIRECTORY, so
    * hash collisions between bins can never merge their files. The
    * swap then strips the `__bin=` level while moving files in,
    * prefixing the bin id onto the (task-scoped) file name for
    * uniqueness. Partition-directory values round-trip through
    * partition inference here (unlike [[compactSink]]'s explicit
    * string schema) — zero-padded numeric directory names would be
    * re-inferred; use [[compactSink]] for those layouts. Returns
    * (files assigned, files after = bins). */
  def compactByPlan(spark: SparkSession, path: String,
                    partitionCol: String, plan: Map[String, String],
                    collapseCols: Seq[String] = Nil,
                    failpoint: String => Unit = _ => ()): (Long, Long) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"compaction target $path does not exist")
    // one snapshot per call, as in compactSinkCols
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    val assigned = live.filter(plan.contains)
    require(assigned.nonEmpty, "plan assigns no live file of this sink")
    CommitLog.requireNoDvs(m.dvs, hPath, "compactByPlan",
      Some(assigned))
    CommitLog.requireNoColmaps(m.colmaps, m.coltypes,
      "compactByPlan", Some(assigned))
    // keyed by URI PATH (no scheme/authority): `_metadata.file_path`
    // spells the scheme differently across filesystems (file:/ vs
    // file:///) and a raw-string key would silently never match
    val absPlan: Map[String, String] = assigned
      .map(r => fs.makeQualified(new Path(hPath, r)).toUri.getPath
        -> plan(r))
      .toMap
    locally {
      import org.apache.spark.sql.functions.{broadcast, col, concat,
        lit, raise_error, regexp_extract, when}
      import spark.implicits._
      // file_path → bin via a BROADCAST equi-join, not a Scala UDF:
      // the lookup stays inside whole-stage codegen and is O(1) per
      // row regardless of plan size (a literal-map element_at would
      // linear-scan the map per row). The scheme/authority prefix is
      // stripped by regex (handles file:/p, file:///p, hdfs://nn/p);
      // a left join + null check keeps the failure mode LOUD — an
      // inner join would silently drop rows whose path spelling
      // disagrees with the plan keys.
      val planDF = absPlan.toSeq.toDF("__plan_path", "__plan_bin")
      val pathRe = "^(?:[A-Za-z][A-Za-z0-9+.-]*:(?://[^/]*)?)?(/.*)$"
      // add → COMMIT → delete: each bin's single file moves into its
      // partition directory (the __bin level is planning scaffolding,
      // folded into the file name by the move-in)
      val rows = CommitLog.scanFiles(spark, hPath, assigned,
        CommitLog.recordedSchema(m.meta))
      val newFiles = CommitLog.stageIn(fs, hPath, "plan") { tmp =>
        rows
          .withColumn("__norm",
            regexp_extract(col("_metadata.file_path"), pathRe, 1))
          .join(broadcast(planDF), col("__norm") === col("__plan_path"),
            "left")
          .withColumn("__bin",
            when(col("__plan_bin").isNotNull, col("__plan_bin"))
              .otherwise(raise_error(concat(
                lit("compactByPlan: scanned file not in plan after " +
                  "path normalization: "), col("__norm")))))
          .drop("__norm", "__plan_path", "__plan_bin")
          .drop(collapseCols: _*)
          .repartition(col("__bin"))
          .write.option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .partitionBy(partitionCol, "__bin").parquet(tmp.toString)
      }
      CommitLog.swap(fs, hPath, baseGen, live, assigned, newFiles,
        failpoint, schema = Some(rows.drop(collapseCols: _*).schema))
      (assigned.size.toLong, newFiles.size.toLong)
    }
  }
}
