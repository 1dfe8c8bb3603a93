package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Merge-on-read row-level deletes for [[CommitLog]]-managed parquet
  * sinks — the deletion-vector primitive of production table formats
  * (Delta deletion vectors, Iceberg position deletes): a DELETE marks
  * row POSITIONS instead of rewriting files, so deleting 0.01% of a
  * 100 TB table costs one metadata-sized parquet write and one manifest
  * commit instead of rewriting every touched gigabyte. The
  * manifest-resolving reader ([[CommitLog.read]] / [[CommitLog.readAt]])
  * anti-joins the scan against the generation's DVs on
  * (`_metadata.file_path` relativized, `_metadata.row_index`) — row
  * identity the parquet scan itself provides, no stored row ids needed.
  *
  * Representation: one DV parquet directory per delete commit under
  * `<sink>/_graft_dv/`, rows `(file: sink-relative data path,
  * pos: row ordinal)`; the manifest's `#dv` records bind each affected
  * data file to the DV holding its (merged) delete set. Invariants the
  * reader and [[CommitLog.commitNext]]'s automatic record carry rely on:
  *
  *   - a live file's delete set only GROWS: each [[deleteWhere]] writes
  *     the UNION of the file's previous DV rows and its new marks, so
  *     any retained stale DV row is a duplicate of a newer one;
  *   - a rewritten/replaced data file leaves the manifest together with
  *     its DV record (fresh output files have fresh names), so stale DV
  *     rows for it can never match a live row;
  *   - rewrite operators that read live files RAW (Merge, Compact,
  *     Upsert's publish paths) refuse DV'd inputs
  *     ([[CommitLog.requireNoDvs]]) — [[applyDeletes]] is the explicit
  *     merge-on-read → copy-on-write compaction that clears the DVs.
  *
  * Crash atomicity is [[CommitLog]]'s: the DV parquet lands in the
  * hidden dir first (invisible — no manifest references it), then ONE
  * manifest publish makes the delete visible; a crash between leaves
  * debris that [[CommitLog.vacuum]]'s mtime-horizon DV sweep reclaims.
  *
  * The reference's warehouse gets DELETE from its transactional engine
  * (`dags/idh_etl.py:247-256` delegates mutation to BigQuery/DuckDB);
  * file-granular parquet needs the position-delete design instead. */
object DeleteVectors {

  /** Sink-relative data-file path derived from `_metadata.file_path`,
    * guarded: DV record keys MUST spell files exactly as the
    * manifest's [[CommitLog.relativize]] does, or [[CommitLog
    * .commitNext]]'s carry-forward filter silently drops the records
    * (committed deletes lost, rows resurrected). If the scan's URI
    * spelling ever disagrees with the qualified-prefix derivation
    * (percent-encoded characters, an unexpected mount), `locate`
    * misses (returns 0) and this column RAISES instead of emitting a
    * garbage substring. Belt-and-braces: callers additionally verify
    * every derived path against the manifest's live set before
    * committing ([[requireKnownFiles]]). */
  private[graft] def relPathCol(prefix: String,
                                fp: Column = col("_metadata.file_path"))
  : Column = CommitLog.relPathCol(prefix, fp)

  /** Live scan carrying (`__file` sink-relative, `__pos`) row
    * identity — raw single scan for unmapped sinks, the
    * [[CommitLog.mappedScan]] logical view (identity columns
    * materialized per epoch) for [[SchemaEvolve]]-mapped ones, so
    * predicate deletes keep working after a rename with predicates in
    * LOGICAL names. */
  private def identityScan(spark: SparkSession, hPath: Path,
                           live: Seq[String], prefix: String,
                           cms: Map[String, Map[String, String]],
                           cts: Map[String, Map[String, String]])
  : org.apache.spark.sql.DataFrame = {
    if (cms.isEmpty && cts.isEmpty)
      spark.read.option("mergeSchema", "true")
        .option("basePath", hPath.toString)
        .parquet(live.map(r => new Path(hPath, r).toString): _*)
        .withColumn("__file", relPathCol(prefix))
        .withColumn("__pos", col("_metadata.row_index"))
    else
      CommitLog.mappedScan(spark, hPath, live, cms, identity = true,
          coltypes = cts)
        .withColumn("__file", relPathCol(prefix, col("__file_path")))
        .withColumn("__pos", col("__row_index"))
        .drop("__file_path", "__row_index")
  }

  /** Above this many merged marks the DV parquet is written sharded
    * (hash-partitioned by data file) instead of through a single
    * task — a mass delete (1% of 100 TB is billions of positions)
    * must not serialize through one writer or produce one giant DV
    * file. Overridable per call for tests. */
  val DefaultDvShardRows: Long = 4L << 20

  /** Write the merged (file, pos) delete set under a fresh
    * `_graft_dv/<uuid>` directory and return each affected data
    * file's (DV path, mark count), both sink-relative. At or below
    * `shardRows` marks the write is a single task/file and every
    * record points at the directory (the historical layout); above
    * it, rows are hash-partitioned by data file into
    * ⌈marks/shardRows⌉ tasks and each record points at the specific
    * PART FILE holding its data file's marks — the manifest grammar
    * already binds DVs per data file, and readers filter by the
    * (file, pos) join, so a shard containing other files' marks is
    * harmless. Never under-counts: the map is derived by reading back
    * `_metadata.file_path`, not by predicting task placement — and a
    * data file whose marks landed in SEVERAL part files (e.g. under
    * `maxRecordsPerFile`) gets the whole-DIRECTORY record, so no part
    * can ever be orphaned by a one-part-per-file assumption. Mark
    * counts ride the `#dv` record (Delta's DV cardinality) so
    * [[TableStats]] can prune fully-deleted files manifest-only. */
  private def writeDvSharded(spark: SparkSession, hPath: Path,
                             merged: org.apache.spark.sql.DataFrame,
                             affected: Seq[String],
                             shardRows: Long)
  : (Map[String, String], Map[String, Long]) = {
    val dvRel = CommitLog.DvDirName + "/" +
      java.util.UUID.randomUUID().toString
    val dvAbs = new Path(hPath, dvRel).toString
    val perFile = merged.groupBy("file")
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMarks = perFile.valuesIterator.sum
    val paths =
      if (nMarks <= shardRows) {
        graft.io.Sources.internalWriter(merged.repartition(1))
          .parquet(dvAbs)
        affected.map(_ -> dvRel).toMap
      } else {
        val shards = math.min(affected.size.toLong,
          (nMarks + shardRows - 1) / shardRows).toInt.max(1)
        graft.io.Sources.internalWriter(
            merged.repartition(shards, col("file"))).parquet(dvAbs)
        val parts = spark.read.schema(CommitLog.DvSchema).parquet(dvAbs)
          .select(col("file"), col("_metadata.file_path").as("__part"))
          .distinct().collect()
          .map(r => r.getString(0) -> new Path(r.getString(1)).getName)
          .toSeq.groupBy(_._1)
        parts.map { case (f, ps) =>
          // one part → point the record at it (targeted read-back);
          // several (a task split its output) → point at the whole
          // directory so every part's marks stay reachable
          f -> (if (ps.length == 1) dvRel + "/" + ps.head._2 else dvRel)
        }
      }
    (paths, perFile)
  }

  /** Fail loudly if any DV record key does not name a manifest-live
    * file — a key matching no live file would be dropped by the next
    * commit's carry-forward with no error, losing the delete. */
  private def requireKnownFiles(op: String, affected: Seq[String],
                                live: Seq[String]): Unit = {
    val liveSet = live.toSet
    val rogue = affected.filterNot(liveSet)
    require(rogue.isEmpty,
      s"$op: derived DV file keys not in the live manifest (path " +
        s"derivation disagrees with CommitLog.relativize): " +
        rogue.take(3).mkString(", "))
  }

  /** Mark every live row matching `predicate` as deleted — no data
    * file is touched. Returns (rows newly deleted, data files whose
    * DV grew). Idempotent: re-running deletes 0 new rows (already-
    * deleted rows are invisible to the matching scan). Composes with
    * earlier deletes on the same files by DV union. `failpoint`
    * ("dv_written" / "committed") is the crash-injection hook.
    *
    * Concurrency: a lost commit race is handled WITHOUT caller
    * involvement, bounded by `maxAttempts`. A winner that neither
    * rewrote our marked files nor changed their DV records COMMUTES —
    * the same DV map is re-committed against the fresh manifest (one
    * manifest read + one publish, no recompute). A winner that did
    * touch them (compaction, applyDeletes, an overlapping delete on
    * the same files) invalidates our positions/merge, so the WHOLE
    * operation recomputes from a fresh snapshot — semantically exact
    * for a predicate delete, and idempotency keeps the recomputed
    * mark set correct. Only attempt exhaustion surfaces a
    * [[CommitConflictException]]. */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
                  failpoint: String => Unit = _ => (),
                  dvShardRows: Long = DefaultDvShardRows,
                  maxAttempts: Int = 5): (Long, Long) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"delete target $path does not exist")
    var attempt = 0
    while (true) {
      // one manifest snapshot per attempt serves live set, DVs and
      // mappings (CommitLog.ensureSnapshotAt, guide §6)
      val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
      val live = m.files
      if (live.isEmpty) return (0L, 0L)
      val dvs = m.dvs
      val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
      // (file, pos) identity is materialized into plain columns ON the
      // scan (metadata pseudo-columns don't survive a join), then the
      // EXISTING deletes are anti-joined away so rows already deleted
      // can't be re-marked and the returned count is exactly the rows
      // this call removed
      val raw = identityScan(spark, hPath, live, prefix,
        m.colmaps, m.coltypes)
      val visible =
        if (dvs.isEmpty) raw
        else raw.join(
          CommitLog.dvScan(spark, hPath, dvs.values.toSeq)
            .select(col("file").as("__dv_file"),
              col("pos").as("__dv_pos")),
          col("__file") === col("__dv_file") &&
            col("__pos") === col("__dv_pos"), "left_anti")
      val marks = visible.filter(predicate)
        .select(col("__file").as("file"), col("__pos").as("pos"))
        .localCheckpoint() // one scan feeds collect + count + write
      val affected = marks.select("file").distinct()
        .collect().map(_.getString(0)).sorted
      if (affected.isEmpty) return (0L, 0L)
      requireKnownFiles("deleteWhere", affected.toIndexedSeq, live)
      val nNew = marks.count()
      // merged DV for the affected files = their previous delete sets
      // ∪ the new marks; unaffected files keep their old records
      // untouched (commitNext carries them forward)
      val prior = affected.flatMap(dvs.get)
      val merged =
        if (prior.isEmpty) marks
        else marks.union(CommitLog.dvScan(spark, hPath, prior)
            .filter(col("file").isin(affected: _*))).distinct()
      val (dvMap, dvCounts) = writeDvSharded(spark, hPath, merged,
        affected.toIndexedSeq, dvShardRows)
      failpoint("dv_written")
      // commit, rebasing in place while the operation still commutes
      var base = baseGen
      var liveNow = live
      var committed = false
      var recompute = false
      while (!committed && !recompute) {
        try {
          CommitLog.commitNext(fs, hPath, base, liveNow, dvMap,
            dvMarks = dvCounts)
          committed = true
        } catch {
          case e: CommitConflictException =>
            attempt += 1
            if (attempt >= maxAttempts)
              throw new CommitConflictException(
                s"deleteWhere: gave up after $maxAttempts rebase " +
                  s"attempts at $path — ${e.getMessage}")
            val (g2, m2) = CommitLog.ensureSnapshotAt(fs, hPath)
            val liveSet2 = m2.files.toSet
            if (affected.forall(f =>
              liveSet2(f) && m2.dvs.get(f) == dvs.get(f))) {
              base = g2; liveNow = m2.files
            } else recompute = true // our staged DV becomes debris
        }
      }
      if (committed) {
        failpoint("committed")
        return (nNew, affected.length.toLong)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Merge-on-read MERGE: upsert `updates` into the sink by marking
    * the matched rows' positions deleted (DV) and appending every
    * update row as new data files — NO existing data file is read in
    * full or rewritten, so the cost is ∝ |updates| + |DV| instead of
    * ∝ |touched files| (the copy-on-write [[Merge.mergeParquet]]
    * alternative; Iceberg's merge-on-read write mode). The matched
    * scan projects only the key columns plus `_metadata` identity —
    * at 100 TB that is a column-pruned pass, and the key join
    * broadcasts whenever the update batch is small. One commit
    * publishes marks + appended files together; the manifest reader
    * sees old versions vanish and new versions appear atomically.
    * Accumulated DVs are paid down by [[applyDeletes]]. Returns
    * (old row versions marked deleted, update rows appended).
    * `partitionCol`: lay appended files out in the sink's partition
    * scheme. */
  def mergeOnRead(spark: SparkSession, path: String,
                  updates: org.apache.spark.sql.DataFrame,
                  keys: Seq[String],
                  partitionCol: Option[String] = None,
                  failpoint: String => Unit = _ => (),
                  dvShardRows: Long = DefaultDvShardRows,
                  maxAttempts: Int = 5): (Long, Long) = {
    require(keys.nonEmpty, "mergeOnRead needs at least one key column")
    require(keys.forall(updates.columns.contains),
      s"updates ${updates.columns.mkString(",")} must carry keys $keys")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"merge target $path does not exist")
    // one manifest snapshot serves live set, DVs, mappings and
    // checks (CommitLog.ensureSnapshotAt, guide §6)
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    val dvs = m.dvs
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    // the Merge/applyCdc discipline, enforced BEFORE any mark or
    // append: (1) the batch must carry exactly the sink's columns — a
    // mis-shaped batch would write mixed-schema files that
    // mergeSchema=false readers silently drop columns from; (2) the
    // batch must be unique per key — two update rows sharing a key
    // would BOTH land as live rows, and with no per-key sequence
    // column an automatic keep-one would be nondeterministic, so the
    // producer dedupes first ([[Upsert.dedupKeepFirstAgg]])
    val scanId = identityScan(spark, hPath, live, prefix,
      m.colmaps, m.coltypes)
    val sinkCols = scanId.columns.filterNot(c =>
      c == "__file" || c == "__pos")
    require(sinkCols.sorted.sameElements(updates.columns.sorted),
      s"mergeOnRead: updates schema ${updates.columns.sorted
        .mkString(",")} must match sink schema ${sinkCols.sorted
        .mkString(",")}")
    val dupKey = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).take(1)
    require(dupKey.isEmpty,
      "mergeOnRead: updates carry duplicate keys (which row wins is " +
        s"undefined) — first offender: ${dupKey.headOption
          .fold("")(_.toString)}; dedupe the batch first " +
        "(Upsert.dedupKeepFirstAgg)")
    // conform column ORDER to the sink so appended files are
    // byte-layout-compatible with the originals
    val conformed = updates.select(sinkCols.toIndexedSeq.map(col): _*)
    // CHECK constraints gate the update rows before any mark or append
    CommitLog.requireChecks(m.checks, conformed, "mergeOnRead")
    val batch = updates.select(keys.map(col): _*).distinct()
    // matched = visible rows (existing DVs anti-joined) whose key is
    // in the batch; only keys + identity are ever projected
    val keyScan = scanId
      .select(keys.map(col) :+ col("__file") :+ col("__pos"): _*)
    val visible =
      if (dvs.isEmpty) keyScan
      else keyScan.join(
        CommitLog.dvScan(spark, hPath, dvs.values.toSeq)
          .select(col("file").as("__dv_file"),
            col("pos").as("__dv_pos")),
        col("__file") === col("__dv_file") &&
          col("__pos") === col("__dv_pos"), "left_anti")
    val marks = visible.join(batch, keys, "left_semi")
      .select(col("__file").as("file"), col("__pos").as("pos"))
      .localCheckpoint()
    val affected = marks.select("file").distinct()
      .collect().map(_.getString(0)).sorted
    if (affected.nonEmpty)
      requireKnownFiles("mergeOnRead", affected.toIndexedSeq, live)
    val nMarked = marks.count()
    val (dvMap, dvCounts) =
      if (affected.isEmpty)
        (Map.empty[String, String], Map.empty[String, Long])
      else {
        val prior = affected.flatMap(dvs.get)
        val merged =
          if (prior.isEmpty) marks
          else marks.union(CommitLog.dvScan(spark, hPath, prior)
              .filter(col("file").isin(affected: _*))).distinct()
        writeDvSharded(spark, hPath, merged, affected.toIndexedSeq,
          dvShardRows)
      }
    // append every update row as fresh files, staged then moved in
    val newFiles = CommitLog.stageIn(fs, hPath, "mor") { tmp =>
      partitionCol match {
        case Some(p) => graft.io.Sources.internalWriter(
            conformed.repartition(col(p)))
          .partitionBy(p).parquet(tmp.toString)
        // flat appends: file count ∝ update bytes, never task count
        // (Sources.sizedForWrite — guide §2.2/§6)
        case None => graft.io.Sources.internalWriter(
            graft.io.Sources.sizedForWrite(conformed))
          .parquet(tmp.toString)
      }
    }
    failpoint("staged")
    // commit with bounded in-place rebase: the appended files are
    // fresh names invisible to every other writer, so they ALWAYS
    // commute at the file level; the DV marks commute iff the winner
    // neither rewrote the marked files nor changed their DV records;
    // and the winner's own NEW files must share no key with this
    // batch (its rows would sit NEXT TO our appended versions — our
    // matched scan never saw them, so no mark covers them). A winner
    // that fails any test invalidates our read snapshot, which this
    // operator cannot replay after staging — that conflict stays
    // terminal and the caller retries the MERGE.
    var base = baseGen
    var liveNow = live
    var seen = live.toSet ++ newFiles
    var committed = false
    var attempt = 0
    while (!committed) {
      try {
        CommitLog.commitNext(fs, hPath, base, liveNow ++ newFiles,
          dvMap, dvMarks = dvCounts)
        committed = true
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          // one consistent manifest read per retry
          val (g2, m2) = CommitLog.ensureSnapshotAt(fs, hPath)
          val l2 = m2.files
          val liveSet2 = l2.toSet
          val dv2 = m2.dvs
          // a winner that evolved the schema invalidates our staged
          // files' physical column names (see upsertParquet) — never
          // commutes
          if ((m2.colmaps, m2.coltypes) !=
            (m.colmaps, m.coltypes))
            throw new CommitConflictException(
              s"mergeOnRead: a concurrent writer evolved the schema " +
                s"at $path — re-run the MERGE against the new " +
                "logical schema")
          // a winner that added a CHECK invalidates this batch's
          // constraint gate (requireChecks ran against the pinned
          // snapshot) — never commutes
          if (m2.checks != m.checks)
            throw new CommitConflictException(
              s"mergeOnRead: a concurrent writer changed CHECK " +
                s"constraints at $path — re-run the MERGE so the " +
                "batch is re-validated")
          val winnerNew = l2.filterNot(seen)
          val keyOverlap = winnerNew.nonEmpty && spark.read
            .option("mergeSchema", "true")
            .option("basePath", hPath.toString)
            .parquet(winnerNew.map(r =>
              new Path(hPath, r).toString): _*)
            .select(keys.map(col): _*)
            .join(batch, keys, "left_semi").take(1).nonEmpty
          val commutes = attempt < maxAttempts && !keyOverlap &&
            affected.forall(f =>
              liveSet2(f) && dv2.get(f) == dvs.get(f))
          if (!commutes)
            throw new CommitConflictException(
              s"mergeOnRead: lost the commit race at $path and the " +
                "winner touched our matched files or keys (or " +
                s"attempts exhausted after $attempt) — re-run the " +
                s"MERGE: ${e.getMessage}")
          seen ++= winnerNew
          base = g2; liveNow = l2
      }
    }
    failpoint("committed")
    (nMarked, updates.count())
  }

  /** Publish one row-level SQL DML statement (UPDATE / MERGE INTO /
    * non-pushable DELETE, Spark's `SupportsDelta` rewrite) as a
    * single merge-on-read commit: the statement's task-written
    * position marks become `#dv` records (unioned with each affected
    * file's prior delete set), the task-staged insert files move in
    * under the sink, and ONE `commitNext` publishes both — zero
    * existing data files rewritten, the same commit shape
    * [[mergeOnRead]] lands, so CDF pairing and time travel see SQL
    * DML and operator DML identically.
    *
    * Inputs are what the [[graft.sources]] delta writer produced
    * against the PINNED snapshot `baseGen`: `markFiles` are parquet
    * parts of (file sink-relative, pos) rows, `insertRels` are
    * staged data files relative to `staging` (hive directories
    * preserved), `affected` is the distinct marked-file set the
    * tasks reported. CHECK constraints were already enforced PER ROW
    * inside the task writers (inline, zero extra scans) — a
    * violating statement never reaches this publish.
    *
    * Concurrency: unlike [[mergeOnRead]] this path has no key
    * knowledge, so the commute test is strict — a losing CAS is
    * retried only when the winner changed NO live file, NO affected
    * DV record and NO schema mapping (stats/bloom/meta/txn-only
    * commits); any data-changing winner invalidates the pinned
    * snapshot and surfaces as [[CommitConflictException]] for the
    * caller to re-run the statement. Returns (positions marked,
    * data files appended). */
  private[graft] def commitRowLevelDelta(spark: SparkSession,
                                         path: String,
                                         baseGen: Long,
                                         baseLive: Seq[String],
                                         baseDvs: Map[String, String],
                                         staging: Path,
                                         insertRels: Seq[String],
                                         markFiles: Seq[String],
                                         affected: Seq[String],
                                         dvShardRows: Long =
                                           DefaultDvShardRows,
                                         maxAttempts: Int = 5,
                                         branch: Option[String] = None)
  : (Long, Long) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(baseGen >= 0,
      s"row-level SQL write: $path has no committed generation")
    if (affected.nonEmpty)
      requireKnownFiles("rowLevelDelta", affected, baseLive)
    // CHECK constraints were evaluated per row INSIDE the task
    // writers against the pinned snapshot's `#check` records
    // ([[graft.sources]] delta writer) — a violating statement fails
    // its task before this publish runs, and the staged inserts are
    // never re-read here; the commute test below still refuses when
    // a concurrent winner CHANGED the constraint set (the statement's
    // rows were never gated by the new constraint)
    // merged DV for the affected files = prior delete sets ∪ the
    // statement's marks (deleteWhere's discipline; unaffected files'
    // records carry forward untouched)
    val (dvMap, dvCounts, nMarked) =
      if (affected.isEmpty)
        (Map.empty[String, String], Map.empty[String, Long], 0L)
      else {
        val marks = spark.read.schema(CommitLog.DvSchema)
          .parquet(markFiles: _*)
        val nNew = marks.count()
        val prior = affected.flatMap(baseDvs.get)
        val merged =
          if (prior.isEmpty) marks
          else marks.union(CommitLog.dvScan(spark, hPath, prior)
              .filter(col("file").isin(affected: _*))).distinct()
        val (m, c) = writeDvSharded(spark, hPath, merged, affected,
          dvShardRows)
        (m, c, nNew)
      }
    // move staged inserts in preserving hive directories, then one
    // commit (crash between move and commit leaves debris files no
    // manifest references — vacuum-reclaimable, never visible)
    val added = CommitLog.moveIn(fs, new Path(staging, "inserts"), hPath,
      insertRels.map(_.stripPrefix("inserts/")))
    // BRANCH DML (write-audit-publish: UPDATE/MERGE/DELETE patch the
    // staged batch ON the branch, main is untouched until
    // fast_forward): one CAS commit onto the branch chain — terminal
    // if the branch head moved under the statement (audit-branch
    // writers coordinate; there is no blind-append commute to lean on)
    branch.foreach { b =>
      val (k, bm) = CommitLog.branchHead(fs, hPath, b)
      if (k != baseGen || bm.files != baseLive)
        throw new CommitConflictException(
          s"row-level SQL write: branch '$b' of $path moved under " +
            s"the statement (head $k, pinned $baseGen) — re-run")
      return {
        CommitLog.commitBranch(fs, hPath, b, k,
          CommitLog.prunedToFiles(bm.copy(
            files = bm.files ++ added,
            dvs = bm.dvs ++ dvMap,
            dvMarks = (bm.dvMarks -- dvMap.keys) ++ dvCounts)))
        (nMarked, added.size.toLong)
      }
    }
    var base = baseGen
    var liveNow = baseLive
    var committed = false
    var attempt = 0
    val baseSet = baseLive.toSet
    val mBase = CommitLog.manifestAt(fs, hPath, baseGen)
    while (!committed) {
      try {
        CommitLog.commitNext(fs, hPath, base, liveNow ++ added,
          dvMap, dvMarks = dvCounts)
        committed = true
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          // ONE consistent manifest read decides the commute.
          // Commute requires the winner changed NO live file, NO
          // schema mapping, NO affected DV record, and NO CHECK
          // constraint (a new CHECK must re-gate this statement's
          // rows — requireChecks ran against the pinned snapshot)
          val (g2, m2) = CommitLog.ensureSnapshotAt(fs, hPath)
          val commutes = attempt < maxAttempts &&
            m2.files.toSet == baseSet &&
            (m2.colmaps, m2.coltypes) ==
              (mBase.colmaps, mBase.coltypes) &&
            m2.checks == mBase.checks &&
            affected.forall(f => m2.dvs.get(f) == baseDvs.get(f))
          if (!commutes)
            throw new CommitConflictException(
              s"row-level SQL write: lost the commit race at $path " +
                "and the winner changed data, constraints or " +
                "mappings this statement's snapshot never saw (or " +
                s"attempts exhausted after $attempt) — re-run the " +
                s"statement: ${e.getMessage}")
          base = g2; liveNow = m2.files
      }
    }
    (nMarked, added.size.toLong)
  }

  /** Apply (compact away) every deletion vector: rewrite each DV'd
    * data file without its deleted rows and commit a generation with
    * no DV records for them — the OPTIMIZE step that turns
    * merge-on-read debt back into clean files. Untouched files (no
    * DV) keep their bytes and names. Partition directories are
    * preserved verbatim (partition values read as STRING from the
    * rel-path layout, [[Compact.compactSink]]'s discipline). Returns
    * (files rewritten, files after rewrite). */
  def applyDeletes(spark: SparkSession, path: String,
                   failpoint: String => Unit = _ => ()): (Long, Long) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"apply target $path does not exist")
    // one manifest snapshot serves live set, DVs and the colmap
    // guard (CommitLog.ensureSnapshotAt, guide §6)
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    val dvs = m.dvs
    if (dvs.isEmpty) return (0L, 0L)
    val targets = dvs.keys.toSeq.sorted
    // positional rewrite binds rows to the raw physical layout —
    // SchemaEvolve.normalize is the rewrite that handles mapped files
    // (and clears their DVs in the same pass)
    CommitLog.requireNoColmaps(m.colmaps, m.coltypes,
      "applyDeletes", Some(targets))
    // partition columns, from the rel-path layout (all live files of a
    // partitioned sink share the same k=v directory levels)
    val partCols = targets.head.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.takeWhile(_ != '='))
    val targetAbs = targets.map(r => new Path(hPath, r).toString)
    val dataSchema = spark.read.parquet(targetAbs.head).schema
    val readSchema = StructType(dataSchema.fields ++
      partCols.map(StructField(_, StringType)))
    val dv = CommitLog.dvScan(spark, hPath, dvs.values.toSeq)
      .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    val kept = spark.read.schema(readSchema)
      .option("basePath", hPath.toString).parquet(targetAbs: _*)
      .withColumn("__rel", relPathCol(prefix))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(dv, col("__rel") === col("__dv_file") &&
        col("__pos") === col("__dv_pos"), "left_anti")
      .drop("__rel", "__pos")
    // add → COMMIT → delete: the targets leave the manifest, and
    // their DV records (and only theirs) drop with them
    val newFiles = CommitLog.stageIn(fs, hPath, "dv") { tmp =>
      if (partCols.nonEmpty)
        graft.io.Sources.internalWriter(
            kept.repartition(partCols.map(col).toIndexedSeq: _*))
          .partitionBy(partCols.toIndexedSeq: _*)
          .parquet(tmp.toString)
      // flat rewrite: file count ∝ surviving bytes, never task count
      // (Sources.sizedForWrite — guide §2.2/§6)
      else graft.io.Sources.internalWriter(
          graft.io.Sources.sizedForWrite(kept)).parquet(tmp.toString)
    }
    CommitLog.swap(fs, hPath, baseGen, live, targets, newFiles,
      failpoint)
    (targets.length.toLong, newFiles.length.toLong)
  }
}
