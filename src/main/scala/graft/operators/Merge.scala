package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-granular MERGE (read-merge-write) against a parquet sink — the
  * one MERGE variant the sink family lacked: WHEN MATCHED UPDATE (the
  * update row's payload replaces the sink row's), WHEN NOT MATCHED
  * INSERT. Extends the reference's insert-only MERGE
  * (`dags/idh_etl.py:247-256`, WHEN NOT MATCHED only) with the
  * update branch, at FILE granularity: only sink files that contain a
  * matched key are rewritten; every other file is never read past its
  * key column, never written, and stays byte-identical on disk.
  *
  * Scale shape: the cost is proportional to the files the update
  * batch TOUCHES, not the sink —
  *   1. ONE key-projected scan of the sink tags each key with its file
  *      (`_metadata.file_path`, a generated column — no extra I/O) and
  *      a semi-join against the batch keys reduces to the distinct
  *      touched-file list (bounded by |sink files|, collected);
  *   2. only those files are re-read; because a batch key that matches
  *      ANY sink row matches it in a touched file, the matched/insert
  *      split of the batch derives from this touched-file read too —
  *      no second or third full-sink key pass (the round-6 demand);
  *   3. unmatched touched rows union the matched payloads and the
  *      inserts, and rewrite.
  * The batch-key side of the semi-join is left UNHINTED: a small batch
  * broadcasts by AQE's own estimate, a reconciliation-sized batch
  * shuffles — the same guard discipline as
  * [[Graphs.triangleStats]]'s degree table.
  *
  * The swap is add → COMMIT → delete under the [[CommitLog]]
  * generation-manifest protocol: rewritten + inserted files land in
  * the sink under fresh unique names, ONE atomic manifest rename
  * commits the new generation, and only then are the replaced
  * originals deleted (pure garbage collection — the committed
  * generation never references them). A crash at ANY point leaves a
  * manifest-resolving reader ([[CommitLog.read]]) seeing exactly-once
  * rows — before the commit the old generation, after it the new —
  * and explicit [[CommitLog.vacuum]] maintenance reclaims the debris
  * (never another writer's entry, which could race a concurrent
  * writer's staged files). This closes the
  * duplicated-rows crash window a bare add-then-delete swap had vs
  * the reference's transactional warehouse MERGE
  * (`dags/idh_etl.py:247-256`); CommitProtocolSpec kills the swap at
  * both points and proves it.
  *
  * Sinks may be flat or hive-partitioned: the rewrite lands back
  * under the sink's own partition scheme (the swap moves files
  * recursively, preserving `k=v` levels) and partition columns read
  * as ordinary columns, so `updates` must carry them like any other
  * sink column. Wholesale partition restatement lives in
  * [[Upsert.replacePartitionsParquet]]. `updates` must carry the
  * sink's exact schema (keys + payload). Duplicate keys WITHIN the
  * batch are the producer's bug (which row should win is undefined);
  * pass the batch through [[Upsert.dedupKeepFirstAgg]] first, as the
  * publish path does. */
object Merge {

  /** Merge outcome: live files in the sink before, files rewritten (=
    * files that contained ≥1 matched key), rows whose payload was
    * replaced, rows inserted. */
  final case class MergeStats(filesBefore: Long, filesTouched: Long,
                              rowsUpdated: Long, rowsInserted: Long)

  /** `failpoint` is the crash-injection hook for the swap spec: called
    * with `"added"` after the new files are in place but before the
    * manifest commit, and `"committed"` after the commit but before
    * the replaced originals are deleted. Production callers leave the
    * default no-op.
    *
    * `keepReplaced = true` skips the post-commit GC: the replaced
    * files stay on disk, referenced only by OLDER generations, which
    * keeps every prior generation readable via [[CommitLog.readAt]] —
    * snapshot time travel, bounded by
    * [[CommitLog.expireGenerations]]. The default (false) reclaims
    * space immediately and forfeits history, which is also why
    * [[eraseParquet]] has no such switch: a right-to-be-forgotten
    * erasure must not retain the erased bytes in any generation. */
  /** `allowSchemaEvolution = true` lets `updates` carry columns the
    * sink lacks (WIDENING only — every sink column must still be
    * present): matched/inserted rows land with the new columns,
    * unmatched rows in touched files take NULLs, and UNTOUCHED files
    * keep their old schema byte-identically — exactly a table
    * format's automatic schema merge. Readers resolve the mixed
    * on-disk schemas via [[CommitLog.read]]'s `mergeSchema = true`
    * (per-footer union, the standard parquet evolution contract);
    * cost stays touched-file-proportional because widening is lazy —
    * no untouched file is ever rewritten to add a NULL column. */
  /** Live-file scan in the table's LOGICAL schema plus `__f` (the
    * absolute file path — per-row provenance that survives a union,
    * unlike `_metadata`). With no column mapping this is exactly the
    * historical one mergeSchema scan; a [[SchemaEvolve]]-mapped sink
    * routes through [[CommitLog.mappedScan]] (one scan per schema
    * epoch) so the merge family keeps working after a rename/drop
    * without any rewrite. */
  private def liveScan(spark: SparkSession, hPath: Path,
                       live: Seq[String],
                       cms: Map[String, Map[String, String]],
                       cts: Map[String, Map[String, String]])
  : DataFrame = {
    if (cms.isEmpty && cts.isEmpty)
      spark.read.option("mergeSchema", "true")
        .option("basePath", hPath.toString)
        .parquet(live.map(r => new Path(hPath, r).toString): _*)
        .withColumn("__f", col("_metadata.file_path"))
    else CommitLog.mappedScan(spark, hPath, live, cms,
        identity = true, coltypes = cts)
      .withColumnRenamed("__file_path", "__f").drop("__row_index")
  }

  /** Hive-partition column names of the sink's live layout, from the
    * rel paths alone (no I/O); Nil for a flat sink. The family
    * REQUIRES a consistent layout — a sink mixing partitioned and
    * root-level data files is already unreadable coherently and must
    * be repaired, not silently merged. */
  private def partColsOf(live: Seq[String]): Seq[String] =
    CommitLog.partitionColsOf(live)

  /** The rewrite write: flat for flat sinks; for partitioned sinks the
    * output lands under the same partition scheme (one shuffle by the
    * partition columns so each value writes one file). Partition
    * values round-trip through partition INFERENCE — zero-padded
    * numeric directory names would be re-inferred (the
    * [[Compact.compactByPlan]] caveat); string-valued layouts
    * round-trip exactly. */
  private def writeRewrite(df: DataFrame, tmp: Path,
                           partCols: Seq[String]): Unit =
    // flat sinks: rewritten file count follows the touched BYTES
    // (Sources.sizedForWrite), never the plan's task count — a
    // broadcast-joined rewrite otherwise inherits the scan's
    // minPartitionNum ≈ core-count splitting and lands one tiny file
    // per task (guide §2.2/§6). Partitioned sinks already route one
    // file per partition value via the keyed repartition (whose
    // partition count AQE right-sizes).
    if (partCols.isEmpty)
      graft.io.Sources.internalWriter(
        graft.io.Sources.sizedForWrite(df)).parquet(tmp.toString)
    else graft.io.Sources.internalWriter(
        df.repartition(partCols.map(col): _*))
      .partitionBy(partCols: _*).parquet(tmp.toString)

  /** Touched-file re-read conformed to the logical `schema` (missing
    * additive columns null-filled — the `.schema(...)` pinning the
    * unmapped path used, expressed mapping-aware). */
  private def touchedScan(spark: SparkSession, hPath: Path,
                          touchedRel: Seq[String],
                          cms: Map[String, Map[String, String]],
                          cts: Map[String, Map[String, String]],
                          schema: org.apache.spark.sql.types.StructType)
  : DataFrame = {
    // read paths rebuilt from the DECODED rel names — the collected
    // absolute strings are URI-encoded (`_metadata.file_path`) and a
    // literal '%20' in a Path is a different file
    if (cms.isEmpty && cts.isEmpty) spark.read.schema(schema)
      .option("basePath", hPath.toString)
      .parquet(touchedRel.map(r => new Path(hPath, r).toString): _*)
    else {
      val df = CommitLog.mappedScan(spark, hPath, touchedRel, cms,
        coltypes = cts)
      val have = df.columns.toSet
      df.select(schema.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
  }

  def mergeParquet(spark: SparkSession, updates: DataFrame,
                   keyCols: Seq[String], path: String,
                   failpoint: String => Unit = _ => (),
                   keepReplaced: Boolean = false,
                   allowSchemaEvolution: Boolean = false): MergeStats = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"merge target $path does not exist — " +
      "first write goes through the publish path, not MERGE")
    // bootstrap gen 0 / read the latest manifest; `live` is the
    // exactly-once file set everything below reads (torn-swap debris
    // on disk is invisible to it)
    // ONE manifest snapshot serves live set, DV guard, mappings and
    // checks (CommitLog.ensureSnapshotAt, guide §6)
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    CommitLog.requireNoDvs(m.dvs, hPath, "mergeParquet")
    val cms = m.colmaps
    val cts = m.coltypes
    val scan = liveScan(spark, hPath, live, cms, cts)
    val sinkDF = scan.drop("__f")
    val sinkSchema = sinkDF.schema
    if (allowSchemaEvolution)
      require(sinkSchema.fieldNames.forall(updates.columns.contains),
        s"schema evolution widens only: updates must carry every sink " +
          s"column; missing ${
            sinkSchema.fieldNames.filterNot(updates.columns.contains)
              .mkString(",")}")
    else
      require(sinkSchema.fieldNames.sorted.sameElements(
          updates.columns.sorted),
        s"updates schema ${updates.columns.sorted.mkString(",")} must " +
          s"match sink schema ${sinkSchema.fieldNames.sorted.mkString(",")}")
    val keyed = updates.select(updates.columns.toIndexedSeq.map(col): _*)
    // CHECK constraints gate the batch before anything stages
    CommitLog.requireChecks(m.checks, keyed, "mergeParquet")

    // small frame, three consumers (touched files, matched rewrite,
    // insert anti-join) — cache, released in the finally (a crash —
    // real or failpoint-injected — must not leak the blocks)
    val batch = keyed.cache()
    try {

    // 1. touched files: THE one full-sink key scan (key columns only —
    // the file path is parquet metadata, no extra I/O)
    val sinkKeys = scan
      .select(col("__f") +: keyCols.map(col): _*)
    val touched = sinkKeys
      .join(batch.select(keyCols.map(col): _*), keyCols, "left_semi")
      .select("__f").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val touchedRel = touched.map(f => CommitLog.relativize(fs, hPath,
      CommitLog.decodeScanPath(f)))

    // 2. matched/inserts split of the batch, derived from the touched
    // files alone: a batch key matching ANY sink row matches it in a
    // touched file, so the full sink is never key-scanned again
    val touchedKeys =
      if (touched.isEmpty) null
      else touchedScan(spark, hPath, touchedRel, cms,
          cts, sinkSchema)
        .select(keyCols.map(col): _*)
    val matched =
      if (touched.isEmpty) batch.filter(lit(false))
      else batch.join(touchedKeys, keyCols, "left_semi")
    val inserts =
      if (touched.isEmpty) batch
      else batch.join(touchedKeys, keyCols, "left_anti")
    val nUpdated = matched.count()
    // the semi/anti pair partitions the cached batch EXACTLY, so the
    // insert count is arithmetic over the cached batch — the anti-join
    // count job (one more keys-scan of every touched file) is never run
    // (guide §1.2: remove unnecessary passes)
    val nInserted = batch.count() - nUpdated

    // 3. rewrite = touched files' unmatched rows + matched payloads;
    // inserts ride the same write. Staged first so a failed job can't
    // leave partial part-files inside the sink.
    val rewritten =
      if (touched.isEmpty) inserts
      else touchedScan(spark, hPath, touchedRel, cms,
          cts, sinkSchema)
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        // evolution: the kept old-schema rows take NULLs for the
        // batch's new columns
        .unionByName(matched, allowMissingColumns = allowSchemaEvolution)
        .unionByName(inserts, allowMissingColumns = allowSchemaEvolution)
    if (nUpdated + nInserted > 0)
      rewriteIn(fs, hPath, "merge", rewritten, baseGen, live,
        touchedRel, failpoint, keepReplaced)
    MergeStats(live.length.toLong, touched.length.toLong,
      nUpdated, nInserted)
    } finally batch.unpersist(blocking = false)
  }

  /** Stage `rewritten` in the sink's layout, move it in and swap it
    * for `touchedRel` ([[CommitLog.stageIn]] → [[CommitLog.swap]]). */
  private def rewriteIn(fs: org.apache.hadoop.fs.FileSystem, hPath: Path,
                        tag: String, rewritten: DataFrame, baseGen: Long,
                        live: Seq[String], touchedRel: Seq[String],
                        failpoint: String => Unit,
                        keepReplaced: Boolean = false,
                        txn: Option[(String, Long)] = None): Unit = {
    val added = CommitLog.stageIn(fs, hPath, tag)(
      writeRewrite(rewritten, _, partColsOf(live)))
    CommitLog.swap(fs, hPath, baseGen, live, touchedRel, added,
      failpoint, keepReplaced, txn)
  }

  /** Erasure outcome: live files in the sink before, files rewritten,
    * rows deleted. */
  final case class EraseStats(filesBefore: Long, filesTouched: Long,
                              rowsDeleted: Long)

  /** WHEN MATCHED DELETE at file granularity — the erasure MERGE a
    * training-data corpus needs for right-to-be-forgotten requests:
    * every sink row whose key appears in `keys` is removed, and ONLY
    * the files containing such a key are rewritten; the rest of the
    * corpus stays byte-identical (never read past its key columns,
    * never written). Same [[CommitLog]] add → COMMIT → delete swap as
    * [[mergeParquet]]: a crash before the commit leaves the old
    * generation intact (erasure simply re-runs — the privacy
    * guarantee is the re-run's), a crash after it leaves a
    * manifest-resolved corpus that ALREADY reads exactly-once with no
    * surviving-row duplicates — the window where a re-run could
    * re-delete keys but never dedupe duplicated survivors is gone.
    *
    * Scale shape mirrors [[mergeParquet]]: one key-projected sink scan
    * semi-joined against the erasure keys (unhinted — AQE broadcasts a
    * request-sized key list, shuffles a backfill-sized one) yields the
    * touched-file list; only those files are re-read in full. Cost is
    * proportional to the files the keys TOUCH — which is why erasure-
    * heavy corpora cluster their layout by the erasure key (q84/q123's
    * layout discipline) so a deletion request touches few files. */
  def eraseParquet(spark: SparkSession, keys: DataFrame,
                   keyCols: Seq[String], path: String,
                   failpoint: String => Unit = _ => ()): EraseStats = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"erase target $path does not exist")
    require(keyCols.forall(keys.columns.contains),
      s"keys frame ${keys.columns.mkString(",")} must carry $keyCols")
    // one snapshot per call, as in mergeParquet
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    CommitLog.requireNoDvs(m.dvs, hPath, "eraseParquet")
    val cms = m.colmaps
    val cts = m.coltypes
    // mergeSchema (inside liveScan): a sink widened by
    // mergeParquet(allowSchemaEvolution) legitimately carries mixed
    // footer schemas; without the union one narrow footer could win
    // and the rewrite would silently drop the evolved columns' values
    // from every touched wide file
    val scan = liveScan(spark, hPath, live, cms, cts)
    val sinkDF = scan.drop("__f")
    val sinkSchema = sinkDF.schema
    val batch = keys.select(keyCols.map(col): _*).distinct().cache()
    try {

    val sinkKeys = scan
      .select(col("__f") +: keyCols.map(col): _*)
    val touched = sinkKeys
      .join(batch, keyCols, "left_semi")
      .select("__f").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val touchedRel = touched.map(f => CommitLog.relativize(fs, hPath,
      CommitLog.decodeScanPath(f)))
    var deleted = 0L
    if (touched.nonEmpty) {
      val touchedRows = touchedScan(spark, hPath, touchedRel,
        cms, cts, sinkSchema)
      val kept = touchedRows.join(batch, keyCols, "left_anti")
      // one KEYS-ONLY pruned semi-join count instead of two full
      // touched-file count jobs (count(full) − count(kept) re-read
      // every touched column twice; guide §1.2 / §2.3 project early)
      deleted = touchedRows.join(batch, keyCols, "left_semi").count()
      rewriteIn(fs, hPath, "erase", kept, baseGen, live, touchedRel,
        failpoint)
    }
    EraseStats(live.length.toLong, touched.length.toLong, deleted)
    } finally batch.unpersist(blocking = false)
  }

  /** CDC-apply outcome: live files before, files rewritten, and the
    * per-branch row counts. */
  final case class CdcStats(filesBefore: Long, filesTouched: Long,
                            rowsUpdated: Long, rowsDeleted: Long,
                            rowsInserted: Long)

  /** The full tri-branch MERGE — WHEN MATCHED UPDATE, WHEN MATCHED
    * DELETE, WHEN NOT MATCHED INSERT — applied from ONE CDC batch in
    * ONE touched-file pass: `changes` carries the sink schema plus an
    * `opCol` marking each row `U` (upsert: update if the key exists,
    * insert otherwise) or `D` (delete; payload columns ignored). This
    * is the consumer side of the CDC family: q121 produces the feed,
    * q198 collapses it to net effect per key, and this operator lands
    * the net batch on a parquet sink with [[mergeParquet]]'s exact
    * scale/durability shape: only the touched files rewrite, and the
    * swap is the [[CommitLog.swap]] add → COMMIT → delete
    * (crash at any point leaves a manifest-resolving reader
    * exactly-once).
    *
    * Before the write, one aggregation over the batch answers
    * emptiness, the net-batch guard and the upsert count. Then ONE key
    * pass — the inner join of the sink's
    * key-projected (file, keys) scan with the batch's (keys, op) —
    * answers everything else: its file set is the touched files, its
    * `D` rows are the sink rows deleted, and its distinct `U` keys
    * are the updates (so the remaining upserts are the inserts). This
    * is exact because the guard leaves one op per key. A key matching
    * ANY sink row matches in a touched file, so the rewrite's
    * update/insert/delete split reads the touched files alone.
    *
    * The batch must be NET: at most one op per key (what q198
    * produces). Conflicting ops on one key have no defined winner, so
    * the operator fails fast — the check is one aggregation over the
    * batch, dimension-sized next to the sink scan it guards. */
  def applyCdcParquet(spark: SparkSession, changes: DataFrame,
                      keyCols: Seq[String], opCol: String, path: String,
                      failpoint: String => Unit = _ => (),
                      keepReplaced: Boolean = false,
                      txn: Option[(String, Long)] = None): CdcStats = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"CDC target $path does not exist — " +
      "first write goes through the publish path, not MERGE")
    // one snapshot per call, as in mergeParquet
    val (baseGen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    CommitLog.requireNoDvs(m.dvs, hPath, "applyCdcParquet")
    val cms = m.colmaps
    val cts = m.coltypes
    // mergeSchema (inside liveScan) for the same reason as
    // eraseParquet: an evolved sink has mixed footers, and rewriting
    // touched wide files through one narrow footer's schema would
    // drop the evolved columns
    val scan = liveScan(spark, hPath, live, cms, cts)
    val sinkDF = scan.drop("__f")
    val sinkSchema = sinkDF.schema
    require(sinkSchema.fieldNames.sorted.sameElements(
        changes.columns.filterNot(_ == opCol).sorted),
      s"changes must carry the sink schema plus '$opCol'; got " +
        changes.columns.sorted.mkString(","))
    val batch = changes.cache()
    try {
    // An empty feed no-ops (a streaming CDF replica's idle windows
    // land here every trigger) — only the ledger advances when the
    // caller is tracking exactly-once windows. The advance is a
    // no-file blind append, so it REBASES past any concurrent commit
    // (a terminal CAS here would kill a standing replica's idle
    // trigger whenever maintenance raced it).
    // ONE aggregation job answers emptiness, the net-batch guard AND
    // the upsert count (the old shape ran isEmpty + a conflict count as
    // two separate jobs and later an anti-join count for the inserts —
    // three passes over the batch/touched files that this arithmetic
    // replaces; guide §1.2). `first(op)` per key is exact because a net
    // batch carries one row per key — and when it doesn't, the require
    // below throws before the value is used.
    val pre = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), first(col(opCol)).as("__op"))
      .agg(count(lit(1)).as("__keys"),
        coalesce(sum(when(col("__n") > 1, 1L).otherwise(0L)), lit(0L))
          .as("__conflicts"),
        coalesce(sum(when(col("__op") === "U", 1L).otherwise(0L)),
          lit(0L)).as("__upserts"))
      .head()
    if (pre.getLong(0) == 0L) {
      txn.foreach { case (app, v) =>
        CommitLog.commitAppend(fs, hPath, baseGen, live, Nil,
          txn = Some((app, v)))
      }
      return CdcStats(live.length.toLong, 0L, 0L, 0L, 0L)
    }
    val nConflict = pre.getLong(1)
    require(nConflict == 0,
      s"CDC batch is not net: $nConflict keys carry more than one op — " +
        "collapse it first (q198's net-effect reduction)")
    val nUpserts = pre.getLong(2)
    val upserts = batch.filter(col(opCol) === "U").drop(opCol)
    // CHECK constraints gate the rows that will LAND (U payloads; a
    // delete op's payload columns are ignored by contract)
    CommitLog.requireChecks(m.checks, upserts, "applyCdcParquet")

    // the one key pass: one row per matched sink row, because the
    // guard above left one op per key
    val hits = scan.select(col("__f") +: keyCols.map(col): _*)
      .join(batch.select(keyCols.map(col) :+ col(opCol): _*), keyCols)
      .agg(collect_set(col("__f")).as("__files"),
        coalesce(sum(when(col(opCol) === "D", 1L)), lit(0L)).as("__del"),
        count_distinct(when(col(opCol) === "U",
          struct(keyCols.map(col): _*))).as("__upd"))
      .head()
    val touched = hits.getSeq[String](0).sorted
    val touchedRel = touched.map(f => CommitLog.relativize(fs, hPath,
      CommitLog.decodeScanPath(f)))
    val nDeleted = hits.getLong(1)
    val nUpdated = hits.getLong(2)
    val nInserted = nUpserts - nUpdated

    val touchedRows =
      if (touched.isEmpty) null
      else touchedScan(spark, hPath, touchedRel, cms,
        cts, sinkSchema)
    val touchedKeys =
      if (touched.isEmpty) null
      else touchedRows.select(keyCols.map(col): _*)
    val matched =
      if (touched.isEmpty) upserts.filter(lit(false))
      else upserts.join(touchedKeys, keyCols, "left_semi")
    val inserts =
      if (touched.isEmpty) upserts
      else upserts.join(touchedKeys, keyCols, "left_anti")

    val rewritten =
      if (touched.isEmpty) inserts
      else touchedRows
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(matched)
        .unionByName(inserts)
    if (nUpdated + nInserted + nDeleted > 0)
      rewriteIn(fs, hPath, "cdc", rewritten, baseGen, live, touchedRel,
        failpoint, keepReplaced, txn)
    else txn.foreach { case (app, v) =>
      // no-effect batch still advances the idempotence ledger — the
      // exactly-once contract ([[Replicate]]) records "window applied"
      // even when the window nets to nothing; a no-file blind append,
      // so it rebases past concurrent commits
      CommitLog.commitAppend(fs, hPath, baseGen, live, Nil,
        txn = Some((app, v)))
    }
    CdcStats(live.length.toLong, touched.length.toLong,
      nUpdated, nDeleted, nInserted)
    } finally batch.unpersist(blocking = false)
  }
}
