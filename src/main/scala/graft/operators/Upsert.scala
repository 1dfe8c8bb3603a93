package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Insert-only upsert sink (S8/S9/T3): the Spark re-expression of the
  * reference's staging-table + `MERGE … WHEN NOT MATCHED BY TARGET THEN
  * INSERT` idempotent publish (`dags/idh_etl.py:214-259`). Existing rows
  * are never updated; re-running the same batch adds nothing.
  *
  * Spark shape: dedup incoming on the key columns (deterministic keep-first,
  * matching pandas `drop_duplicates`), left-anti join against the current
  * sink contents, append. At scale the anti-join broadcasts whichever side
  * is small (typically the incoming delta) and the sink stays append-only
  * parquet — no read-modify-write of 100 TB.
  */
object Upsert {

  /** Deterministic dedup-on-keys, keep-first by `orderCols` (U2).
    * `dropDuplicates` alone keeps an *arbitrary* row per key under
    * parallelism; ordering by explicit columns makes re-runs (and the
    * DuckDB oracle) reproducible. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String],
                     orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Dedup-on-keys as a single hash aggregation: keeps the row that is
    * lexicographically smallest by (orderCols, remaining cols) per key —
    * `min(struct(...))` under struct ordering, so no window, no sort.
    *
    * Same "deterministic keep-first by orderCols" contract as
    * [[dedupKeepFirst]] (and strictly MORE deterministic: ties on
    * orderCols resolve by the remaining columns instead of arbitrarily).
    * Preferred for publish-scale inputs whose keys are nearly unique:
    * the window formulation sorts every key partition AND runs
    * row_number over it, while this plans as a partial+final aggregate
    * pair (SortAggregate — a struct min buffer is not fixed-width, so
    * hash aggregation cannot apply — but with map-side partial
    * aggregation and no window; measured ~3.5× faster on the ~1 M-row
    * nearly-unique-key DelayFact). */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[String],
                        orderCols: Seq[String]): DataFrame = {
    // key columns are constant within a group — drop them from the
    // payload (an orderCol that IS a key would otherwise come back as a
    // second column of the same name and make the final select ambiguous)
    val ord = orderCols.filterNot(keys.contains)
    val rest = df.columns.filterNot(c =>
      keys.contains(c) || ord.contains(c)).toSeq
    val payload = ord ++ rest
    if (payload.isEmpty) return df.select(keys.map(col): _*).distinct()
    df.groupBy(keys.map(col): _*)
      .agg(min(struct(payload.map(col): _*)).as("__row"))
      .select((keys.map(col) ++
        payload.map(c => col(s"__row.$c").as(c))): _*)
      .select(df.columns.toIndexedSeq.map(col): _*) // original column order
  }

  /** Rows of `incoming` whose key is absent from `existing` (J7). */
  def newRowsOnly(incoming: DataFrame, existing: DataFrame,
                  keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Keep the FIRST occurrence of each duplicated column name (P9 — the
    * reference's `df.loc[:, ~df.columns.duplicated()]`,
    * `dags/idh_etl.py:204`). In Spark duplicate names are join
    * artifacts (`a.join(b, a("k") === b("k"))` keeps both k's) and make
    * every by-name reference ambiguous, so the dedup selects by
    * POSITION through a uniquified rename. Name matching follows the
    * session's resolution semantics (`spark.sql.caseSensitive`, default
    * false — "K" and "k" are the same ambiguous name to the analyzer,
    * so they must dedup together). No-op on clean frames. */
  def dropDuplicateColumns(df: DataFrame): DataFrame = {
    val caseSensitive = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def keyOf(c: String): String =
      if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)
    val cols = df.columns
    if (cols.map(keyOf).distinct.length == cols.length) df
    else {
      val tmp = cols.indices.map(i => s"__c$i")
      val seen = scala.collection.mutable.Set.empty[String]
      val keep = cols.zipWithIndex.collect {
        case (c, i) if seen.add(keyOf(c)) => (c, i)
      }
      df.toDF(tmp: _*)
        .select(keep.toIndexedSeq.map { case (c, i) => col(s"__c$i").as(c) }: _*)
    }
  }

  /** The incoming batch's distinct partition values, collected
    * driver-side — a publish batch spans few partitions (the hours/days
    * it covers). Only sound to collect when `incoming` is cheap to
    * evaluate (a staging scan); see `pruneRerun` on [[upsertParquet]]. */
  private def partitionValuesOf(incoming: DataFrame, p: String): Seq[Any] =
    incoming.select(col(p)).distinct().collect().map(_.get(0)).toSeq

  /** A sink scan pruned to the given partition values.
    * Partition-directory values round-trip as a narrower inferred type
    * (e.g. long 20240101 → int), so values are compared through the
    * sink's own column type — the filter stays a pure partition
    * predicate (`PartitionFilters: [p IN (...)]`, pinned by
    * PlanAuditSpec). A null batch value selects the
    * `__HIVE_DEFAULT_PARTITION__` directory explicitly (`isin` over a
    * null matches nothing in SQL) so null-partition rows stay visible
    * to re-run counts. */
  private def prunedSink(sink: DataFrame, p: String,
                         vals: Seq[Any]): DataFrame = {
    val (nullVals, defined) = vals.partition(_ == null)
    val inSet = col(p).isin(defined.map(v => lit(v).cast(
      sink.schema(p).dataType)): _*)
    sink.filter(if (nullVals.nonEmpty) inSet || col(p).isNull else inSet)
  }

  /** The sink-side key scan a re-run anti-joins against. When the sink is
    * hive-partitioned on `partitionCol`, the scan is PRUNED to the
    * incoming batch's own partition values, so an hourly publish into a
    * year-deep sink lists and reads only the batch's partitions instead
    * of the whole table — what the reference's warehouse MERGE got from
    * BigQuery partition pruning.
    *
    * Correctness invariant: `partitionCol` MUST be one of the key
    * columns. Pruning by a non-key column would hide existing keys that
    * live in other partitions from the anti-join and re-runs would
    * duplicate them (enforced in [[upsertParquet]]). */
  def sinkKeys(spark: SparkSession, incoming: DataFrame, keys: Seq[String],
               path: String, partitionCol: Option[String]): DataFrame =
    sinkKeysPruned(spark, keys, path,
      partitionCol.map(p => p -> partitionValuesOf(incoming, p)))

  /** [[sinkKeys]] over PRE-collected partition values — the form
    * [[upsertParquet]] executes, so the partition values are collected
    * once and shared with the footer counts. */
  def sinkKeysPruned(spark: SparkSession, keys: Seq[String], path: String,
                     pvals: Option[(String, Seq[Any])]): DataFrame = {
    val sink = spark.read.parquet(path)
    (pvals match {
      case Some((p, vs)) => prunedSink(sink, p, vs)
      case None => sink
    }).select(keys.map(col): _*)
  }

  /** Observe the committed row count of the next parquet write to `path`
    * on this session, from the write command's OWN driver-side metrics
    * (`BasicWriteJobStatsTracker` aggregates committed tasks only — task
    * retries and speculative duplicates never double-count, and an
    * AQE-collapsed empty write still reports 0). Replaces the
    * before/after parquet-footer counts, which each re-listed the sink —
    * on a year-deep partitioned sink two full listings per publish.
    *
    * Usage: `val w = watchWrite(spark, path); <write>; w.rows()`.
    * Query-execution events arrive asynchronously on the listener bus,
    * so `rows()` awaits the event (bounded); concurrent writes to OTHER
    * paths on the same session are ignored by the path match. */
  private[graft] class WriteWatch(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      qualified: org.apache.hadoop.fs.Path) {
    private val latch = new java.util.concurrent.CountDownLatch(1)
    private val n = new java.util.concurrent.atomic.AtomicLong(-1L)
    private val listener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        // The physical write node is DataWritingCommandExec for trivial
        // inputs, but once AQE wraps the write of a real child plan it
        // hides inside AdaptiveSparkPlanExec -> ResultQueryStageExec,
        // which TreeNode traversal does NOT descend into (stages are
        // leaf nodes) — walk those wrappers explicitly. Only the
        // EXECUTED command instance's metric objects are updated by the
        // write's BasicWriteJobStatsTracker; the logical command on
        // qe.optimizedPlan is a different copy whose metrics stay 0.
        private def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => Seq(q.plan)
            case other => other.children
          }
          p +: kids.flatMap(deep)
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          deep(qe.executedPlan).foreach {
            case d: org.apache.spark.sql.execution.command
                .DataWritingCommandExec => d.cmd match {
              case c: org.apache.spark.sql.execution.datasources
                  .InsertIntoHadoopFsRelationCommand
                // qualify the command's path through the SAME FileSystem
                // before comparing: raw string compare trips on Hadoop's
                // null-vs-empty authority ("file:/x" vs "file:///x")
                if fs.makeQualified(c.outputPath) == qualified =>
                  c.metrics.get("numOutputRows").foreach { m =>
                    n.set(m.value); latch.countDown()
                  }
              case _ => ()
            }
            case _ => ()
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
    spark.listenerManager.register(listener)
    /** Committed rows of the watched write, or -1 if the event did not
      * arrive in time (caller falls back to a footer count). */
    def rows(timeoutSec: Long = 30L): Long = {
      try latch.await(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      finally spark.listenerManager.unregister(listener)
      n.get()
    }
  }

  private[graft] def watchWrite(spark: SparkSession, path: String)
  : WriteWatch = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new WriteWatch(spark, fs, fs.makeQualified(hPath))
  }

  /** Partition-REPLACING upsert — the `MERGE … WHEN MATCHED THEN UPDATE`
    * analog at partition granularity, the half of MERGE the reference's
    * insert-only publish never needed. The incoming batch (deduped on
    * the keys) dynamically overwrites ONLY the partitions it has rows
    * for; every other partition is untouched. This is how a re-statement
    * (late data, corrected upstream feed) lands on an append-only
    * parquet warehouse without read-modify-write of the whole table:
    * at 100 TB the rewrite cost is the touched partitions, not the sink.
    *
    * Returns rows written, from the same committed-task metrics as
    * [[upsertParquet]]. `partitionCol` need not be a key here —
    * replacement is by partition, not by key — but the batch must
    * carry COMPLETE partitions (everything a touched partition should
    * contain afterwards), which is the contract re-statement feeds
    * naturally satisfy. Touched partitions are matched by partition
    * DIRECTORY name, so the batch's partition column must carry the
    * sink's declared type (the [[graft.model.StarModel.conform]]
    * discipline) — a long 20240102 and an int 20240102 render the
    * same directory, a string would not.
    *
    * The swap is crash-atomic under the [[CommitLog]] protocol (the
    * same add → COMMIT → delete as [[Merge.mergeParquet]]), replacing
    * Spark's dynamic partition overwrite whose commit deletes the old
    * partition contents before the staged renames land — a crash
    * there loses rows, and a crash in a bare add-then-delete swap
    * doubles them. Here the batch is staged to a scratch dir in the
    * sink's layout, moved in under fresh unique names, ONE manifest
    * rename commits, and only then are the replaced partitions' old
    * files deleted as garbage ([[CommitLog.read]] sees exactly-once
    * rows at every point; CommitProtocolSpec kills the swap at both
    * points). `failpoint`: crash-injection hook (`"added"` /
    * `"committed"`). */
  def replacePartitionsParquet(spark: SparkSession, incoming: DataFrame,
                               keys: Seq[String], orderCols: Seq[String],
                               path: String, partitionCol: String,
                               preDeduped: Boolean = false,
                               failpoint: String => Unit = _ => ()): Long = {
    val cleaned = dropDuplicateColumns(incoming)
    val missing = (keys :+ partitionCol).distinct
      .filterNot(cleaned.columns.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[replace] missing columns $missing — skip")
      return -1L
    }
    val deduped =
      if (preDeduped) cleaned
      else dedupKeepFirstAgg(cleaned, keys, orderCols)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a first write stages like every later one: the log bootstraps
    // an empty generation 0 and the batch lands in one swap, so a
    // crash mid-write leaves no partial rows in the table
    fs.mkdirs(hPath)
    val (baseGen, live) = CommitLog.ensureLoggedAt(fs, hPath)
    // stage the batch in the sink's exact layout
    var n = -1L
    val newFiles = CommitLog.stageIn(fs, hPath, "replace") { tmp =>
      val watch = watchWrite(spark, tmp.toString)
      deduped.repartition(col(partitionCol))
        .write.partitionBy(partitionCol).parquet(tmp.toString)
      n = watch.rows()
    }
    if (n < 0) {
      System.err.println(s"[replace] write metrics for $path did not " +
        "arrive — falling back to the deduped batch count")
      n = deduped.count()
    }
    // add → COMMIT → delete
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val touchedDirs = newFiles.map(dirOf).toSet
    CommitLog.swap(fs, hPath, baseGen, live,
      live.filter(r => touchedDirs.contains(dirOf(r))), newFiles,
      failpoint, schema = Some(deduped.schema))
    n
  }

  /** TTL retention at partition granularity — drop whole partitions of
    * a hive-partitioned sink, chosen from their DIRECTORY VALUES, with
    * zero data read: a day-partitioned 100 TB corpus retires its
    * oldest days at the cost of listing + deleting the dropped
    * partitions' files, never scanning a byte (erasure by KEY is
    * [[Merge.eraseParquet]]'s job; this is the calendar-lifecycle
    * sibling). `choose` receives every live partition VALUE (directory
    * spelling, e.g. "20240101") and returns the set to drop — a data-
    * dependent policy like "everything older than the newest N days"
    * stays metadata-only because the values themselves carry the
    * calendar. The swap is the [[CommitLog]] protocol's delete half:
    * commit the shrunk manifest FIRST, then GC the dropped files, so a
    * crash leaves a manifest-resolving reader on one side or the other
    * of the drop, never astride it. Returns (partitions dropped,
    * files dropped). */
  def dropPartitionsParquet(spark: SparkSession, path: String,
                            partitionCol: String,
                            choose: Seq[String] => Set[String],
                            failpoint: String => Unit = _ => ())
  : (Long, Long) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"retention target $path does not exist")
    val (baseGen, live) = CommitLog.ensureLoggedAt(fs, hPath)
    val prefix = partitionCol + "="
    def valueOf(rel: String): Option[String] = {
      val i = rel.lastIndexOf('/')
      if (i < 0) None
      else {
        val d = rel.substring(0, i)
        if (d.startsWith(prefix)) Some(d.substring(prefix.length))
        else None
      }
    }
    val values = live.flatMap(valueOf).distinct
    val drop = choose(values)
    require(drop.subsetOf(values.toSet),
      s"choose returned unknown partition values: ${drop.diff(values.toSet)}")
    val dropped = live.filter(r => valueOf(r).exists(drop))
    if (dropped.isEmpty) return (0L, 0L)
    // the swap's pre-commit point is this verb's "resolved"
    CommitLog.swap(fs, hPath, baseGen, live, dropped, Nil,
      p => failpoint(if (p == "added") "resolved" else p))
    drop.foreach { v => // remove now-empty partition dirs, best-effort
      val d = new org.apache.hadoop.fs.Path(hPath, prefix + v)
      try { if (fs.exists(d) && fs.listStatus(d).isEmpty)
        fs.delete(d, false) }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    (drop.size.toLong, dropped.size.toLong)
  }

  /** Guards G1/G2 then idempotent append to a parquet path.
    * Returns number of rows appended (−1 when skipped by a guard).
    *
    * The delta is computed and appended in ONE action — there is no
    * separate isEmpty/count/cache pass over the incoming data; at publish
    * scale the dominant cost of a multi-table loop is sequential job
    * latency, not bytes. The appended-row count comes from the write
    * command's own committed-task metrics ([[watchWrite]]) — no extra
    * jobs, exact under task retries, and immune to the AQE
    * empty-relation rewrite that silently dropped an earlier
    * `Dataset.observe` formulation's CollectMetrics node. A parquet
    * footer-count diff (metadata-only jobs) remains as the fallback if
    * the listener event does not arrive. G1 (never create/keep an empty
    * sink from an empty batch) holds because a 0-row append writes no
    * data files, and a 0-row *first* write removes the freshly created
    * empty sink directory.
    *
    * `partitionCol`: hive-partition the sink by this column (MUST be a
    * key column — pruning by a non-key column would hide existing keys
    * in other partitions from the anti-join and duplicate them). The
    * delta is repartitioned by the column before the write so each
    * partition directory gets one file per batch, not one per task.
    * Note partition-column type narrowing on read-back: directory
    * values are re-inferred (long 20240101 → int), so consumers of a
    * partitioned sink should conform to the declared schema on load
    * (see `Publish.readSink`).
    *
    * `pruneRerun` (only meaningful with `partitionCol`): prune the
    * re-run's sink scan AND the before/after footer counts to the
    * batch's own partition values. Collecting those values costs one
    * extra evaluation of the incoming plan, so enable it when incoming
    * is a cheap scan (the staged path) and leave it off when incoming
    * is an expensive builder DAG (a full-sink keys-only scan is cheaper
    * than re-running the builder). `batchPartitions` hands in those
    * values when the caller already knows them (a staging directory's
    * partition names), so no job collects them.
    *
    * `preDeduped`: skip the keyed dedup when the incoming frame is
    * already unique per key — the staging-load pattern, where the
    * staging write deduped once and every publish run from it would
    * otherwise pay the aggregation again.
    *
    * Null KEY values follow SQL MERGE semantics, like the reference's
    * BigQuery `MERGE ON k = k`: NULL never equi-matches, so a null-key
    * row is re-appended by every run. Publish enforces REQUIRED
    * non-null keys upstream ([[graft.model.StarModel]]); the appended
    * counts stay correct either way (the pruned scans include the null
    * partition explicitly). */
  def upsertParquet(spark: SparkSession, incoming: DataFrame,
                    keys: Seq[String], orderCols: Seq[String],
                    path: String, aggDedup: Boolean = false,
                    partitionCol: Option[String] = None,
                    preDeduped: Boolean = false,
                    pruneRerun: Boolean = true,
                    batchPartitions: Option[Seq[Any]] = None,
                    failpoint: String => Unit = _ => ()): Long = {
    partitionCol.foreach(p => require(keys.contains(p),
      s"partitionCol $p must be a key column (keys=$keys): pruning by a " +
        "non-key column would duplicate keys living in other partitions"))
    // P9 (dags/idh_etl.py:204): join-artifact duplicate column names are
    // dropped keep-first before anything references columns by name
    val cleaned = dropDuplicateColumns(incoming)
    // G2: refuse write when key columns are missing from the frame
    val missing = keys.filterNot(cleaned.columns.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[upsert] missing key columns $missing — skip")
      return -1L
    }
    val deduped =
      if (preDeduped) cleaned
      else if (aggDedup) dedupKeepFirstAgg(cleaned, keys, orderCols)
      else dedupKeepFirst(cleaned, keys, orderCols)
    // first-write detection by explicit existence check, NOT by read
    // failure: a transient listing/permission/corruption error on an
    // existing sink must propagate, not silently degrade into a
    // duplicate-appending "first write"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existed = fs.exists(hPath)
    // a sink some rewrite op has brought under CommitLog control keeps
    // its manifest CURRENT through appends too: the anti-join below
    // reads the manifest-resolved LIVE set (a plain directory read
    // would also see torn-swap debris — uncommitted inserts whose keys
    // would then wrongly suppress this batch's rows), and the append
    // itself is STAGED to a scratch directory and moved in under its
    // exact staged names (a before/after listing diff would adopt ANY
    // file that appeared in the window — including a concurrent
    // rewriter's staged-but-uncommitted move-ins, committing another
    // writer's copies as this append's rows). Per-write log cost
    // stays O(1) manifests. Never-logged sinks skip all of it (zero
    // cost). NOTHING is deleted on this path — debris reclaim is
    // explicit vacuum maintenance, never a writer's side effect.
    // one manifest snapshot serves the live set, the DV guard, the
    // mappings and the checks below (CommitLog.latestSnapshot — a
    // never-logged sink stays unlogged, guide §6)
    val snapBefore: Option[(Long, CommitLog.Manifest)] =
      if (existed) CommitLog.latestSnapshot(fs, hPath) else None
    // the existing-keys anti-join below reads live files RAW: a
    // deletion vector's rows would count as present and wrongly
    // suppress re-inserting a deleted key
    snapBefore.foreach { case (_, m) =>
      CommitLog.requireNoDvs(m.dvs, hPath, "upsertParquet")
    }
    // batch partition values, collected ONCE (unless the caller
    // already knows them) and shared by the pruned anti-join scan and
    // the pruned before/after counts
    val pvals = partitionCol match {
      case Some(p) if existed && pruneRerun =>
        Some(p -> batchPartitions.getOrElse(partitionValuesOf(deduped, p)))
      case _ => None
    }
    // ONE sink read when the sink exists: its (possibly pruned) file
    // index is shared by the anti-join keys scan and — because an
    // InMemoryFileIndex is frozen at read time, so it keeps seeing only
    // the PRE-append files even after the append — by the fallback
    // before-count. The old shape re-listed the sink three times per
    // publish (keys scan, before count, after count); on a year-deep
    // partitioned sink each listing is its own driver latency.
    val existedSink: Option[DataFrame] =
      (if (!existed) None
       else snapBefore match {
         // logged sink: resolve through the manifest so uncommitted
         // torn-swap debris can never suppress (or double-count) rows;
         // a SchemaEvolve-mapped sink reads its LOGICAL view so the
         // keys anti-join matches renamed columns
         case Some((_, m)) if m.files.isEmpty => None
         case Some((_, m)) =>
           if (m.colmaps.isEmpty && m.coltypes.isEmpty)
             Some(CommitLog.scanFiles(spark, hPath, m.files,
               CommitLog.recordedSchema(m.meta)))
           else Some(CommitLog.mappedScan(spark, hPath, m.files, m))
         case None => Some(spark.read.parquet(path))
       }).map { s =>
        pvals match {
          case Some((p, vs)) => prunedSink(s, p, vs)
          case None => s
        }
      }
    val delta = existedSink match {
      case Some(s) => newRowsOnly(deduped, s.select(keys.map(col): _*), keys)
      case None => deduped // first write: sink doesn't exist yet
    }
    // CHECK constraints gate the rows actually being appended, BEFORE
    // anything stages — a violating batch never moves a byte
    snapBefore.foreach { case (_, m) =>
      CommitLog.requireChecks(m.checks, delta, "upsertParquet")
    }
    // appended-row count from the write command's own committed-task
    // metrics — zero extra jobs; a footer count over exactly the new
    // files is the fallback should the listener event not arrive.
    // Logged sinks stage the append ([[CommitLog.stageIn]] — scratch
    // unique per attempt, so concurrent upserts never collide in
    // staging) and commit exactly the moved-in names; unlogged sinks
    // append directly.
    var n = -1L
    def append(target: String): Unit = {
      val watch = watchWrite(spark, target)
      partitionCol match {
        case Some(p) => graft.io.Sources.internalWriter(
            delta.repartition(col(p)))
          .mode("append").partitionBy(p).parquet(target)
        // flat appends: file count ∝ delta bytes, never task count
        // (Sources.sizedForWrite — guide §2.2/§6)
        case None => graft.io.Sources.internalWriter(
            graft.io.Sources.sizedForWrite(delta))
          .mode("append").parquet(target)
      }
      n = watch.rows()
    }
    if (snapBefore.isEmpty) append(path)
    snapBefore.foreach { case (baseGen, mBase) =>
      // the staged files keep their exact (globally-unique
      // part-<uuid>) names and the commit lists exactly them — no
      // listing diff, so a concurrent rewriter's in-flight move-ins
      // can never be adopted into this append's manifest
      val newFiles = CommitLog.stageIn(fs, hPath, "append")(t =>
        append(t.toString))
      if (n < 0) {
        System.err.println(s"[upsert] write metrics for $path did " +
          "not arrive — falling back to parquet footer counts")
        n = if (newFiles.isEmpty) 0L
        else spark.read.option("basePath", path).parquet(
          newFiles.map(r =>
            new org.apache.hadoop.fs.Path(hPath, r).toString): _*
        ).count()
      }
      failpoint("staged")
      // append commit with bounded rebase, GUARDED at key granularity:
      // a lost race against a concurrent publisher re-commits these
      // fresh files on top of the winner's manifest WITHOUT a caller
      // retry — but only after proving the winner's own new files
      // share NO key with this batch (both reads are delta-sized). A
      // blind rebase here would let two concurrent publishers of the
      // SAME batch both land (the anti-join ran against a snapshot
      // that didn't see the winner), silently breaking the
      // insert-only-uniqueness contract the loud conflict used to
      // protect; with the guard, overlapping publishers stay terminal
      // and the caller's re-run dedupes against the winner, exactly
      // the pre-rebase semantics.
      if (newFiles.nonEmpty) {
        def absOf(rels: Seq[String]) = rels.map(r =>
          new org.apache.hadoop.fs.Path(hPath, r).toString)
        var base = baseGen
        var live = mBase.files
        var seen = live.toSet ++ newFiles
        var attempt = 0
        var stagedKeys: DataFrame = null
        var committed = false
        while (!committed) {
          try {
            CommitLog.commitNext(fs, hPath, base, live ++ newFiles,
              schema = Some(delta.schema))
            committed = true
          } catch {
            case e: CommitConflictException =>
              attempt += 1
              if (attempt >= 8)
                throw new CommitConflictException(
                  s"upsertParquet: gave up after $attempt rebase " +
                    s"attempts at $path — ${e.getMessage}")
              val (g2, m2) = CommitLog.ensureSnapshotAt(fs, hPath)
              val l2 = m2.files
              // a winner that evolved the schema (SchemaEvolve
              // rename/drop) invalidates our staged files' PHYSICAL
              // column names — rebasing would land unmapped files
              // under stale names that the logical reader then unions
              // as a phantom extra column. Terminal; the re-run
              // writes the new logical schema.
              if ((m2.colmaps, m2.coltypes) !=
                  (mBase.colmaps, mBase.coltypes))
                throw new CommitConflictException(
                  s"upsertParquet: a concurrent writer evolved the " +
                    s"schema at $path — re-run the upsert against " +
                    "the new logical schema")
              val winnerNew = l2.filterNot(seen)
              if (winnerNew.nonEmpty) {
                if (stagedKeys == null)
                  stagedKeys = CommitLog.scanFiles(spark, hPath,
                      newFiles, Some(delta.schema))
                    .select(keys.map(col): _*).distinct()
                    .localCheckpoint()
                val overlap = CommitLog.scanFiles(spark, hPath,
                    winnerNew, CommitLog.recordedSchema(m2.meta))
                  .select(keys.map(col): _*)
                  .join(stagedKeys, keys, "left_semi").take(1)
                if (overlap.nonEmpty)
                  throw new CommitConflictException(
                    s"upsertParquet: a concurrent publisher landed " +
                      s"overlapping key(s) (e.g. ${overlap.head}) at " +
                      s"$path — re-run the upsert; its anti-join " +
                      "will dedupe against the winner")
              }
              seen ++= winnerNew
              base = g2; live = l2
          }
        }
      }
    }
    if (n < 0 && snapBefore.isEmpty) {
      System.err.println(s"[upsert] write metrics for $path did not " +
        "arrive — falling back to parquet footer counts")
      val before = existedSink.map(_.count()).getOrElse(0L) // frozen
      val after = try {
        val sink = spark.read.parquet(path)
        (pvals match {
          case Some((p, vs)) => prunedSink(sink, p, vs)
          case None => sink
        }).count()
      } catch {
        // an all-empty FIRST write leaves a directory with no data
        // files — unreadable as parquet, and deleted by G1 below
        case _: org.apache.spark.sql.AnalysisException if !existed => 0L
      }
      n = after - before
    }
    if (n == 0 && !existed) fs.delete(hPath, true) // G1: no empty sink
    n
  }

  /** Apply a CDC feed (insert/update/delete ops) to derive final table
    * state — the deletes-capable MERGE this module's insert-only upsert
    * deliberately lacks. Each row carries a per-key monotone sequence
    * (`seqCol`, the LSN/commit-ts of a real CDC source; MUST be unique
    * per key or "latest" is ill-defined) and an op marker (`opCol`):
    * the key's highest-sequence row wins, and wins of op "D" delete the
    * key. All other op values (I/U or anything else) survive with that
    * row's payload — upstream semantics like partial-update images are
    * the feed producer's concern, not the apply's.
    *
    * A feed that VIOLATES the unique-seq contract is not an error by
    * default; it resolves deterministically but by an ordering no CDC
    * producer intends: max(struct(seq, op, payload…)) breaks the seq
    * tie lexicographically on op then payload, so a same-seq "U" beats
    * "D" (alphabetical) and quietly resurrects a deleted key. Feed
    * producers who cannot rule out duplicate LSNs should pass
    * `assertUniqueSeq = true`: one extra aggregation over the feed
    * (count per (key, seq), shuffled by the same key) that fails fast
    * with the first offending key instead of silently mis-merging.
    *
    * Spark shape: ONE hash aggregation — max(struct(seq, op,
    * payload…)) per key — so the feed is shuffled once by key and
    * reduced map-side; no window, no sort, no join against the prior
    * state (full-feed compaction). For incremental application against
    * an existing sink, compose: applyCdc(feed) → [[upsertParquet]] on
    * the surviving keys after deleting the feed's keys from the sink
    * partition (the read-modify-write a deletes-capable sink needs). */
  def applyCdc(feed: DataFrame, keyCols: Seq[String], seqCol: String,
               opCol: String, assertUniqueSeq: Boolean = false): DataFrame = {
    if (assertUniqueSeq) {
      val dup = feed.groupBy((keyCols :+ seqCol).map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).take(1)
      require(dup.isEmpty,
        s"applyCdc: $seqCol is not unique per key — first offender: " +
          dup.headOption.fold("")(_.toString))
    }
    val payload = feed.columns
      .filterNot(c => keyCols.contains(c) || c == seqCol || c == opCol)
      .toSeq
    feed.groupBy(keyCols.map(col): _*)
      .agg(max(struct((seqCol +: opCol +: payload).map(col): _*))
        .as("__last"))
      .filter(col(s"__last.$opCol") =!= "D")
      .select(keyCols.map(col) ++
        payload.map(p => col(s"__last.$p").as(p)): _*)
  }
}
