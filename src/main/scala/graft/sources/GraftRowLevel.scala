package graft.sources

import scala.collection.mutable

import graft.operators.{CommitLog, DeleteVectors}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite,
  DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** SQL row-level DML for graft tables — Spark's delta-based
  * `SupportsRowLevelOperations` SPI (the Iceberg position-delta
  * shape, `SupportsDelta`), planned as MERGE-ON-READ over the
  * existing deletion-vector engine:
  *
  *   - `UPDATE graft.db.t SET c = e WHERE p` — the rewritten plan
  *     scans the pinned snapshot WITH row identity (`_graft_file`,
  *     `_graft_pos` metadata columns), marks each matched row's
  *     position deleted and appends the post-update rows as new
  *     files; ONE commit publishes `#dv` records + appended files
  *     (zero existing data files rewritten), exactly the
  *     [[DeleteVectors.mergeOnRead]] commit shape, so change-data-feed
  *     pairing and time travel treat SQL DML and operator DML
  *     identically.
  *   - `MERGE INTO graft.db.t USING s ON k WHEN MATCHED ... WHEN NOT
  *     MATCHED ...` — same plan with a source join; NOT MATCHED rows
  *     arrive as pure inserts (null row id).
  *   - `DELETE FROM` keeps its metadata-only path: Spark's
  *     `OptimizeMetadataOnlyDeleteFromTable` converts the rewritten
  *     plan back to [[GraftTable.deleteWhere]] whenever the condition
  *     is exactly filter-convertible; only non-pushable conditions
  *     (subqueries, expressions) execute here.
  *
  * Scale shape: the scan side prunes files through the manifest
  * tiers before any I/O (the UPDATE condition is pushed like any
  * filter), the write side is ∝ |matched rows| + |new rows| (tasks
  * stream marks and inserts straight to parquet, nothing buffers
  * whole partitions), and a partitioned sink requests a
  * clustered-by-partition distribution so each task writes few
  * files. Reference semantics: the reference's own sink is an
  * insert/update MERGE (`/root/reference/dags/idh_etl.py:247-256`);
  * this closes the same verb in pure SQL. */
private[graft] object GraftRowLevel {

  /** Row-identity metadata column names — hidden from `SELECT *`,
    * projected only by the row-level rewrite (or explicitly). */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"

  def isMetaCol(name: String): Boolean =
    name == FileCol || name == PosCol

  private final class Col(n: String, dt: DataType, c: String)
    extends MetadataColumn {
    override def name(): String = n
    override def dataType(): DataType = dt
    override def isNullable: Boolean = false
    override def comment(): String = c
  }

  val metadataColumns: Array[MetadataColumn] = Array(
    new Col(FileCol, StringType,
      "sink-relative data file holding the row (the #dv record key)"),
    new Col(PosCol, LongType,
      "raw row ordinal within its data file (parquet row_index)"))

  /** A CHECK constraint RESOLVED against the write schema and BOUND
    * to row ordinals — what the task writers evaluate per row, so a
    * V2 write validates its input in the SAME pass that writes it
    * (no second scan of the batch or the staged files; Delta's
    * inline-validation shape). `pass` must evaluate TRUE for the row
    * to land (NULL counts as a violation, folded in by coalesce at
    * bind time). */
  private[graft] final case class GraftBoundCheck(
      name: String, sql: String,
      pass: org.apache.spark.sql.catalyst.expressions.Expression)

  /** Resolve + bind the table's `#check` expressions against the
    * rows the write will produce — driver-side (the analyzer runs
    * here), shipped to tasks as bound expressions. */
  private[graft] def boundChecks(schema: StructType,
                                 checks: Map[String, String])
  : Seq[GraftBoundCheck] = {
    if (checks.isEmpty) return Nil
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val spark = SparkSession.active
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    checks.toSeq.sortBy(_._1).map { case (n, e) =>
      val analyzed = df.select(coalesce(expr(e), lit(false))
        .cast("boolean").as("__pass")).queryExecution.analyzed
      val pr = analyzed.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
      }.getOrElse(throw new IllegalStateException(
        s"check '$n' did not analyze to a projection: $analyzed"))
      val bound = org.apache.spark.sql.catalyst.expressions
        .BindReferences.bindReference(
          pr.projectList.head
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions
              .Alias].child,
          pr.child.output)
      GraftBoundCheck(n, e, bound)
    }
  }

  /** The task-writer factory every distributed graft write shares
    * (row-level DML and dynamic partition overwrite): the task-side
    * `ParquetOutputWriter` reads everything from conf — write-support
    * class, row schema (set per writer), and the session's parquet
    * write options. `checks` are evaluated per inserted row INSIDE
    * the task (refuse at task level → the job fails before any
    * commit), so constraint validation costs zero extra scans. */
  def writerFactory(staging: Path, dataSchema: StructType,
                    partCols: Seq[String],
                    checks: Seq[GraftBoundCheck] = Nil,
                    bucketSpec: Option[(String, Int)] = None)
  : GraftDeltaWriterFactory = {
    val spark = SparkSession.active
    val conf = new Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("parquet.write.support.class",
      classOf[ParquetWriteSupport].getName)
    import org.apache.spark.sql.internal.SQLConf
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key)
      .foreach(k => conf.set(k, spark.conf.get(k)))
    conf.set("parquet.compression",
      spark.conf.get("spark.sql.parquet.compression.codec")
        .toUpperCase(java.util.Locale.ROOT))
    GraftDeltaWriterFactory(staging.toString, dataSchema, partCols,
      spark.sessionState.conf.sessionLocalTimeZone,
      new SerializableConfiguration(conf), checks, bucketSpec)
  }
}

private[sources] final class GraftRowLevelOperationBuilder(
    state: GraftState, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(state, info.command())
}

private[sources] final class GraftRowLevelOperation(
    state: GraftState, cmd: RowLevelOperation.Command)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The SAME pinned-snapshot scan the SELECT surface plans
    * (manifest pruning, DV anti-join, column mapping) — the rewrite
    * just projects the row-identity columns on top. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new GraftScanBuilder(state)

  override def newWriteBuilder(info: LogicalWriteInfo)
  : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite =
      new GraftDeltaWrite(state, info.schema(), cmd)
  }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftRowLevel.FileCol),
    Expressions.column(GraftRowLevel.PosCol))

  override def description(): String = s"graft row-level $cmd"
}

private[sources] final class GraftDeltaWrite(
    state: GraftState, dataSchema: StructType,
    cmd: RowLevelOperation.Command)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  /** The committed hive layout (or the declared `#meta` layout while
    * empty) — appended rows must land under it, same rule as
    * [[GraftWriter.write]]. */
  private val partCols: Seq[String] = {
    val committed = CommitLog.partitionColsOf(state.manifest.files)
    if (committed.nonEmpty) committed
    else state.manifest.meta.get("partition.cols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
  }

  /** Cluster by partition columns so each task writes into few hive
    * directories (a DELETE writes no rows, so no clustering). */
  override def requiredDistribution(): Distribution =
    if (partCols.nonEmpty && cmd != RowLevelOperation.Command.DELETE)
      Distributions.clustered(partCols.map(c =>
        Expressions.identity(c)
          : org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
    else Distributions.unspecified()

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch(): DeltaBatchWrite =
    new GraftDeltaBatchWrite(state, dataSchema, partCols, cmd)

  override def description(): String =
    s"graft delta write ${state.path}@${state.gen}"
}

/** One SQL statement's distributed write: tasks stream position
  * marks and insert rows straight to staged parquet (sibling
  * `__rlo_tmp-*` directory), the driver moves the inserts in with
  * [[CommitLog.moveIn]] and publishes everything in one
  * [[DeleteVectors.commitRowLevelDelta]] commit. */
private[sources] final class GraftDeltaBatchWrite(
    state: GraftState, dataSchema: StructType, partCols: Seq[String],
    cmd: RowLevelOperation.Command)
  extends DeltaBatchWrite {

  private val hPath = new Path(state.path)
  private val stagingPath = CommitLog.scratchDir(hPath, "rlo")

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DeltaWriterFactory =
    GraftRowLevel.writerFactory(stagingPath, dataSchema, partCols,
      // the statement's new rows are CHECK-gated per row IN the task
      // writers (the pinned snapshot's constraints — the commit's
      // commute test refuses if a winner changed them); a DELETE
      // writes no rows, and its schema carries no data columns to
      // resolve against
      checks =
        if (cmd == RowLevelOperation.Command.DELETE) Nil
        else GraftRowLevel.boundChecks(dataSchema,
          state.manifest.checks),
      // preserve a declared bucket layout: inserted rows route to
      // per-bucket files (a DELETE writes no rows — no routing)
      bucketSpec = graft.operators.Bucketing
        .specOf(state.manifest.meta)
        .filter { case (c, _) => dataSchema.fieldNames.contains(c) })

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val msgs = messages.toSeq
        .collect { case m: GraftDeltaCommitMessage => m }
      val insertRels = msgs.flatMap(_.inserts)
      val markFiles = msgs.flatMap(_.marks)
        .map(r => new Path(stagingPath, r).toString)
      val affected = msgs.flatMap(_.markedFiles).distinct.sorted
      if (insertRels.isEmpty && affected.isEmpty) return
      DeleteVectors.commitRowLevelDelta(spark, state.path, state.gen,
        state.manifest.files, state.manifest.dvs, stagingPath,
        insertRels, markFiles, affected, branch = state.branch)
    } finally fs.delete(stagingPath, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingPath.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(stagingPath, true)
  }
}

private[sources] final case class GraftDeltaCommitMessage(
    inserts: Seq[String], marks: Option[String],
    markedFiles: Seq[String], nInserted: Long, nDeleted: Long)
  extends WriterCommitMessage

private[sources] final case class GraftDeltaWriterFactory(
    stagingUri: String, dataSchema: StructType, partCols: Seq[String],
    timeZone: String, conf: SerializableConfiguration,
    checks: Seq[GraftRowLevel.GraftBoundCheck] = Nil,
    bucketSpec: Option[(String, Int)] = None)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DeltaWriter[InternalRow] =
    new GraftDeltaTaskWriter(stagingUri, dataSchema, partCols,
      timeZone, conf, partitionId, taskId, checks, bucketSpec)
}

/** Task-side writer: `insert` streams the row into a parquet file in
  * its hive directory (partition values rendered exactly as
  * `partitionBy` would — escaped, null → default partition), `delete`
  * streams the (file, pos) mark, `update` is delete + insert. All
  * writers open lazily; a task touching one partition writes one
  * file. Memory is O(open writers + distinct marked files), never
  * O(rows). */
private final class GraftDeltaTaskWriter(
    stagingUri: String, dataSchema: StructType, partCols: Seq[String],
    timeZone: String, conf: SerializableConfiguration,
    partitionId: Int, taskId: Long,
    checks: Seq[GraftRowLevel.GraftBoundCheck] = Nil,
    bucketSpec: Option[(String, Int)] = None)
  extends DeltaWriter[InternalRow] {

  private val staging = new Path(stagingUri)
  private val uuid = java.util.UUID.randomUUID().toString

  // declared bucket routing ([[graft.operators.Bucketing]]): inserted
  // rows land in PER-BUCKET files (b00003-…), the same Murmur3-seed-42
  // pmod the batch writer and the V2 bucket function compute — so
  // row-level DML and dynamic overwrite PRESERVE the
  // storage-partitioned-join layout instead of dropping it
  private val bucketOf: Option[InternalRow => Int] =
    bucketSpec.map { case (c, n) =>
      val i = dataSchema.fieldIndex(c)
      val dt = dataSchema.fields(i).dataType
      row => {
        val h =
          if (row.isNullAt(i)) 42
          else org.apache.spark.sql.catalyst.expressions
            .Murmur3HashFunction.hash(row.get(i, dt), dt, 42L).toInt
        val r = h % n
        if (r < 0) r + n else r
      }
    }

  // CHECK constraints evaluated per inserted row in THIS pass —
  // codegen'd predicates over the bound expressions; a violation
  // fails the task (and so the job) before anything commits
  private val checkPreds = checks.map { c =>
    val p = org.apache.spark.sql.catalyst.expressions.Predicate
      .create(c.pass)
    p.initialize(partitionId)
    (c, p)
  }.toArray

  private val payloadIdx = dataSchema.fields.indices
    .filterNot(i => partCols.contains(dataSchema.fields(i).name))
  private val payloadSchema =
    StructType(payloadIdx.map(dataSchema.fields))
  private val payloadProj =
    if (partCols.isEmpty) null
    else UnsafeProjection.create(payloadIdx.map { i =>
      val f = dataSchema.fields(i)
      BoundReference(i, f.dataType, f.nullable)
    })
  // partition values render through Cast-to-string (what the
  // DataFrame writer's dynamic partitioning does), so read-back
  // partition inference agrees with files written by partitionBy
  private val partProj =
    if (partCols.isEmpty) null
    else UnsafeProjection.create(partCols.map { c =>
      val i = dataSchema.fieldIndex(c)
      val f = dataSchema.fields(i)
      Cast(BoundReference(i, f.dataType, f.nullable), StringType,
        Option(timeZone))
    })

  private val markSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
  private val markRow = new GenericInternalRow(2)

  private val insertWriters =
    mutable.LinkedHashMap.empty[String, ParquetOutputWriter]
  private val insertRels = mutable.ArrayBuffer.empty[String]
  private var markWriter: ParquetOutputWriter = _
  private var markRel: Option[String] = None
  private val markedFiles = mutable.LinkedHashSet.empty[String]
  private var nIns = 0L
  private var nDel = 0L
  private var closed = false

  private def open(schema: StructType, rel: String)
  : ParquetOutputWriter = {
    val c = new Configuration(conf.value)
    ParquetWriteSupport.setSchema(schema, c)
    val ctx = new TaskAttemptContextImpl(c,
      new TaskAttemptID(new TaskID(new JobID("graft-rlo", 0),
        TaskType.MAP, partitionId), 0))
    new ParquetOutputWriter(new Path(staging, rel).toString, ctx)
  }

  override def insert(row: InternalRow): Unit = {
    var ci = 0
    while (ci < checkPreds.length) {
      val (c, p) = checkPreds(ci)
      if (!p.eval(row))
        throw new IllegalArgumentException(
          s"graft write: row violates CHECK constraint " +
            s"'${c.name}' (${c.sql})")
      ci += 1
    }
    val dir =
      if (partCols.isEmpty) ""
      else {
        val pv = partProj(row)
        partCols.indices.map { i =>
          val v =
            if (pv.isNullAt(i))
              ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(
              pv.getUTF8String(i).toString)
          ExternalCatalogUtils.escapePathName(partCols(i)) + "=" + v
        }.mkString("", "/", "/")
      }
    val prefix = bucketOf.map(f => f"b${f(row)}%05d-").getOrElse("")
    val w = insertWriters.getOrElseUpdate(dir + prefix, {
      val rel =
        s"inserts/$dir${prefix}part-$partitionId-$taskId-$uuid.parquet"
      insertRels += rel
      open(payloadSchema, rel)
    })
    w.write(if (partCols.isEmpty) row else payloadProj(row))
    nIns += 1
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (markWriter == null) {
      val rel = s"marks/part-$partitionId-$taskId-$uuid.parquet"
      markRel = Some(rel)
      markWriter = open(markSchema, rel)
    }
    val file = id.getString(0)
    markRow.update(0, UTF8String.fromString(file))
    markRow.update(1, id.getLong(1))
    markWriter.write(markRow)
    markedFiles += file
    nDel += 1
  }

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  private def closeAll(): Unit = {
    if (closed) return
    closed = true
    insertWriters.valuesIterator.foreach(_.close())
    if (markWriter != null) markWriter.close()
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftDeltaCommitMessage(insertRels.toSeq, markRel,
      markedFiles.toSeq, nIns, nDel)
  }

  override def abort(): Unit = {
    try closeAll()
    catch { case _: Exception => () }
    val fs = staging.getFileSystem(conf.value)
    (insertRels.iterator ++ markRel.iterator).foreach { r =>
      try fs.delete(new Path(staging, r), false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = closeAll()
}

/** DYNAMIC partition overwrite (`INSERT OVERWRITE` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`, Delta's
  * `replaceWhere`-free re-statement): replace EXACTLY the leaf
  * partitions the batch carries rows for, in one commit — a true V2
  * `BatchWrite` (Spark has no V1 fallback for
  * `OverwritePartitionsDynamic`), reusing the row-level task writer
  * in insert-only mode, so rows stream straight to staged hive
  * directories. On an unpartitioned table the single leaf is the
  * root — dynamic overwrite degenerates to truncate, Delta's
  * behavior. */
private[sources] final class GraftDynamicOverwriteWrite(
    path: String, dataSchema: StructType,
    txn: Option[(String, Long)], branch: Option[String] = None)
  extends org.apache.spark.sql.connector.write.Write {

  override def description(): String = s"graft dynamic overwrite $path"

  override def toBatch()
  : org.apache.spark.sql.connector.write.BatchWrite =
    new GraftDynamicOverwriteBatchWrite(path, dataSchema, txn, branch)
}

private[sources] final class GraftDynamicOverwriteBatchWrite(
    path: String, dataSchema: StructType,
    txn: Option[(String, Long)], branch: Option[String] = None)
  extends org.apache.spark.sql.connector.write.BatchWrite {

  require(branch.isEmpty || txn.isEmpty,
    "graft write: txn idempotence is not supported on branch writes")

  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo => PWInfo}

  private val hPath = new Path(path)
  private val stagingPath = CommitLog.scratchDir(hPath, "dynov")

  private def fsOf(spark: SparkSession) =
    hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(info: PWInfo)
  : DataWriterFactory = {
    val spark = SparkSession.active
    val fs = fsOf(spark)
    // a branch write validates against and routes by the BRANCH's own
    // table state (its layout/checks may have diverged from main)
    val m = branch match {
      case Some(b) => CommitLog.branchHead(fs, hPath, b)._2
      case None => CommitLog.ensureSnapshotAt(fs, hPath)._2
    }
    // the committed layout (or, while empty, the declared #meta one)
    // routes the batch's rows — same rule as every other graft write
    val committed = CommitLog.partitionColsOf(m.files)
    val partCols =
      if (committed.nonEmpty) committed
      else m.meta.get("partition.cols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    GraftInsertWriterFactory(
      GraftRowLevel.writerFactory(stagingPath, dataSchema, partCols,
        // CHECK constraints evaluated per row in the same pass that
        // writes — no re-read of the staged batch at commit time
        checks = GraftRowLevel.boundChecks(dataSchema, m.checks),
        bucketSpec = graft.operators.Bucketing.specOf(m.meta)
          .filter { case (c, _) =>
            dataSchema.fieldNames.contains(c) }))
  }

  override def commit(messages: Array[
    org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = fsOf(spark)
    try {
      // idempotent-writer fast path, the format writer's #txn rule
      txn.foreach { case (app, v) =>
        if (CommitLog.latestSnapshot(fs, hPath)
            .flatMap(_._2.txns.get(app)).exists(_ >= v)) return
      }
      val insertRels = messages.toSeq
        .collect { case m: GraftDeltaCommitMessage => m }
        .flatMap(_.inserts)
      if (insertRels.isEmpty) return // empty batch replaces nothing
      // CHECK constraints were evaluated per row inside the task
      // writers — the commit is pure file motion + one publish, the
      // staged batch is never re-read
      val added = CommitLog.moveIn(fs, new Path(stagingPath, "inserts"),
        hPath, insertRels.map(_.stripPrefix("inserts/")))
      def leafDir(rel: String): String = {
        val i = rel.lastIndexOf('/')
        if (i < 0) "" else rel.substring(0, i + 1)
      }
      val replaced = added.map(leafDir).toSet
      branch match {
        case Some(b) =>
          // the BRANCH's leaf partitions are replaced; main never
          // moves (write-audit-publish) — file-keyed records of the
          // replaced files prune in the same commit
          val (k, bm) = CommitLog.branchHead(fs, hPath, b)
          val keep = bm.files.filterNot(f =>
            replaced.contains(leafDir(f)))
          CommitLog.commitBranch(fs, hPath, b, k,
            CommitLog.prunedToFiles(bm.copy(files = keep ++ added,
              meta = bm.meta - CommitLog.SchemaKey ++ CommitLog
                .nextRecord(bm, keep ++ added, Some(dataSchema))
                .map(CommitLog.SchemaKey -> _))))
        case None =>
          val (gen, live) = CommitLog.ensureLoggedAt(fs, hPath)
          val keep = live.filterNot(f => replaced.contains(leafDir(f)))
          // terminal on CAS loss, like truncate/static overwrite: a
          // replaced region that raced another writer must be
          // re-decided
          CommitLog.commitNext(fs, hPath, gen, keep ++ added,
            txn = txn, schema = Some(dataSchema))
      }
    } finally fs.delete(stagingPath, true)
  }

  override def abort(messages: Array[
    org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    fsOf(SparkSession.active).delete(stagingPath, true)
}

/** The delta writer factory in INSERT-ONLY mode — what a plain V2
  * batch write (dynamic overwrite) needs. */
private[sources] final case class GraftInsertWriterFactory(
    inner: GraftDeltaWriterFactory)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    inner.createWriter(partitionId, taskId)
}
