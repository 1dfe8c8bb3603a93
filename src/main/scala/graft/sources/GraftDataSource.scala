package graft.sources

import java.util

import graft.operators.{CommitLog, TableStats}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead,
  SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister,
  Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * DataSource V2 surface over [[CommitLog]]-managed sinks, so
  * ordinary SQL/DataFrame consumers get the whole table-format tier
  * WITHOUT knowing the operator vocabulary (the role
  * Delta's/Iceberg's DataSource plays). Reads:
  *
  *   - the latest manifest (or `option("versionAsOf", gen)` for time
  *     travel) is pinned at load — genuine snapshot isolation, a
  *     concurrent rewrite cannot change the rows mid-query;
  *   - deletion vectors are anti-joined away, column-mapping epochs
  *     and widening casts resolve ([[CommitLog.mappedScan]]) — a
  *     renamed/dropped/widened sink reads under its LOGICAL schema;
  *   - filter pushdown ([[SupportsPushDownFilters]]) feeds the
  *     manifest's `#stats` bounds: files provably irrelevant to the
  *     pushed conjunction are DROPPED BEFORE the scan is planned
  *     ([[TableStats.pruneIn]] — a manifest-only decision, zero data
  *     I/O), and every filter is ALSO re-applied above the scan, so
  *     pruning is pure I/O elision, never a semantics change;
  *   - column pruning ([[SupportsPushDownRequiredColumns]]) narrows
  *     the relation to exactly the projected columns, which the
  *     underlying parquet scans then prune to
  *     (`ReadSchema`/`PushedFilters` on the inner scan come free from
  *     Catalyst once the plan is declarative).
  *
  * Execution delegates through [[V1Scan]] to a [[GraftRelation]]
  * whose `buildScan` plans the SAME DataFrame the operator API
  * ([[CommitLog.read]]) would — one code path, two surfaces, so the
  * format read is hash-identical to the operator read by
  * construction. The physical plan shows a `RowDataSourceScanExec`
  * carrying this relation; PlanAuditSpec pins its pushed filters and
  * kept/skipped file counts.
  *
  * Registered via the standard `DataSourceRegister` service file, so
  * the bare short name `graft` resolves. The reference exposes its
  * tables to consumers through the warehouse's plain SQL surface
  * (`dags/idh_etl.py:247-256` BigQuery tables); a file-native engine
  * needs the connector to make its commit protocol just as
  * transparent. */
final class GraftDataSource extends TableProvider
  with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSourceProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` — EXACTLY-ONCE streaming sink:
    * every micro-batch lands as one logged append whose `#txn` ledger
    * record (appId = `option("txnAppId")` or the checkpoint identity,
    * version = batchId) rides the SAME atomic manifest publish as the
    * files — a batch replayed after crash/restart no-ops, so a
    * graft→graft streaming pipeline is exactly-once end-to-end with
    * zero sink-side bookkeeping (Delta's idempotent-sink
    * construction). Append output mode only: Complete/Update need
    * upsert semantics — use `foreachBatch` with
    * [[graft.operators.DeleteVectors.mergeOnRead]] for those. CHECK
    * constraints on the target gate every micro-batch.
    * `.partitionBy(cols)` lands each micro-batch under the hive
    * layout (still ONE logged append + `#txn` per batch — the
    * exactly-once contract is layout-independent), so the streamed
    * sink partition-prunes like any other partitioned table; the
    * committed layout wins over a conflicting `partitionBy` on
    * restart ([[GraftWriter.write]]). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming
                            .OutputMode)
  : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode ==
      org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only (got $outputMode)" +
        " — use foreachBatch + mergeOnRead for upsert semantics")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft sink: a path is required"))
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map("ckpt:" + _))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: txnAppId or checkpointLocation is required for " +
          "exactly-once replay protection"))
    new GraftStreamSink(path, appId, partitionColumns,
      parameters.get("autoAnalyze").exists(_.toBoolean))
  }

  /** `spark.readStream.format("graft")` — tail the commit log as a
    * Structured Streaming source (Delta's streaming-source role):
    * offsets ARE generation numbers, the first batch is the full
    * snapshot (or changes after `option("startingVersion", g)`), and
    * every later batch is exactly the files the window's commits
    * appended — DV-applied, mapping-resolved, cost ∝ new files.
    * Non-append changes inside a window (files removed/rewritten, DV
    * growth on already-streamed files) fail loudly unless
    * `option("ignoreChanges", true)`; `option("maxGensPerTrigger", n)`
    * rate-limits a catch-up. Exactly-once comes free: generations are
    * atomic, immutable and totally ordered, so a checkpointed offset
    * range always re-reads the same rows. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
  : (String, StructType) = {
    require(!parameters.keys.exists(_.equalsIgnoreCase("branch")),
      "graft stream: option(\"branch\") is not supported on streaming " +
        "reads — branches are audit staging; fast_forward publishes " +
        "them to main, which streams")
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val base = schema.getOrElse(GraftState.resolve(opts).schema)
    // CDF mode appends the change-type column (Delta CDF's vocabulary)
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    val full =
      if (cdf && !base.fieldNames.contains("_change_type"))
        base.add(org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
      else base
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
  : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext, metadataPath,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters)

  /** True so a WRITE to a not-yet-logged path can CREATE the table
    * (Spark then hands the incoming frame's schema to [[getTable]]
    * instead of demanding [[inferSchema]] succeed on nothing).
    * Reads without a user schema still resolve through
    * [[inferSchema]], so loading a non-table stays loud. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap)
  : StructType =
    GraftMetaTable.kindOf(options) match {
      case Some(kind) => GraftMetaTable.schemaOf(kind)
      case None if GraftCdfTable.requested(options) =>
        GraftCdfTable.schemaFor(GraftState.resolve(options))
      case None => GraftState.resolve(options).schema
    }

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // the CDF window and the history metadata table are derived from
    // MAIN's generation chain — under a branch option they would
    // silently serve main's changelog as if it were the branch's
    require(opts.get("branch") == null ||
      (GraftMetaTable.kindOf(opts).isEmpty &&
        !GraftCdfTable.requested(opts)),
      "graft: option(\"branch\") does not compose with " +
        "readChangeFeed or metadata tables — those surfaces derive " +
        "from main's generation chain; fast_forward the branch first")
    GraftMetaTable.kindOf(opts) match {
      case Some(kind) =>
        new GraftMetaTable(GraftState.resolve(opts), kind)
      case None if GraftCdfTable.requested(opts) =>
        new GraftCdfTable(GraftState.resolve(opts), opts)
      case None =>
        // an EXISTING log wins over any externally-supplied schema
        // (the manifest is the source of truth); only the
        // create-by-write path takes the incoming frame's schema at
        // face value
        val state = GraftState.resolveIfLogged(opts)
          .getOrElse(GraftState.forCreate(opts, schema))
        new GraftTable(state)
    }
  }
}

/** A pinned snapshot of one logged sink: generation, live files and
  * every manifest record family, plus the resolved LOGICAL schema —
  * everything a scan needs, read once at load. */
private[sources] final class GraftState(
    val path: String,
    val gen: Long,
    val manifest: CommitLog.Manifest,
    val schema: StructType,
    /** Set when this snapshot is a BRANCH head — `gen` is then the
      * branch chain position, and every write/DML surface commits to
      * the branch chain, never main (write-audit-publish). */
    val branch: Option[String] = None) extends Serializable

private[sources] object GraftState {

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft: a single path is required — " +
          "spark.read.format(\"graft\").load(<sink>)"))

  def resolve(options: CaseInsensitiveStringMap): GraftState =
    resolveIfLogged(options).getOrElse(
      throw new IllegalArgumentException(
        s"graft: ${pathOf(options)} is not a CommitLog-managed sink " +
          "(no manifest); bring it under log control " +
          "(CommitLog.ensureLogged) or read it as plain parquet"))

  /** The pinned snapshot when the path carries a commit log, None
    * otherwise (the write path may then CREATE it). */
  def resolveIfLogged(options: CaseInsensitiveStringMap)
  : Option[GraftState] = {
    val path = pathOf(options)
    val spark = SparkSession.active
    // any session that reads graft tables gets scan statistics
    // surfaced through the V1 bridge (see GraftStatsRule)
    GraftStatsRule.ensureRegistered(spark)
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = CommitLog.generations(fs, hPath)
    if (gens.isEmpty) return None
    // branch read: the branch chain's HEAD manifest is the pinned
    // snapshot — main's generations are untouched and invisible here
    Option(options.get("branch")).foreach { b =>
      require(options.get("versionAsOf") == null &&
        options.get("timestampAsOf") == null,
        "graft: branch and versionAsOf/timestampAsOf are mutually " +
          "exclusive")
      val (k, m) = CommitLog.branchHead(fs, hPath, b)
      val schema =
        if (m.files.nonEmpty)
          CommitLog.mappedScan(spark, hPath, m.files, m.colmaps,
            coltypes = m.coltypes, meta = m.meta).schema
        else m.meta.get("schema.ddl").map(StructType.fromDDL)
          .getOrElse(StructType(Nil))
      return Some(new GraftState(path, k, m, schema, Some(b)))
    }
    // versionAsOf: a bare generation number, or a snapshot TAG name
    // (CommitLog.resolveTag — tag names can never be all-digits, so
    // the two namespaces cannot collide)
    val byVersion = Option(options.get("versionAsOf")).map { s =>
      if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
      else CommitLog.resolveTag(fs, hPath, s)
    }
    val byTime = Option(options.get("timestampAsOf")).map { s =>
      // epoch millis, or a SQL timestamp literal
      val millis =
        try s.toLong
        catch { case _: NumberFormatException =>
          java.sql.Timestamp.valueOf(s).getTime }
      CommitLog.generationAsOf(fs, hPath, millis)
    }
    require(byVersion.isEmpty || byTime.isEmpty,
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    val gen = byVersion.orElse(byTime).getOrElse(gens.last)
    require(gens.contains(gen),
      s"graft: generation $gen is not committed (or expired) at " +
        s"$path — retained: ${gens.head}..${gens.last}")
    val m = CommitLog.manifestAt(fs, hPath, gen)
    val schema =
      if (m.files.nonEmpty)
        CommitLog.mappedScan(spark, hPath, m.files, m.colmaps,
          coltypes = m.coltypes, meta = m.meta).schema
      else
        // a CREATE'd-but-empty table reads under its DECLARED schema
        // (the #meta bootstrap record); once files land, the mapped
        // scan's schema is the source of truth
        m.meta.get("schema.ddl").map(StructType.fromDDL)
          .getOrElse(StructType(Nil))
    Some(new GraftState(path, gen, m, schema))
  }

  /** Placeholder state for a table about to be created by its first
    * write: no committed generation, the incoming frame's schema. */
  def forCreate(options: CaseInsensitiveStringMap,
                schema: StructType): GraftState =
    new GraftState(pathOf(options), -1L,
      CommitLog.Manifest(Nil, Map.empty, Map.empty, Map.empty), schema)
}

private[sources] final class GraftTable(state: GraftState)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = s"graft:${state.path}@${state.gen}"

  /** Row identity for SQL DML, Iceberg's position-delta shape: the
    * sink-relative data file and the raw in-file row ordinal — the
    * exact key the `#dv` record family already speaks, so a SQL
    * UPDATE/MERGE marks positions the same way the operator API
    * ([[graft.operators.DeleteVectors]]) does. Hidden from `SELECT *`
    * (Spark metadata-column semantics); non-nullable because the
    * row-level rewrite rules require a definite row id. */
  override def metadataColumns()
  : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftRowLevel.metadataColumns

  /** SQL `UPDATE` / `MERGE INTO` / non-pushable `DELETE` plan as
    * MERGE-ON-READ position deltas ([[GraftRowLevelOperation]] —
    * Spark's `SupportsDelta` rewrite): deletion vectors mark the old
    * positions, appended files carry the new rows, ONE commit
    * publishes both. Pushable DELETEs still take the metadata-only
    * [[deleteWhere]] path (Spark's OptimizeMetadataOnlyDeleteFromTable
    * converts the rewritten plan back when `canDeleteWhere` accepts). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
  : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(state, info)

  /** SQL `DELETE FROM` lands as DELETION VECTORS
    * ([[graft.operators.DeleteVectors.deleteWhere]] — merge-on-read,
    * zero data files rewritten, one manifest commit): accepted only
    * when EVERY conjunct converts exactly to a `Column` (a partial
    * conversion would delete a SUPERSET — `canDeleteWhere` refuses
    * and Spark reports the unsupported condition instead). The q338/
    * q343 pruning tiers keep serving the surviving rows; `VACUUM`-era
    * paydown stays `applyDeletes`/`normalizeCompact`. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // a BRANCH DELETE takes the row-level rewrite (whose commit is
    // branch-aware) — the metadata-only fast path below targets main
    state.branch.isEmpty &&
      FilterColumns.exactColumnsOf(filters.toIndexedSeq).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(state.branch.isEmpty,
      "graft: metadata-only DELETE is main-only — branch DELETEs " +
        "rewrite through the row-level path")
    val conds = FilterColumns.exactColumnsOf(filters.toIndexedSeq)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: DELETE condition not exactly expressible as " +
          s"filters: ${filters.mkString(", ")} — a weaker predicate " +
          "would delete a superset"))
    val cond = conds.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.operators.DeleteVectors.deleteWhere(
      SparkSession.active, state.path, cond)
  }

  override def schema(): StructType = state.schema

  /** User TBLPROPERTIES / COMMENT persisted by the catalog as
    * `#meta prop.*` records, surfaced back so DESCRIBE EXTENDED and
    * SHOW TBLPROPERTIES round-trip what CREATE TABLE declared. */
  override def properties(): util.Map[String, String] = {
    val props = new util.HashMap[String, String]()
    state.manifest.meta.foreach { case (k, v) =>
      if (k.startsWith("prop.")) props.put(k.stripPrefix("prop."), v)
    }
    // the provider is part of the table's identity: SHOW CREATE TABLE
    // emits `USING graft` from it, making the DDL re-creatable
    props.put(org.apache.spark.sql.connector.catalog.TableCatalog
      .PROP_PROVIDER, "graft")
    props
  }

  /** The committed hive layout (or, while empty, the declared
    * `#meta` layout) as identity transforms — so SQL static-partition
    * inserts and DESCRIBE resolve against catalog tables. */
  override def partitioning(): Array[Transform] = {
    val committed = CommitLog.partitionColsOf(state.manifest.files)
    val cols =
      if (committed.nonEmpty) committed
      else state.manifest.meta.get("partition.cols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    val idents = cols.map(c => org.apache.spark.sql.connector
      .expressions.Expressions.identity(c))
    // the declared hash bucketing surfaces as its transform too, so
    // DESCRIBE / SHOW CREATE TABLE round-trip the full layout
    val bucket = graft.operators.Bucketing.specOf(state.manifest.meta)
      .map { case (c, n) => org.apache.spark.sql.connector
        .expressions.Expressions.bucket(n, c) }
    (idents ++ bucket).toArray
  }

  // BATCH_WRITE is the capability DataFrameWriter gates the V2 save
  // path on; the V1_BATCH_WRITE marker routes the planned AppendData/
  // Overwrite to the V1Write bridge execs
  /** MICRO_BATCH_READ is advertised only for plain (un-evolved)
    * layouts — [[GraftMicroBatchStream.eligible]]; for tables with
    * `#colmap`/`#coltype` records (or a CDF read, which routes to
    * [[GraftCdfTable]]) Spark falls back to the V1 streaming source,
    * whose DataFrame-shaped `getBatch` plans the mapped view. */
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
    if (GraftMicroBatchStream.eligible(state))
      caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new GraftScanBuilder(state, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(state.path, info, state.branch)
}

/** `df.write.format("graft")` — the WRITE half of the format surface.
  * `mode("append")` is a staged LOGGED APPEND: files land under fresh
  * names in a scratch dir, move in, and ONE manifest publish commits
  * them via [[CommitLog.commitAppend]]'s bounded commutative rebase —
  * two concurrent format writers both land, exactly-once, no caller
  * retries. `mode("overwrite")` (Spark routes it through
  * [[SupportsTruncate]]) commits the new file set as the next
  * generation — the replaced files stay on disk for time travel until
  * retention reclaims them, which is what a table-format TRUNCATE
  * means. Writer-side guarantees ride along: CHECK constraints gate
  * the batch before anything stages, schema conformance is enforced
  * by Spark's by-name resolution against the LOGICAL schema (so a
  * renamed sink takes appends under its new names, no records
  * needed), and `option("txnAppId"/"txnVersion")` makes the write
  * idempotent through the `#txn` ledger (a replayed micro-batch
  * no-ops, Delta's foreachBatch pattern). A write to a path with no
  * log CREATES the table: first write defines the schema and commits
  * generation 0/1. */
private[sources] final class GraftWriteBuilder(
    path: String, info: LogicalWriteInfo,
    stateBranch: Option[String] = None)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private def options: CaseInsensitiveStringMap = info.options()

  /** The target branch: the write option, or the branch the TABLE
    * itself was loaded as (the catalog's `.branch_<name>` suffix) —
    * both set must agree. */
  private def branchOf: Option[String] = {
    val opt = Option(options.get("branch"))
    (opt, stateBranch) match {
      case (Some(a), Some(b)) =>
        require(a == b,
          s"graft write: option(\"branch\", \"$a\") conflicts with " +
            s"the branch-$b table being written")
        Some(a)
      case (a, b) => a.orElse(b)
    }
  }

  private var overwrite = false
  private var dynamic = false
  private var replaceWhere: Option[Map[String, String]] = None

  private def txnOf: Option[(String, Long)] =
    Option(options.get("txnAppId")).map { app =>
      val v = Option(options.get("txnVersion")).getOrElse(
        throw new IllegalArgumentException(
          "graft: txnAppId requires txnVersion"))
      (app, v.toLong)
    }

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** `partitionOverwriteMode=dynamic` — replace exactly the leaf
    * partitions the batch carries ([[GraftDynamicOverwriteWrite]], a
    * true V2 write: Spark has no V1 bridge for this plan). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  /** `INSERT OVERWRITE t PARTITION (p='x', ...)` (Spark's STATIC
    * partition-overwrite mode) arrives as equality filters on the
    * static spec: the write REPLACES exactly the matching partition
    * directories — untouched partitions' files stay byte-identical,
    * one commit swaps the region (the re-statement verb warehouses
    * run daily). AlwaysTrue (a bare INSERT OVERWRITE) remains
    * TRUNCATE. Anything not an equality-on-partition-column spec is
    * refused in `canOverwrite` so Spark reports the unsupported
    * condition at analysis. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
      overwrite = true
    else replaceWhere = Some(GraftWriteBuilder.staticSpec(filters)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: overwrite condition ${filters.mkString(", ")} is " +
          "not a static partition spec (col = literal, ...) — use " +
          "INSERT OVERWRITE ... PARTITION (col=value) or truncate")))
    this
  }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue) ||
      GraftWriteBuilder.staticSpec(filters).isDefined

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val branch = branchOf
    if (dynamic)
      new GraftDynamicOverwriteWrite(path, info.schema(), txnOf,
        branch)
    else new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame,
                              overwriteLegacy: Boolean): Unit =
            GraftWriter.write(data, path,
              // the V1 bridge passes overwrite=true for EVERY
              // OverwriteByExpression — a partition replace must not
              // escalate to truncate
              (overwrite || overwriteLegacy) && replaceWhere.isEmpty,
              txnOf,
              replaceWhere = replaceWhere,
              autoAnalyze = Option(options.get("autoAnalyze"))
                .exists(_.toBoolean),
              branch = branch)
        }
    }
  }
}

private[sources] object GraftWriteBuilder {

  /** A spec literal rendered EXACTLY as the writers render partition
    * directories — through Catalyst `Cast(..., StringType)` in the
    * session time zone (what `partitionBy` and the delta task
    * writer's partProj do) — so the replace prefix always matches the
    * staged directory names. `String.valueOf` would diverge for
    * temporal types (java.sql.Timestamp.toString appends `.0`),
    * making a valid INSERT OVERWRITE PARTITION fail the rogue-files
    * check. Falls back to `String.valueOf` only for values Catalyst
    * cannot lift (then both renderings are the raw toString anyway). */
  private def render(v: Any): String =
    try {
      val tz = SparkSession.active.sessionState.conf
        .sessionLocalTimeZone
      val out = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(v),
        org.apache.spark.sql.types.StringType, Option(tz)).eval(null)
      if (out == null) String.valueOf(v) else out.toString
    } catch {
      case scala.util.control.NonFatal(_) => String.valueOf(v)
    }

  /** The (col → directory-rendered value) map of a STATIC partition
    * overwrite condition, or None when any conjunct is not a plain
    * equality — the only form whose replacement region is a set of
    * partition directories. */
  def staticSpec(filters: Array[Filter])
  : Option[Map[String, String]] = {
    import org.apache.spark.sql.{sources => S}
    val parsed = filters.toSeq.map {
      case S.EqualTo(c, v) if v != null => Some(c -> render(v))
      case S.EqualNullSafe(c, null) => Some(c ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME)
      case S.EqualNullSafe(c, v) => Some(c -> render(v))
      case _ => None
    }
    if (parsed.forall(_.isDefined) && parsed.nonEmpty)
      Some(parsed.flatten.toMap)
    else None
  }
}

/** Manifest-derived METADATA tables (Iceberg's `files`/`history`
  * metadata tables, Delta's DESCRIBE HISTORY/detail):
  * `option("metadata", "files" | "history")` on a format read returns
  * the table ABOUT the table — per-live-file footprint (bytes, DV
  * marks and cardinality, stats coverage, mapping debt) or the
  * per-generation audit ([[graft.operators.TableHistory]]). Both are
  * driver-side manifest arithmetic: `files` adds one `getFileStatus`
  * per live file, `history` one cached manifest parse per retained
  * generation — zero data I/O either way. `versionAsOf` composes with
  * `files` (the snapshot's footprint as of that generation). */
private[sources] final class GraftMetaTable(state: GraftState,
                                            kind: String)
  extends Table with SupportsRead {

  override def name(): String =
    s"graft:${state.path}@${state.gen}#$kind"

  override def schema(): StructType = GraftMetaTable.schemaOf(kind)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
  : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = schema()
      override def description(): String = name()
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new GraftMetaRelation(context, state, kind).asInstanceOf[T]
    }
  }
}

private[sources] object GraftMetaTable {

  def kindOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("metadata")).map { k =>
      val kind = k.toLowerCase(java.util.Locale.ROOT)
      require(kind == "files" || kind == "history" ||
        kind == "detail",
        s"graft: unknown metadata table '$k' (have: files, history, " +
          "detail)")
      kind
    }

  import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      org.apache.spark.sql.types.StructField("file", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("bytes", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("has_dv", BooleanType,
        nullable = false),
      org.apache.spark.sql.types.StructField("dv_marks", LongType,
        nullable = true),
      org.apache.spark.sql.types.StructField("stats_cols", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("mapped", BooleanType,
        nullable = false)))
    // DESCRIBE DETAIL-grade one-row table summary (Delta's DESCRIBE
    // DETAIL): everything an operator wants to know about the table's
    // CURRENT (or pinned, under versionAsOf) state in one row, all
    // manifest arithmetic plus one file listing for physical size
    case "detail" => StructType(Seq(
      org.apache.spark.sql.types.StructField("format", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("location", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("generation", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("generations_retained",
        LongType, nullable = false),
      org.apache.spark.sql.types.StructField("num_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("size_bytes", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("num_dv_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("dv_marks", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("partition_columns",
        StringType, nullable = false),
      org.apache.spark.sql.types.StructField("checks", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("tags", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("stats_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("bloom_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("mapped_files", LongType,
        nullable = false)))
    case "history" => StructType(Seq(
      org.apache.spark.sql.types.StructField("generation", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("operation", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("files_added", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("files_removed", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("dv_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("dv_marks", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_checks", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("stats_files", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("txn_apps", LongType,
        nullable = false),
      org.apache.spark.sql.types.StructField("mapped_files", LongType,
        nullable = false)))
  }
}

private[sources] final class GraftMetaRelation(
    ctx: SQLContext, state: GraftState, kind: String)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = GraftMetaTable.schemaOf(kind)

  /** Live-file lengths via ONE listStatus per parent directory instead
    * of one getFileStatus RPC per file (the Compact/stats batching
    * discipline — on an object store per-file HEADs dominate a deep
    * layout's planning). A file missing from its directory's listing
    * (vacuum already reclaimed a versionAsOf snapshot's file) is simply
    * absent from the map, preserving the per-file tolerance the old
    * getFileStatus catch provided; a whole missing directory reports
    * all its files absent the same way. */
  private def batchLens(fs: FileSystem, hPath: Path,
                        files: Seq[String]): Map[String, Long] =
    files.map(r => r -> new Path(hPath, r)).groupBy(_._2.getParent)
      .toSeq.flatMap { case (d, entries) =>
        val want = entries.map { case (r, p) => p.getName -> r }.toMap
        try fs.listStatus(d).toSeq.flatMap(st =>
          want.get(st.getPath.getName).map(_ -> st.getLen))
        catch { case _: java.io.FileNotFoundException => Nil }
      }.toMap

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    val df = kind match {
      case "history" =>
        graft.operators.TableHistory.history(spark, state.path)
      case "detail" =>
        val hPath = new Path(state.path)
        val fs = hPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val m = state.manifest
        val lens = batchLens(fs, hPath, m.files)
        val size = m.files.map(lens.getOrElse(_, 0L)).sum
        val tags = m.meta.collect {
          case (k, v) if k.startsWith(CommitLog.TagMetaPrefix) =>
            s"${k.stripPrefix(CommitLog.TagMetaPrefix)}=$v"
        }.toSeq.sorted.mkString(",")
        import spark.implicits._
        Seq((
          "graft", state.path, state.gen,
          CommitLog.generations(fs, hPath).size.toLong,
          m.files.size.toLong, size, m.dvs.size.toLong,
          m.dvMarks.values.sum,
          CommitLog.partitionColsOf(m.files).mkString(","),
          m.checks.keys.toSeq.sorted.mkString(","), tags,
          m.stats.size.toLong, m.blooms.size.toLong,
          m.files.count(f => m.colmaps.contains(f) ||
            m.coltypes.contains(f)).toLong))
          .toDF("format", "location", "generation",
            "generations_retained", "num_files", "size_bytes",
            "num_dv_files", "dv_marks", "partition_columns",
            "checks", "tags", "stats_files", "bloom_files",
            "mapped_files")
      case "files" =>
        val hPath = new Path(state.path)
        val fs = hPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val m = state.manifest
        import spark.implicits._
        val lens = batchLens(fs, hPath, m.files)
        m.files.map { f =>
          // a versionAsOf snapshot may reference files vacuum already
          // reclaimed — the rest of the row is manifest arithmetic, so
          // report bytes = -1 rather than failing the metadata table
          val bytes = lens.getOrElse(f, -1L)
          (f, bytes,
            m.dvs.contains(f), m.dvMarks.get(f),
            m.stats.getOrElse(f, Map.empty).size.toLong,
            m.colmaps.contains(f) || m.coltypes.contains(f))
        }.toDF("file", "bytes", "has_dv", "dv_marks", "stats_cols",
          "mapped")
    }
    df.select(schema.fieldNames.toIndexedSeq.map(col): _*).rdd
  }
}

/** BATCH change-data-feed read (Delta's batch CDF, the audit/backfill
  * workhorse): `spark.read.format("graft").option("readChangeFeed",
  * true).option("startingVersion", m)[.option("endingVersion", n)]`
  * returns the row-level change feed of generations `m → n` (default
  * n = latest committed) — exactly [[CommitLog.changesBetween]], the
  * same manifest-diff engine the STREAMING CDF source consumes, so
  * batch and stream windows over the same generations are
  * row-identical by construction. `startingVersion` is the BASE
  * snapshot (changes SINCE it), matching the streaming source's
  * semantics; `option("cdfKeys", "a,b")` pairs a window's delete and
  * insert halves into `update_preimage`/`update_postimage`. Cost ∝
  * changed files + DV deltas, never the table: unchanged files are
  * excluded by manifest set arithmetic before any scan is planned. */
private[sources] final class GraftCdfTable(state: GraftState,
                                           options:
                                             CaseInsensitiveStringMap)
  extends Table with SupportsRead {

  override def name(): String =
    s"graft:${state.path}#changes"

  override def schema(): StructType = GraftCdfTable.schemaFor(state)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(scanOpts: CaseInsensitiveStringMap)
  : ScanBuilder = new ScanBuilder {
    override def build(): Scan = {
      require(options.get("versionAsOf") == null &&
        options.get("timestampAsOf") == null,
        "graft CDF: readChangeFeed and versionAsOf/timestampAsOf are " +
          "mutually exclusive — the version window IS the range")
      val start = Option(options.get("startingVersion")).map(_.toLong)
        .getOrElse(throw new IllegalArgumentException(
          "graft CDF: a batch readChangeFeed needs " +
            "option(\"startingVersion\", <generation>) — the base " +
            "snapshot changes are counted from"))
      val end = Option(options.get("endingVersion")).map(_.toLong)
        .getOrElse(state.gen)
      require(end >= start,
        s"graft CDF: endingVersion $end < startingVersion $start")
      val keys = Option(options.get("cdfKeys"))
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
      new V1Scan {
        override def readSchema(): StructType = schema()
        override def description(): String =
          s"${name()} $start..$end"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftCdfRelation(context, state, start, end, keys)
            .asInstanceOf[T]
      }
    }
  }
}

private[sources] object GraftCdfTable {

  def requested(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  def schemaFor(state: GraftState): StructType =
    if (state.schema.fieldNames.contains("_change_type")) state.schema
    else state.schema.add(org.apache.spark.sql.types.StructField(
      "_change_type", org.apache.spark.sql.types.StringType,
      nullable = false))
}

private[sources] final class GraftCdfRelation(
    ctx: SQLContext, state: GraftState,
    fromGen: Long, toGen: Long, keys: Seq[String])
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = GraftCdfTable.schemaFor(state)

  override def buildScan(): RDD[Row] =
    CommitLog.changesBetween(ctx.sparkSession, state.path,
        fromGen, toGen, keys)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*).rdd
}

/** Offset of the graft streaming source: a (generation,
  * snapshot-progress) pair. `idx >= 0` means the initial snapshot of
  * `gen` is SPLIT and the first `idx` manifest-ordered files are
  * emitted (Delta's initial-snapshot split — bootstrapping a stream
  * off a 100 TB table must not land the whole corpus in micro-batch
  * 0); `idx = -1` means complete THROUGH `gen` (tail mode). Tail
  * offsets serialize as the bare generation number, so checkpoints
  * written by the pre-split source (plain LongOffset) keep working
  * and vice versa. */
private[sources] final case class GraftSourceOffset(gen: Long,
                                                    idx: Long)
  extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String =
    if (idx < 0) gen.toString else s"""{"gen":$gen,"idx":$idx}"""
}

private[sources] object GraftSourceOffset {
  private val GenRe = """"gen"\s*:\s*(-?\d+)""".r
  private val IdxRe = """"idx"\s*:\s*(-?\d+)""".r
  def parse(j: String): (Long, Long) = {
    val t = j.trim
    if (!t.startsWith("{")) return (t.toLong, -1L)
    val gen = GenRe.findFirstMatchIn(t).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"graft stream: unparseable offset $j"))
    val idx = IdxRe.findFirstMatchIn(t).map(_.group(1).toLong)
      .getOrElse(-1L)
    (gen, idx)
  }
}

/** The commit log as a V1 streaming Source: offsets are (generation,
  * snapshot-progress) pairs ([[GraftSourceOffset]]). Append-only tail
  * windows stream exactly the added files' rows; the initial batch is
  * the pinned snapshot, split across micro-batches by
  * `option("maxFilesPerTrigger", n)` so bootstrap is rate-limited
  * like the tail (which `maxGensPerTrigger` bounds). See
  * [[GraftDataSource.sourceSchema]] for the contract.
  *
  * SCOPE (since the V2 migration): plain-layout non-CDF streams
  * resolve to [[GraftMicroBatchStream]] — this V1 source now serves
  * exactly (a) `readChangeFeed` streams, whose key-pairing CDF join
  * has no per-partition-reader form (Delta ships the same V1-shaped
  * CDF source), (b) tables with `#colmap`/`#coltype` records, whose
  * reads need the mapped DataFrame plan, and (c) the
  * `spark.sql.streaming.disabledV2MicroBatchReaders` escape hatch.
  * Checkpoints are interchangeable between the two paths (same
  * offset JSON — GraftStreamV2Spec restarts each on the other's). */
private[sources] final class GraftStreamSource(
    sqlContext: SQLContext,
    metadataPath: String,
    pinnedSchema: StructType,
    parameters: Map[String, String])
  extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.{Offset => SOffset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset,
    SerializedOffset}

  private val path = parameters.getOrElse("path",
    throw new IllegalArgumentException(
      "graft stream: a path is required"))
  private val startingVersion = parameters.get("startingVersion")
    .map(_.toLong)
  private val ignoreChanges = parameters.get("ignoreChanges")
    .exists(_.toBoolean)
  private val maxGensPerTrigger = parameters.get("maxGensPerTrigger")
    .map(_.toLong)
  // bounds the INITIAL snapshot: at most n manifest-ordered files per
  // micro-batch until the pinned generation is fully emitted, then
  // the tail takes over (gen-granular, maxGensPerTrigger)
  private val maxFilesPerTrigger = parameters.get("maxFilesPerTrigger")
    .map(_.toLong)
  require(maxFilesPerTrigger.forall(_ > 0),
    "graft stream: maxFilesPerTrigger must be positive")
  // CDF mode: windows emit the row-level change feed
  // (insert/delete/update_preimage/update_postimage with `cdfKeys`
  // pairing) instead of append-only rows — rewrites and deletes
  // become REPRESENTABLE instead of fatal, which is what a streaming
  // MoR replica consumes (Delta's readChangeFeed)
  private val readChangeFeed = parameters.get("readChangeFeed")
    .exists(_.toBoolean)
  private val cdfKeys = parameters.get("cdfKeys")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Nil)

  // (gen, idx) position already HANDED OUT via getOffset (or observed
  // in getBatch) — the rate limiter's base; a window is never
  // re-split once offered. Ordered gen-major with idx = -1 as +∞.
  private type Pos = (Long, Long)
  private def rank(p: Pos): (Long, Long) =
    (p._1, if (p._2 < 0) Long.MaxValue else p._2)
  private def maxPos(a: Pos, b: Pos): Pos =
    if (Ordering[(Long, Long)].gteq(rank(a), rank(b))) a else b
  @volatile private var offered: Option[Pos] = None

  private def hPath = new Path(path)
  private def fs = hPath.getFileSystem(
    sqlContext.sparkContext.hadoopConfiguration)

  // The V1 Source API never shows getOffset the checkpointed
  // position, so a restarted stream must recover its rate-limiter
  // base itself — a capped offset derived from scratch could fall
  // BELOW the checkpoint and regress the stream (re-delivering
  // committed generations). Two files in the source's private
  // checkpoint metadata dir handle it:
  //   - `graft-init`: written once at first start, never touched
  //     again — its existence says "this stream ran before";
  //   - `graft-offered`: the last offered position, rewritten
  //     best-effort each getOffset — a restart resumes the caps from
  //     exactly where they stopped.
  // If `graft-offered` is unreadable (torn write), the restart falls
  // back to offering `latest` uncapped — always ≥ the checkpoint, so
  // correctness never depends on the best-effort file.
  private def ckFs = new Path(metadataPath).getFileSystem(
    sqlContext.sparkContext.hadoopConfiguration)
  private val initMarker = new Path(metadataPath, "graft-init")
  private val offeredFile = new Path(metadataPath, "graft-offered")

  private val restarted: Boolean = {
    val mfs = ckFs
    if (mfs.exists(initMarker)) true
    else {
      mfs.mkdirs(initMarker.getParent)
      val out = mfs.create(initMarker, false)
      try out.write("started".getBytes("UTF-8")) finally out.close()
      false
    }
  }

  private def persistOffered(p: Pos): Unit =
    try {
      val mfs = ckFs
      val tmp = new Path(metadataPath, "graft-offered.tmp")
      val out = mfs.create(tmp, true)
      try out.write(GraftSourceOffset(p._1, p._2).json.getBytes("UTF-8"))
      finally out.close()
      if (mfs.exists(offeredFile)) mfs.delete(offeredFile, false)
      mfs.rename(tmp, offeredFile)
    } catch {
      case scala.util.control.NonFatal(_) =>
        // a failed persist must not leave a STALE-LOW file behind: a
        // restart trusting it could offer below the engine's
        // checkpoint and re-deliver committed windows. Drop the file
        // so that restart falls back to the conservative
        // latest-uncapped path instead (correctness over caps).
        try ckFs.delete(offeredFile, false)
        catch { case scala.util.control.NonFatal(_) => () }
    }

  private def recoverOffered(): Option[Pos] =
    try {
      val mfs = ckFs
      if (!mfs.exists(offeredFile)) None
      else {
        val in = mfs.open(offeredFile)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
            buf.toByteArray
          } finally in.close()
        Some(GraftSourceOffset.parse(new String(bytes, "UTF-8")))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // a restart resumes the rate limiter where the last run stopped
  offered = recoverOffered()

  private def posOf(o: SOffset): Pos = o match {
    case g: GraftSourceOffset => (g.gen, g.idx)
    case l: LongOffset => (l.offset, -1L)
    case s: SerializedOffset => GraftSourceOffset.parse(s.json)
    case other => throw new IllegalStateException(
      s"graft stream: unexpected offset $other")
  }

  override def schema: StructType = pinnedSchema

  // the latest generation the last poll saw: an idle poll stats the
  // next manifest instead of listing the log
  @volatile private var polled: Option[Long] = None

  override def getOffset: Option[SOffset] = {
    polled = CommitLog.latestGeneration(fs, hPath, polled)
    if (polled.isEmpty) return None
    val latest = polled.get
    val next: Pos = offered match {
      case Some((g, i)) if i >= 0 =>
        // mid-snapshot: advance within the pinned generation's file
        // list; the tail starts only once the snapshot is complete
        val n = CommitLog.manifestAt(fs, hPath, g).files.size.toLong
        val j = maxFilesPerTrigger.map(c => math.min(n, i + c))
          .getOrElse(n)
        if (j >= n) (g, -1L) else (g, j)
      case Some((g, _)) =>
        (maxGensPerTrigger.map(m => math.min(latest, g + m))
          .getOrElse(latest), -1L)
      case None if restarted =>
        // restart whose offered-position file was lost: the committed
        // position is invisible here, so cap nothing — any capped
        // guess could fall BELOW the checkpoint and regress the
        // stream. getBatch re-bases `offered`; caps resume next
        // trigger.
        (latest, -1L)
      case None =>
        startingVersion match {
          case Some(sv) =>
            (maxGensPerTrigger.map(m => math.min(latest, sv + m))
              .getOrElse(latest), -1L)
          case None =>
            // fresh stream: pin the snapshot at the current latest
            // generation, split by file count when asked
            val n = CommitLog.manifestAt(fs, hPath, latest)
              .files.size.toLong
            maxFilesPerTrigger match {
              case Some(c) if c < n => (latest, c)
              case _ => (latest, -1L)
            }
        }
    }
    val pos = offered.map(maxPos(_, next)).getOrElse(next)
    if (!offered.contains(pos)) persistOffered(pos)
    offered = Some(pos)
    Some(GraftSourceOffset(pos._1, pos._2))
  }

  override def getBatch(start: Option[SOffset], end: SOffset)
  : DataFrame = {
    val spark = sqlContext.sparkSession
    val endPos = posOf(end)
    val startPos = start.map(posOf)
    // a restart calls getBatch from the checkpoint BEFORE any
    // getOffset — re-base the rate limiter on BOTH endpoints, or the
    // first post-restart window would ignore the caps; persist the
    // re-based position too, so the offered file can never lag the
    // checkpoint by more than one failed write (persistOffered drops
    // the file on failure — a stale-low value is never trusted)
    val rebased = (offered.toSeq ++ startPos.toSeq :+ endPos)
      .reduce(maxPos)
    if (!offered.contains(rebased)) persistOffered(rebased)
    offered = Some(rebased)
    val (endGen, endIdx) = endPos
    val mEnd = CommitLog.manifestAt(fs, hPath, endGen)
    val pinnedCols = pinnedSchema.fieldNames.toIndexedSeq.map(col)

    def emptyPinned: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[Row](), pinnedSchema)
    // a snapshot slice streams as inserts in CDF mode (what a fresh
    // CDF consumer means by "start")
    def sliceScan(m: CommitLog.Manifest,
                  files: Seq[String]): DataFrame =
      if (files.isEmpty) emptyPinned
      else {
        val fSet = files.toSet
        val base = CommitLog.mappedScan(spark, hPath, files, m.colmaps,
          m.dvs.filter { case (f, _) => fSet(f) },
          coltypes = m.coltypes)
        val full = if (readChangeFeed) base.withColumn("_change_type",
          org.apache.spark.sql.functions.lit("insert")) else base
        full.select(pinnedCols: _*)
      }
    def tailWindow(g: Long, toGen: Long): DataFrame = {
      if (readChangeFeed) {
        // CDF window: manifest-derived change feed, cost ∝ changed
        // files
        require(CommitLog.generations(fs, hPath).contains(g),
          s"graft stream: generation $g of $path is expired — the " +
            "CDF stream lagged past retention; re-snapshot")
        CommitLog.changesBetween(spark, path, g, toGen, cdfKeys)
          .select(pinnedCols: _*)
      } else {
        require(CommitLog.generations(fs, hPath).contains(g),
          s"graft stream: generation $g of $path is expired — the " +
            "stream lagged past retention; restart from a fresh " +
            "checkpoint for a new snapshot")
        val mStart = CommitLog.manifestAt(fs, hPath, g)
        val startSet = mStart.files.toSet
        val endSet = mEnd.files.toSet
        val removed = mStart.files.filterNot(endSet)
        val common = mStart.files.filter(endSet)
        val dvGrew = common.filter(f =>
          mEnd.dvs.get(f) != mStart.dvs.get(f))
        if ((removed.nonEmpty || dvGrew.nonEmpty) && !ignoreChanges)
          throw new IllegalStateException(
            s"graft stream: generations $g..$toGen of $path contain " +
              "non-append changes (files removed/rewritten or deletes " +
              "on already-streamed files) — an append-only stream " +
              "cannot represent them; set ignoreChanges=true to " +
              "stream only the appended rows, or restart from a " +
              "fresh checkpoint for a new snapshot")
        val added = mEnd.files.filterNot(startSet)
        if (added.isEmpty) emptyPinned
        else {
          val aSet = added.toSet
          CommitLog.mappedScan(spark, hPath, added, mEnd.colmaps,
              mEnd.dvs.filter { case (f, _) => aSet(f) },
              coltypes = mEnd.coltypes)
            .select(pinnedCols: _*)
        }
      }
    }

    val fromPos: Option[Pos] =
      startPos.orElse(startingVersion.map(sv => (sv, -1L)))
    val batch: DataFrame = fromPos match {
      case None =>
        // initial snapshot (or its first split window) of endGen
        val until =
          if (endIdx < 0) mEnd.files.size else endIdx.toInt
        sliceScan(mEnd, mEnd.files.take(until))
      case Some((g, i)) if i >= 0 =>
        // resume/advance a split snapshot pinned at generation g; an
        // uncapped post-restart window may also carry the tail g→end
        val mG = if (g == endGen) mEnd
          else CommitLog.manifestAt(fs, hPath, g)
        val until =
          if (endGen == g && endIdx >= 0) endIdx.toInt
          else mG.files.size
        val snap = sliceScan(mG, mG.files.slice(i.toInt, until))
        if (endGen == g) snap
        else snap.unionByName(tailWindow(g, endGen))
      case Some((g, _)) =>
        if (endGen <= g) emptyPinned // non-advancing defensive window
        else {
          require(endIdx < 0, // offers are monotone
            s"graft stream: tail window $g..$endGen cannot end " +
              s"mid-snapshot (idx=$endIdx)")
          tailWindow(g, endGen)
        }
    }
    org.apache.spark.sql.graftbridge.StreamBridge
      .asStreamingFrame(batch)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$path]"
}

/** The streaming sink: one logged append + ledger record per
  * micro-batch. See [[GraftDataSource.createSink]] for the
  * exactly-once contract. */
private[sources] final class GraftStreamSink(path: String,
                                             appId: String,
                                             partitionCols: Seq[String],
                                             autoAnalyze: Boolean =
                                               false)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    // the engine's frame is streaming-flagged (batch writers refuse
    // it) — rewrap its rows as a plain batch frame first
    val batch = org.apache.spark.sql.graftbridge.StreamBridge
      .asBatchFrame(data)
    GraftWriter.write(batch, path, overwrite = false,
      txn = Some((appId, batchId)), partitionBy = partitionCols,
      autoAnalyze = autoAnalyze)
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

private[graft] object GraftWriter {

  def write(data: DataFrame, path: String, overwrite: Boolean,
            txn: Option[(String, Long)],
            partitionBy: Seq[String] = Nil,
            failpoint: String => Unit = _ => (),
            replaceWhere: Option[Map[String, String]] = None,
            autoAnalyze: Boolean = false,
            branch: Option[String] = None): Unit = {
    val spark = data.sparkSession
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the row-identity metadata column names are RESERVED: a data
    // column spelled _graft_file/_graft_pos would be silently
    // shadowed by the scan's identity materialization and would break
    // row-level DML's rowId resolution
    val reserved = data.columns.filter(GraftRowLevel.isMetaCol)
    require(reserved.isEmpty,
      s"graft write: column name(s) ${reserved.mkString(", ")} are " +
        "reserved row-identity metadata columns — rename them")
    require(!data.columns.contains(graft.operators.Bucketing.StageCol),
      s"graft write: column name ${graft.operators.Bucketing.StageCol}" +
        " is reserved for bucket routing — rename it")
    // bring the sink under log control (bootstraps generation 0 for a
    // fresh/unlogged path — the CREATE case). ONE manifest snapshot
    // serves every record family this write consults (meta, colmaps,
    // coltypes, checks, txns, stats) (CommitLog.ensureSnapshotAt,
    // guide §6)
    val (gen, mainManifest) = CommitLog.ensureSnapshotAt(fs, hPath)
    val mainLive = mainManifest.files
    // a BRANCH write stages identically but validates against and
    // commits to the branch's own manifest chain — main readers see
    // nothing until `CALL system.fast_forward(branch)` publishes the
    // branch head as the next main generation (write-audit-publish)
    val branchState: Option[(Long, CommitLog.Manifest)] =
      branch.map { b =>
        require(txn.isEmpty,
          "graft write: txn idempotence (txnAppId/txnVersion) is " +
            "not supported on branch writes — publish via " +
            "fast_forward carries main's ledger")
        CommitLog.branchHead(fs, hPath, b)
      }
    val bm = branchState.map(_._2)
    val live = bm.map(_.files).getOrElse(mainLive)
    // idempotent-writer fast path: this (appId, version) already
    // committed → the whole write no-ops, Delta's txn semantics.
    // (Check-then-act only — the COMMIT-granularity enforcement lives
    // in commitAppend's rebase loop, which no-ops when a same-appId
    // winner landed between this check and the CAS.)
    txn.foreach { case (app, v) =>
      if (bm.map(_.txns).getOrElse(mainManifest.txns)
          .get(app).exists(_ >= v)) return
    }
    // the sink's LAYOUT wins: a live hive-partitioned layout (or, for
    // a still-empty CREATE'd table, the declared #meta layout) fixes
    // the partition columns, so an append can never land flat files
    // at a partitioned root (which would break basePath partition
    // discovery for every subsequent read); an explicit partitionBy
    // must agree with it. Truncate replaces the whole file set, so
    // it may (re)choose the layout freely.
    val metaRecs = bm.map(_.meta).getOrElse(mainManifest.meta)
    val declaredCols = metaRecs.get("partition.cols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    val layoutCols =
      if (overwrite) declaredCols
      else {
        val committed = CommitLog.partitionColsOf(live)
        if (committed.nonEmpty) committed else declaredCols
      }
    require(layoutCols.isEmpty || partitionBy.isEmpty ||
      partitionBy == layoutCols,
      s"graft write: $path is partitioned by " +
        s"(${layoutCols.mkString(", ")}) but the writer asked for " +
        s"(${partitionBy.mkString(", ")}) — the committed layout wins")
    val partCols = if (layoutCols.nonEmpty) layoutCols else partitionBy
    // a static partition overwrite replaces DIRECTORIES: the spec
    // must name a prefix of the committed layout (SQL guarantees the
    // order; a non-layout column has no directory to replace)
    val replacePrefix = replaceWhere.map { spec =>
      val prefixCols = partCols.takeWhile(spec.contains)
      require(partCols.nonEmpty && prefixCols.toSet == spec.keySet,
        s"graft write: INSERT OVERWRITE PARTITION spec (${spec.keys
          .mkString(", ")}) must be a prefix of $path's layout " +
          s"(${partCols.mkString(", ")})")
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      prefixCols.map(c => ExternalCatalogUtils.escapePathName(c) +
        "=" + ExternalCatalogUtils.escapePathName(spec(c)))
        .mkString("", "/", "/")
    }
    val missingPart = partCols.filterNot(data.columns.contains)
    require(missingPart.isEmpty,
      s"graft write: batch is missing partition column(s) " +
        s"${missingPart.mkString(", ")} of $path — rows cannot be " +
        "routed into the hive layout")
    // declared hash bucketing ([[graft.operators.Bucketing]]): every
    // row routes to pmod(hash(col), n) and the bucket id lands in the
    // FILE NAME at move-in — the co-location contract the
    // storage-partitioned-join scan serves from
    val bucketSpec = graft.operators.Bucketing.specOf(metaRecs)
    bucketSpec.foreach { case (bc, _) =>
      require(data.columns.contains(bc),
        s"graft write: batch is missing bucket column $bc of $path — " +
          "rows cannot be routed to their buckets")
    }
    // schema guard for the paths Spark's by-name resolution does NOT
    // cover (the V1 streaming Sink hands batches raw): a batch
    // MISSING columns the table has would land files whose readers
    // silently null the gap, and a batch carrying a CONFLICTING type
    // would land files that break the union read later — refuse both
    // at write time. The table's logical schema (names AND types,
    // including path-derived partition columns) comes from ONE live
    // file planned through its mapping/widening records
    // ([[CommitLog.mappedScan]] — O(1) footers per batch, never a
    // mergeSchema pass); a batch carrying the WIDENED type of a
    // `#coltype`-evolved column therefore passes, a narrower or
    // unrelated type refuses. Supersets are allowed (additive
    // evolution), order is free (parquet resolves by name).
    // the same guard holds for the FIRST raw batch into a still-empty
    // catalog-created table: the declared `#meta` schema is what the
    // table promised its readers, so a conflicting bootstrap batch
    // refuses just as loudly as one against live files would
    val logicalSchemaOpt: Option[StructType] =
      if (live.nonEmpty)
        Some(CommitLog.mappedScan(spark, hPath,
          Seq(live.head),
          bm.map(_.colmaps).getOrElse(mainManifest.colmaps),
          coltypes = bm.map(_.coltypes)
            .getOrElse(mainManifest.coltypes),
          meta = metaRecs).schema)
      else metaRecs.get("schema.ddl").map(StructType.fromDDL)
    logicalSchemaOpt.foreach { logicalSchema =>
      val missing = logicalSchema.fieldNames.toSeq
        .filterNot(data.columns.contains)
      require(missing.isEmpty,
        s"graft write: batch is missing column(s) " +
          s"${missing.mkString(", ")} of $path — readers would " +
          "silently null them; align the batch to the table's " +
          "logical schema")
      // type-check FILE columns only: a partition column's type is
      // re-inferred from directory names at read time (never stored
      // in footers), so an int-vs-long rendering difference there
      // cannot corrupt files — and single-file inference would
      // false-refuse legitimate batches
      val conflicts = logicalSchema.fields.toSeq
        .filterNot(f => partCols.contains(f.name)).flatMap { f =>
        data.schema.fields.find(_.name == f.name).collect {
          case b if !org.apache.spark.sql.types.DataType
            .equalsStructurally(b.dataType, f.dataType,
              ignoreNullability = true) =>
            s"${f.name}: table ${f.dataType.sql}, batch ${
              b.dataType.sql}"
        }
      }
      require(conflicts.isEmpty,
        s"graft write: batch type(s) conflict with $path — " +
          s"${conflicts.mkString("; ")}; cast the batch, or widen " +
          "the table first (SchemaEvolve.widenColumn) so existing " +
          "files carry the #coltype record readers need")
    }
    // CHECK constraints are evaluated INLINE in the same pass that
    // stages the batch (`assert_true` filter riding the write plan —
    // codegen'd, zero extra executions of the input query; the
    // pre-fix shape ran one filter JOB per constraint over the batch
    // before writing it, doubling input-side work for every
    // constrained overwrite). A violating row fails its task, the
    // job aborts before anything commits, and the staged debris is
    // removed below; the loud IllegalArgumentException contract is
    // preserved by unwrapping the task failure.
    val checks = bm.map(_.checks).getOrElse(mainManifest.checks)
    val guarded = checks.toSeq.sortBy(_._1).foldLeft(data) {
      case (df, (n, e)) =>
        import org.apache.spark.sql.functions.{assert_true, coalesce,
          expr, lit}
        df.filter(assert_true(coalesce(expr(e), lit(false)),
          lit(s"graft write: batch violates CHECK constraint " +
            s"'$n' ($e)")).isNull)
    }
    // stage → move in under fresh names → one commit; a partitioned
    // batch stages under its hive directories and moves in preserving
    // them, so the committed relative paths carry the layout the
    // partition-value pruner and basePath discovery read back; the
    // bucket-routing stage level becomes the file-name prefix
    // (b00003-...) — directories stay purely hive-layout
    val routed = bucketSpec match {
      case Some((bc, n)) => guarded.withColumn(
        graft.operators.Bucketing.StageCol,
        graft.operators.Bucketing.bucketExpr(bc, n))
      case None => guarded
    }
    val stageParts = partCols ++
      bucketSpec.map(_ => graft.operators.Bucketing.StageCol)
    val newFiles = CommitLog.stageIn(fs, hPath, "fmt") { tmp =>
      try {
        // staged file count follows the batch's BYTES, never the leaf
        // task count (guide §2.2/§6 — see Sources.sizedForWrite):
        // without this a fixture-sized append staged one tiny file per
        // scan split (≈ the core count), each billing
        // create+fsync+rename twice plus a manifest entry. Inside the
        // try: the sizing estimate optimizes the plan, and optimization
        // of a local-relation batch can evaluate the CHECK assert_true
        // inline — that refusal must unwrap to the same loud
        // IllegalArgumentException as a task-side one.
        val sized = graft.io.Sources.internalWriter(
          graft.io.Sources.sizedForWrite(routed))
        if (stageParts.nonEmpty)
          sized.partitionBy(stageParts: _*).parquet(tmp.toString)
        else sized.parquet(tmp.toString)
      } catch {
        case t: Throwable =>
          // surface a CHECK violation as the same loud
          // IllegalArgumentException the pre-staging gate threw
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(x => Option(x.getMessage).getOrElse(""))
            .find(_.contains("violates CHECK constraint"))
            .foreach { m =>
              val i = m.indexOf("graft write:")
              throw new IllegalArgumentException(
                if (i >= 0) m.substring(i) else m)
            }
          throw t
      }
      failpoint("staged")
    }
    failpoint("moved")
    branchState.foreach { case (k, bmm) =>
      // branch commit: same CAS discipline on the branch's own chain;
      // the checks/meta/mapping families carry verbatim (they are the
      // branch's table state), truncate resets the file-keyed ones,
      // and a static partition overwrite swaps exactly the matching
      // directories (file-keyed records of replaced files pruned in
      // the same commit — the main path's commitNext carry rule,
      // applied manually since commitBranch takes a full manifest)
      val committed = replacePrefix match {
        case _ if overwrite =>
          bmm.copy(files = newFiles, dvs = Map.empty,
            dvMarks = Map.empty, stats = Map.empty,
            colmaps = Map.empty, coltypes = Map.empty,
            blooms = Map.empty, anns = Map.empty)
        case Some(prefix) =>
          val rogue = newFiles.filterNot(_.startsWith(prefix))
          require(rogue.isEmpty,
            s"graft write: INSERT OVERWRITE PARTITION of $prefix " +
              s"got row(s) outside the spec (staged ${rogue.take(3)
                .mkString(", ")}) — the batch must carry only the " +
              "overwritten partition's rows")
          CommitLog.prunedToFiles(bmm.copy(files =
            bmm.files.filterNot(_.startsWith(prefix)) ++ newFiles))
        case None => bmm.copy(files = bmm.files ++ newFiles)
      }
      CommitLog.commitBranch(fs, hPath, branch.get, k, committed)
      return
    }
    if (overwrite)
      // truncate-and-replace: next generation references ONLY the new
      // files; the replaced ones remain time-travel history until
      // expireGenerations/vacuum (a CAS loss here is terminal — a
      // truncate that raced another writer must be re-decided)
      CommitLog.commitNext(fs, hPath, gen, newFiles, txn = txn)
    else replacePrefix match {
      case Some(prefix) =>
        // static partition overwrite: the next generation swaps the
        // matching directories for the staged batch in ONE commit —
        // untouched partitions' files carry over byte-identical and
        // keep their DV/stats/mapping records (commitNext's
        // carry-forward); the replaced files stay readable via time
        // travel. A batch row OUTSIDE the spec would silently append
        // instead of replace — refuse before the commit.
        val rogue = newFiles.filterNot(_.startsWith(prefix))
        require(rogue.isEmpty,
          s"graft write: INSERT OVERWRITE PARTITION of $prefix got " +
            s"row(s) outside the spec (staged ${rogue.take(3)
              .mkString(", ")}) — the batch must carry only the " +
            "overwritten partition's rows")
        val keep = live.filterNot(_.startsWith(prefix))
        // terminal on CAS loss, like truncate: replacing a region
        // that raced another writer must be re-decided
        CommitLog.commitNext(fs, hPath, gen, keep ++ newFiles,
          txn = txn)
      case None =>
        CommitLog.commitAppend(fs, hPath, gen, live, newFiles,
          txn = txn)
    }
    // opt-in stats maintenance (`option("autoAnalyze", true)`): keep
    // the table's EXISTING stats coverage current over the files this
    // write added, so appends never open a pruning hole. The catch-up
    // reads only the new files (analyze targets record-less files)
    // and lands one more commit — the streaming source/CDF both
    // represent a stats-only commit as an empty window. Tables with
    // no prior coverage are untouched (nothing declared to maintain);
    // the inline footer-derived variant is the next optimization if
    // the extra batch read ever matters.
    if (autoAnalyze) {
      // coverage from the PRE-WRITE snapshot: analyze itself re-reads
      // the post-commit state, so the set of covered columns (a
      // declaration, not per-file state) is stable across the write.
      // That holds for a truncate/overwrite too: the replaced files'
      // records leave with them, but the table's declared coverage
      // carries over to the new files in one more (stats-only) commit
      val covered = mainManifest.stats.values
        .flatMap(_.keySet).toSet.intersect(data.columns.toSet)
      if (covered.nonEmpty) {
        // BEST-EFFORT: the data commit above already landed, and a
        // replayed batch's `#txn` fast path returns before reaching
        // here — so a stats-commit conflict that failed the batch
        // would leave a PERMANENT stats hole (the retry no-ops). One
        // retry absorbs the common single-racer case; a still-hot
        // sink skips, and the next autoAnalyze write or an explicit
        // ANALYZE catches the file up (analyze targets record-less
        // files, so nothing is lost — only deferred).
        var attempt = 0
        var done = false
        while (!done && attempt < 2) {
          try {
            graft.operators.TableStats.analyze(spark, path,
              covered.toSeq.sorted)
            done = true
          } catch {
            case _: graft.operators.CommitConflictException =>
              attempt += 1
          }
        }
      }
    }
  }
}

private[sources] final class GraftScanBuilder(
    state: GraftState,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = state.schema
  private var pushed: Array[Filter] = Array.empty
  private var all: Array[Filter] = Array.empty
  private var aggPlan: Option[GraftMetaAgg.Planned] = None
  private var partialPlan: Option[GraftMetaAgg.PartialPlanned] = None

  /** Filters the hive layout enforces EXACTLY are consumed here
    * (every kept file provably all-rows-matches, every other file is
    * skipped by the same conjunct — [[TableStats
    * .exactlyHandledByLayout]]), so Spark plans no residual Filter
    * above the relation for them; that zero-residual plan is what
    * lets an aggregate push below a partition-predicated read. All
    * OTHER filters are returned as post-scan (Spark re-applies them
    * — pruning is I/O elision only); the prunable subset is
    * advertised as pushed so `explain` shows exactly what the
    * manifest decision used. The FULL set still travels to the
    * relation: every conjunct expressible as a `Column` is re-applied
    * INSIDE the planned frame, so the inner parquet scan gets
    * `PushedFilters` and row-group/page skipping within kept files —
    * manifest pruning elides whole files, this elides row groups. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TableStats.prunable)
    all = filters
    filters.filterNot(
      TableStats.exactlyHandledByLayout(state.manifest.files, _))
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Complete-or-nothing METADATA aggregation ([[GraftMetaAgg]]):
    * count/min/max (grouped by partition columns at most) answered
    * from `#stats` row counts, `#dv` cardinalities and partition
    * path values — zero data I/O. Refusal falls back to the ordinary
    * scan, so correctness never depends on coverage. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    GraftMetaAgg.tryPlan(state, all.toIndexedSeq, agg).isDefined

  /** COMPLETE first (zero data I/O); otherwise the HYBRID tier
    * ([[GraftMetaAgg.tryPlanPartial]]): manifest-provable files
    * answer as precomputed partial rows, the dirty remainder (DV'd /
    * record-less files) is scanned and partially aggregated, and
    * Spark's final aggregate merges the two — `supportCompletePushDown`
    * stays false for that tier, which is exactly the contract that
    * makes Spark plan the merge. A single DV'd file no longer
    * forfeits the whole pushdown to a full scan. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    aggPlan = GraftMetaAgg.tryPlan(state, all.toIndexedSeq, agg)
    if (aggPlan.isEmpty)
      partialPlan =
        GraftMetaAgg.tryPlanPartial(state, all.toIndexedSeq, agg)
    aggPlan.isDefined || partialPlan.isDefined
  }

  override def build(): Scan = aggPlan match {
    case Some(p) => new GraftAggScan(state, p)
    case None => partialPlan match {
      case Some(p) => new GraftPartialAggScan(state, p)
      case None =>
        // a bucket-declared table plans the NATIVE V2 batch scan
        // (KeyGroupedPartitioning → storage-partitioned joins) when
        // its invariants hold; anything else rides the V1 bridge
        GraftBucketedScan.tryPlan(state, required, pushed, all,
            options)
          .getOrElse(new GraftScan(state, required, pushed, all,
            options))
    }
  }
}

/** The scan a COMPLETELY pushed aggregate plans to: its rows were
  * precomputed from the manifest at plan time ([[GraftMetaAgg]]), so
  * execution is a one-partition local RDD — the physical plan shows
  * this relation where a multi-terabyte scan + shuffle + aggregate
  * would otherwise sit. */
private[sources] final class GraftAggScan(state: GraftState,
                                          planned: GraftMetaAgg.Planned)
  extends V1Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = planned.schema

  override def description(): String =
    s"graft ${state.path} gen=${state.gen} " +
      s"PushedAggregation=${planned.desc}"

  override def estimateStatistics()
  : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L,
          planned.rows.size.toLong * (8L +
            planned.schema.fields.map(_.dataType.defaultSize.toLong)
              .sum)))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(planned.rows.size.toLong)
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftAggRelation(context, planned).asInstanceOf[T]
}

/** Public face of a completely pushed metadata aggregate, for plan
  * audits: consumers pattern-match the physical plan's
  * `RowDataSourceScanExec.relation` against this to pin that an
  * aggregate was answered from the manifest (zero data I/O) and what
  * it computed. */
trait GraftAggInfo {
  def pushedAggDesc: String
  def resultRowCount: Int
}

private[sources] final class GraftAggRelation(
    ctx: SQLContext, val planned: GraftMetaAgg.Planned)
  extends BaseRelation with TableScan with GraftAggInfo {

  override def pushedAggDesc: String = planned.desc

  override def resultRowCount: Int = planned.rows.size

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = planned.schema

  override def toString: String =
    s"GraftAggRelation(${planned.desc})"

  override def buildScan(): RDD[Row] =
    ctx.sparkSession.sparkContext.parallelize(planned.rows, 1)
}

/** The scan a PARTIALLY pushed aggregate plans to
  * ([[GraftMetaAgg.PartialPlanned]]): manifest-provable files'
  * partial rows were precomputed at plan time; the dirty remainder is
  * scanned and partially aggregated at EXECUTION time; Spark's final
  * aggregate (planned because `supportCompletePushDown` was false)
  * merges the two streams. The physical plan shows this relation plus
  * a final HashAggregate where a full-table scan + aggregate would
  * otherwise sit — I/O cost ∝ dirty files, not table size. */
private[sources] final class GraftPartialAggScan(
    state: GraftState, planned: GraftMetaAgg.PartialPlanned)
  extends V1Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = planned.schema

  override def description(): String =
    s"graft ${state.path} gen=${state.gen} " +
      s"PushedAggregation=${planned.desc} (partial)"

  /** Upper bound: every manifest row plus at most one extra group per
    * scanned file — small either way, which is the point (the final
    * aggregate's input is group-count-sized, never data-sized). */
  override def estimateStatistics()
  : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bound =
        planned.rows.size.toLong + planned.dirty.size.toLong
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bound * (8L +
          planned.schema.fields.map(_.dataType.defaultSize.toLong)
            .sum)))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bound))
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftPartialAggRelation(context, state, planned)
      .asInstanceOf[T]
}

/** Public face of a partially pushed metadata aggregate, for plan
  * audits: pins how many files answered from the manifest and how
  * many the execution-time scan reads. */
trait GraftPartialAggInfo {
  def pushedAggDesc: String
  def metaFileRowCount: Int
  def scannedFileCount: Int
}

private[sources] final class GraftPartialAggRelation(
    ctx: SQLContext, state: GraftState,
    val planned: GraftMetaAgg.PartialPlanned)
  extends BaseRelation with TableScan with GraftPartialAggInfo {

  override def pushedAggDesc: String = planned.desc

  override def metaFileRowCount: Int = planned.rows.size

  override def scannedFileCount: Int = planned.dirty.size

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = planned.schema

  override def toString: String =
    s"GraftPartialAggRelation(${planned.desc})"

  /** The dirty-side partial aggregation: the DV-applied mapped scan
    * of exactly the dirty files, grouped and aggregated with the
    * pushed functions, aligned (name, position, type) to the planned
    * schema. The group-column cast pins the SUBSET read's
    * partition-type inference back to the catalog type — the planner
    * already refused any rendering for which that cast could change
    * the value ([[GraftMetaAgg]]'s stability check). */
  private def dirtyFrame(): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, count, lit, max,
      min, sum}
    val spark = ctx.sparkSession
    val hPath = new Path(state.path)
    val keep = planned.dirty.toSet
    val scan = CommitLog.mappedScan(spark, hPath, planned.dirty,
      state.manifest.colmaps,
      state.manifest.dvs.filter { case (f, _) => keep(f) },
      coltypes = state.manifest.coltypes,
      meta = state.manifest.meta)
    val aggCols = planned.aggSpecs.zipWithIndex.map {
      case (("count_star", _), i) => count(lit(1)).as(s"agg_$i")
      case (("count", n), i) => count(c(n)).as(s"agg_$i")
      case (("min", n), i) => min(c(n)).as(s"agg_$i")
      case (("max", n), i) => max(c(n)).as(s"agg_$i")
      case (("sum", n), i) => sum(c(n)).as(s"agg_$i")
      case ((f, _), _) => throw new IllegalStateException(
        s"graft partial aggregate: unknown function '$f'")
    }
    val grouped =
      if (planned.groupCols.isEmpty)
        scan.agg(aggCols.head, aggCols.tail: _*)
      else scan.groupBy(planned.groupCols.map(c): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    grouped.select(planned.schema.fields.zipWithIndex.map {
      case (f, i) =>
        val src =
          if (i < planned.groupCols.size) planned.groupCols(i)
          else s"agg_${i - planned.groupCols.size}"
        c(src).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  override def buildScan(): RDD[Row] =
    dirtyFrame().rdd.union(
      ctx.sparkSession.sparkContext.parallelize(planned.rows, 1))
}

/** `sources.Filter` → `Column` for the conjuncts Spark handed the
  * scan builder, so the INNER parquet scan of a [[GraftRelation]]
  * plans with real `PushedFilters` (row-group and page skipping
  * inside kept files). Conversion is best-effort and SOUND by
  * construction: every filter is also re-applied by Spark above the
  * relation (the builder returns the full set as residual), so
  * applying any weaker subset inside only elides I/O, never rows.
  * Top-level `And`s split into conjuncts first — a conjunction with
  * one unconvertible side still contributes its convertible side. */
private[sources] object FilterColumns {

  import org.apache.spark.sql.{Column, sources => S}
  import org.apache.spark.sql.functions.lit

  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case S.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Exact conversion, or None — under Or/Not a partial conversion
    * would be unsound, so nested nodes convert all-or-nothing. */
  private def convert(f: Filter): Option[Column] = f match {
    case S.And(l, r) =>
      for { a <- convert(l); b <- convert(r) } yield a && b
    case S.Or(l, r) =>
      for { a <- convert(l); b <- convert(r) } yield a || b
    case S.Not(c) => convert(c).map(!_)
    case S.EqualTo(a, v) => Some(col(a) === lit(v))
    case S.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case S.GreaterThan(a, v) => Some(col(a) > lit(v))
    case S.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case S.LessThan(a, v) => Some(col(a) < lit(v))
    case S.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case S.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case S.IsNull(a) => Some(col(a).isNull)
    case S.IsNotNull(a) => Some(col(a).isNotNull)
    case S.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case S.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case S.StringContains(a, v) => Some(col(a).contains(v))
    case S.AlwaysTrue() => Some(lit(true))
    case S.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** The convertible conjuncts of the pushed filter set — WEAKER
    * than the input when a conjunct is unconvertible, so only valid
    * where a weaker predicate is sound (the inner-scan I/O elision:
    * Spark re-applies the full set above). */
  def columnsOf(filters: Seq[Filter]): Seq[Column] =
    filters.flatMap(conjuncts).flatMap(convert)

  /** EXACT conversion of every filter, or None if any filter has an
    * unconvertible piece — the form DML must use: applying a weaker
    * predicate to a DELETE would delete a SUPERSET. */
  def exactColumnsOf(filters: Seq[Filter]): Option[Seq[Column]] = {
    val converted = filters.map(convert)
    if (converted.forall(_.isDefined)) Some(converted.map(_.get))
    else None
  }
}

private[sources] final class GraftScan(state: GraftState,
                                       required: StructType,
                                       pushed: Array[Filter],
                                       allFilters: Array[Filter],
                                       options: CaseInsensitiveStringMap
                                         = CaseInsensitiveStringMap
                                           .empty)
  extends V1Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** The V2 streaming form ([[GraftMicroBatchStream]]) — reached only
    * when [[GraftTable]] advertised MICRO_BATCH_READ (plain layouts);
    * evolved tables stream through the V1 source. */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    def opt(k: String): Option[String] = Option(options.get(k))
    // a branch has no generation chain to tail — silently streaming
    // MAIN under a branch option would hand the consumer the wrong
    // data with no error
    require(opt("branch").isEmpty && state.branch.isEmpty,
      "graft stream: option(\"branch\") is not supported on streaming " +
        "reads — branches are audit staging; fast_forward publishes " +
        "them to main, which streams")
    new GraftMicroBatchStream(state, required,
      Seq("startingVersion", "ignoreChanges", "maxGensPerTrigger",
        "maxFilesPerTrigger")
        .flatMap(k => opt(k).map(k -> _)).toMap,
      checkpointLocation)
  }

  /** The pruning decision, taken at PLAN time against the pinned
    * snapshot: first the manifest-only tier (stats bounds, partition
    * values, DV cardinality — zero I/O), then the Bloom tier for
    * =/IN conjuncts on whatever survived (one KB-sized sidecar read
    * per surviving indexed file). No data I/O happens before the
    * (already pruned) parquet scan is planned. */
  val (keptFiles, skippedFiles): (Seq[String], Seq[String]) = {
    val (k1, s1) =
      TableStats.pruneIn(state.manifest.files, state.manifest.stats,
        state.manifest.dvMarks, pushed.toIndexedSeq)
    if (state.manifest.blooms.isEmpty) (k1, s1)
    else {
      val hPath = new Path(state.path)
      val fs = hPath.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      val (k2, s2) = TableStats.bloomPruneIn(fs, hPath, k1,
        state.manifest.blooms, state.manifest.colmaps,
        pushed.toIndexedSeq)
      (k2, s1 ++ s2)
    }
  }

  override def readSchema(): StructType = required

  /** Manifest-derived statistics, so Catalyst's join planning sees a
    * graft table's TRUE size instead of the never-broadcast default:
    * `numRows` is the kept files' exact visible count (`#stats` raw
    * rows minus `#dv` cardinality) when the manifest knows it;
    * `sizeInBytes` follows the convention Spark's own file scans use
    * — physical bytes of the kept files scaled by the projected
    * column fraction — so a dimension-sized graft table under the
    * broadcast threshold broadcasts without a hint. File lengths
    * come from ONE `listStatus` per parent directory of the uncached
    * files (not one `getFileStatus` RPC per file — a first plan over
    * a 100k-file table on an object store would otherwise stall
    * planning for minutes), cached forever in
    * [[GraftScan.fileLenCache]] (committed data files are immutable
    * and never overwritten in place), so the listing cost is paid
    * once per directory per JVM, not per file per query. Tables whose
    * uncached files span more directories than
    * [[GraftScan.MaxListDirs]] skip the listing entirely and estimate
    * from row count × projected width — plan time stays bounded no
    * matter the layout. */
  override def estimateStatistics()
  : org.apache.spark.sql.connector.read.Statistics = {
    val rows = GraftMetaAgg.visibleRowsOf(state.manifest, keptFiles)
    def width(s: StructType): Long =
      8L + s.fields.map(_.dataType.defaultSize.toLong).sum
    val colFraction =
      math.min(1.0, width(required).toDouble / width(state.schema))
    // FULL-width estimate: the shared colFraction scaling below
    // applies to this fallback exactly once, same as to the physical
    // bytes (a required-width estimate here would be scaled TWICE and
    // under-report wide tables by the projection fraction squared —
    // a false broadcast at scale)
    val rowEstimate: Option[Long] =
      rows.map(n => math.max(1L, n * width(state.schema)))
    val bytes: Option[Long] =
      try {
        val hPath = new Path(state.path)
        val fs = hPath.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        GraftScan.cachedLenSum(fs, hPath, keptFiles)
          .orElse(rowEstimate)
      } catch {
        case scala.util.control.NonFatal(_) =>
          // listing failed (racing vacuum of an expired snapshot):
          // fall back to a row-width estimate, else stay silent and
          // let Spark use its conservative default
          rowEstimate
      }
    val size = bytes.map(b =>
      math.max(1L, (b * colFraction).toLong))
    // V2 COLUMN statistics from the manifest's per-file `#stats`
    // records: null counts sum exactly; distinct counts aggregate as
    // the per-file approx-NDV union bound capped at the visible row
    // count (the standard file-stats merge — an estimate, which is
    // all CBO needs). Reported only for projected columns whose
    // record coverage is COMPLETE over the kept files, so a partial
    // analyze can never feed CBO a number missing half the table.
    // With `spark.sql.cbo.enabled` (+ joinReorder) these flow through
    // `transformV2Stats` into attributeStats and multi-join queries
    // reorder against real NDVs instead of defaults (NdvCboSpec).
    val colStatsMap = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
      if (keptFiles.nonEmpty) required.fields.foreach { fld =>
        val c = fld.name
        // fail-fast completeness probe BEFORE materializing anything:
        // tables without NDV coverage (the common case) cost one map
        // lookup here, not O(files) per plan
        val complete = keptFiles.forall(f =>
          state.manifest.stats.getOrElse(f, Map.empty).get(c)
            .exists(_.ndv.isDefined))
        if (complete) {
          val cs = keptFiles.map(f => state.manifest.stats(f)(c))
          val nulls = cs.map(_.nNulls).sum
          val ndv = math.max(1L, math.min(
            cs.map(_.ndv.get).sum,
            rows.getOrElse(Long.MaxValue)))
          // global bounds from the per-file encoded bounds (all-null
          // files contribute nothing); decoded to the CATALYST value
          // of the column's type — join estimation needs the range
          // overlap, not just NDVs
          val typ = cs.head.typ
          def fold(sel: CommitLog.ColStats => Option[String],
                   better: Int => Boolean): Option[Any] = {
            val defined = cs.flatMap(sel(_))
            if (defined.isEmpty || defined.size <
              cs.count(x => x.nNulls < x.nRows)) None
            else GraftScan.decodeBound(typ, fld.dataType,
              defined.reduce((a, b) =>
                if (better(TableStats.cmpEnc(typ, a, b))) a else b))
          }
          val mn = fold(_.min, _ <= 0)
          val mx = fold(_.max, _ >= 0)
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(c),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(ndv)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(nulls)
              override def min(): java.util.Optional[Object] =
                mn.map(v => java.util.Optional.of(
                  v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mx.map(v => java.util.Optional.of(
                  v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
            })
        }
      }
      out
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        size.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats
          .ColumnStatistics] = colStatsMap
    }
  }

  override def description(): String =
    s"graft ${state.path} gen=${state.gen} " +
      s"files=${keptFiles.size}/${state.manifest.files.size} " +
      s"skipped=${skippedFiles.size} " +
      s"pushed=[${pushed.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context, state, required, keptFiles,
      skippedFiles.size, allFilters).asInstanceOf[T]
}

private[sources] object GraftScan {

  /** Decode one `#stats` encoded bound into the CATALYST-internal
    * value of the column's Spark type — what V2 `ColumnStatistics`
    * min/max must carry for join estimation's range-overlap check.
    * None for combinations the estimator can't consume (then the
    * column simply reports no bounds — never wrong, only less
    * informed). */
  private[sources] def decodeBound(typ: String,
                                   dt: org.apache.spark.sql.types
                                     .DataType,
                                   enc: String): Option[Any] = {
    import org.apache.spark.sql.types._
    try dt match {
      case ByteType => Some(java.lang.Byte.valueOf(
        new java.math.BigDecimal(enc).byteValueExact()))
      case ShortType => Some(java.lang.Short.valueOf(
        new java.math.BigDecimal(enc).shortValueExact()))
      case IntegerType => Some(java.lang.Integer.valueOf(
        new java.math.BigDecimal(enc).intValueExact()))
      case LongType => Some(java.lang.Long.valueOf(
        new java.math.BigDecimal(enc).longValueExact()))
      case BooleanType => Some(java.lang.Boolean.valueOf(enc == "1"))
      case FloatType => Some(java.lang.Float.valueOf(enc.toFloat))
      case DoubleType => Some(java.lang.Double.valueOf(enc.toDouble))
      case d: DecimalType => Some(org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(enc), d.precision, d.scale))
      case StringType => Some(
        org.apache.spark.unsafe.types.UTF8String.fromString(enc))
      case DateType if typ == "date" => Some(java.lang.Integer.valueOf(
        new java.math.BigDecimal(enc).intValueExact()))
      case TimestampType | TimestampNTZType if typ == "micros" =>
        Some(java.lang.Long.valueOf(
          new java.math.BigDecimal(enc).longValueExact()))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // committed data files are immutable (rewrites land NEW paths and
  // retire old ones), so a length cached by qualified path is valid
  // for the file's whole life; bounded by wholesale clear, the same
  // policy as CommitLog's manifest cache
  private val fileLenCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** Plan-time RPC budget: uncached files spanning more parent
    * directories than this skip physical sizing (the caller estimates
    * from rows × width instead). One `listStatus` per directory is
    * the batch unit, so this bounds planning to ≤512 RPCs per first
    * plan regardless of file count. */
  private val MaxListDirs = 512

  private def qualKey(fs: FileSystem, sink: Path, rel: String): String =
    fs.makeQualified(new Path(sink, rel)).toString

  private[sources] def cachedLen(fs: FileSystem, sink: Path,
                                 rel: String): Long = {
    val key = qualKey(fs, sink, rel)
    val hit = fileLenCache.get(key)
    if (hit != null) hit.longValue
    else {
      if (fileLenCache.size > 1000000) fileLenCache.clear()
      val len = fs.getFileStatus(new Path(sink, rel)).getLen
      fileLenCache.put(key, len)
      len
    }
  }

  /** Total physical length of `rels`, served from the cache and
    * topped up with ONE `listStatus` per parent directory of the
    * uncached files (each listing fills the cache for every sibling,
    * so the whole directory costs one RPC ever). None when the
    * uncached set spans more than [[MaxListDirs]] directories — the
    * caller falls back to its row-width estimate rather than stall
    * planning. A file absent from its directory listing (racing
    * vacuum) throws, same contract as [[cachedLen]]. */
  private[sources] def cachedLenSum(fs: FileSystem, sink: Path,
                                    rels: Seq[String]): Option[Long] = {
    var total = 0L
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    rels.foreach { rel =>
      val hit = fileLenCache.get(qualKey(fs, sink, rel))
      if (hit != null) total += hit.longValue else misses += rel
    }
    if (misses.isEmpty) return Some(total)
    val byDir = misses.groupBy(rel =>
      new Path(sink, rel).getParent)
    if (byDir.size > MaxListDirs) return None
    if (fileLenCache.size > 1000000) fileLenCache.clear()
    byDir.keysIterator.foreach { dir =>
      fs.listStatus(dir).foreach { st =>
        if (st.isFile)
          fileLenCache.put(
            fs.makeQualified(st.getPath).toString,
            java.lang.Long.valueOf(st.getLen))
      }
    }
    misses.foreach { rel =>
      val len = fileLenCache.get(qualKey(fs, sink, rel))
      if (len == null)
        throw new java.io.FileNotFoundException(
          new Path(sink, rel).toString)
      total += len.longValue
    }
    Some(total)
  }
}

/** Public face of a planned graft scan, for plan audits: consumers
  * pattern-match the physical plan's `RowDataSourceScanExec.relation`
  * against this to pin the manifest pruning decision (kept/skipped
  * file counts, pinned generation) without access to the private
  * relation class. `innerFrame` is the EXACT DataFrame whose RDD the
  * relation executes — audits plan it to pin the inner parquet scan's
  * `PushedFilters`/`ReadSchema` (row-group skipping inside kept
  * files), the I/O tier below the manifest's file-level pruning. */
trait GraftScanInfo {
  def keptCount: Int
  def skippedCount: Int
  def pinnedGen: Long
  def innerFrame(): DataFrame
}

/** The V1 execution bridge: `buildScan` plans the SAME
  * DV-applied/mapped/pruned DataFrame the operator API builds and
  * hands Spark its row RDD — `RowDataSourceScanExec` over this
  * relation is what the physical plan shows, with the inner parquet
  * scans (file-pruned, column-pruned) below it. */
private[sources] final class GraftRelation(
    ctx: SQLContext,
    state: GraftState,
    override val schema: StructType,
    val keptFiles: Seq[String],
    val skippedCount: Int,
    allFilters: Array[Filter]) extends BaseRelation with TableScan
  with GraftScanInfo {

  override def sqlContext: SQLContext = ctx

  def keptCount: Int = keptFiles.size

  def pinnedGen: Long = state.gen

  override def toString: String =
    s"GraftRelation(${state.path}@${state.gen}, " +
      s"kept=$keptCount, skipped=$skippedCount)"

  /** The planned frame this relation executes: kept files' mapped/
    * DV-applied scan, the convertible pushed conjuncts re-applied
    * INSIDE it (they reach the parquet reader as `PushedFilters` —
    * row-group skipping within kept files; manifest pruning already
    * removed whole files), projected to the required schema. Filtering
    * here never changes semantics: Spark re-applies the full residual
    * set above the relation either way. */
  def innerFrame(): DataFrame = {
    val spark = ctx.sparkSession
    if (keptFiles.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), schema)
    val hPath = new Path(state.path)
    val keepSet = keptFiles.toSet
    // row-identity columns are materialized only when the projection
    // asks for them (the row-level DML rewrite does; plain reads
    // never pay the extra columns)
    val needsId = schema.fieldNames.exists(GraftRowLevel.isMetaCol)
    val mapped = CommitLog.mappedScan(spark, hPath, keptFiles,
      state.manifest.colmaps,
      state.manifest.dvs.filter { case (f, _) => keepSet(f) },
      identity = needsId,
      coltypes = state.manifest.coltypes)
    val df =
      if (!needsId) mapped
      else {
        val fs = hPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
        mapped
          .withColumn(GraftRowLevel.FileCol,
            graft.operators.DeleteVectors.relPathCol(prefix,
              col("__file_path")))
          .withColumn(GraftRowLevel.PosCol, col("__row_index"))
          .drop("__file_path", "__row_index")
      }
    val filtered = FilterColumns.columnsOf(allFilters.toIndexedSeq)
      .foldLeft(df)(_.filter(_))
    filtered.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  override def buildScan(): RDD[Row] = {
    if (keptFiles.isEmpty)
      return ctx.sparkSession.sparkContext.emptyRDD[Row]
    innerFrame().rdd
  }
}
