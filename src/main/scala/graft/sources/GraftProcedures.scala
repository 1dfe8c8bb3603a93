package graft.sources

import graft.operators.{Cluster, CommitLog, Compact, DeleteVectors,
  TableHistory, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance entry points — Iceberg's stored-procedure pattern
  * (`CALL cat.system.rewrite_data_files`), here over the graft
  * maintenance operators, so a SQL-only consumer can MAINTAIN a table
  * it created, filled and queried in SQL:
  *
  * {{{
  * CALL graft.system.optimize('db.t')           -- bin-pack compact
  * CALL graft.system.zorder('db.t', 'a,b', 8)   -- Z-order rewrite
  * CALL graft.system.analyze('db.t', 'a,b')     -- #stats coverage
  * CALL graft.system.build_bloom('db.t', 'id')  -- #bloom sidecars
  * CALL graft.system.apply_deletes('db.t')      -- pay down DV debt
  * CALL graft.system.expire('db.t', 3)          -- keep last N gens
  * CALL graft.system.vacuum('db.t')             -- reclaim orphans
  * CALL graft.system.history('db.t')            -- DESCRIBE HISTORY
  * CALL graft.system.create_tag('db.t', 'v1')   -- pin a snapshot tag
  * CALL graft.system.drop_tag('db.t', 'v1')     -- unpin it
  * CALL graft.system.tags('db.t')               -- list tags
  * CALL graft.system.rollback('db.t', '12')     -- restore a snapshot
  * CALL graft.system.detail('db.t')             -- DESCRIBE DETAIL
  * }}}
  *
  * Each procedure resolves its `table` argument through the SAME
  * identity mapping the catalog's tables use, delegates to the
  * operator that already owns the semantics (one engine, two
  * surfaces), and returns its summary counts as a result row.
  * Unknown procedures and unknown namespaces refuse loudly with the
  * available list — never a silent no-op. */
private[sources] object GraftProcedures {

  /** Procedure namespace under the catalog: `CALL <cat>.system.<p>`. */
  val Namespace = "system"

  private def spark: SparkSession = SparkSession.active

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()

  private def paramD(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def resultScan(schema: StructType,
                         resultRows: Seq[InternalRow])
  : java.util.Iterator[Scan] = {
    val arr = resultRows.toArray
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = arr
      override def readSchema(): StructType = schema
      override def description(): String = "graft procedure result"
    }).iterator()
  }

  private def cols(arg: String): Seq[String] =
    arg.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** One procedure: fixed parameter list, side-effecting `run`. */
  private final class Proc(
      procName: String,
      params: Seq[ProcedureParameter],
      schema: StructType,
      deterministic: Boolean,
      run: (SparkSession, Path, InternalRow) => Seq[InternalRow],
      resolve: String => Path,
      desc: String = "")
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft procedure $procName" +
        (if (desc.isEmpty) "" else s" — $desc")
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      params.toArray
    override def isDeterministic: Boolean = deterministic
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(input.getString(0))
      resultScan(schema, run(spark, path, input))
    }
  }

  private def count1(a: String) = StructType(Seq(
    StructField(a, LongType, nullable = false)))

  /** Rewriter result shape: counts plus the table GENERATION after
    * the CALL — so a SQL caller can pin `FOR VERSION AS OF` on
    * exactly the state its maintenance produced. */
  private def counts2Gen(a: String, b: String) = StructType(Seq(
    StructField(a, LongType, nullable = false),
    StructField(b, LongType, nullable = false),
    StructField("generation", LongType, nullable = false)))

  private def genAfter(s: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    CommitLog.committed(fs, p).map(_._1).getOrElse(-1L)
  }

  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  /** The registry, built against a catalog's table resolution. */
  def registry(resolve: String => Path)
  : Map[String, UnboundProcedure] = Map(
    "optimize" -> new Proc("optimize",
      Seq(param("table", StringType),
        paramD("target_bytes", LongType, (128L << 20).toString)),
      counts2Gen("rewritten", "files_after"), deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        // a MULTI-LEVEL hive layout bin-packs per LEAF directory
        // (every level preserved), the same grouped-planning shape
        // per-partition Z-order uses — one shuffle, one commit
        val partCols = CommitLog.partitionColsOf(
          CommitLog.ensureLoggedAt(fs, p)._2)
        val (a, b) = Compact.compactSinkCols(s, p.toString,
          partitionCols = partCols,
          targetBytes = in.getLong(1))
        Seq(row(a, b, genAfter(s, p)))
      }, resolve),
    "zorder" -> new Proc("zorder",
      Seq(param("table", StringType), param("columns", StringType),
        paramD("n_files", IntegerType, "8"),
        // keep_replaced = true skips the post-commit GC so every
        // prior generation stays time-travel readable
        paramD("keep_replaced",
          org.apache.spark.sql.types.BooleanType, "false")),
      counts2Gen("rewritten", "files_after"), deterministic = false,
      (s, p, in) => {
        val (a, b) = Cluster.zorderBy(s, p.toString,
          cols(in.getString(1)), in.getInt(2),
          keepReplaced = in.getBoolean(3))
        Seq(row(a, b, genAfter(s, p)))
      }, resolve),
    "analyze" -> new Proc("analyze",
      Seq(param("table", StringType), param("columns", StringType)),
      count1("files_analyzed"), deterministic = false,
      (s, p, in) => Seq(row(
        TableStats.analyze(s, p.toString, cols(in.getString(1))))),
      resolve),
    "build_ann" -> new Proc("build_ann",
      Seq(param("table", StringType),
        // string defaults are SQL expressions — they need literal quotes
        paramD("column", StringType, "'embedding'"),
        paramD("id_column", StringType, "'vec_id'"),
        paramD("num_centroids", IntegerType, "16")),
      count1("files_indexed"), deterministic = false,
      (s, p, in) => Seq(row(
        graft.operators.AnnIndex.build(s, p.toString,
          column = in.getString(1), idColumn = in.getString(2),
          numCentroids = in.getInt(3)))),
      resolve,
      desc = "builds (or incrementally catches up) the committed ANN " +
        "index for an embedding column: IVF centroids train once " +
        "(#meta ann.<col>.centroids), per-file postings land as #ann " +
        "records; probe with graft.operators.AnnIndex.topK"),
    "set_bucketing" -> new Proc("set_bucketing",
      Seq(param("table", StringType), param("column", StringType),
        param("num_buckets", IntegerType)),
      count1("generation"), deterministic = false,
      (s, p, in) => Seq(row(
        graft.operators.Bucketing.declare(s, p.toString,
          in.getString(1), in.getInt(2)))),
      resolve,
      desc = "declares hash bucketing (#meta bucket.cols/bucket.n) " +
        "on an empty table — writers then route rows to " +
        "pmod(hash(col), n) bucket files and same-(n, key) graft " +
        "tables storage-partition-join with zero exchanges; " +
        "equivalent to CREATE TABLE ... PARTITIONED BY " +
        "(bucket(n, col))"),
    "rebucket" -> new Proc("rebucket",
      Seq(param("table", StringType), param("column", StringType),
        param("num_buckets", IntegerType)),
      count1("generation"), deterministic = false,
      (s, p, in) => Seq(row(
        graft.operators.Bucketing.rebucket(s, p.toString,
          in.getString(1), in.getInt(2)))),
      resolve,
      desc = "restores (or first establishes) the bucket layout on a " +
        "table with data: declares #meta bucket.cols/bucket.n and " +
        "truncate-rewrites the visible rows through the routing " +
        "writer — the recovery verb after a commit dropped the " +
        "declaration (bucket.dropped)"),
    "build_bloom" -> new Proc("build_bloom",
      Seq(param("table", StringType), param("columns", StringType),
        paramD("expected_keys_per_file", LongType, "1000000")),
      count1("files_indexed"), deterministic = false,
      (s, p, in) => Seq(row(
        TableStats.buildBloom(s, p.toString, cols(in.getString(1)),
          expectedKeysPerFile = in.getLong(2)))),
      resolve),
    "apply_deletes" -> new Proc("apply_deletes",
      Seq(param("table", StringType)),
      counts2Gen("rewritten", "files_after"), deterministic = false,
      (s, p, _) => {
        val (a, b) = DeleteVectors.applyDeletes(s, p.toString)
        Seq(row(a, b, genAfter(s, p)))
      }, resolve),
    "create_tag" -> new Proc("create_tag",
      Seq(param("table", StringType),
        param("name", StringType),
        paramD("generation", LongType, "-1")),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = in.getString(1)
        val gen = in.getLong(2)
        val pinned = CommitLog.createTag(fs, p, name,
          if (gen < 0) None else Some(gen))
        Seq(row(utf8(name), pinned))
      }, resolve,
      desc = "pins a snapshot tag (immutable ref) to a generation " +
        "(default: the current head); tagged generations survive " +
        "expire until the tag is dropped; read back with " +
        "VERSION AS OF '<name>'"),
    "drop_tag" -> new Proc("drop_tag",
      Seq(param("table", StringType), param("name", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("was_generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = in.getString(1)
        Seq(row(utf8(name), CommitLog.dropTag(fs, p, name)))
      }, resolve,
      desc = "drops a snapshot tag; the pinned generation becomes " +
        "expirable again on the next expire"),
    "tags" -> new Proc("tags",
      Seq(param("table", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        CommitLog.tags(fs, p).toSeq.sortBy(_._1)
          .map { case (n, g) => row(utf8(n), g) }
      }, resolve,
      desc = "lists the table's snapshot tags (name, generation)"),
    "rollback" -> new Proc("rollback",
      Seq(param("table", StringType), param("to", StringType)),
      StructType(Seq(
        StructField("previous_head", LongType, nullable = false),
        StructField("restored", LongType, nullable = false),
        StructField("generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val to = in.getString(1).trim
        // same resolution VERSION AS OF uses: all-digits is a
        // generation number, anything else a tag name (tag names can
        // never be all-digits — CommitLog.tagKey refuses them)
        val target =
          if (to.nonEmpty && to.forall(_.isDigit)) to.toLong
          else CommitLog.resolveTag(fs, p, to)
        val before = CommitLog.committed(fs, p).map(_._1)
          .getOrElse(-1L)
        val newHead = CommitLog.rollbackTo(fs, p, target)
        Seq(row(before, target, newHead))
      }, resolve,
      desc = "restores a retained generation (by number or tag " +
        "name) as the NEW head — one metadata commit, zero data " +
        "motion, history preserved (the rolled-back generations " +
        "stay time-travel readable until expire); Delta RESTORE / " +
        "Iceberg rollback_to_snapshot"),
    "expire" -> new Proc("expire",
      Seq(param("table", StringType),
        paramD("keep_last", IntegerType, "1")),
      count1("generations_expired"), deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(row(CommitLog.expireGenerations(fs, p,
          in.getInt(1)).toLong))
      }, resolve),
    "vacuum" -> new Proc("vacuum",
      // horizon 0 is safe only on a QUIESCED sink (a concurrent
      // writer's moved-in-but-uncommitted files look unreferenced);
      // the SQL default is Delta's 7-day retention — pass 0
      // explicitly to reclaim immediately
      Seq(param("table", StringType),
        paramD("older_than_ms", LongType,
          (7L * 24 * 3600 * 1000).toString)),
      count1("orphans_removed"), deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(row(CommitLog.vacuum(fs, p, in.getLong(1))))
      }, resolve,
      desc = "reclaims unreferenced bytes older than the horizon; " +
        "older_than_ms=0 is safe ONLY on a quiesced table (a " +
        "concurrent batch writer's or in-flight streaming query's " +
        "staged-but-uncommitted files look unreferenced — stop " +
        "streams first) — the 7-day default is safe under " +
        "concurrent writers"),
    "create_branch" -> new Proc("create_branch",
      Seq(param("table", StringType),
        param("name", StringType),
        paramD("generation", LongType, "-1")),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("from_generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = in.getString(1)
        val gen = in.getLong(2)
        val from = CommitLog.createBranch(fs, p, name,
          if (gen < 0) None else Some(gen))
        Seq(row(utf8(name), from))
      }, resolve,
      desc = "creates a writable branch at a generation (default: " +
        "head) — write-audit-publish: stage risky batches with " +
        "option('branch', name), read them back the same way, " +
        "publish atomically with fast_forward; main is untouched " +
        "until then"),
    "fast_forward" -> new Proc("fast_forward",
      Seq(param("table", StringType), param("name", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("generation", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = in.getString(1)
        Seq(row(utf8(name), CommitLog.fastForward(fs, p, name)))
      }, resolve,
      desc = "publishes a branch: ONE CAS commit makes the branch " +
        "head the next main generation (tags and the #txn ledger " +
        "survive); terminal if main moved concurrently — re-audit " +
        "and re-decide"),
    "drop_branch" -> new Proc("drop_branch",
      Seq(param("table", StringType), param("name", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("positions_removed", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = in.getString(1)
        Seq(row(utf8(name),
          CommitLog.dropBranch(fs, p, name).toLong))
      }, resolve,
      desc = "drops a branch; files staged only on it become " +
        "vacuum-reclaimable debris"),
    "branches" -> new Proc("branches",
      Seq(param("table", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("position", LongType, nullable = false))),
      deterministic = false,
      (s, p, in) => {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        CommitLog.branches(fs, p).toSeq.sortBy(_._1)
          .map { case (n, k) => row(utf8(n), k) }
      }, resolve,
      desc = "lists the table's branches (name, chain position)"),
    "detail" -> new Proc("detail",
      Seq(param("table", StringType)),
      GraftMetaTable.schemaOf("detail"),
      deterministic = false,
      (s, p, _) => {
        val df = s.read.format("graft")
          .option("metadata", "detail").load(p.toString)
        df.collect().toSeq.map { r =>
          row(utf8(r.getString(0)), utf8(r.getString(1)),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), utf8(r.getString(8)),
            utf8(r.getString(9)), utf8(r.getString(10)),
            r.getLong(11), r.getLong(12), r.getLong(13))
        }
      }, resolve,
      desc = "one-row table summary (DESCRIBE DETAIL): format, " +
        "location, head generation, retained generations, file/DV " +
        "counts, physical size, partition columns, checks, tags; " +
        "also readable as the metadata table <table>.detail"),
    "history" -> new Proc("history",
      Seq(param("table", StringType)),
      // DESCRIBE HISTORY's summary columns (TableHistory.history)
      StructType(Seq(
        StructField("generation", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("files_added", LongType, nullable = false),
        StructField("files_removed", LongType, nullable = false),
        StructField("dv_files", LongType, nullable = false))),
      deterministic = false,
      (s, p, _) => {
        val df = TableHistory.history(s, p.toString)
          .select("generation", "operation", "n_files",
            "files_added", "files_removed", "dv_files")
        df.collect().toSeq.map(r => row(r.getLong(0),
          utf8(r.getString(1)), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      }, resolve))
}
