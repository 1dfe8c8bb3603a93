package graft.sources

import java.util

import graft.operators.{CommitLog, SchemaEvolve}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier,
  NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange,
  TableInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A [[TableCatalog]] over [[CommitLog]]-managed sinks — the SQL
  * consumption tier Delta/Iceberg ship: register once
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  * }}}
  *
  * and `CREATE TABLE graft.db.t (...) USING graft [PARTITIONED BY
  * (p)]`, `INSERT INTO graft.db.t`, `SELECT ... FROM graft.db.t`,
  * `saveAsTable`, `spark.table`, CTAS, and `FOR VERSION/TIMESTAMP AS
  * OF` time travel all resolve — the same [[GraftTable]] the
  * path-based format surface plans, so a catalog read is hash-equal
  * to `spark.read.format("graft").load(path)` by construction.
  *
  * Identity mapping, no metastore: a namespace IS a warehouse
  * subdirectory, a table IS a logged sink at
  * `<warehouse>/<db>/<table>` (or its `LOCATION` override). CREATE
  * commits generation 0 carrying the declared schema and partition
  * layout as `#meta` records — authoritative only while the table is
  * empty; once data lands, the files' mapped schema and committed
  * hive layout are the source of truth, so the records never go
  * stale. `ALTER TABLE` delegates to [[SchemaEvolve]]: RENAME/DROP
  * COLUMN and type widening are metadata-only commits; everything
  * else refuses loudly rather than half-supporting it.
  *
  * The reference exposes its tables through the warehouse catalog
  * (`dags/idh_etl.py:247-256` — BigQuery dataset.table names); this
  * is the same role for a file-native engine. */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def fs: FileSystem = warehouse.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name" +
          ".warehouse")))
  }

  override def name(): String = catalogName

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)(new Path(_, _))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)

  private def isTable(p: Path): Boolean =
    CommitLog.generations(fs, p).nonEmpty

  // ---- ProcedureCatalog ----

  /** `CALL <cat>.system.<proc>('db.t', ...)` — the SQL maintenance
    * tier ([[GraftProcedures]], Iceberg's stored-procedure pattern).
    * The `table` argument resolves through the SAME identity mapping
    * as table identifiers; unknown namespaces/procedures refuse
    * loudly with what IS available. */
  private lazy val procedures = GraftProcedures.registry { table =>
    val parts = table.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty,
      s"graft catalog: procedure table argument '$table' is empty — " +
        "pass 'db.table' (the identifier, not a path)")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    p
  }

  /** Unknown procedures and wrong namespaces surface as the STANDARD
    * routine-resolution analysis error (`ROUTINE_NOT_FOUND`,
    * SQLSTATE 42883) — what callers catching resolution failures
    * match on — with the available-procedure list folded into the
    * name so the error still says what IS callable. */
  private def noSuchProcedure(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "ROUTINE_NOT_FOUND",
      messageParameters = Map("routineName" ->
        (s"`$catalogName`.`${ident.namespace.mkString(".")}`." +
          s"`${ident.name}` (graft procedures: CALL $catalogName." +
          s"${GraftProcedures.Namespace}.<name>, available: " +
          s"${procedures.keys.toSeq.sorted.mkString(", ")})")))

  override def loadProcedure(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.procedures
    .UnboundProcedure = {
    if (ident.namespace.toSeq != Seq(GraftProcedures.Namespace))
      noSuchProcedure(ident)
    procedures.getOrElse(ident.name, noSuchProcedure(ident))
  }

  override def listProcedures(namespace: Array[String])
  : Array[Identifier] =
    if (namespace.toSeq == Seq(GraftProcedures.Namespace))
      procedures.keys.toArray.sorted.map(n =>
        Identifier.of(namespace, n))
    else Array.empty

  // ---- FunctionCatalog ----
  //
  // One function: `bucket(n, col)` — what V2ExpressionUtils loads to
  // resolve the KeyGroupedPartitioning a bucketed graft scan reports,
  // making storage-partitioned joins plannable for catalog reads
  // (path-based reads have no function catalog and simply fall back
  // to shuffled joins; same data either way).

  override def listFunctions(namespace: Array[String])
  : Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket")
      new GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String])
  : Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      // dot-prefixed dirs are in-flight CTAS/RTAS stages (or their
      // crash debris) — never tables the catalog serves
      .filterNot(_.getName.startsWith("."))
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table =
    loadWith(ident, Map.empty)

  /** `FOR VERSION AS OF` — the catalog face of `versionAsOf`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // validate here so a bad literal surfaces as a catalog error
    // naming the table, not a bare NumberFormatException from deep
    // inside state resolution: a version is either a generation
    // number (all digits) or a snapshot TAG name ([A-Za-z0-9_.-]+,
    // never all-digits — CommitLog.tagKey enforces the split)
    require(version != null && version.nonEmpty && version.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"graft catalog: VERSION AS OF '$version' on $ident is " +
        "neither a generation number (DESCRIBE HISTORY lists them) " +
        "nor a tag name ([A-Za-z0-9_.-]+)")
    loadWith(ident, Map("versionAsOf" -> version))
  }

  /** `FOR TIMESTAMP AS OF` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadWith(ident, Map("timestampAsOf" -> (timestamp / 1000L).toString))

  private def loadWith(ident: Identifier,
                       extra: Map[String, String]): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) {
      // Iceberg-style METADATA TABLE identifiers: `cat.db.t.history`,
      // `cat.db.t.files`, `cat.db.t.changes` — the suffix selects the
      // metadata surface of the PARENT table (a genuine table of that
      // name always wins: this branch only runs when `p` is no table)
      val kind = ident.name.toLowerCase(java.util.Locale.ROOT)
      // `cat.db.t.branch_<name>` resolves the PARENT table's branch
      // head: reads see the staged state, and every write/DML surface
      // (append, truncate, partition overwrite, UPDATE/MERGE/DELETE)
      // commits to the branch chain — the audit-then-patch loop of
      // write-audit-publish, in pure SQL
      if (ident.namespace.nonEmpty && ident.name.startsWith("branch_")) {
        val parent = new Path(nsPath(ident.namespace.init),
          ident.namespace.last)
        if (isTable(parent)) {
          val b = ident.name.stripPrefix("branch_")
          val opts = new CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(
              extra + ("path" -> parent.toString, "branch" -> b))
              .asJava)
          return new GraftTable(GraftState.resolve(opts))
        }
      }
      if (ident.namespace.nonEmpty &&
        Seq("history", "files", "changes", "detail").contains(kind)) {
        val parent = new Path(nsPath(ident.namespace.init),
          ident.namespace.last)
        if (isTable(parent)) {
          val base = extra + ("path" -> parent.toString)
          def opts(m: Map[String, String]) =
            new CaseInsensitiveStringMap(
              scala.jdk.CollectionConverters.MapHasAsJava(m).asJava)
          return kind match {
            case "changes" =>
              // the table's full RETAINED changelog: base snapshot =
              // first retained generation, end = latest (narrower
              // windows: the format surface's startingVersion/
              // endingVersion options, or CommitLog.changesBetween)
              val first = CommitLog.generations(fs, parent).head
              val m = base + ("readChangeFeed" -> "true",
                "startingVersion" -> first.toString)
              new GraftCdfTable(GraftState.resolve(opts(m)), opts(m))
            case k =>
              new GraftMetaTable(GraftState.resolve(opts(base)), k)
          }
        }
      }
      throw new NoSuchTableException(ident)
    }
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(
        extra + ("path" -> p.toString)).asJava)
    new GraftTable(GraftState.resolve(opts))
  }

  /** Shared CREATE validation: LOCATION identity, identity-transform
    * partitioning, partition-column membership, reserved names —
    * returns (partition columns, the `#meta` record map a bootstrap
    * generation 0 carries). */
  private def validatedCreate(ident: Identifier,
                              schema: org.apache.spark.sql.types
                                .StructType,
                              partitions: Array[Transform],
                              properties: util.Map[String, String])
  : (Seq[String], Map[String, String]) = {
    // identity mapping is the catalog's whole resolution scheme — a
    // LOCATION override would commit a log this catalog could never
    // find again (loadTable/alterTable/dropTable all derive the path
    // from the identifier), so refuse instead of stranding a table
    Option(properties.get(TableCatalog.PROP_LOCATION)).foreach {
      loc =>
        require(new Path(loc) == tablePath(ident),
          s"graft catalog: LOCATION '$loc' is not the " +
            s"warehouse-derived path ${tablePath(ident)} — external " +
            "locations are not resolvable by an identity-mapped " +
            "catalog; read the path directly with " +
            "spark.read.format(\"graft\").load(path)")
    }
    // identity transforms are the hive directory layout; at most ONE
    // bucket(n, col) transform declares hash bucketing
    // ([[graft.operators.Bucketing]] — file-name routing, the
    // storage-partitioned-join layout). days/hours/etc stay refused.
    val (bucketTs, otherTs) = partitions.toSeq.partition(
      _.name == "bucket")
    val partCols = otherTs.map { t =>
      if (t.name != "identity")
        throw new UnsupportedOperationException(
          s"graft catalog: only identity and bucket(n, col) " +
            s"PARTITIONED BY transforms are supported (got $t) — " +
            "days/hours transforms are not a hive directory layout")
      t.references.head.fieldNames.mkString(".")
    }
    require(bucketTs.size <= 1,
      "graft catalog: at most one bucket(n, col) transform")
    val bucketMeta: Map[String, String] = bucketTs.headOption.map {
      t =>
        val ns = t.arguments.toSeq.collect {
          case l: org.apache.spark.sql.connector.expressions
            .Literal[_] => l.value match {
            case i: java.lang.Integer => i.intValue
            case other => throw new IllegalArgumentException(
              s"graft catalog: bucket count must be an int literal " +
                s"(got $other)")
          }
        }
        val refs = t.arguments.toSeq.collect {
          case r: org.apache.spark.sql.connector.expressions
            .NamedReference => r.fieldNames.mkString(".")
        }
        require(ns.size == 1 && refs.size == 1,
          s"graft catalog: bucket transform must be bucket(n, col) " +
            s"with exactly one column (got $t)")
        val (n, c) = (ns.head, refs.head)
        require(n > 0 && n <= 100000,
          s"graft catalog: bucket count $n out of range (1..100000)")
        require(schema.fieldNames.contains(c),
          s"graft catalog: bucket column $c is not in the table schema")
        require(GraftBucketFunction.supported(schema(c).dataType),
          s"graft catalog: bucket column $c has unsupported type " +
            s"${schema(c).dataType.catalogString} (supported: " +
            "tinyint, smallint, int, bigint, date, string)")
        require(!partCols.contains(c),
          s"graft catalog: bucket column $c cannot also be a " +
            "hive partition column")
        Map(graft.operators.Bucketing.ColsKey -> c,
          graft.operators.Bucketing.NKey -> n.toString)
    }.getOrElse(Map.empty)
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft catalog: partition column(s) ${missing.mkString(", ")} " +
        "are not in the table schema")
    val reserved = schema.fieldNames.filter(GraftRowLevel.isMetaCol)
    require(reserved.isEmpty,
      s"graft catalog: column name(s) ${reserved.mkString(", ")} " +
        "are reserved row-identity metadata columns — rename them")
    // user TBLPROPERTIES and COMMENT persist as `#meta prop.*`
    // records ([[GraftTable.properties]] surfaces them back to
    // DESCRIBE EXTENDED / SHOW TBLPROPERTIES) — never silently
    // dropped; Spark-injected bookkeeping keys (provider, owner,
    // location already validated above) are the engine's own and are
    // not user data to round-trip
    val props = GraftCatalog.userProperties(properties)
    (partCols, Map(
      "schema.ddl" -> schema.toDDL,
      "partition.cols" -> partCols.mkString(",")) ++ bucketMeta ++
      props.map { case (k, v) => s"prop.$k" -> v })
  }

  override def createTable(ident: Identifier,
                           info: TableInfo): Table = {
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    val (_, meta) = validatedCreate(ident, info.schema,
      info.partitions, info.properties)
    fs.mkdirs(p)
    // generation 0 carries the declared schema + layout as #meta —
    // what reads and the first write resolve against while the table
    // is empty
    CommitLog.commitNext(fs, p, -1L, Nil, meta = meta)
    loadTable(ident)
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS ----
  //
  // A plain CTAS is create-then-append: a mid-query failure strands
  // an empty committed table. The staged protocol (Iceberg ships the
  // same SPI for the same reason) writes the query into a HIDDEN
  // sibling directory that is itself a complete logged table; commit
  // publishes it — a fresh CREATE as ONE atomic directory rename, a
  // REPLACE as ONE commit on the existing log (so every prior
  // generation stays time-travel readable); abort deletes the staged
  // directory and the catalog never saw a table.

  private def stage(ident: Identifier,
                    schema: org.apache.spark.sql.types.StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replace: Boolean)
  : org.apache.spark.sql.connector.catalog.StagedTable = {
    val real = tablePath(ident)
    if (!replace && isTable(real))
      throw new TableAlreadyExistsException(ident)
    val (_, meta) = validatedCreate(ident, schema, partitions,
      properties)
    val staged = new Path(nsPath(ident.namespace),
      "." + ident.name + "__stage-" +
        java.util.UUID.randomUUID().toString)
    fs.mkdirs(staged)
    CommitLog.commitNext(fs, staged, -1L, Nil, meta = meta)
    new GraftStagedTable(fs, ident, real, staged, replace)
  }

  override def stageCreate(ident: Identifier,
                           columns: Array[org.apache.spark.sql
                             .connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
  : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, GraftCatalog.structOf(columns), partitions,
      properties, replace = false)

  override def stageReplace(ident: Identifier,
                            columns: Array[org.apache.spark.sql
                              .connector.catalog.Column],
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
  : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!isTable(tablePath(ident)))
      throw new NoSuchTableException(ident)
    stage(ident, GraftCatalog.structOf(columns), partitions,
      properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    columns: Array[org.apache.spark
                                      .sql.connector.catalog.Column],
                                    partitions: Array[Transform],
                                    properties: util.Map[String,
                                      String])
  : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, GraftCatalog.structOf(columns), partitions,
      properties, replace = true)

  /** RENAME/DROP COLUMN and widening ALTER COLUMN TYPE delegate to
    * [[SchemaEvolve]]; SET/UNSET TBLPROPERTIES and COMMENT land as
    * `#meta prop.*` records; every other change refuses loudly. A
    * multi-change ALTER is ATOMIC on both paths: a still-EMPTY table
    * (CREATE'd, nothing inserted) rewrites its declared `#meta`
    * schema in one commit — under the SAME widen-only type rule the
    * non-empty path enforces, so a narrowing ALTER can never plant a
    * declared schema the first INSERT would cast into — and a
    * non-empty table batches the whole change list into one
    * [[SchemaEvolve.applyChanges]] commit (a failing change leaves
    * the schema untouched). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    val (gen, snap) = CommitLog.ensureSnapshotAt(fs, p)
    def single(c: TableChange.ColumnChange): String = {
      require(c.fieldNames.length == 1,
        "graft catalog: nested columns are not supported")
      c.fieldNames.head
    }
    // the row-identity names are reserved EVERYWHERE a column name
    // can enter the schema: createTable and the write path already
    // refuse them; a RENAME (or ADD) to `_graft_file`/`_graft_pos`
    // would be silently shadowed by the scan's identity
    // materialization on any projecting read, corrupting results and
    // row-level DML post-images
    val reservedIn = changes.collect {
      case c: TableChange.RenameColumn
        if GraftRowLevel.isMetaCol(c.newName) => c.newName
      case c: TableChange.AddColumn
        if c.fieldNames.length == 1 &&
          GraftRowLevel.isMetaCol(c.fieldNames.head) =>
        c.fieldNames.head
    }
    require(reservedIn.isEmpty,
      s"graft catalog: column name(s) ${reservedIn.mkString(", ")} " +
        "are reserved row-identity metadata columns — rename them")
    // property changes are table-level #meta records on both paths
    val propMeta: Map[String, String] = changes.collect {
      case c: TableChange.SetProperty =>
        require(c.property != TableCatalog.PROP_LOCATION,
          "graft catalog: LOCATION cannot be altered — the catalog " +
            "is identity-mapped")
        s"prop.${c.property}" -> c.value
      case c: TableChange.RemoveProperty =>
        s"prop.${c.property}" -> "" // #meta tombstone
    }.toMap
    val colChanges = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    if (snap.files.isEmpty) {
      val meta = snap.meta
      val ddl = meta.getOrElse("schema.ddl",
        throw new UnsupportedOperationException(
          s"graft catalog: $ident is empty and has no declared " +
            "schema to alter"))
      var schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      var partCols = meta.get("partition.cols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
      def one(name: String)
             (f: org.apache.spark.sql.types.StructField =>
               Option[org.apache.spark.sql.types.StructField]): Unit = {
        require(schema.fieldNames.contains(name),
          s"graft catalog: no column `$name` in $ident")
        schema = org.apache.spark.sql.types.StructType(
          schema.flatMap(fld => if (fld.name == name) f(fld)
          else Some(fld)))
      }
      colChanges.foreach {
        case c: TableChange.AddColumn =>
          val name = single(c)
          GraftCatalog.requireAddable(c)
          require(!schema.fieldNames.contains(name),
            s"graft catalog: column `$name` already exists in $ident")
          val fld = org.apache.spark.sql.types.StructField(
            name, c.dataType, nullable = true)
          schema = org.apache.spark.sql.types.StructType(schema :+
            (if (c.comment == null) fld
             else fld.withComment(c.comment)))
        case c: TableChange.RenameColumn =>
          val from = single(c)
          one(from)(fld => Some(fld.copy(name = c.newName)))
          partCols = partCols.map(pc => if (pc == from) c.newName
          else pc)
        case c: TableChange.DeleteColumn =>
          require(!partCols.contains(c.fieldNames.head),
            s"graft catalog: cannot drop partition column " +
              s"${c.fieldNames.head}")
          one(single(c))(_ => None)
        case c: TableChange.UpdateColumnType =>
          // same widen-only legality as the non-empty path: the
          // declared schema is what the first INSERT will be held to
          val name = single(c)
          one(name) { fld =>
            SchemaEvolve.requireWidening(name,
              fld.dataType.catalogString, c.newDataType.catalogString)
            Some(fld.copy(dataType = c.newDataType))
          }
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other")
      }
      CommitLog.commitNext(fs, p, gen, Nil, meta = Map(
        "schema.ddl" -> schema.toDDL,
        "partition.cols" -> partCols.mkString(",")) ++ propMeta)
      return loadTable(ident)
    }
    val evolveChanges = colChanges.map {
      case c: TableChange.AddColumn =>
        // metadata-only additive evolution ([[SchemaEvolve.addColumn]]):
        // zero files rewritten, old rows read NULL, the write guard
        // requires new batches to carry the column. Column COMMENTs
        // have no storage on the evolve path (the files' mapped schema
        // is the source of truth) — refuse rather than silently drop.
        GraftCatalog.requireAddable(c)
        require(c.comment == null,
          "graft catalog: ADD COLUMNS ... COMMENT is not supported " +
            "on a non-empty table — the mapped file schema carries " +
            "no column comments; add the column, then document it " +
            "via TBLPROPERTIES")
        SchemaEvolve.Change.Add(single(c), c.dataType.catalogString)
      case c: TableChange.RenameColumn =>
        SchemaEvolve.Change.Rename(single(c), c.newName)
      case c: TableChange.DeleteColumn =>
        SchemaEvolve.Change.Drop(single(c))
      case c: TableChange.UpdateColumnType =>
        SchemaEvolve.Change.Widen(single(c),
          c.newDataType.sql.toLowerCase(java.util.Locale.ROOT))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — " +
          "use the SchemaEvolve/CommitLog operator APIs for " +
          "constraints")
    }
    if (evolveChanges.nonEmpty)
      SchemaEvolve.applyChanges(spark, p.toString, evolveChanges,
        meta = propMeta)
    else if (propMeta.nonEmpty)
      CommitLog.commitNext(fs, p, gen, snap.files, meta = propMeta)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) return false
    fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"graft catalog: could not rename $from to $to")
  }

  // ---- SupportsNamespaces (a namespace IS a directory) ----

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory)
      .filterNot(s => isTable(s.getPath))
      .map(s => Array(s.getPath.getName))

  override def listNamespaces(namespace: Array[String])
  : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  /** A TABLE directory is never a namespace: without this exclusion
    * `DROP NAMESPACE cat.db.sometable CASCADE` would resolve the
    * table's path as a namespace and delete the table through the
    * wrong verb. */
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(nsPath(namespace)) && !isTable(nsPath(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String])
  : util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String])
  : Unit = {
    // the standard catalog contract: re-creating an existing
    // namespace throws (CREATE NAMESPACE IF NOT EXISTS is handled a
    // level up by Spark, which checks namespaceExists first)
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(catalogName +: namespace)
    require(!fs.exists(nsPath(namespace)),
      s"graft catalog: ${namespace.mkString(".")} is an existing " +
        "TABLE path — a table cannot be shadowed by a namespace")
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces are plain directories — no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is " +
          "not empty (use CASCADE)")
    fs.delete(p, true)
  }
}

/** One in-flight atomic CTAS/RTAS ([[GraftCatalog]]'s
  * `StagingTableCatalog` face): the staged directory is a COMPLETE
  * logged table (bootstrap `#meta` generation 0 + whatever the query
  * writes through the ordinary graft write path — CHECK-free, fresh,
  * unmapped), invisible to the catalog until commit.
  *
  *   - `commitStagedChanges` on a CREATE: one atomic directory
  *     rename publishes the whole table — a failure anywhere before
  *     it leaves NO table behind (the round-12 gap: plain CTAS
  *     stranded an empty committed table).
  *   - on a REPLACE of an existing table: the staged live set lands
  *     as the NEXT generation of the EXISTING commit log (one CAS
  *     publish) — the replaced generations stay time-travel readable
  *     until retention, exactly the truncate contract; the old
  *     table's `#check` records and `#meta` properties are
  *     tombstoned in the same commit (REPLACE re-declares the table,
  *     it doesn't inherit constraints it never stated).
  *   - `abortStagedChanges` deletes the staged directory; debris
  *     from a hard crash is a dot-prefixed sibling no listing ever
  *     surfaces.
  */
private[sources] final class GraftStagedTable(
    fs: FileSystem, ident: Identifier, real: Path, staged: Path,
    replace: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.catalog.TableCapability

  private def opts = new CaseInsensitiveStringMap(
    scala.jdk.CollectionConverters.MapHasAsJava(
      Map("path" -> staged.toString)).asJava)

  override def name(): String = s"graft:staged:$real"

  override def schema(): org.apache.spark.sql.types.StructType =
    GraftState.resolve(opts).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(staged.toString, info)

  override def abortStagedChanges(): Unit = fs.delete(staged, true)

  override def commitStagedChanges(): Unit = {
    val isReal = CommitLog.generations(fs, real).nonEmpty
    if (!isReal) {
      // CREATE (also REPLACE whose target vanished meanwhile): the
      // staged dir IS the table — one atomic rename publishes it. A
      // directory at the path that is NOT a logged table is someone
      // else's data — refuse rather than destroy it (the same
      // stance createNamespace takes on shadowing).
      require(!fs.exists(real),
        s"graft catalog: $real exists but is not a graft table — " +
          "refusing to replace a directory the catalog does not own")
      fs.mkdirs(real.getParent)
      if (!fs.rename(staged, real))
        throw new java.io.IOException(
          s"graft catalog: could not publish staged table $staged " +
            s"as $real")
      return
    }
    if (!replace) throw new TableAlreadyExistsException(ident)
    // REPLACE: the staged live set becomes the NEXT generation of
    // the existing log — prior generations stay readable via time
    // travel; a CAS loss is terminal (a REPLACE that raced another
    // writer must be re-decided), exactly the truncate contract
    val (gen, rm) = CommitLog.ensureSnapshotAt(fs, real)
    val (_, sm) = CommitLog.ensureSnapshotAt(fs, staged)
    sm.files.foreach { r =>
      if (fs.exists(new Path(real, r)))
        throw new java.io.IOException(
          s"graft catalog: staged file $r collides with an existing " +
            s"file under $real")
    }
    val moved = CommitLog.moveIn(fs, staged, real, sm.files)
    // the replaced table's properties and CHECK constraints are
    // tombstoned — REPLACE re-declares the table from scratch
    val metaTomb = rm.meta.keys.map(_ -> "").toMap
    val checkTomb = rm.checks.keys.map(_ -> "").toMap
    CommitLog.commitNext(fs, real, gen, moved,
      checks = checkTomb, meta = metaTomb ++ sm.meta,
      stats = sm.stats, statsReplace = true)
    fs.delete(staged, true)
  }
}

object GraftCatalog {

  /** V2 `Column[]` → `StructType` (CatalogV2Util's conversion is
    * spark-private): name, type, nullability, comment. Column
    * DEFAULTs are refused — the engine has nowhere to honor them. */
  private[sources] def structOf(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
  : org.apache.spark.sql.types.StructType = {
    val withDefault = columns.filter(_.defaultValue != null)
    require(withDefault.isEmpty,
      s"graft catalog: column DEFAULT is not supported (on ${
        withDefault.map(_.name).mkString(", ")})")
    org.apache.spark.sql.types.StructType(columns.toSeq.map { c =>
      val f = org.apache.spark.sql.types.StructField(
        c.name, c.dataType, c.nullable)
      if (c.comment == null) f else f.withComment(c.comment)
    })
  }

  /** The supported shape of `ALTER TABLE ADD COLUMNS`: nullable
    * (existing rows read NULL — a NOT NULL add would instantly
    * violate itself), appended at the end (the mapped-scan schema is
    * structural, not positional), no DEFAULT (NULL is the documented
    * pre-ADD value). Everything else refuses loudly. */
  private[sources] def requireAddable(
      c: TableChange.AddColumn): Unit = {
    require(c.isNullable,
      "graft catalog: ADD COLUMNS must be nullable — every existing " +
        "row reads NULL for the new column")
    require(c.position == null,
      "graft catalog: ADD COLUMNS FIRST/AFTER is not supported — " +
        "new columns append at the end of the schema")
    require(c.defaultValue == null,
      "graft catalog: ADD COLUMNS DEFAULT is not supported — " +
        "existing rows read NULL; backfill with UPDATE instead")
  }

  /** Spark-injected bookkeeping keys a CREATE TABLE carries that are
    * not user data to round-trip (location is validated separately,
    * provider/owner/external describe the engine itself). */
  private val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION)

  /** The user-supplied subset of a CREATE TABLE's properties —
    * TBLPROPERTIES and COMMENT — which persist as `#meta prop.*`
    * records rather than vanishing. */
  private[sources] def userProperties(
      props: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    props.asScala.toMap.filterNot { case (k, _) =>
      ReservedProps.contains(k) ||
        k.startsWith(TableCatalog.OPTION_PREFIX)
    }
  }
}
