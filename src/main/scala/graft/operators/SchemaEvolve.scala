package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Non-additive schema evolution for [[CommitLog]]-managed parquet
  * sinks: RENAME and DROP as metadata-only commits — no data file is
  * read or rewritten, so renaming a column of a 100 TB table costs
  * one manifest publish, exactly Iceberg's column-mapping promise.
  *
  * Mechanism: the manifest's per-file `#colmap` records bind each
  * file's PHYSICAL column names (what its parquet footer says) to the
  * table's LOGICAL names (what readers see). A rename commits a
  * record set for every live file in one atomic manifest; files
  * appended afterwards are written with the logical schema directly
  * and need no records. [[CommitLog.mappedScan]] is the reader:
  * files group into schema epochs by mapping signature, each epoch is
  * one scan, and the epochs union by logical name — so the mapped
  * read never fans out with file count, only with the number of
  * distinct surviving mappings. Iceberg solves the same problem with
  * parquet field ids; name-keyed mapping suffices here because every
  * rename rewrites ALL live files' records in the same commit, so a
  * physical name is never ambiguous within one file.
  *
  * Readers ([[CommitLog.read]]/[[CommitLog.readAt]]) and the merge
  * family ([[Merge]]) resolve the mapping transparently; positional
  * operators that bind rows to raw physical layout ([[Compact]],
  * [[DeleteVectors.applyDeletes]]) refuse mapped inputs loudly
  * ([[CommitLog.requireNoColmaps]]) and [[normalize]] is the explicit
  * copy-on-write rewrite that pays the mapping debt down — the exact
  * analogue of [[DeleteVectors.applyDeletes]] for deletion vectors.
  *
  * Dependent record families evolve IN THE SAME COMMIT — rename
  * rewrites `#check` expressions and rekeys `#stats` records to the
  * new logical name (pruning keeps working, the write path stays
  * enforceable), drop refuses while a `#check` references the column
  * and removes the column's `#stats` — so no later writer or pruner
  * can ever resolve against a stale name.
  *
  * The reference renames columns eagerly in pandas on ingest
  * (`dags/idh_etl.py:117-136`, a per-batch rename of Polish headers);
  * a committed table at scale needs rename-as-metadata instead. */
object SchemaEvolve {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Single-part column references of a CHECK constraint's SQL
    * expression, via the session parser — what rename must rewrite
    * and drop must refuse (an evolved column inside a `#check` would
    * otherwise brick every later write at
    * [[CommitLog.requireChecks]] with an unresolved-column
    * AnalysisException until dropCheck). */
  private def checkRefs(spark: SparkSession, sqlExpr: String)
  : Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 => a.nameParts.head
    }

  /** CHECK expressions referencing `oldName` rewritten to reference
    * `newName` — parse, transform the attribute nodes, regenerate
    * SQL; expressions not referencing the column are left untouched
    * (returned map holds only the rewrites). */
  private def rewriteChecks(spark: SparkSession,
                            checks: Map[String, String],
                            oldName: String, newName: String)
  : Map[String, String] = {
    val resolver = spark.sessionState.conf.resolver
    checks.flatMap { case (n, e) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(e)
      val hit = parsed.collectFirst {
        case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute
          if a.nameParts.length == 1 &&
            resolver(a.nameParts.head, oldName) => a
      }.isDefined
      if (!hit) None
      else Some(n -> parsed.transform {
        case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute
          if a.nameParts.length == 1 &&
            resolver(a.nameParts.head, oldName) =>
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq(newName))
      }.sql)
    }
  }

  /** Current LOGICAL column names of a logged sink, from its schema
    * record ([[CommitLog.logicalSchema]]). */
  def logicalColumns(spark: SparkSession, path: String): Seq[String] = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (_, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    if (m.files.isEmpty) return Nil
    CommitLog.logicalSchema(spark, hPath, m).fieldNames.toIndexedSeq
  }

  /** The `#meta` overlay recording `schema` as the table's logical
    * schema — every verb below commits it with the change it makes. */
  private def schemaRecord(schema: org.apache.spark.sql.types.StructType)
  : Map[String, String] = Map(CommitLog.SchemaKey -> schema.toDDL)

  /** Widening promotions allowed per target catalog DDL type —
    * Iceberg's type-promotion classes plus the smaller integral
    * steps; every entry is value-lossless, so the per-file read cast
    * can never corrupt. */
  private val Widenings: Map[String, Set[String]] = Map(
    "smallint" -> Set("tinyint"),
    "int" -> Set("tinyint", "smallint"),
    "bigint" -> Set("tinyint", "smallint", "int"),
    "double" -> Set("float"))

  /** Whether a widen to `target` invalidates the column's recorded
    * `#stats` bounds: only float → double — a float's
    * shortest-round-trip rendering ('0.1') re-read as a double
    * (0.1d) is NOT the value the widened scan returns
    * (0.1f.toDouble = 0.10000000149…d), so kept bounds would let
    * pruning and aggregate pushdown silently diverge from the scan.
    * Integer promotions keep exact decimal renderings, so their
    * bounds stay valid and are kept. */
  private def widenInvalidatesStats(target: String): Boolean =
    target == "double"

  /** The widen-only legality check, shared with callers that evolve
    * a DECLARED schema (no files to record against — the catalog's
    * empty-table ALTER): refuses unless `current → target` is one of
    * [[Widenings]]'s lossless promotions. Both arguments are catalog
    * DDL type names (`int`, `bigint`, ...). */
  def requireWidening(column: String, current: String,
                      target: String): Unit = {
    val cur = current.trim.toLowerCase(java.util.Locale.ROOT)
    val tgt = target.trim.toLowerCase(java.util.Locale.ROOT)
    require(Widenings.contains(tgt),
      s"widen: unsupported target type '$target' for column " +
        s"'$column' (supported: ${
          Widenings.keys.toSeq.sorted.mkString(", ")})")
    require(cur != tgt, s"widen: '$column' is already $tgt")
    require(Widenings(tgt).contains(cur),
      s"widen: $cur → $tgt on column '$column' is not a lossless " +
        "widening")
  }

  /** WIDEN a column's type (e.g. int → bigint): one manifest commit,
    * zero data motion — every live file gains a per-file `#coltype`
    * cast record for the column's physical name; files appended
    * afterwards are written with the wide type directly and need no
    * record. Widen-only (see [[Widenings]]): a narrowing request is
    * refused, so the cast is lossless by construction. The schema
    * record takes the wide type in the same commit. Returns the
    * committed generation. */
  def widenColumn(spark: SparkSession, path: String,
                  name: String, toDdl: String): Long = {
    val target = toDdl.trim.toLowerCase
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (gen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    require(live.nonEmpty, s"widen on an empty sink $path")
    val cms = m.colmaps
    val cts = m.coltypes
    val schema = CommitLog.logicalSchema(spark, hPath, m)
    require(schema.fieldNames.contains(name),
      s"widen: no logical column '$name' (have ${
        schema.fieldNames.mkString(",")})")
    val current = schema(name).dataType.catalogString.toLowerCase
    requireWidening(name, current, target)
    val newTypes = live.map { f =>
      val phys = physOf(cms.getOrElse(f, Map.empty), name)
      f -> (cts.getOrElse(f, Map.empty) + (phys -> target))
    }.toMap
    // a float→double widen invalidates the column's recorded bounds
    // ([[widenInvalidatesStats]]): drop them in this same commit —
    // the next ANALYZE re-records exact bounds computed THROUGH the
    // cast (analyze's mapped scan resolves #coltype), and until then
    // the column simply doesn't prune (unknown, never wrong).
    // Integer promotions keep their (still-exact) bounds.
    val statsSansCol =
      if (!widenInvalidatesStats(target))
        Map.empty[String, Map[String, CommitLog.ColStats]]
      else {
        val liveSet = live.toSet
        m.stats.collect {
          case (f, cs) if liveSet(f) && cs.contains(name) =>
            f -> (cs - name)
        }
      }
    val widened = org.apache.spark.sql.types.StructType(schema.map(f =>
      if (f.name == name) f.copy(dataType =
        org.apache.spark.sql.types.DataType.fromDDL(target))
      else f))
    CommitLog.commitNext(fs, hPath, gen, live, coltypes = newTypes,
      stats = statsSansCol,
      statsReplace = statsSansCol.nonEmpty, meta = schemaRecord(widened))
  }

  /** Physical name a logical column reads from in file `f`'s mapping:
    * the reverse-lookup through the record, identity when unmapped. */
  private def physOf(m: Map[String, String], logical: String): String =
    m.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** One schema change for [[applyChanges]] — the metadata-only
    * subset ([[addColumn]] / [[renameColumn]] / [[dropColumn]] /
    * [[widenColumn]]) that a multi-change `ALTER TABLE` batches into
    * ONE commit. */
  sealed trait Change
  object Change {
    final case class Add(name: String, ddl: String) extends Change
    final case class Rename(from: String, to: String) extends Change
    final case class Drop(name: String) extends Change
    final case class Widen(name: String, toDdl: String) extends Change
  }

  /** ADD a (nullable) column: one manifest commit, ZERO data motion —
    * the single most common schema change a long-lived table sees,
    * and Delta/Iceberg both ship it metadata-only. Every live file
    * gains a `#coltype` record for the new name; since none of them
    * physically contains the column, [[CommitLog.mappedScan]] reads
    * it as a typed NULL (the documented value of every pre-ADD row),
    * while files appended afterwards carry the column physically and
    * need no record. The write-path schema guard resolves the table's
    * logical schema through the same one-file mapped scan, so the
    * FIRST post-ADD batch is already required to carry the column —
    * new inserts carry values, old rows read NULL.
    *
    * Refused while any live file still holds the name as a PHYSICAL
    * column under a rename/drop mapping (re-adding a dropped or
    * renamed-away name): the add record would collide with the old
    * bytes — [[normalize]] first. Returns the committed generation.
    *
    * The reference declares additive output schemas per run
    * (`/root/reference/src/schemas.py:3-58`); a committed table at
    * scale needs add-as-metadata instead. */
  def addColumn(spark: SparkSession, path: String,
                name: String, ddl: String): Long =
    applyChanges(spark, path, Seq(Change.Add(name, ddl)))

  /** Apply several metadata-only schema changes as ONE atomic
    * manifest commit — the all-or-nothing form a multi-change
    * `ALTER TABLE` needs (sequential single-change commits would
    * leave a half-applied ALTER if one change in the middle fails).
    * Each change runs the SAME validations as its single-op form,
    * against the schema as evolved by the changes BEFORE it in the
    * list; any failure throws before anything is committed, leaving
    * the table untouched. Dependent record families (`#check`
    * rewrites, `#stats` rekey/removal, `#coltype` casts) evolve in
    * the same commit exactly as the single ops do. Returns the
    * committed generation. */
  def applyChanges(spark: SparkSession, path: String,
                   changes: Seq[Change],
                   meta: Map[String, String] = Map.empty): Long = {
    require(changes.nonEmpty, "applyChanges: no changes given")
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (gen, m0) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m0.files
    require(live.nonEmpty, s"applyChanges on an empty sink $path")
    val resolver = spark.sessionState.conf.resolver
    val cms0 = m0.colmaps
    val cts0 = m0.coltypes
    // working state, folded change by change: per-file mappings and
    // casts (materialized for every live file so the final commit is
    // a full per-file replace), the full stats map, the check overlay
    // accumulated so far, and the evolving logical schema
    var cms = live.map(f => f -> cms0.getOrElse(f, Map.empty)).toMap
    var cts = live.map(f => f -> cts0.getOrElse(f, Map.empty)).toMap
    var stats = m0.stats
    val baseChecks = m0.checks
    var checkOverlay = Map.empty[String, String]
    val meta0 = m0.meta
    // declaration order of metadata-added columns — ADD appends,
    // RENAME follows the name, DROP retires it; committed alongside
    // so readers surface added columns in ADD order (positional
    // INSERT resolution depends on it)
    var addOrder: Seq[String] = meta0.get("schema.addorder")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val addOrder0 = addOrder
    var schema = CommitLog.logicalSchema(spark, hPath, m0)
    changes.foreach {
      case Change.Add(name, toDdl) =>
        require(name.trim.nonEmpty, "add: empty column name")
        require(!schema.fieldNames.exists(resolver(_, name)),
          s"add: column '$name' already exists")
        val dt =
          try org.apache.spark.sql.types.DataType.fromDDL(toDdl)
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"add: '$toDdl' is not a parseable column type for " +
                s"'$name': ${e.getMessage}")
          }
        // a live file may still PHYSICALLY hold this name under a
        // rename/drop mapping (the name was dropped or renamed away);
        // an add record would resolve against those old bytes instead
        // of reading NULL — refuse until a rewrite retires them
        val occupied = cms.collect {
          case (f, m) if m.keysIterator.exists(resolver(_, name)) => f
        }.toSeq.sorted
        require(occupied.isEmpty,
          s"add: '$name' is still a physical column of ${
            occupied.size} live file(s) under a rename/drop mapping " +
            s"(${occupied.take(3).mkString(", ")}${
              if (occupied.size > 3) ", …" else ""}) — " +
            "SchemaEvolve.normalize first to re-add that name")
        val ddlNorm = dt.catalogString
        cts = cts.map { case (f, m) => f -> (m + (name -> ddlNorm)) }
        addOrder = addOrder :+ name
        schema = org.apache.spark.sql.types.StructType(
          schema :+ org.apache.spark.sql.types.StructField(
            name, dt, nullable = true))
      case Change.Rename(from, to) =>
        require(from != to, s"rename to itself: $from")
        require(schema.fieldNames.contains(from),
          s"rename: no logical column '$from' (have ${
            schema.fieldNames.mkString(",")})")
        require(!schema.fieldNames.contains(to),
          s"rename: logical column '$to' already exists")
        cms = cms.map { case (f, m) =>
          val phys = physOf(m, from)
          f -> (if (phys == to) m - phys else m + (phys -> to))
        }
        checkOverlay ++= rewriteChecks(spark,
          baseChecks ++ checkOverlay, from, to)
        stats = stats.map { case (f, m) =>
          f -> (if (m.contains(from)) m - from + (to -> m(from))
                else m)
        }
        addOrder = addOrder.map(n => if (n == from) to else n)
        schema = org.apache.spark.sql.types.StructType(schema.map(
          fld => if (fld.name == from) fld.copy(name = to) else fld))
      case Change.Drop(name) =>
        val refChecks = (baseChecks ++ checkOverlay).filter {
          case (_, e) => checkRefs(spark, e).exists(resolver(_, name))
        }
        require(refChecks.isEmpty,
          s"drop: CHECK constraint(s) ${refChecks.keys.toSeq.sorted
            .mkString(", ")} reference column '$name' — dropCheck " +
            "first")
        require(schema.fieldNames.contains(name),
          s"drop: no logical column '$name' (have ${
            schema.fieldNames.mkString(",")})")
        require(schema.size > 1, "drop: cannot drop the only column")
        cms = cms.map { case (f, m) =>
          f -> (m + (physOf(m, name) -> ""))
        }
        stats = stats.map { case (f, m) => f -> (m - name) }
        addOrder = addOrder.filterNot(_ == name)
        schema = org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name == name))
      case Change.Widen(name, toDdl) =>
        val target = toDdl.trim.toLowerCase(java.util.Locale.ROOT)
        require(schema.fieldNames.contains(name),
          s"widen: no logical column '$name' (have ${
            schema.fieldNames.mkString(",")})")
        requireWidening(name,
          schema(name).dataType.catalogString.toLowerCase(
            java.util.Locale.ROOT), target)
        cts = cts.map { case (f, m) =>
          f -> (m + (physOf(cms(f), name) -> target))
        }
        // a float→double widen invalidates the column's recorded
        // bounds ([[widenInvalidatesStats]]): drop them in this
        // commit; the next ANALYZE re-records exact bounds through
        // the cast. Integer promotions keep theirs.
        if (widenInvalidatesStats(target))
          stats = stats.map { case (f, m) => f -> (m - name) }
        schema = org.apache.spark.sql.types.StructType(schema.map(
          fld => if (fld.name == name)
            fld.copy(dataType =
              org.apache.spark.sql.types.DataType.fromDDL(target))
          else fld))
    }
    val orderMeta =
      if (addOrder == addOrder0) Map.empty[String, String]
      else Map("schema.addorder" -> addOrder.mkString(","))
    CommitLog.commitNext(fs, hPath, gen, live, colmaps = cms,
      coltypes = cts, checks = checkOverlay, stats = stats,
      statsReplace = true, meta = meta ++ orderMeta ++ schemaRecord(schema))
  }

  /** RENAME a column: one manifest commit, zero data motion. Every
    * live file's record set is rewritten in the same commit (a
    * post-rename append then needs no record at all); a file whose
    * new mapping is pure identity sheds its record. Old generations
    * keep their own records, so [[CommitLog.readAt]] time travel
    * reads each snapshot under the names IT had.
    *
    * The SAME atomic commit keeps the dependent record families
    * coherent: `#check` expressions referencing the column are
    * rewritten to the new name (the write path stays enforceable —
    * never bricked on an unresolvable constraint), and every live
    * file's `#stats` record for the column is REKEYED to the new
    * logical name, so manifest pruning keeps skipping files after a
    * rename with no re-analyze. Returns the committed generation. */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Long = {
    require(oldName != newName, s"rename to itself: $oldName")
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (gen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    require(live.nonEmpty, s"rename on an empty sink $path")
    val cms = snap.colmaps
    val schema = CommitLog.logicalSchema(spark, hPath, snap)
    val logical = schema.fieldNames.toSeq
    require(logical.contains(oldName),
      s"rename: no logical column '$oldName' (have ${
        logical.mkString(",")})")
    require(!logical.contains(newName),
      s"rename: logical column '$newName' already exists")
    val newMaps = live.map { f =>
      val m = cms.getOrElse(f, Map.empty)
      val phys = physOf(m, oldName)
      val m2 =
        if (phys == newName) m - phys // renamed back to physical
        else m + (phys -> newName)
      f -> m2
    }.toMap
    val newChecks = rewriteChecks(spark, snap.checks, oldName, newName)
    val rekeyed = snap.stats.collect {
      case (f, m) if m.contains(oldName) =>
        f -> (m - oldName + (newName -> m(oldName)))
    }
    // the add-order record follows a renamed added column
    val order = snap.meta.get("schema.addorder")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val orderMeta =
      if (!order.contains(oldName)) Map.empty[String, String]
      else Map("schema.addorder" -> order.map(n =>
        if (n == oldName) newName else n).mkString(","))
    val renamed = org.apache.spark.sql.types.StructType(schema.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    CommitLog.commitNext(fs, hPath, gen, live, colmaps = newMaps,
      checks = newChecks, stats = rekeyed, statsReplace = true,
      meta = orderMeta ++ schemaRecord(renamed))
  }

  /** DROP a column: one manifest commit, zero data motion — every
    * live file's record gains a tombstone for the column's physical
    * name; old bytes stay on disk (and visible to time travel) until
    * a rewrite or [[normalize]] retires the file.
    *
    * REFUSED while a `#check` constraint references the column (the
    * [[CommitLog.requireNoDvs]] discipline: drop the constraint
    * first) — a constraint over a vanished column would make every
    * later batch write fail unresolvable. The column's `#stats`
    * records are removed in the same commit, so a later re-added or
    * renamed-in column of the same name can never prune against the
    * dropped column's stale bounds. Returns the committed
    * generation. */
  def dropColumn(spark: SparkSession, path: String,
                 name: String): Long = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (gen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    require(live.nonEmpty, s"drop on an empty sink $path")
    val resolver = spark.sessionState.conf.resolver
    val refChecks = snap.checks.filter {
      case (_, e) => checkRefs(spark, e).exists(resolver(_, name))
    }
    require(refChecks.isEmpty,
      s"drop: CHECK constraint(s) ${refChecks.keys.toSeq.sorted
        .mkString(", ")} reference column '$name' — dropCheck first")
    val cms = snap.colmaps
    val schema = CommitLog.logicalSchema(spark, hPath, snap)
    val logical = schema.fieldNames.toSeq
    require(logical.contains(name),
      s"drop: no logical column '$name' (have ${logical.mkString(",")})")
    require(logical.size > 1, s"drop: cannot drop the only column")
    val newMaps = live.map { f =>
      val m = cms.getOrElse(f, Map.empty)
      f -> (m + (physOf(m, name) -> ""))
    }.toMap
    val dekeyed = snap.stats.collect {
      case (f, m) if m.contains(name) => f -> (m - name)
    }
    // a dropped added column leaves the add-order record too
    val order = snap.meta.get("schema.addorder")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val orderMeta =
      if (!order.contains(name)) Map.empty[String, String]
      else Map("schema.addorder" ->
        order.filterNot(_ == name).mkString(","))
    CommitLog.commitNext(fs, hPath, gen, live, colmaps = newMaps,
      stats = dekeyed, statsReplace = true, meta = orderMeta ++
        schemaRecord(org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name == name))))
  }

  /** Pay the mapping debt down: rewrite every mapped file to the
    * current LOGICAL schema and commit a generation with no `#colmap`
    * records — the explicit merge-on-read → copy-on-write step that
    * re-enables the positional operator family ([[Compact]],
    * [[DeleteVectors.applyDeletes]]). Deletion vectors on the mapped
    * files are applied by the same rewrite (their records leave the
    * manifest with the retired files). Unmapped files keep their
    * bytes and names untouched. Partition layout is preserved under
    * the LOGICAL partition-column names; a dropped partition column's
    * level disappears (its partitions merge). Crash-atomic at the
    * usual two failpoints. Returns (files rewritten, files after). */
  def normalize(spark: SparkSession, path: String,
                failpoint: String => Unit = _ => ()): (Long, Long) = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (baseGen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    val cms = snap.colmaps
    val cts = snap.coltypes
    val targets = live.filter(f =>
      cms.contains(f) || cts.contains(f)).sorted
    if (targets.isEmpty) return (0L, live.length.toLong)
    val tSet = targets.toSet
    val dvs = snap.dvs.filter { case (f, _) => tSet(f) }
    val mapped = CommitLog.mappedScan(spark, hPath, targets, snap, dvs)
    // logical partition columns: the physical k=v levels of the rel
    // paths, pushed through the owning file's mapping ("" = dropped)
    val physParts = targets.head.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.takeWhile(_ != '='))
    val partCols = physParts.flatMap { p =>
      val l = cms.getOrElse(targets.head, Map.empty).getOrElse(p, p)
      if (l.isEmpty) None else Some(l)
    }
    // add → COMMIT → delete: the targets leave the manifest, and their
    // colmap AND dv records drop with them
    val newFiles = CommitLog.stageIn(fs, hPath, "norm") { tmp =>
      if (partCols.nonEmpty)
        graft.io.Sources.internalWriter(
            mapped.repartition(partCols.map(col).toIndexedSeq: _*))
          .partitionBy(partCols.toIndexedSeq: _*)
          .parquet(tmp.toString)
      // flat rewrite: file count ∝ target bytes, never task count
      // (Sources.sizedForWrite — guide §2.2/§6)
      else graft.io.Sources.internalWriter(
          graft.io.Sources.sizedForWrite(mapped))
        .parquet(tmp.toString)
    }
    CommitLog.swap(fs, hPath, baseGen, live, targets, newFiles,
      failpoint, schema = Some(mapped.schema))
    (targets.length.toLong, (live.length - targets.length +
      newFiles.length).toLong)
  }

  /** FUSED normalize + compact: execute a file→bin compaction plan
    * ([[Compact.compactByPlan]]'s contract — each bin becomes exactly
    * one output file) while reading the assigned files THROUGH their
    * column mappings, widening casts and deletion vectors — one
    * rewrite pass pays down the whole mapping/DV debt AND lands the
    * bin-packed layout, where `normalize`-then-`compactByPlan` costs
    * two full I/O cycles over the same bytes. Assigned files' colmap/
    * coltype/dv/stats records leave the manifest with them (fresh
    * outputs carry the logical schema); UNASSIGNED files keep their
    * bytes and records untouched, so a resumable planner can compact
    * a mapped sink in waves. Crash-atomic under the usual add →
    * COMMIT → delete swap. `partitionCol` (LOGICAL name) lays bins
    * out per partition exactly as [[Compact.compactByPlan]]; bin ids
    * must not span partition values. Returns (files rewritten, files
    * after = bins + untouched). */
  def normalizeCompact(spark: SparkSession, path: String,
                       plan: Map[String, String],
                       partitionCol: Option[String] = None,
                       failpoint: String => Unit = _ => ())
  : (Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, concat, lit,
      raise_error, regexp_extract, when}
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    require(fs.exists(hPath), s"normalizeCompact target $path missing")
    val (baseGen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    val assigned = live.filter(plan.contains)
    require(assigned.nonEmpty, "plan assigns no live file of this sink")
    val aSet = assigned.toSet
    val dvs = snap.dvs.filter { case (f, _) => aSet(f) }
    // logical view WITH per-row file identity: the bin lookup needs
    // the owning file, and metadata pseudo-columns don't survive the
    // epoch union — mappedScan materializes them per branch
    val scan = CommitLog.mappedScan(spark, hPath, assigned, snap, dvs,
      identity = true)
    val absPlan = assigned
      .map(r => fs.makeQualified(new Path(hPath, r)).toUri.getPath
        -> plan(r)).toMap
    import spark.implicits._
    val planDF = absPlan.toSeq.toDF("__plan_path", "__plan_bin")
    val pathRe = "^(?:[A-Za-z][A-Za-z0-9+.-]*:(?://[^/]*)?)?(/.*)$"
    // add → COMMIT → delete: the __bin level is planning scaffolding
    // the move-in folds into the file name; assigned files leave with
    // their colmap/coltype/dv/stats records in the same atomic publish
    val newFiles = CommitLog.stageIn(fs, hPath, "nc") { tmp =>
      scan
        .withColumn("__norm",
          regexp_extract(CommitLog.decodeScanPathCol(col("__file_path")),
            pathRe, 1))
        .join(broadcast(planDF), col("__norm") === col("__plan_path"),
          "left")
        .withColumn("__bin",
          when(col("__plan_bin").isNotNull, col("__plan_bin"))
            .otherwise(raise_error(concat(
              lit("normalizeCompact: scanned file not in plan after " +
                "path normalization: "), col("__norm")))))
        .drop("__norm", "__plan_path", "__plan_bin",
          "__file_path", "__row_index")
        .repartition(col("__bin"))
        .write.partitionBy(partitionCol.toSeq :+ "__bin": _*)
        .parquet(tmp.toString)
    }
    CommitLog.swap(fs, hPath, baseGen, live, assigned, newFiles,
      failpoint, schema = Some(scan.drop("__file_path", "__row_index")
        .schema))
    (assigned.size.toLong, newFiles.size.toLong +
      (live.length - assigned.length))
  }
}
