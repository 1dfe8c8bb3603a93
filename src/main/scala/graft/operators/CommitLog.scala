package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
  StructType}

/** Generation-manifest commit protocol for plain-parquet sinks — the
  * table-format `_commit` pointer that makes the rewrite family
  * ([[Merge.mergeParquet]], [[Merge.eraseParquet]],
  * [[Compact.compactSink]], [[Upsert.replacePartitionsParquet]])
  * crash-atomic. The reference never needed this because its MERGE is
  * executed by a transactional warehouse (`dags/idh_etl.py:247-256`);
  * a file-granular rewrite over raw parquet does: between "new files
  * added" and "replaced originals deleted" a directory listing shows
  * BOTH copies of every rewritten row.
  *
  * Protocol (single writer, as in the reference's one-DAG publish):
  *   - `<sink>/_graft_log/<gen>.manifest` lists the LIVE data files of
  *     generation `gen`, one sink-relative path per line. Spark and
  *     DuckDB both ignore underscore-prefixed directories, so the log
  *     is invisible to plain directory readers.
  *   - A writer first [[ensureLogged]]s the sink: bootstrap gen 0 from
  *     the directory listing (no log yet — by induction the listing is
  *     clean, since every logged writer deletes only AFTER committing),
  *     else just read the latest manifest — ONE manifest read per
  *     write, independent of how many generations are retained.
  *   - The swap becomes add → COMMIT → delete: new files land under
  *     fresh unique names, then ONE atomic rename of the next
  *     generation's manifest (written to a dot-prefixed temp name
  *     first) is the commit point, then the replaced originals are
  *     deleted as garbage collection. A crash before the commit leaves
  *     uncommitted orphans the old generation never references; a
  *     crash after it leaves garbage the new generation never
  *     references. A manifest-resolving reader sees exactly-once rows
  *     at EVERY intermediate point (CommitProtocolSpec kills the swap
  *     at both points and proves both properties); the orphans are
  *     reclaimed by EXPLICIT maintenance ([[vacuum]] /
  *     [[expireGenerations]]), never by another writer's entry — a
  *     writer that deleted unreferenced files on its way in could
  *     delete a concurrent writer's staged-but-not-yet-committed
  *     files, and if the deleter itself never commits, the victim's
  *     CAS still succeeds and publishes a manifest pointing at deleted
  *     files (committed data loss). Writers therefore NEVER delete
  *     anything they did not themselves replace.
  *   - [[read]] resolves the latest manifest (explicit file list +
  *     `basePath`, so hive-partition columns still materialize) and
  *     falls back to a plain directory read for never-logged sinks —
  *     existing append-only sinks keep working unchanged.
  *
  * Durability notes for real deployments: the commit publish
  * ([[publishExclusive]]) dispatches on the filesystem SCHEME — local
  * POSIX goes through an atomically-exclusive hard link, HDFS-family
  * schemes through rename (which their contract specifies to fail on
  * an existing destination), and EVERYTHING ELSE through a
  * conditional-PUT-shaped exclusive create (`create(path,
  * overwrite = false)` + single close-time publish) — never a plain
  * rename, whose object-store implementations silently REPLACE and
  * would turn the CAS into lost-update. The fallback is exactly the
  * put-if-absent that production table formats use on S3/GCS/ABFS
  * (S3 `If-None-Match`, GCS `ifGenerationMatch: 0`); it assumes the
  * store publishes the object atomically at close, which object
  * stores do. CommitProtocolSpec races two committers over a
  * test-double filesystem whose rename silently replaces and proves
  * exactly one wins. Manifests are file-count-sized (the same
  * driver-side bound as [[ManifestSkip]]'s stats table and
  * [[Upsert]]'s partition-value pruning); at 10⁶ files a manifest is
  * one ~100 MB sequential read, vs the 10⁶ LIST round-trips it
  * replaces.
  *
  * Concurrency — OPTIMISTIC, generation-pinned: every writer reads its
  * base generation via [[ensureLoggedAt]] and commits with
  * [[commitNext]], a compare-and-swap on `baseGen + 1`. Two writers
  * racing from the same base both target the same generation number;
  * the atomic exclusive publish lets exactly one manifest in, and the
  * loser's [[commitNext]] throws [[CommitConflictException]] — its
  * moved-in data files are debris a later EXPLICIT [[vacuum]]
  * reclaims, and its OPERATION retries against the new latest state
  * (re-running re-reads, so the retry merges on top of the winner —
  * the serializable outcome). Writers never delete files they did not
  * themselves replace, so an in-flight writer's staged files are safe
  * from every other writer by construction; [[vacuum]] with a
  * modification-time horizon (remove-orphan semantics, as in
  * Delta/Iceberg) is the concurrency-safe maintenance form, and
  * horizon-0 vacuum requires a quiesced sink. Readers need no
  * coordination: a manifest-resolved read pins its file list at plan
  * time, so a concurrent rewrite cannot change the rows mid-query —
  * genuine snapshot isolation when history is retained
  * (`keepReplaced`), and the ordinary read-vs-delete race of any
  * raw-parquet table when the default GC reclaims files.
  */
/** A generation-pinned [[CommitLog.commitNext]] lost its
  * compare-and-swap: another writer committed the same generation
  * first. The operation (not just the commit) must retry from a fresh
  * [[CommitLog.ensureLoggedAt]] read. */
final class CommitConflictException(msg: String)
  extends RuntimeException(msg)

object CommitLog {

  val LogDirName = "_graft_log"

  /** Hidden directory holding deletion-vector parquet (see
    * [[DeleteVectors]]): `_`-prefixed so neither Spark's directory
    * reader nor [[listDataFiles]] ever mistakes a DV for data. */
  val DvDirName = "_graft_dv"

  /** The schema of every DV parquet: the data file (sink-relative) and
    * the deleted row ordinal. Every DV read passes it, so no read
    * infers it from the footers (a Spark job per read). */
  val DvSchema = "file STRING, pos BIGINT"

  /** Scan the DV parquet at `rels` (sink-relative DV files or
    * directories) as [[DvSchema]] rows. */
  private[graft] def dvScan(spark: SparkSession, sink: Path,
                            rels: Seq[String]): DataFrame =
    spark.read.schema(DvSchema)
      .parquet(rels.distinct.sorted.map(r => new Path(sink, r).toString): _*)

  /** Sidecar directory for per-(file, column) Bloom-filter indexes
    * (`#bloom` records — [[TableStats.buildBloom]]). Sidecars, not
    * manifest-inline bytes: a Bloom bitset is KBs per file, and
    * inlining it would break the O(1)-manifest-write property; the
    * consumer reads a sidecar only for a file that survived every
    * cheaper prune (Delta keeps its Bloom indexes in sidecar files,
    * Iceberg in puffin files, for the same reason). */
  val BloomDirName = "_graft_bloom"

  /** Sidecar directory for committed ANN index artifacts (`#ann`
    * records + `#meta ann.<col>.centroids` — [[graft.operators
    * .AnnIndex]]): trained IVF centroids and per-file cell-assignment
    * postings. Sidecars for the same reason as `#bloom`: the postings
    * are data-sized, the manifest stays O(records). */
  val AnnDirName = "_graft_ann"

  private def logDir(sink: Path) = new Path(sink, LogDirName)

  private def manifestName(gen: Long): String = f"$gen%020d.manifest"

  /** Decode the exactly-once URI percent-encoding of a SCAN-derived
    * file path (`_metadata.file_path` renders `SparkPath.urlEncoded`:
    * a directory `p=NOT SPECIFIED` scans as `p=NOT%20SPECIFIED`, a
    * Hive-escaped `%` as `%25`) back to the RAW on-disk name the
    * manifest records. Keys derived from a scan without this decode
    * silently miss the manifest's (raw) names whenever a partition
    * value contains an escapable character — [[commitNext]]'s
    * carry-forward filter then drops the record with no error. `+` is
    * literal in paths (never form-encoding), so it is protected
    * before the url_decode. Column form for executor-side derivation,
    * String form for driver-side (collected paths).
    *
    * The column form decodes only a path that contains a `%`: the
    * decoder rewrites nothing but `%xx` sequences and `+`, and `+` is
    * protected, so a path without `%` decodes to itself. The guard
    * makes the common (unescaped) path a plain column reference —
    * the regexp + url_decode pair otherwise runs on every scanned
    * row. */
  private[graft] def decodeScanPathCol(fp: org.apache.spark.sql
      .Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{regexp_replace, url_decode,
      when}
    when(fp.contains("%"), url_decode(regexp_replace(fp, "\\+", "%2B")))
      .otherwise(fp)
  }

  private[graft] def decodeScanPath(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Sink-relative, DECODED form of a scan-derived file path — THE
    * canonical way to turn `_metadata.file_path` / `__file_path` into
    * a manifest file key. Raises (instead of emitting a garbage
    * substring) when the sink prefix cannot be located after
    * decoding. The decode inside ([[decodeScanPathCol]]) runs only on
    * a path with a `%`; any other path is located and cut as it
    * scans. */
  private[graft] def relPathCol(prefix: String,
                                fp: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, length, lit,
      locate, raise_error, when}
    val dec = decodeScanPathCol(fp)
    when(locate(prefix, dec) > 0,
      dec.substr(locate(prefix, dec) + lit(prefix.length),
        length(dec)))
      .otherwise(raise_error(concat(
        lit(s"graft relativize: sink prefix '$prefix' not found in " +
          "scanned file path "), fp)))
  }

  /** Sink-relative form of an absolute data-file path (a LISTING
    * entry — raw on-disk names; scan-derived paths must go through
    * [[relPathCol]]/[[decodeScanPath]] first). Normalized through URI
    * paths so `file:/x`, `file:///x` and plain `/x` spellings all
    * relativize identically. */
  private[graft] def relativize(fs: FileSystem, sink: Path,
                                file: String): String = {
    val sinkPath = fs.makeQualified(sink).toUri.getPath
    val filePath = new Path(file).toUri.getPath
    require(filePath.startsWith(sinkPath + "/"),
      s"$file is not under sink $sink")
    filePath.substring(sinkPath.length + 1)
  }

  /** Data files currently ON DISK under `sink`, sink-relative, sorted.
    * Hidden (`.`/`_`-prefixed) names are skipped at every path level —
    * the log itself, in-progress part files, and scratch debris are
    * never data. */
  private[graft] def listDataFiles(fs: FileSystem, sink: Path)
  : Seq[String] = {
    if (!fs.exists(sink)) return Nil
    val buf = Seq.newBuilder[String]
    val it = fs.listFiles(sink, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = relativize(fs, sink, f.toString)
        if (!rel.split('/').exists(seg =>
            seg.startsWith("_") || seg.startsWith("."))) buf += rel
      }
    }
    buf.result().sorted
  }

  /** All committed generation numbers, ascending; empty when the sink
    * has never been logged. */
  def generations(fs: FileSystem, sink: Path): Seq[Long] = {
    logListings.incrementAndGet()
    val dir = logDir(sink)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest"))
      // numeric names are the MAIN chain; `branch.<name>.<k>` chains
      // live beside them in the same dir and are not generations
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .sorted.toSeq
  }

  /** The latest committed generation for a poller that last saw
    * `seen` (None before its first answer): when manifest `seen + 1`
    * is absent and manifest `seen` is still there, the tip has not
    * moved and two stats answer; otherwise the log is listed.
    * Generations commit consecutively, so any commit after `seen`
    * creates `seen + 1` — an idle stream poll never lists. */
  private[graft] def latestGeneration(fs: FileSystem, sink: Path,
                                      seen: Option[Long]): Option[Long] = {
    def committed(g: Long) = fs.exists(new Path(logDir(sink), manifestName(g)))
    if (seen.exists(g => !committed(g + 1) && committed(g))) seen
    else generations(fs, sink).lastOption
  }

  /** Test observability: manifests opened since process start. The
    * O(1)-manifests-per-write contract of [[ensureLoggedAt]] is
    * asserted against this counter (CommitProtocolSpec retains 100+
    * generations and shows a writer's entry reads exactly one). */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test observability: [[generations]] calls (log-dir resolutions)
    * since process start — the per-call listing budgets of the
    * snapshot-reading operators are asserted against this counter. */
  private[graft] val logListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-file, per-column statistics record — the manifest-resident
    * min/max/null-count that [[TableStats]] prunes scans against
    * (Delta per-file `stats`, Iceberg manifest
    * `lower_bounds`/`upper_bounds`). `typ` names the COMPARISON
    * domain the encoded bounds parse into ("long" | "double" |
    * "decimal" | "string" | "date" | "micros"); `min`/`max` are None
    * when every value in the file was null. Bounds are computed over
    * the file's RAW rows (deletion vectors NOT applied), so they are
    * conservative supersets of the visible rows — pruning stays
    * sound, never exact-tight, under MoR deletes. */
  case class ColStats(typ: String, nRows: Long, nNulls: Long,
                      min: Option[String], max: Option[String],
                      sum: Option[String] = None,
                      ndv: Option[Long] = None)

  /** A parsed manifest: live data files, plus the `#`-record families
    * the grammar carries —
    *
    *   - `#dv\t<dataRel>\t<dvRel>[\t<nMarks>]`: deletion-vector binding
    *     per data file; `dvRel` is a parquet file or directory under
    *     [[DvDirName]] whose (file, pos) rows mark deleted positions.
    *     The optional fourth field is the file's deleted-position
    *     CARDINALITY (Delta DV descriptors store the same) — pure
    *     metadata that lets [[TableStats]] prune a fully-deleted file
    *     (`nRows == nMarks`) without opening the DV; absent on
    *     pre-extension records, which simply don't short-circuit;
    *   - `#stats\t<dataRel>\t<colEnc>\t<typ>\t<nRows>\t<nNulls>\t<minEnc>\t<maxEnc>[\t<sumEnc>[\t<ndv>]]`:
    *     per-(file, column) [[ColStats]], column name and bounds
    *     URL-encoded (`~` = undefined bound: the bare character
    *     cannot collide with an encoded value, URLEncoder escapes
    *     `~` to `%7E`); the optional ninth field is the column's
    *     EXACT per-file sum (plain decimal rendering, integral and
    *     decimal columns only — float sums are order-dependent so
    *     never recorded), serving metadata-only SUM pushdown;
    *   - `#txn\t<appIdEnc>\t<version>`: highest committed version per
    *     idempotent-writer application id ([[Replicate]]'s exactly-once ledger);
    *   - `#colmap\t<dataRel>\t<physEnc>\t<logicalEnc>`: per-file
    *     column mapping for NON-ADDITIVE schema evolution
    *     ([[SchemaEvolve]]) — the file's physical column `phys` reads
    *     as logical column `logical`; logical `~` is a DROP tombstone
    *     (the physical column is excluded from reads). Files with no
    *     records read identity (physical == logical) — Iceberg's
    *     name-mapping idea keyed by name instead of field id, which
    *     suffices because every rename commit rewrites the records of
    *     every live file in the same atomic manifest;
    *   - `#coltype\t<dataRel>\t<physEnc>\t<ddl>`: per-file WIDENING
    *     cast ([[SchemaEvolve.widenColumn]]) — the file's physical
    *     column reads CAST to the catalog DDL type (e.g. `bigint`),
    *     Iceberg's type-promotion class; widen-only, so the cast is
    *     lossless by construction. A record naming a column the file
    *     does NOT physically contain materializes as a typed NULL
    *     column instead ([[SchemaEvolve.addColumn]] — metadata-only
    *     ADD COLUMN: the null-cast is the degenerate lossless case);
    *   - `#check\t<nameEnc>\t<exprEnc>`: TABLE-level CHECK constraint
    *     (Delta's constraint feature) — a SQL boolean expression every
    *     row written by a constraint-aware writer must satisfy
    *     ([[requireChecks]]); carried UNCONDITIONALLY like `#txn`
    *     (constraints describe the table, not files);
    *   - `#meta\t<keyEnc>\t<valueEnc>`: table PROPERTY, carried
    *     unconditionally like `#check`. `schema.ddl` ([[SchemaKey]])
    *     is the table's LOGICAL schema, and every logged read plans
    *     its parquet scan under it instead of inferring one from the
    *     footers ([[scanFiles]]). The bootstrap of a never-logged
    *     sink infers it once; the catalog's CREATE declares it; a
    *     commit that writes files names their columns and the record
    *     widens by them (or is replaced, when no earlier file
    *     survives); a [[SchemaEvolve]] verb rewrites it; and a commit
    *     that adds files without naming their columns drops it, so a
    *     read then infers again rather than miss a column. A manifest
    *     without it (one written before the record existed) reads by
    *     inference. `partition.cols` is the declared layout, which
    *     only a still-empty table reads — once files land the
    *     committed hive layout is the truth;
    *   - `#bloom\t<dataRel>\t<physColEnc>\t<sidecarRelEnc>`: per-(file,
    *     column) Bloom-filter INDEX pointer into [[BloomDirName]]
    *     ([[TableStats.buildBloom]]) — point-lookup pruning for
    *     layouts whose min/max bounds span the key range. Keyed by
    *     the file's PHYSICAL column name (immutable for a given
    *     file), so renames never need to rewrite or drop them;
    *     carried per surviving file with per-column overlay like
    *     `#stats`. A missing record only costs pruning, never
    *     correctness.
    *
    * Pre-extension manifests have no `#` lines and parse to empty
    * maps — the grammar is backward compatible in both directions (an
    * extension-oblivious parser that dropped `#` lines would see
    * exactly the data files). */
  private[graft] case class Manifest(
      files: Seq[String],
      dvs: Map[String, String],
      stats: Map[String, Map[String, ColStats]],
      txns: Map[String, Long],
      colmaps: Map[String, Map[String, String]] = Map.empty,
      coltypes: Map[String, Map[String, String]] = Map.empty,
      checks: Map[String, String] = Map.empty,
      dvMarks: Map[String, Long] = Map.empty,
      meta: Map[String, String] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty,
      anns: Map[String, Map[String, String]] = Map.empty)

  /** `#meta` key of the table's logical schema record (a DDL string). */
  val SchemaKey = "schema.ddl"

  /** The logical schema `meta` records, every field nullable as a
    * parquet read returns it; None when the manifest has no record. */
  private[graft] def recordedSchema(meta: Map[String, String])
  : Option[StructType] =
    meta.get(SchemaKey).map(d => nullable(StructType.fromDDL(d)))

  private def nullable(s: StructType): StructType = {
    def of(dt: DataType): DataType = dt match {
      case st: StructType => nullable(st)
      case ArrayType(e, _) => ArrayType(of(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(of(k), of(v), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f =>
      f.copy(dataType = of(f.dataType), nullable = true)))
  }

  /** `base` followed by the fields of `more` it lacks, in `more`'s
    * order — the columns of a table that keeps `base`'s files and
    * gains files written with `more`'s. */
  private def widenSchema(base: StructType,
                          more: StructType): StructType = {
    val have = base.fieldNames.toSet
    StructType(base.fields ++ more.fields.filterNot(f => have(f.name)))
  }

  /** Hive partition columns named by the `k=v` levels of `files`. */
  private def pathPartCols(files: Seq[String]): Set[String] =
    files.iterator.flatMap(_.split('/').init.iterator
      .filter(_.contains('='))
      .map(l => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(l.takeWhile(_ != '='))))
      .toSet

  /** A parquet scan of `files` (sink-relative; `basePath` keeps hive
    * partition columns) planned under the logical schema `record`:
    * each data column is read under the physical name `mapping` (a
    * file group's `#colmap`, physical → logical, "" = dropped) gives
    * it — itself when unmapped, left out when the name is renamed
    * away or dropped in these files — with its logical type, so a
    * file that lacks a column reads it as null and a widened one
    * reads through the parquet reader's type promotion. Partition
    * columns come from the paths. No Spark job plans it. Without a
    * record the scan infers the union of every footer (one job). */
  private[graft] def scanFiles(spark: SparkSession, sink: Path,
                               files: Seq[String],
                               record: Option[StructType],
                               mapping: Map[String, String] = Map.empty)
  : DataFrame = {
    val reader = record match {
      case Some(s) =>
        val parts = pathPartCols(files)
        spark.read.schema(StructType(s.fields.flatMap { f =>
          mapping.collectFirst { case (p, l) if l == f.name => p }
            .orElse(Some(f.name).filterNot(mapping.contains))
            .filterNot(parts).map(p => f.copy(name = p))
        }))
      case None => spark.read.option("mergeSchema", "true")
    }
    reader.option("basePath", sink.toString)
      .parquet(files.map(r => new Path(sink, r).toString): _*)
  }

  /** The columns of `m` as [[mappedScan]] returns them, without
    * planning a scan when the record answers: a flat table's record,
    * ADD-ed columns last. A partitioned table (partition types come
    * from the paths) or one without a record plans the scan. */
  private[graft] def logicalSchema(spark: SparkSession, sink: Path,
                                   m: Manifest): StructType =
    recordedSchema(m.meta) match {
      case Some(s) if pathPartCols(m.files).isEmpty =>
        StructType(addedLast(s.fieldNames.toIndexedSeq, m.meta)
          .map(n => s(n)))
      case _ => mappedScan(spark, sink, m.files, m).schema
    }

  /** `cols` with the columns `#meta schema.addorder` lists (written by
    * [[SchemaEvolve]]'s ADD) moved to the end in declaration order. */
  private def addedLast(cols: IndexedSeq[String],
                        meta: Map[String, String]): IndexedSeq[String] = {
    val addOrder: Map[String, Int] = meta.get("schema.addorder")
      .map(_.split(',').toSeq.filter(_.nonEmpty).zipWithIndex.toMap)
      .getOrElse(Map.empty)
    val (added, rest) = cols.partition(addOrder.contains)
    rest ++ added.sortBy(addOrder)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
  private def encOpt(o: Option[String]): String =
    o.map(enc).getOrElse("~")
  private def decOpt(s: String): Option[String] =
    if (s == "~") None else Some(dec(s))

  // committed manifests are IMMUTABLE (the exclusive publish is the
  // only writer and never overwrites), so a parse keyed by
  // (path, mtime, length) can be cached forever; the mtime/length key
  // guards the one mutation that can exist — a sink torn down and
  // rebuilt at the same path. Bounded: cleared wholesale when large.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  /** Test observability: drop the parse cache so a subsequent read's
    * physical manifest opens are visible to [[manifestReads]]. */
  private[graft] def clearManifestCache(): Unit = manifestCache.clear()

  private def readManifestFull(fs: FileSystem, sink: Path,
                               gen: Long): Manifest =
    readManifestPath(fs, new Path(logDir(sink), manifestName(gen)))

  /** Parse an arbitrary manifest file — main-chain generations and
    * branch-chain heads share the grammar and this reader. The
    * immutability cache applies ONLY to main-chain manifests: a
    * branch position path is REUSED across drop + recreate
    * (`branch.x.<k>.manifest`), so on a coarse-mtime filesystem a
    * same-length recreation could collide with the cached parse and
    * serve the OLD branch's file list. */
  private def readManifestPath(fs: FileSystem, p: Path): Manifest = {
    val cacheable = !p.getName.startsWith(BranchPrefix)
    val st = fs.getFileStatus(p)
    val key = fs.makeQualified(p).toUri.toString +
      "@" + st.getModificationTime + ":" + st.getLen
    val cached = if (cacheable) manifestCache.get(key) else null
    if (cached != null) return cached
    manifestReads.incrementAndGet()
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split('\n').iterator.map(_.trim)
      .filter(_.nonEmpty).toSeq
    val statsRecs = lines.filter(_.startsWith("#stats\t")).map { l =>
      val p = l.split('\t')
      // 9th field: optional EXACT per-file sum (decimal rendering) for
      // summable domains — absent on pre-extension records, which
      // simply don't serve SUM pushdown. 10th field: optional APPROX
      // distinct count (HLL-derived at analyze time) — the per-file
      // NDV the scan aggregates into V2 column statistics for CBO
      // join reordering; absent records simply don't serve it.
      require(p.length >= 8 && p.length <= 10,
        s"corrupt manifest: malformed stats record '$l'")
      (p(1), dec(p(2)),
        ColStats(p(3), p(4).toLong, p(5).toLong,
          decOpt(p(6)), decOpt(p(7)),
          if (p.length >= 9) decOpt(p(8)) else None,
          if (p.length == 10) Some(p(9).toLong) else None))
    }
    val m = Manifest(
      lines.filterNot(_.startsWith("#")),
      lines.filter(_.startsWith("#dv\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 3 || parts.length == 4,
          s"corrupt manifest: malformed dv record '$l'")
        parts(1) -> parts(2)
      }.toMap,
      statsRecs.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap,
      lines.filter(_.startsWith("#txn\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 3,
          s"corrupt manifest: malformed txn record '$l'")
        dec(parts(1)) -> parts(2).toLong
      }.toMap,
      lines.filter(_.startsWith("#colmap\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 4,
          s"corrupt manifest: malformed colmap record '$l'")
        (parts(1), dec(parts(2)),
          if (parts(3) == "~") "" else dec(parts(3)))
      }.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap,
      lines.filter(_.startsWith("#coltype\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 4,
          s"corrupt manifest: malformed coltype record '$l'")
        (parts(1), dec(parts(2)), dec(parts(3)))
      }.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap,
      lines.filter(_.startsWith("#check\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 3,
          s"corrupt manifest: malformed check record '$l'")
        dec(parts(1)) -> dec(parts(2))
      }.toMap,
      lines.filter(_.startsWith("#dv\t")).flatMap { l =>
        val parts = l.split('\t')
        if (parts.length == 4) Some(parts(1) -> parts(3).toLong)
        else None
      }.toMap,
      lines.filter(_.startsWith("#meta\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 3,
          s"corrupt manifest: malformed meta record '$l'")
        dec(parts(1)) -> dec(parts(2))
      }.toMap,
      lines.filter(_.startsWith("#bloom\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 4,
          s"corrupt manifest: malformed bloom record '$l'")
        (parts(1), dec(parts(2)), dec(parts(3)))
      }.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap,
      lines.filter(_.startsWith("#ann\t")).map { l =>
        val parts = l.split('\t')
        require(parts.length == 4,
          s"corrupt manifest: malformed ann record '$l'")
        (parts(1), dec(parts(2)), dec(parts(3)))
      }.groupBy(_._1).view
        .mapValues(_.map(r => r._2 -> r._3).toMap).toMap)
    if (cacheable) {
      if (manifestCache.size > 256) manifestCache.clear()
      manifestCache.put(key, m)
    }
    m
  }

  private def readManifest(fs: FileSystem, sink: Path,
                           gen: Long): Seq[String] =
    readManifestFull(fs, sink, gen).files

  /** The latest committed (generation, parsed manifest), or None when
    * the sink has never been logged — THE read-only view of table
    * state: one log listing + one (cached) manifest parse, and every
    * record family a caller consults comes from that one generation.
    * Never bootstraps; writers take [[ensureSnapshotAt]] instead. */
  private[graft] def latestSnapshot(fs: FileSystem, sink: Path)
  : Option[(Long, Manifest)] =
    generations(fs, sink).lastOption.map(g => g -> readManifestFull(fs,
      sink, g))

  /** The table state a READ plans against: the latest manifest, or —
    * for a never-logged sink — an in-memory manifest over the data
    * files on disk. Never commits, so a read never bootstraps the
    * log. */
  private[graft] def readView(fs: FileSystem, sink: Path): Manifest =
    latestSnapshot(fs, sink).fold(listedManifest(fs, sink))(_._2)

  /** A manifest recording nothing but the data files on disk. */
  private def listedManifest(fs: FileSystem, sink: Path): Manifest =
    Manifest(listDataFiles(fs, sink), Map.empty, Map.empty, Map.empty)

  /** Latest committed (generation, live files), or None when the sink
    * has never been logged. */
  def committed(fs: FileSystem, sink: Path): Option[(Long, Seq[String])] =
    latestSnapshot(fs, sink).map { case (g, m) => g -> m.files }

  /** The FULL parsed manifest of a committed generation — the
    * snapshot a [[graft.sources.GraftDataSource]] V2 table pins at
    * load time (files + every record family in one cached parse). */
  private[graft] def manifestAt(fs: FileSystem, sink: Path,
                                gen: Long): Manifest =
    readManifestFull(fs, sink, gen)

  /** Declare a table-level CHECK constraint (Delta's `ADD CONSTRAINT
    * ... CHECK`): one manifest commit carrying the `#check` record —
    * but only after ONE validating pass proves every EXISTING visible
    * row already satisfies it (a constraint the current data violates
    * would make the table unloadable to writers). Every subsequent
    * constraint-aware write ([[Upsert.upsertParquet]],
    * [[DeleteVectors.mergeOnRead]], [[Merge]]'s batch family) refuses
    * a batch with a violating row, loudly, BEFORE any file moves.
    * Constraints ride rewrites/compactions untouched (table-level
    * carry). Returns the committed generation. */
  def addCheck(spark: SparkSession, path: String,
               name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && sqlExpr.trim.nonEmpty,
      "addCheck needs a name and a boolean SQL expression")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, m) = ensureSnapshotAt(fs, hPath)
    val offender = readSnapshot(spark, path, fs, m)
      .filter(!org.apache.spark.sql.functions.expr(sqlExpr)).take(1)
    require(offender.isEmpty,
      s"addCheck '$name': existing rows violate ($sqlExpr) — first " +
        s"offender: ${offender.headOption.fold("")(_.toString)}")
    commitNext(fs, hPath, gen, m.files, checks = Map(name -> sqlExpr))
  }

  /** Drop a CHECK constraint: one manifest commit with the empty-expr
    * tombstone overlay. */
  def dropCheck(spark: SparkSession, path: String, name: String)
  : Long = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, m) = ensureSnapshotAt(fs, hPath)
    require(m.checks.contains(name),
      s"dropCheck: no constraint '$name' at $path")
    commitNext(fs, hPath, gen, m.files, checks = Map(name -> ""))
  }

  /** Partition column names of a hive-layout live set, from the `k=v`
    * directory levels of the relative file paths — manifest-only (no
    * listing). Nil for flat sinks. REQUIRES a consistent layout: a
    * sink mixing partitioned and root-level data files is already
    * unreadable coherently and must be repaired, not written to. */
  def partitionColsOf(live: Seq[String]): Seq[String] = {
    val sigs = live.map(_.split('/').dropRight(1)
      .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq)
      .distinct
    require(sigs.size <= 1,
      s"inconsistent partition layouts across live files: $sigs")
    sigs.headOption.getOrElse(Nil)
  }

  /** Every data file referenced by ANY retained generation — the set
    * [[vacuum]] must never touch: a file outside it is debris from a
    * torn swap (never committed) or from an expired generation, a file
    * inside it is either live or time-travel history.
    *
    * Cost note: this reads every retained manifest — which is why only
    * the EXPLICIT maintenance entry points ([[vacuum]] /
    * [[expireGenerations]]) call it. The write path never does:
    * [[ensureLoggedAt]] reads exactly ONE manifest and the append path
    * stages its files in a scratch directory and commits exactly the
    * names it moved in, so per-write log cost is O(1) manifests
    * regardless of retained history (CommitProtocolSpec pins this
    * with [[manifestReads]]).
    * Retention ([[expireGenerations]]) bounds the maintenance cost
    * itself, exactly as production table formats bound theirs via
    * checkpoint + retention. */
  private[graft] def referencedFiles(fs: FileSystem, sink: Path)
  : Set[String] =
    (generations(fs, sink).flatMap(readManifest(fs, sink, _)) ++
      // branch-chain manifests keep their staged (not-yet-published)
      // files live through maintenance — a vacuum during an audit
      // must not eat the branch's batch
      branchManifests(fs, sink).flatMap(_.files)).toSet

  /** Every branch-chain manifest currently on disk (all branches,
    * all positions) — the liveness inputs [[referencedFiles]] and
    * [[vacuum]]'s DV sweep union in. */
  private def branchManifests(fs: FileSystem, sink: Path)
  : Seq[Manifest] = {
    val dir = logDir(sink)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith(BranchPrefix) &&
        p.getName.endsWith(".manifest"))
      .toSeq.map(readManifestPath(fs, _))
  }

  /** Filesystem schemes whose `rename` is contractually EXCLUSIVE
    * (fails, returning false, when the destination exists) — the HDFS
    * family. Everything not listed here and not local gets the
    * conditional-create publish instead: assuming rename-exclusivity
    * on an unknown scheme is exactly the silent lost-update
    * degradation the CAS exists to prevent (S3A and most object-store
    * connectors implement rename as copy+delete that REPLACES). */
  private val RenameExclusiveSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs")

  /** Path-capability strings under which a Hadoop filesystem declares
    * that `create(path, overwrite = false)` is enforced AT CLOSE
    * (conditional PUT / If-None-Match), not merely checked at
    * `create()` time. Both the option-key and capability-key
    * spellings of the conditional-overwrite contract are probed
    * (Hadoop's S3A answers `hasPathCapability` for its create-file
    * option keys). Probing an unknown string returns false — safe on
    * every filesystem. */
  private val CondCreateCapabilities = Seq(
    "fs.option.create.conditional.overwrite",
    "fs.capability.create.conditional.overwrite")

  /** Schemes already warned about unverifiable conditional-create
    * exclusivity — warn once per scheme, and let specs assert the
    * warning fired. */
  private[graft] val condCreateWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Whether `fs` verifiably enforces no-overwrite at STREAM CLOSE for
    * `create(path, overwrite = false)`. Stock S3A without conditional
    * writes does a client-side existence check at `create()` and an
    * unconditional PUT at close — two racing committers both pass the
    * check and the later close silently replaces the earlier manifest,
    * exactly the lost update the CAS exists to prevent. */
  private[graft] def verifiedConditionalCreate(fs: FileSystem,
                                               path: Path): Boolean =
    CondCreateCapabilities.exists { cap =>
      try fs.hasPathCapability(path, cap)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Atomically publish `tmp` as `fin` iff `fin` does not exist —
    * dispatch on the filesystem SCHEME (never on the Java class: a
    * test double or wrapper subclassing a local FS must get the
    * semantics its scheme claims, not its superclass's):
    *   - `file` → an atomically-exclusive POSIX hard link (POSIX
    *     rename silently REPLACES; local `create(overwrite=false)` is
    *     check-then-act, not atomic);
    *   - HDFS family → rename, contractually false-on-existing;
    *   - anything else → a conditional-PUT-shaped EXCLUSIVE CREATE:
    *     `create(fin, overwrite = false)` + write + close, mapping to
    *     put-if-absent on stores that enforce no-overwrite at publish
    *     time (S3 `If-None-Match` conditional writes, GCS
    *     `ifGenerationMatch: 0`, ABFS lease/etag) — the same primitive
    *     production table formats commit through. Close-time
    *     exclusivity is a store-side contract, so it is VERIFIED via
    *     [[verifiedConditionalCreate]] (Hadoop path capabilities);
    *     schemes that don't declare it get a once-per-scheme
    *     durability warning, or a hard refusal under conf
    *     `graft.commit.require.conditional.create` = true.
    * Returns whether this writer won. CommitProtocolSpec proves the
    * fallback on a test-double FS whose rename silently replaces. */
  private[graft] def publishExclusive(fs: FileSystem, tmp: Path,
                                      fin: Path): Boolean = {
    val scheme = {
      val s = fs.getUri.getScheme
      if (s == null) "file" else s.toLowerCase(java.util.Locale.ROOT)
    }
    if (scheme == "file") {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val f = java.nio.file.Paths.get(fs.makeQualified(fin).toUri.getPath)
      try {
        java.nio.file.Files.createLink(f, t)
        fs.delete(tmp, false) // also drops the checksum sidecar
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else if (RenameExclusiveSchemes.contains(scheme)) {
      fs.rename(tmp, fin)
    } else {
      // conditional create: copy the staged bytes through an
      // exclusive-create stream; exactly one concurrent creator's
      // close publishes, the rest fail FileAlreadyExists. That is a
      // STORE-SIDE contract — verify the filesystem actually declares
      // it (HADOOP-19256 conditional writes) instead of assuming:
      // stock S3A without it checks existence client-side at create()
      // and PUTs unconditionally at close, so racing committers can
      // silently lose updates. Unverified schemes either fail loudly
      // (conf `graft.commit.require.conditional.create` = true) or
      // proceed under a once-per-scheme durability warning — the
      // single-writer case is still correct either way.
      if (!verifiedConditionalCreate(fs, fin.getParent)) {
        val scheme = fs.getUri.getScheme
        if (fs.getConf.getBoolean(
            "graft.commit.require.conditional.create", false))
          throw new UnsupportedOperationException(
            s"scheme '$scheme' does not declare conditional-create " +
              "(put-if-absent) capability; refusing to publish under " +
              "graft.commit.require.conditional.create=true")
        if (condCreateWarned.add(scheme))
          System.err.println(s"[commitlog] WARN: scheme '$scheme' " +
            "does not declare conditional-create capability " +
            s"(${CondCreateCapabilities.head}); concurrent " +
            "multi-writer commits on this store may not be " +
            "exclusive at close — single-writer use is unaffected")
      }
      val body = new Array[Byte](fs.getFileStatus(tmp).getLen.toInt)
      val in = fs.open(tmp)
      try in.readFully(body) finally in.close()
      try {
        val out = fs.create(fin, false)
        try out.write(body) finally out.close()
        fs.delete(tmp, false)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }
  }

  /** Compare-and-swap commit of `files` (sink-relative) as generation
    * `baseGen + 1` — `baseGen` MUST be the generation the writer read
    * its state from ([[ensureLoggedAt]]). Exactly one of the writers
    * racing from the same base wins; the rest throw
    * [[CommitConflictException]] and must retry their WHOLE operation
    * from a fresh read (their already-moved data files are debris a
    * later explicit [[vacuum]] reclaims). Returns the committed
    * generation.
    *
    * Deletion-vector records carry forward AUTOMATICALLY: every DV
    * record of the base generation whose data file is still in
    * `files` is copied into the new manifest, so DV-oblivious writers
    * (append, partition replace, compaction of OTHER files) can never
    * silently resurrect deleted rows of files they didn't touch; a
    * record whose file leaves the manifest is dropped with it (the
    * rewriter read the rows DV-applied, or replaced them wholesale).
    * `dvs` adds/overrides records for this commit's files
    * ([[DeleteVectors.deleteWhere]]).
    *
    * [[ColStats]] records carry forward the same way (per surviving
    * file; `stats` overlays per (file, column) — [[TableStats
    * .analyze]]), so a stats-oblivious writer keeps every untouched
    * file prunable. `#txn` records carry UNCONDITIONALLY (highest
    * version per app id, `txn` overlays one) — they describe writer
    * history, not files, and must survive every rewrite or an
    * idempotent writer would re-apply after a compaction.
    *
    * `schema` names the columns of the frame this commit's new files
    * were written from; the [[SchemaKey]] record follows the rule in
    * [[Manifest]]'s grammar (an explicit `meta` entry for it wins). */
  def commitNext(fs: FileSystem, sink: Path, baseGen: Long,
                 files: Seq[String],
                 dvs: Map[String, String] = Map.empty,
                 stats: Map[String, Map[String, ColStats]] = Map.empty,
                 txn: Option[(String, Long)] = None,
                 colmaps: Map[String, Map[String, String]] = Map.empty,
                 coltypes: Map[String, Map[String, String]] = Map.empty,
                 checks: Map[String, String] = Map.empty,
                 dvMarks: Map[String, Long] = Map.empty,
                 statsReplace: Boolean = false,
                 meta: Map[String, String] = Map.empty,
                 blooms: Map[String, Map[String, String]] = Map.empty,
                 anns: Map[String, Map[String, String]] = Map.empty,
                 schema: Option[StructType] = None)
  : Long = {
    val gen = baseGen + 1
    val dir = logDir(sink)
    fs.mkdirs(dir)
    val fin = new Path(dir, manifestName(gen))
    if (fs.exists(fin))
      throw new CommitConflictException(
        s"generation $gen already committed at $sink — base $baseGen " +
          "is stale; re-read and retry the operation")
    // unique temp name: racing writers must not clobber each other's
    // staged manifest before the exclusive publish decides the winner
    val tmp = new Path(dir, "." + manifestName(gen) + "." +
      java.util.UUID.randomUUID().toString + ".tmp")
    val base: Manifest =
      if (baseGen < 0) Manifest(Nil, Map.empty, Map.empty, Map.empty)
      else try readManifestFull(fs, sink, baseGen)
      catch { case _: java.io.FileNotFoundException =>
        Manifest(Nil, Map.empty, Map.empty, Map.empty) }
    val fileSet = files.toSet
    // a file's mark COUNT rides its DV record: an overlay that changes
    // the record invalidates the base count (the DV was merged), so
    // the count comes from this commit's `dvMarks` or not at all;
    // carried-unchanged records keep their base count
    val mergedDvs = (base.dvs ++ dvs)
      .filter { case (f, _) => fileSet(f) }
    val mergedDvMarks = mergedDvs.keysIterator.flatMap { f =>
      (if (dvs.contains(f)) dvMarks.get(f) else base.dvMarks.get(f))
        .map(f -> _)
    }.toMap
    // default: per-(file, column) OVERLAY (analyze adds/refreshes
    // bounds, untouched columns keep theirs). `statsReplace` makes a
    // listed file's map REPLACE its base wholesale — the rename/drop
    // rekey path, which must be able to REMOVE a column's record in
    // the same atomic commit (an overlay can only add).
    val mergedStats =
      if (statsReplace)
        (base.stats.keySet ++ stats.keySet).iterator
          .filter(fileSet).map { f =>
            f -> stats.getOrElse(f, base.stats.getOrElse(f, Map.empty))
          }.filter(_._2.nonEmpty).toMap
      else (base.stats.keySet ++ stats.keySet).iterator
        .filter(fileSet).map { f =>
          f -> (base.stats.getOrElse(f, Map.empty) ++
            stats.getOrElse(f, Map.empty))
        }.toMap
    val mergedTxns = txn match {
      case Some((app, v)) =>
        base.txns + (app -> math.max(v, base.txns.getOrElse(app, v)))
      case None => base.txns
    }
    // colmap records carry per surviving file (a rewritten file's
    // output has the logical schema, so its old mapping must leave
    // with it); `colmaps` REPLACES a file's whole mapping (a rename
    // rewrites every live file's record set in this one commit)
    val mergedColmaps = (base.colmaps.keySet ++ colmaps.keySet)
      .iterator.filter(fileSet).map { f =>
        f -> colmaps.getOrElse(f, base.colmaps.getOrElse(f, Map.empty))
      }.filter(_._2.nonEmpty).toMap
    // coltype records carry per surviving file exactly like colmaps
    val mergedColtypes = (base.coltypes.keySet ++ coltypes.keySet)
      .iterator.filter(fileSet).map { f =>
        f -> coltypes.getOrElse(f,
          base.coltypes.getOrElse(f, Map.empty))
      }.filter(_._2.nonEmpty).toMap
    // check records carry UNCONDITIONALLY (table-level, like #txn);
    // an overlay with an EMPTY expression is the drop tombstone
    val mergedChecks = (base.checks ++ checks).filter(_._2.nonEmpty)
    // table-property records (the catalog's declared bootstrap schema
    // and partition layout) carry exactly like #check; the bucketing
    // declaration additionally self-guards — a commit adding a file no
    // writer bucket-routed drops the declaration LOUDLY in this same
    // commit (Bucketing.guardMeta), so the storage-partitioned-join
    // eligibility can never silently diverge from the files
    val record =
      if (meta.contains(SchemaKey)) meta.get(SchemaKey)
      else nextRecord(base, files, schema)
    val mergedMeta = Bucketing.guardMeta(
      (base.meta ++ meta - SchemaKey ++ record.map(SchemaKey -> _))
        .filter(_._2.nonEmpty),
      base.files.toSet, files).filter(_._2.nonEmpty)
    // Bloom-index records carry per surviving file with per-(file,
    // column) overlay like #stats (an incremental build adds columns,
    // untouched ones keep theirs); a file leaving the manifest takes
    // its records — the sidecars become vacuum debris
    val mergedBlooms = (base.blooms.keySet ++ blooms.keySet).iterator
      .filter(fileSet).map { f =>
        f -> (base.blooms.getOrElse(f, Map.empty) ++
          blooms.getOrElse(f, Map.empty))
      }.filter(_._2.nonEmpty).toMap
    // ANN index records carry per surviving file exactly like #bloom
    val mergedAnns = (base.anns.keySet ++ anns.keySet).iterator
      .filter(fileSet).map { f =>
        f -> (base.anns.getOrElse(f, Map.empty) ++
          anns.getOrElse(f, Map.empty))
      }.filter(_._2.nonEmpty).toMap
    writeManifestExclusive(fs, sink, gen, tmp, fin, Manifest(
      files, mergedDvs, mergedStats, mergedTxns, mergedColmaps,
      mergedColtypes, mergedChecks, mergedDvMarks, mergedMeta,
      mergedBlooms, mergedAnns))
  }

  /** The [[SchemaKey]] record of a commit of `files` over `base` whose
    * new files were written from a frame with `schema`: that schema
    * when no file of `base` survives, else `base`'s record widened by
    * it; with no `schema`, `base`'s record while the commit adds no
    * file, else none (the added files' columns are unknown). */
  private[graft] def nextRecord(base: Manifest, files: Seq[String],
                                schema: Option[StructType])
  : Option[String] = {
    val baseFiles = base.files.toSet
    schema match {
      case Some(s) if !files.exists(baseFiles) => Some(nullable(s).toDDL)
      case Some(s) => recordedSchema(base.meta)
        .map(widenSchema(_, nullable(s)).toDDL)
      case None if files.forall(baseFiles) => base.meta.get(SchemaKey)
      case None => None
    }
  }

  /** Serialize a FULL manifest verbatim and publish it exclusively as
    * generation `gen` — the shared tail of [[commitNext]] and the
    * verbatim-snapshot committers ([[rollbackTo]]). Byte layout is
    * the grammar's canonical order (sorted within each record
    * family), so re-committing a parsed manifest round-trips
    * byte-identically. */
  private def writeManifestExclusive(fs: FileSystem, sink: Path,
                                     gen: Long, tmp: Path, fin: Path,
                                     m: Manifest): Long = {
    val dvLines = m.dvs.toSeq.sorted.map { case (f, d) =>
      s"#dv\t$f\t$d" + m.dvMarks.get(f).fold("")(v => s"\t$v")
    }
    val statsLines = m.stats.toSeq.flatMap { case (f, cols) =>
      cols.toSeq.map { case (c, s) =>
        s"#stats\t$f\t${enc(c)}\t${s.typ}\t${s.nRows}\t${s.nNulls}" +
          s"\t${encOpt(s.min)}\t${encOpt(s.max)}" +
          // sum-less/ndv-less records keep their shorter forms
          // byte-for-byte; an ndv always pins the sum slot (possibly
          // `~`) so field positions stay fixed
          ((s.sum, s.ndv) match {
            case (None, None) => ""
            case (sm, None) => sm.map(v => s"\t${enc(v)}").getOrElse("")
            case (sm, Some(d)) => s"\t${encOpt(sm)}\t$d"
          })
      }
    }.sorted
    val txnLines = m.txns.toSeq.sorted
      .map { case (app, v) => s"#txn\t${enc(app)}\t$v" }
    val colmapLines = m.colmaps.toSeq.flatMap { case (f, cm) =>
      cm.toSeq.map { case (phys, logical) =>
        s"#colmap\t$f\t${enc(phys)}\t${
          if (logical.isEmpty) "~" else enc(logical)}"
      }
    }.sorted
    val coltypeLines = m.coltypes.toSeq.flatMap { case (f, ct) =>
      ct.toSeq.map { case (phys, ddl) =>
        s"#coltype\t$f\t${enc(phys)}\t${enc(ddl)}"
      }
    }.sorted
    val checkLines = m.checks.toSeq.sorted
      .map { case (n, e) => s"#check\t${enc(n)}\t${enc(e)}" }
    val metaLines = m.meta.toSeq.sorted
      .map { case (k, v) => s"#meta\t${enc(k)}\t${enc(v)}" }
    val bloomLines = m.blooms.toSeq.flatMap { case (f, bm) =>
      bm.toSeq.map { case (phys, rel) =>
        s"#bloom\t$f\t${enc(phys)}\t${enc(rel)}"
      }
    }.sorted
    val annLines = m.anns.toSeq.flatMap { case (f, am) =>
      am.toSeq.map { case (phys, rel) =>
        s"#ann\t$f\t${enc(phys)}\t${enc(rel)}"
      }
    }.sorted
    val out = fs.create(tmp, true)
    try out.write(
      (m.files.sorted ++ dvLines ++ statsLines ++ txnLines ++
        colmapLines ++ coltypeLines ++ checkLines ++ metaLines ++
        bloomLines ++ annLines)
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!publishExclusive(fs, tmp, fin)) {
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw new CommitConflictException(
        s"lost the commit race for generation $gen at $sink — " +
          "re-read and retry the operation")
    }
    gen
  }

  /** [[commitNext]] against the latest committed generation read just
    * now — for call sites that genuinely hold the only reference
    * (bootstrap). State-rewriting writers must pin their base via
    * [[ensureLoggedAt]] instead: read-then-commit here is the
    * lost-update window the CAS exists to close. */
  def commit(fs: FileSystem, sink: Path, files: Seq[String]): Long =
    commitNext(fs, sink,
      committed(fs, sink).map(_._1).getOrElse(-1L), files)

  /** Append-only commit with bounded REBASE-AND-RETRY — the
    * commutative-commit loop production table formats run so two
    * concurrent hourly publishers don't need caller-level retries. A
    * blind append commutes with EVERY winner at the file level: its
    * staged files carry fresh globally-unique names no other writer
    * references, and losing the CAS only means the live set moved —
    * so the loser re-reads the winner's manifest via
    * [[ensureLoggedAt]] and re-commits `that live set ++ its own
    * files`, with DV/stats/txn records carrying forward from the
    * WINNER's manifest automatically ([[commitNext]]'s carry rules).
    * Bounded by `maxAttempts`; exhaustion (a pathologically hot sink)
    * surfaces the underlying [[CommitConflictException]].
    *
    * Contract boundary, exactly Delta's blind-append semantics:
    * FILE-level atomicity is guaranteed here; KEY-level claims
    * (insert-only uniqueness) remain snapshot-based — a concurrent
    * winner may have inserted the same keys after this writer's
    * anti-join scan. Writers needing exactly-once batches across
    * concurrent processes pass `txn` (the `#txn` idempotence ledger,
    * [[Manifest.txns]]); the rebase re-merges it against the winner's
    * ledger on every attempt. Rewriters (compaction, merge, partition
    * replace) must NOT use this — their read snapshot is invalidated
    * by any winner, which is what the terminal [[commitNext]] conflict
    * is for. `schema` names the appended files' columns and widens
    * the schema record of whichever manifest the append lands on. */
  def commitAppend(fs: FileSystem, sink: Path, baseGen: Long,
                   liveAtBase: Seq[String], newFiles: Seq[String],
                   stats: Map[String, Map[String, ColStats]] = Map.empty,
                   txn: Option[(String, Long)] = None,
                   maxAttempts: Int = 8,
                   schema: Option[StructType] = None): Long = {
    var base = baseGen
    var live = liveAtBase
    var attempt = 0
    while (true) {
      // `#txn` enforced at COMMIT granularity, not just at the
      // caller's pre-stage check: two writers sharing an appId can
      // both pass a check-then-act fast path, but only one commit may
      // carry the (appId, version) — if the current base's ledger
      // already holds it (this attempt raced a same-identity winner),
      // the whole append NO-OPs (the staged files become vacuum
      // debris), closing the duplicate-batch window.
      txn.foreach { case (app, v) =>
        if (base >= 0 &&
          readManifestFull(fs, sink, base).txns.get(app).exists(_ >= v))
          return base
      }
      try return commitNext(fs, sink, base, live ++ newFiles,
        Map.empty, stats, txn, schema = schema)
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new CommitConflictException(
              s"commitAppend: gave up after $maxAttempts rebase " +
                s"attempts at $sink — ${e.getMessage}")
          val (g2, l2) = ensureLoggedAt(fs, sink)
          base = g2; live = l2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage → move-in, the first two steps of every table writer:
    * `write` lays its parquet into a fresh scratch directory beside
    * the sink, `<sink>__<tag>_tmp-<uuid>`, and the staged data files
    * then [[moveIn]] under the sink. Returns their sink-relative
    * names, still uncommitted. The scratch name is unique per call,
    * so a writer never deletes or adopts another writer's staged
    * files. The directory is deleted on success and on failure alike;
    * only a killed JVM leaves it behind, as a sibling no listing of
    * the sink surfaces. */
  private[graft] def stageIn(fs: FileSystem, sink: Path, tag: String)
                            (write: Path => Unit): Seq[String] = {
    val staging = scratchDir(sink, tag)
    try {
      write(staging)
      val staged = Seq.newBuilder[(Path, String)]
      val it = fs.listFiles(staging, true) // recursive: hive dirs too
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet"))
          staged += f -> relativize(fs, staging, f.toString)
      }
      moveAll(fs, sink, staged.result())
    } finally
      try fs.delete(staging, true)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** A fresh scratch directory name beside `sink`:
    * `<sink>__<tag>_tmp-<uuid>`, never shared by two writers. */
  private[graft] def scratchDir(sink: Path, tag: String): Path =
    new Path(sink.getParent, sink.getName + s"__${tag}_tmp-" +
      java.util.UUID.randomUUID().toString)

  /** Move-in of an explicit list: `rels` are data files relative to
    * `staging` (a task-written staging directory the caller owns). */
  private[graft] def moveIn(fs: FileSystem, staging: Path, sink: Path,
                            rels: Seq[String]): Seq[String] =
    moveAll(fs, sink, rels.map(r => new Path(staging, r) -> r))

  /** Rename each staged file to its committed name, creating each
    * distinct parent directory once. Hive levels are kept; the
    * scaffolding levels fold into the file name: `__graft_bucket=K`
    * becomes the `b%05d-` prefix [[Bucketing.bucketIdOf]] reads, and
    * a compaction bin's `__bin=V` becomes a `V-` prefix. */
  private def moveAll(fs: FileSystem, sink: Path,
                      staged: Seq[(Path, String)]): Seq[String] = {
    val bucketLevel = Bucketing.StageCol + "="
    val binLevel = "__bin="
    def committedName(rel: String): String = {
      val segs = rel.split('/')
      val dirs = segs.init
      val bucket = dirs.find(_.startsWith(bucketLevel)).fold("")(s =>
        f"b${s.stripPrefix(bucketLevel).toInt}%05d-")
      val bin = dirs.find(_.startsWith(binLevel))
        .fold("")(_.stripPrefix(binLevel) + "-")
      (dirs.filterNot(s => s.startsWith(bucketLevel) ||
        s.startsWith(binLevel)) :+ (bucket + bin + segs.last))
        .mkString("/")
    }
    val moves = staged.map { case (f, rel) =>
      (f, committedName(rel)) }
    moves.map(m => new Path(sink, m._2).getParent).distinct
      .foreach(fs.mkdirs)
    moves.map { case (f, rel) =>
      val dest = new Path(sink, rel)
      if (!fs.rename(f, dest))
        throw new java.io.IOException(
          s"move-in: could not move $f into $dest")
      rel
    }
  }

  /** The swap: commit `live − replaced ++ added` as the generation
    * after `baseGen` in ONE atomic manifest publish, then GC the
    * replaced originals (pure garbage collection — the committed
    * generation never references them; skipped when `keepReplaced`,
    * which preserves older generations for [[readAt]] time travel).
    * `failpoint` fires after the adds ("added") and after the commit
    * ("committed") so CommitProtocolSpec can kill the swap at both
    * windows. A lost CAS is terminal: a rewriter's read snapshot is
    * invalid once another writer commits. `stats` and `schema` (the
    * columns of the frame `added` was written from) ride the commit
    * as in [[commitNext]]. Returns the committed generation. */
  private[graft] def swap(fs: FileSystem, sink: Path, baseGen: Long,
                          live: Seq[String], replaced: Seq[String],
                          added: Seq[String],
                          failpoint: String => Unit,
                          keepReplaced: Boolean = false,
                          txn: Option[(String, Long)] = None,
                          stats: Map[String, Map[String, ColStats]] =
                            Map.empty,
                          schema: Option[StructType] = None): Long = {
    failpoint("added")
    val gen = commitNext(fs, sink, baseGen, live.diff(replaced) ++ added,
      stats = stats, txn = txn, schema = schema)
    failpoint("committed")
    if (!keepReplaced) replaced.foreach { r => // GC, best-effort
      try fs.delete(new Path(sink, r), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    gen
  }

  /** EXPLICIT maintenance: delete data files on disk that NO retained
    * generation references — debris from torn swaps, lost commit
    * races, and generations removed by [[expireGenerations]]. Files
    * referenced only by OLDER generations are kept: they are snapshot
    * history ([[readAt]]); expire first to reclaim them. No-op (0) for
    * never-logged sinks. NEVER called from any write path (a writer
    * reclaiming orphans could delete a concurrent writer's
    * staged-but-uncommitted files — the committed-data-loss window the
    * round-7 audit found).
    *
    * `olderThanMs`: only reclaim orphans whose modification time is at
    * least this old — Delta/Iceberg remove-orphan semantics. With a
    * horizon comfortably above the longest in-flight write (hours),
    * vacuum is safe to run WHILE writers are active: any file younger
    * than the horizon might be a staged commit-in-progress and is left
    * alone. The default 0 reclaims everything unreferenced and is only
    * safe on a QUIESCED sink: no batch writer in flight, AND no
    * in-flight Structured Streaming query writing to (or a foreachBatch
    * staging under) the sink — a streaming micro-batch's
    * moved-in-but-uncommitted part files look exactly like orphans to
    * a horizon-0 sweep, and deleting them fails the batch. Stop the
    * stream (or use the horizon) before `vacuum(0)`. */
  def vacuum(fs: FileSystem, sink: Path,
             olderThanMs: Long = 0L): Long = {
    val gens = generations(fs, sink)
    if (gens.isEmpty) return 0L
    // the retained-manifest set — main generations PLUS branch chains
    // (staged-but-unpublished batches are live) — computed ONCE and
    // shared by all four sweeps below (data files, DVs, blooms, ann):
    // each sweep re-deriving it cost three extra directory listings
    // and re-parses per vacuum on an object store
    val retained: Seq[Manifest] =
      gens.map(readManifestFull(fs, sink, _)) ++
        branchManifests(fs, sink)
    val keep = retained.flatMap(_.files).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: Path): Boolean = olderThanMs <= 0L ||
      fs.getFileStatus(p).getModificationTime <= cutoff
    val orphans = listDataFiles(fs, sink).filterNot(keep)
      .filter(r => oldEnough(new Path(sink, r)))
    orphans.foreach(r => fs.delete(new Path(sink, r), false))
    // DV debris: a DV path (file or directory) under _graft_dv that no
    // retained manifest references — a torn DeleteVectors commit, or
    // records dropped by applyDeletes/rewrites and then expired. Same
    // mtime horizon (an in-flight delete's DV is younger than it).
    val dvDir = new Path(sink, DvDirName)
    var dvReclaimed = 0L
    if (fs.exists(dvDir)) {
      val refDv = retained.flatMap(_.dvs.values).toSet
      fs.listStatus(dvDir).foreach { st =>
        val rel = DvDirName + "/" + st.getPath.getName
        // a record may name the DV directory (single-task layout) or a
        // part FILE inside it (sharded mass-delete layout) — a dir any
        // retained record points INTO is live
        if (!refDv.contains(rel) &&
          !refDv.exists(_.startsWith(rel + "/")) &&
          oldEnough(st.getPath)) {
          fs.delete(st.getPath, true)
          dvReclaimed += 1
        }
      }
    }
    // Bloom sidecar debris: same sweep as DVs — a sidecar under
    // _graft_bloom that no retained manifest's #bloom records name
    // (records left with their data file, or a build lost its commit
    // race) is reclaimable under the same mtime horizon. Branch
    // manifests count: a branch is self-contained, its pruning tier
    // must survive main's retention.
    val bloomDir = new Path(sink, BloomDirName)
    var bloomReclaimed = 0L
    if (fs.exists(bloomDir)) {
      val refBloom = retained.flatMap(_.blooms.values)
        .flatMap(_.values).toSet
      fs.listStatus(bloomDir).foreach { st =>
        val rel = BloomDirName + "/" + st.getPath.getName
        if (!refBloom.contains(rel) && oldEnough(st.getPath)) {
          fs.delete(st.getPath, true)
          bloomReclaimed += 1
        }
      }
    }
    // ANN sidecar debris: postings named by no retained #ann record
    // and centroid files named by no retained `ann.<col>.centroids`
    // meta record (orphaned by a rebuild, a lost race, or expire)
    val annDir = new Path(sink, AnnDirName)
    var annReclaimed = 0L
    if (fs.exists(annDir)) {
      val refAnn = (retained.flatMap(_.anns.values).flatMap(_.values) ++
        retained.flatMap(_.meta.collect {
          case (k, v) if k.startsWith("ann.") &&
            k.endsWith(".centroids") => v
        })).toSet
      fs.listStatus(annDir).foreach { st =>
        val rel = AnnDirName + "/" + st.getPath.getName
        // a record may name the entry itself or a file inside it
        if (!refAnn.contains(rel) &&
          !refAnn.exists(_.startsWith(rel + "/")) &&
          oldEnough(st.getPath)) {
          fs.delete(st.getPath, true)
          annReclaimed += 1
        }
      }
    }
    orphans.length.toLong + dvReclaimed + bloomReclaimed + annReclaimed
  }

  /** Drop every generation except the newest `keepLast` (≥ 1), then
    * [[vacuum]] the files only those dropped generations referenced —
    * the retention step that bounds time-travel history, exactly a
    * table format's VACUUM-with-retention. Returns generations
    * removed. Erasure sinks should run this with `keepLast = 1` after
    * [[Merge.eraseParquet]]: the erased rows' bytes are already gone
    * (erase GCs immediately), but expiring also removes the stale
    * manifests that would otherwise make [[readAt]] report the
    * pre-erasure file list. */
  def expireGenerations(fs: FileSystem, sink: Path, keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val gens = generations(fs, sink)
    // TAGGED generations are retention-protected (Iceberg ref
    // semantics): expire skips them, so their manifests — and through
    // vacuum's retained-manifest liveness, their data files — survive
    // until the tag is dropped
    val pinned = tags(fs, sink).values.toSet
    val drop = gens.dropRight(keepLast).filterNot(pinned)
    drop.foreach(g =>
      fs.delete(new Path(logDir(sink), manifestName(g)), false))
    vacuum(fs, sink)
    drop.length
  }

  // ---- snapshot TAGS (Iceberg refs, the immutable kind) ----
  //
  // A tag is a NAME pinned to a committed generation, carried as a
  // `#meta ref.tag.<name>` record — so it rides every commit
  // unconditionally like any table property, costs nothing to read
  // (the manifest parse the reader already does), and needs no new
  // grammar. Tagged generations are protected from
  // [[expireGenerations]]; [[vacuum]] then keeps their files live for
  // free because liveness is derived from RETAINED manifests. Tags
  // are immutable refs: re-pointing one is drop + create, which makes
  // every audit trail explicit in the history. Branches (writable
  // refs) are deliberately NOT offered: graft writes always target
  // the table head, and a "branch" without a branched write path is
  // just a tag wearing a misleading name.

  private[graft] val TagMetaPrefix = "ref.tag."

  private def tagKey(name: String): String = {
    require(name != null && name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"graft tag '$name': names are [A-Za-z0-9_.-]+ (and so can " +
        "never be confused with a bare generation number in " +
        "VERSION AS OF, which is all-digits)")
    require(!name.forall(_.isDigit),
      s"graft tag '$name': an all-digit name would shadow generation " +
        "numbers in VERSION AS OF")
    TagMetaPrefix + name
  }

  /** The LATEST generation's tags: name → pinned generation. */
  def tags(fs: FileSystem, sink: Path): Map[String, Long] = {
    val gens = generations(fs, sink)
    if (gens.isEmpty) return Map.empty
    readManifestFull(fs, sink, gens.last).meta.collect {
      case (k, v) if k.startsWith(TagMetaPrefix) =>
        k.stripPrefix(TagMetaPrefix) -> v.toLong
    }
  }

  /** Resolve a tag to its pinned generation — loud with the existing
    * tag list when the name is unknown. */
  def resolveTag(fs: FileSystem, sink: Path, name: String): Long = {
    val t = tags(fs, sink)
    t.getOrElse(name, throw new IllegalArgumentException(
      s"graft: no tag '$name' at $sink — tags: " +
        (if (t.isEmpty) "(none)"
         else t.toSeq.sorted.map { case (n, g) => s"$n=$g" }
           .mkString(", ")) +
        "; a version is a generation number (DESCRIBE HISTORY " +
        "lists them) or a tag name"))
  }

  /** CREATE a tag: one metadata-only commit pinning `name` to `gen`
    * (default: the head at commit time). The pinned generation must
    * be retained; an existing name refuses (tags are immutable refs —
    * drop first). Loses of the publish CAS retry on a fresh snapshot:
    * a meta overlay commutes with any concurrent data commit. */
  def createTag(fs: FileSystem, sink: Path, name: String,
                gen: Option[Long] = None): Long = {
    val key = tagKey(name)
    var attempts = 0
    while (true) {
      val head = generations(fs, sink).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"graft: cannot tag $sink — no committed generation"))
      val m = readManifestFull(fs, sink, head)
      val target = gen.getOrElse(head)
      require(generations(fs, sink).contains(target),
        s"graft tag '$name': generation $target is not retained at " +
          s"$sink (retained: ${generations(fs, sink).mkString(", ")})")
      require(!m.meta.contains(key),
        s"graft tag '$name' already pins generation " +
          s"${m.meta(key)} at $sink — tags are immutable, drop it " +
          "first")
      try {
        commitNext(fs, sink, head, m.files,
          meta = Map(key -> target.toString))
        return target
      } catch {
        case _: CommitConflictException if attempts < 5 =>
          attempts += 1 // lost the CAS to a data commit — re-read, retry
      }
    }
    -1L // unreachable
  }

  /** DROP a tag: one metadata-only commit tombstoning the record. The
    * pinned generation becomes expirable again on the next
    * [[expireGenerations]]. */
  def dropTag(fs: FileSystem, sink: Path, name: String): Long = {
    val key = tagKey(name)
    var attempts = 0
    while (true) {
      val head = generations(fs, sink).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"graft: cannot drop tag on $sink — no committed generation"))
      val m = readManifestFull(fs, sink, head)
      val was = m.meta.getOrElse(key,
        throw new IllegalArgumentException(
          s"graft: no tag '$name' at $sink to drop"))
      try {
        commitNext(fs, sink, head, m.files, meta = Map(key -> ""))
        return was.toLong
      } catch {
        case _: CommitConflictException if attempts < 5 =>
          attempts += 1
      }
    }
    -1L // unreachable
  }

  /** ROLLBACK: make a retained generation's snapshot the NEW head —
    * Delta `RESTORE TABLE` / Iceberg `rollback_to_snapshot`, the verb
    * an operator reaches for after a bad write. One metadata commit,
    * zero data motion: generation `gen`'s manifest (files, DVs,
    * mappings, casts, stats, blooms, checks, table properties) is
    * re-committed VERBATIM as head+1, so
    *
    *   - history is preserved — the bad generations stay retained and
    *     time-travel readable until [[expireGenerations]];
    *   - nothing is rewritten — the restored files were never deleted
    *     (vacuum keeps every retained generation's files live);
    *   - tags survive — `ref.tag.*` records are taken from the HEAD
    *     manifest, not `gen`'s (a tag created after `gen` must keep
    *     protecting its snapshot through the rollback);
    *   - the `#txn` idempotence ledger is taken from the HEAD
    *     (high-water marks never regress): an exactly-once writer
    *     whose batch landed in a rolled-back generation will NOT
    *     re-apply it on retry — replaying rolled-back batches is an
    *     explicit re-submission, never an accident of checkpoint
    *     replay.
    *
    * Refuses loudly when `gen` is not retained or its files/DVs were
    * already vacuumed. TERMINAL on a lost commit race (like truncate/
    * replace): rolling back over a concurrent writer's fresh commit
    * must be re-decided by the caller, never silently retried.
    * Returns the NEW head generation (== old head when `gen` already
    * is the head — a no-op needs no commit). */
  def rollbackTo(fs: FileSystem, sink: Path, gen: Long): Long = {
    val gens = generations(fs, sink)
    require(gens.nonEmpty,
      s"graft rollback: no committed generation at $sink")
    val head = gens.last
    require(gens.contains(gen),
      s"graft rollback: generation $gen is not retained at $sink " +
        s"(retained: ${gens.mkString(", ")}) — a version is a " +
        "generation number (DESCRIBE HISTORY lists them) or a tag " +
        "name")
    if (gen == head) return head
    commitSnapshotAsHead(fs, sink, readManifestFull(fs, sink, gen),
      s"rollback to generation $gen")
  }

  /** Commit a full snapshot manifest VERBATIM as the new head —
    * shared by [[rollbackTo]] and [[fastForward]]. Tags and the
    * `#txn` idempotence ledger come from the CURRENT head (refs must
    * survive, high-water marks never regress); everything else is the
    * snapshot's. Refuses when the snapshot references vacuumed files;
    * terminal on a lost race. */
  /** Relative paths of `rels` that do NOT exist on disk — one
    * `listStatus` per parent directory instead of one `exists` RPC
    * per file (the [[GraftScan.cachedLenSum]] batching pattern: a
    * 100k-file snapshot validates in dir-count RPCs, not file-count).
    * An unlistable directory marks all its files missing. */
  private def missingOnDisk(fs: FileSystem, sink: Path,
                            rels: Seq[String]): Seq[String] =
    rels.groupBy(r => new Path(sink, r).getParent).toSeq
      .flatMap { case (dir, rs) =>
        val present: Set[String] =
          try fs.listStatus(dir).iterator
            .map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty }
        rs.filterNot(r => present(new Path(sink, r).getName))
      }

  /** The manifest with every FILE-KEYED record family pruned to its
    * own live set — what a verbatim-manifest committer
    * ([[commitBranch]] callers replacing files) must apply manually,
    * since [[writeManifestExclusive]] serializes exactly what it is
    * given ([[commitNext]] does this pruning itself). */
  private[graft] def prunedToFiles(m: Manifest): Manifest = {
    val fileSet = m.files.toSet
    def p[A](x: Map[String, A]): Map[String, A] =
      x.filter { case (f, _) => fileSet(f) }
    m.copy(dvs = p(m.dvs), dvMarks = p(m.dvMarks), stats = p(m.stats),
      colmaps = p(m.colmaps), coltypes = p(m.coltypes),
      blooms = p(m.blooms), anns = p(m.anns))
  }

  private def commitSnapshotAsHead(fs: FileSystem, sink: Path,
                                   snapshot: Manifest, what: String)
  : Long = {
    val head = generations(fs, sink).last
    val hm = readManifestFull(fs, sink, head)
    val missing = missingOnDisk(fs, sink,
      snapshot.files ++ snapshot.dvs.values.toSeq.distinct)
    require(missing.isEmpty,
      s"graft $what: snapshot files were reclaimed (vacuumed) at " +
        s"$sink: ${missing.take(5).mkString(", ")}${
          if (missing.size > 5) ", …" else ""}")
    // file-keyed record families prune to the snapshot's file set:
    // [[writeManifestExclusive]] serializes verbatim (the byte-identity
    // contract), so a record keyed by a non-member file would otherwise
    // persist as a dangling entry in the new head
    val fileSet = snapshot.files.toSet
    def pruned[A](m: Map[String, A]): Map[String, A] =
      m.filter { case (f, _) => fileSet(f) }
    val restored = snapshot.copy(
      dvs = pruned(snapshot.dvs),
      dvMarks = pruned(snapshot.dvMarks),
      stats = pruned(snapshot.stats),
      colmaps = pruned(snapshot.colmaps),
      coltypes = pruned(snapshot.coltypes),
      blooms = pruned(snapshot.blooms),
      anns = pruned(snapshot.anns),
      txns = hm.txns,
      meta = snapshot.meta.filterNot(_._1.startsWith(TagMetaPrefix)) ++
        hm.meta.filter { case (k, v) =>
          k.startsWith(TagMetaPrefix) && v.nonEmpty })
    val next = head + 1
    val dir = logDir(sink)
    val fin = new Path(dir, manifestName(next))
    if (fs.exists(fin))
      throw new CommitConflictException(
        s"generation $next already committed at $sink — the head " +
          s"moved; re-decide the $what against the new state")
    val tmp = new Path(dir, "." + manifestName(next) + "." +
      java.util.UUID.randomUUID().toString + ".tmp")
    writeManifestExclusive(fs, sink, next, tmp, fin, restored)
  }

  // ---- BRANCHES (writable refs) + write-audit-publish ----
  //
  // A branch is a SEPARATE manifest chain in the same log directory
  // (`branch.<name>.<k>.manifest`, same grammar, own CAS), seeded
  // with a full copy of the branching generation's manifest. Staged
  // data files land in the sink normally but are referenced only by
  // the branch chain — MAIN readers never see them, while
  // [[referencedFiles]]/[[vacuum]] treat branch-referenced files as
  // live so maintenance can run during an audit. `CALL
  // system.fast_forward` publishes the branch head as the next MAIN
  // generation in one CAS commit (the write-audit-publish pattern —
  // Iceberg WAP branches): stage a risky batch on the branch,
  // validate it there, publish atomically, main untouched until then.

  private[graft] val BranchPrefix = "branch."

  /** Branch-manifest meta key recording the MAIN generation the
    * branch was created from — [[fastForward]]'s divergence guard
    * (Iceberg's ancestor check): publishing a branch over a main
    * that advanced since branching would silently discard main's
    * commits, so it refuses instead. Stripped on publish. */
  private[graft] val BranchBaseKey = "branch.base"

  private def branchKey(name: String): String = {
    require(name != null && name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"graft branch '$name': names are [A-Za-z0-9_-]+")
    name
  }

  private def branchManifestName(name: String, k: Long): String =
    f"$BranchPrefix${enc(name)}.$k%020d.manifest"

  /** Branch chain positions for `name`, ascending; empty = no such
    * branch. */
  private def branchKeysOf(fs: FileSystem, sink: Path, name: String)
  : Seq[Long] = {
    val dir = logDir(sink)
    if (!fs.exists(dir)) return Nil
    val prefix = BranchPrefix + enc(name) + "."
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".manifest"))
      .map(_.stripPrefix(prefix).stripSuffix(".manifest"))
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq
  }

  /** All branches: name → head position. */
  def branches(fs: FileSystem, sink: Path): Map[String, Long] = {
    val dir = logDir(sink)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(BranchPrefix) &&
        n.endsWith(".manifest"))
      .flatMap { n =>
        val core = n.stripPrefix(BranchPrefix).stripSuffix(".manifest")
        val i = core.lastIndexOf('.')
        if (i <= 0) None
        else {
          val (nm, k) = (core.substring(0, i), core.substring(i + 1))
          if (k.nonEmpty && k.forall(_.isDigit))
            Some(dec(nm) -> k.toLong)
          else None
        }
      }
      .groupBy(_._1).map { case (n, ks) => n -> ks.map(_._2).max }
  }

  /** CREATE a branch at `from` (default: the current head): one
    * branch-chain manifest write, a full copy of the generation's
    * manifest — self-contained, so expiring the source generation
    * later never strands the branch. Refuses an existing name. */
  def createBranch(fs: FileSystem, sink: Path, name: String,
                   from: Option[Long] = None): Long = {
    branchKey(name)
    require(branchKeysOf(fs, sink, name).isEmpty,
      s"graft branch '$name' already exists at $sink — drop it first")
    val gens = generations(fs, sink)
    require(gens.nonEmpty,
      s"graft: cannot branch $sink — no committed generation")
    val target = from.getOrElse(gens.last)
    require(gens.contains(target),
      s"graft branch '$name': generation $target is not retained at " +
        s"$sink (retained: ${gens.mkString(", ")})")
    val m = readManifestFull(fs, sink, target)
    commitBranch(fs, sink, name, -1L,
      m.copy(meta = m.meta + (BranchBaseKey -> target.toString)))
    target
  }

  /** Head (position, manifest) of a branch — loud when absent. */
  private[graft] def branchHead(fs: FileSystem, sink: Path,
                                name: String): (Long, Manifest) = {
    val ks = branchKeysOf(fs, sink, name)
    require(ks.nonEmpty,
      s"graft: no branch '$name' at $sink — branches: ${
        val b = branches(fs, sink)
        if (b.isEmpty) "(none)"
        else b.keys.toSeq.sorted.mkString(", ")}")
    val k = ks.last
    (k, readManifestPath(fs,
      new Path(logDir(sink), branchManifestName(name, k))))
  }

  /** Commit `m` as branch position `baseK + 1` under the same
    * exclusive-publish CAS the main chain uses. Terminal on a lost
    * race (two writers staging onto one audit branch must
    * coordinate). */
  private[graft] def commitBranch(fs: FileSystem, sink: Path,
                                  name: String, baseK: Long,
                                  m: Manifest): Long = {
    val k = baseK + 1
    val dir = logDir(sink)
    fs.mkdirs(dir)
    val fin = new Path(dir, branchManifestName(name, k))
    if (fs.exists(fin))
      throw new CommitConflictException(
        s"branch '$name' position $k already committed at $sink — " +
          "re-read and retry")
    val tmp = new Path(dir, "." + branchManifestName(name, k) + "." +
      java.util.UUID.randomUUID().toString + ".tmp")
    // the bucket-declaration guard holds on branch chains too: an
    // unrouted file staged onto the branch drops the declaration
    // loudly HERE, so a fast_forward can never publish a manifest
    // whose declaration its own files violate
    val baseFiles: Set[String] =
      if (baseK < 0) Set.empty
      else try readManifestPath(fs,
        new Path(dir, branchManifestName(name, baseK))).files.toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    writeManifestExclusive(fs, sink, k, tmp, fin, m.copy(
      meta = Bucketing.guardMeta(m.meta, baseFiles, m.files)
        .filter(_._2.nonEmpty)))
  }

  /** DROP a branch: remove its chain files. Data files staged only on
    * the branch become vacuum-reclaimable debris. Returns positions
    * removed. */
  def dropBranch(fs: FileSystem, sink: Path, name: String): Int = {
    val ks = branchKeysOf(fs, sink, name)
    require(ks.nonEmpty, s"graft: no branch '$name' at $sink to drop")
    ks.foreach(k => fs.delete(
      new Path(logDir(sink), branchManifestName(name, k)), false))
    ks.size
  }

  /** PUBLISH a branch: commit its head manifest as the next MAIN
    * generation in one CAS commit ([[commitSnapshotAsHead]] — main's
    * tags and `#txn` ledger survive). The branch itself is left in
    * place (now content-equal to main's head) for the caller to
    * [[dropBranch]]. Terminal on a lost race: publishing over a
    * concurrent main commit must be re-decided. Returns the new main
    * generation. */
  def fastForward(fs: FileSystem, sink: Path, name: String): Long = {
    val (_, bm) = branchHead(fs, sink, name)
    val head = generations(fs, sink).last
    val base = bm.meta.get(BranchBaseKey).map(_.toLong)
    require(base.contains(head),
      s"graft fast_forward('$name'): main is at generation $head " +
        s"but the branch was created from ${base.getOrElse(-1L)} — " +
        "publishing would discard main's newer commits; re-create " +
        "the branch from the current head and re-stage")
    commitSnapshotAsHead(fs, sink,
      bm.copy(meta = bm.meta - BranchBaseKey),
      s"fast_forward('$name')")
  }

  /** Latest generation committed AT OR BEFORE `tsMillis` — timestamp
    * time travel resolution (Delta's TIMESTAMP AS OF). The manifest
    * file's modification time IS the commit time: the exclusive
    * publish stamps it once and committed manifests are immutable.
    * Loud when every retained generation is newer (the asked-for
    * moment predates retained history). */
  def generationAsOf(fs: FileSystem, sink: Path, tsMillis: Long)
  : Long = {
    val dir = logDir(sink)
    val cands = generations(fs, sink).filter { g =>
      fs.getFileStatus(new Path(dir, manifestName(g)))
        .getModificationTime <= tsMillis
    }
    require(cands.nonEmpty,
      s"no generation of $sink was committed at or before " +
        s"$tsMillis (earliest retained is newer — history expired " +
        "or timestamp predates the table)")
    cands.max
  }

  /** [[readAt]] resolved by commit timestamp ([[generationAsOf]]). */
  def readAsOf(spark: SparkSession, sink: String,
               tsMillis: Long): DataFrame = {
    val hPath = new Path(sink)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readAt(spark, sink, generationAsOf(fs, hPath, tsMillis))
  }

  /** The sink AS OF a committed generation — snapshot time travel over
    * the retained manifests. Fails loudly when `gen` is expired or its
    * files were reclaimed (a rewrite run with default GC deletes
    * replaced files immediately; pass `keepReplaced = true` to the
    * rewrite to retain snapshot history, and [[expireGenerations]] to
    * bound it). */
  def readAt(spark: SparkSession, sink: String, gen: Long): DataFrame = {
    val hPath = new Path(sink)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generations(fs, hPath).contains(gen),
      s"generation $gen is not committed (or expired) at $sink")
    val m = readManifestFull(fs, hPath, gen)
    val missing = m.files.filterNot(r => fs.exists(new Path(hPath, r)))
    require(missing.isEmpty,
      s"generation $gen files were reclaimed (vacuumed): $missing")
    readSnapshot(spark, sink, fs, m)
  }

  /** Anti-join a frame read from a sink's live files against the
    * generation's deletion vectors — the merge-on-read half of
    * [[DeleteVectors]]. Row identity is (sink-relative file path,
    * row ordinal), recovered from the parquet scan's `_metadata`
    * pseudo-columns; the DV side is a scan of the referenced DV
    * parquet. The join is a plain equi anti-join so AQE broadcasts it
    * whenever the DVs are small (the normal case — deletes are sparse
    * between [[DeleteVectors.applyDeletes]] compactions); no hint is
    * forced so a massive DV still executes as a shuffle join instead
    * of OOMing the driver. Reading ALL referenced DV paths wholesale
    * is sound because a live file's delete set only ever GROWS until
    * the file itself is rewritten (then its record — and its rows'
    * file identity — leave the manifest together): stale DV rows
    * either duplicate newer ones or name files no longer live. */
  private[graft] def applyDvs(spark: SparkSession, sink: Path,
                              fs: FileSystem,
                       df: DataFrame,
                       dvs: Map[String, String]): DataFrame = {
    if (dvs.isEmpty) return df
    import org.apache.spark.sql.functions.col
    val dv = dvScan(spark, sink, dvs.values.toSeq)
      .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
    val prefix = fs.makeQualified(sink).toUri.getPath + "/"
    df.withColumn("__rel",
        relPathCol(prefix, col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(dv, col("__rel") === col("__dv_file") &&
        col("__pos") === col("__dv_pos"), "left_anti")
      .drop("__rel", "__pos")
  }

  /** Scan `files` (sink-relative) of manifest `m` with its per-file
    * column mapping applied — the LOGICAL-schema view of a sink that
    * has lived through [[SchemaEvolve]] renames/drops/widens/adds.
    * Files group by mapping signature ("schema epoch"); each epoch is
    * ONE scan under the schema record ([[scanFiles]], the group's
    * physical names), whose columns are cast and renamed/dropped by a
    * single simultaneous select (swap-safe), then the epochs union by
    * name with null-fill for additive differences. The epoch count is
    * the number of DISTINCT surviving mappings — one rename of a quiet
    * table is two epochs (pre-rename files, post-rename appends) — so
    * the union never fans out with file count, and with no mapping at
    * all this is exactly one scan, zero overhead. Per-epoch `dvs` are
    * anti-joined inside the branch (metadata identity doesn't survive
    * a union); `identity` materializes `__file_path`/`__row_index`
    * per branch for callers that need per-row provenance across the
    * union (the merge family's touched-file scans). */
  private[graft] def mappedScan(spark: SparkSession, sink: Path,
                                files: Seq[String], m: Manifest,
                                dvs: Map[String, String] = Map.empty,
                                identity: Boolean = false)
  : DataFrame = {
    import org.apache.spark.sql.functions.col
    require(files.nonEmpty, "mappedScan of an empty file list")
    val record = recordedSchema(m.meta)
    // declaration order of metadata-added columns (`#meta
    // schema.addorder`, written by SchemaEvolve's ADD) — without it a
    // map-keyed sort would surface added columns name-ordered and
    // break positional INSERT resolution
    val addOrder: Map[String, Int] = m.meta.get("schema.addorder")
      .map(_.split(',').toSeq.filter(_.nonEmpty).zipWithIndex.toMap)
      .getOrElse(Map.empty)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val groups = files.groupBy(f => (m.colmaps.getOrElse(f, Map.empty),
        m.coltypes.getOrElse(f, Map.empty)))
      .toSeq.sortBy(_._2.head) // deterministic branch order
    val branches = groups.map { case ((mapping, types), gFiles) =>
      val gSet = gFiles.toSet
      var df = scanFiles(spark, sink, gFiles, record, mapping)
      if (identity)
        df = df.withColumn("__file_path", col("_metadata.file_path"))
          .withColumn("__row_index", col("_metadata.row_index"))
      df = applyDvs(spark, sink, fs, df,
        dvs.filter { case (f, _) => gSet(f) })
      // widening casts first (keyed by PHYSICAL name), then the
      // rename/drop mapping in one simultaneous select. A `#coltype`
      // record whose physical column is ABSENT from the scan
      // materializes as a typed NULL column (appended after the
      // physical ones, in `schema.addorder` declaration order) —
      // [[SchemaEvolve.addColumn]]'s metadata-only ADD: pre-ADD files
      // read NULL for the new column with zero bytes rewritten,
      // post-ADD appends carry it physically and need no record
      if (types.nonEmpty) {
        val present = df.columns.toSet
        df = df.select(df.columns.toIndexedSeq.map { c =>
          types.get(c) match {
            case Some(ddl) => col(c).cast(ddl).as(c)
            case None => col(c)
          }
        } ++ types.keysIterator.filterNot(present).toSeq
          // the add-order record tracks LOGICAL names; a later rename
          // leaves the record keyed physical — order through the
          // branch's mapping so renamed added columns keep their slot
          .sortBy { c =>
            val l = mapping.get(c).filter(_.nonEmpty).getOrElse(c)
            (addOrder.getOrElse(l, Int.MaxValue), l)
          }
          .map { c => org.apache.spark.sql.functions.lit(null)
            .cast(types(c)).as(c)
          }: _*)
      }
      if (mapping.isEmpty) df
      else df.select(df.columns.toIndexedSeq.flatMap { c =>
        mapping.get(c) match {
          case Some("") => None // drop tombstone
          case Some(logical) => Some(col(c).as(logical))
          case None => Some(col(c))
        }
      }: _*)
    }
    val unioned =
      branches.reduce(_.unionByName(_, allowMissingColumns = true))
    // canonical order: ADD-ed columns surface at the END in
    // declaration order, whatever epoch happens to lead the union —
    // they were added after every physical column existed, and
    // positional INSERT resolution depends on a stable slot. (The
    // extra projection collapses into the plan.)
    val cols = unioned.columns.toIndexedSeq
    val ordered = addedLast(cols, m.meta)
    if (ordered == cols) unioned else unioned.select(ordered.map(col): _*)
  }

  /** Row-level change data feed between two committed generations,
    * derived from manifests alone — no change files are ever written
    * (the Iceberg/Delta changelog-scan construction): data files are
    * immutable once committed, so every change is visible in the
    * file-set and deletion-vector delta:
    *
    *   - a file only in `toGen` → its rows are INSERTS (minus `toGen`
    *     DV marks: inserted-then-deleted inside the window nets out,
    *     a reader at neither endpoint ever saw it);
    *   - a file only in `fromGen` → its rows as visible AT `fromGen`
    *     (minus `fromGen` DV marks) are DELETES;
    *   - a file in both → positions marked in `toGen`'s DV but not
    *     `fromGen`'s are DELETES (delete sets only grow while a file
    *     is live).
    *
    * An UPDATE appears as its delete + insert halves — exactly a
    * positional changelog without row tracking — unless `keys` is
    * given: then a key with rows on BOTH halves of the window is an
    * update, its delete rows becoming `update_preimage` and its
    * insert rows `update_postimage` (Delta CDF's vocabulary; what
    * MoR-MERGE consumers expect); every other row stays plain
    * insert/delete. The pairing is one pass: the two halves union
    * with their tag and one window over the keys sees whether a key
    * carries both tags, so each changed file is scanned once. A key
    * with a null column never pairs (SQL equality never matches a
    * null). Output is the sink schema plus a `_change_type` column.
    * Cost ∝ changed files + DV sizes, never the table: unchanged
    * files are excluded by set arithmetic on the two manifests before
    * any scan is planned, and an empty window reads only `toGen`'s
    * schema. */
  def changesBetween(spark: SparkSession, sink: String,
                     fromGen: Long, toGen: Long,
                     keys: Seq[String] = Nil): DataFrame = {
    val hPath = new Path(sink)
    changesWithin(spark, sink, generations(
      hPath.getFileSystem(spark.sparkContext.hadoopConfiguration), hPath),
      fromGen, toGen, keys)
  }

  /** [[changesBetween]] against `gens`, a listing of the retained
    * generations the caller already made (a stream window that checked
    * its start generation lists once). */
  private[graft] def changesWithin(spark: SparkSession, sink: String,
                                   gens: Seq[Long], fromGen: Long,
                                   toGen: Long,
                                   keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, max, min, when}
    val hPath = new Path(sink)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fromGen <= toGen, s"fromGen $fromGen > toGen $toGen")
    require(gens.contains(fromGen) && gens.contains(toGen),
      s"generations $fromGen and $toGen must both be retained " +
        s"(have ${gens.mkString(",")})")
    val mA = readManifestFull(fs, hPath, fromGen)
    val mB = readManifestFull(fs, hPath, toGen)
    val aSet = mA.files.toSet
    val bSet = mB.files.toSet
    val added = mB.files.filterNot(aSet)
    val removed = mA.files.filterNot(bSet)
    val common = mA.files.filter(bSet)
    val missing = (added ++ removed ++
      common.filter(f => mA.dvs.contains(f) != mB.dvs.contains(f) ||
        mA.dvs.get(f) != mB.dvs.get(f)))
      .filterNot(r => fs.exists(new Path(hPath, r)))
    require(missing.isEmpty,
      s"changed files were reclaimed (vacuumed): $missing")
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    // every changed file reads under `toGen`'s schema record; files
    // under a column mapping read their physical columns, inferred
    val record = recordedSchema(mB.meta).filter(_ => Seq(mA, mB).forall(
      m => m.colmaps.isEmpty && m.coltypes.isEmpty))
    def withIdentity(files: Seq[String]): DataFrame =
      scanFiles(spark, hPath, files, record)
        .withColumn("__rel",
          relPathCol(prefix, col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
    def dvOf(dvs: Map[String, String],
             files: Seq[String]): Option[DataFrame] = {
      val paths = files.flatMap(dvs.get)
      if (paths.isEmpty) None
      else Some(dvScan(spark, hPath, paths)
        .select(col("file").as("__dv_file"), col("pos").as("__dv_pos")))
    }
    val dvJoin = (l: DataFrame, r: DataFrame, how: String) =>
      l.join(r, col("__rel") === col("__dv_file") &&
        col("__pos") === col("__dv_pos"), how)
    // rows of `files` not marked in `dvs`
    def visible(files: Seq[String], dvs: Map[String, String]): DataFrame =
      dvOf(dvs, files).fold(withIdentity(files))(
        dvJoin(withIdentity(files), _, "left_anti"))
    val insParts = Seq.newBuilder[DataFrame]
    val delParts = Seq.newBuilder[DataFrame]
    if (added.nonEmpty) insParts += visible(added, mB.dvs)
    if (removed.nonEmpty) delParts += visible(removed, mA.dvs)
    val grew = common.filter(f => mB.dvs.get(f) != mA.dvs.get(f) &&
      mB.dvs.contains(f))
    if (grew.nonEmpty) {
      // positions marked at toGen minus those already marked at fromGen
      val marksB = dvOf(mB.dvs, grew).get
      val newMarks = dvOf(mA.dvs, grew).fold(marksB)(marksB.except)
      delParts += dvJoin(withIdentity(grew), newMarks, "left_semi")
    }
    def half(parts: Seq[DataFrame], tag: String): Option[DataFrame] =
      parts.reduceOption(_ unionByName _)
        .map(_.drop("__rel", "__pos").withColumn("_change_type", lit(tag)))
    val ins = half(insParts.result(), "insert")
    val del = half(delParts.result(), "delete")
    (ins, del) match {
      case (None, None) =>
        readAt(spark, sink, toGen).limit(0)
          .withColumn("_change_type", lit(""))
      case (Some(i), Some(d)) if keys.nonEmpty =>
        keys.foreach(k => require(i.columns.contains(k),
          s"changesBetween: key column $k not in the sink schema " +
            s"(${i.columns.mkString(",")})"))
        // Delta-CDF update pairing: a non-null key whose window
        // partition carries both tags lost a row version and gained
        // one inside the window
        val byKey = Window.partitionBy(keys.map(col): _*)
        val tag = col("_change_type")
        val paired = keys.map(col(_).isNotNull).reduce(_ && _) &&
          (min(tag).over(byKey) =!= max(tag).over(byKey))
        i.unionByName(d).withColumn("_change_type",
          when(paired && tag === "insert", lit("update_postimage"))
            .when(paired, lit("update_preimage"))
            .otherwise(tag))
      case _ => Seq(ins, del).flatten.reduce(_ unionByName _)
    }
  }

  /** Bring the sink under log control and return (generation, parsed
    * manifest) — the writer's form of [[latestSnapshot]]: bootstrap
    * generation 0 from the directory listing when no log exists, else
    * read the LATEST manifest — one log-dir listing + one (cached)
    * manifest parse, O(1) regardless of retained history, serving
    * every record family the operator call consults (live files, DVs,
    * colmaps/coltypes, checks, meta, txns, stats) from the generation
    * it commits against. NO deletion of any kind (torn-swap debris is
    * invisible to manifest-resolving readers and is reclaimed only by
    * explicit [[vacuum]] maintenance — a write-path reclaim could
    * destroy a concurrent writer's staged files). Every logged writer
    * calls this FIRST — which is what makes the bootstrap listing
    * trustworthy by induction — and passes the returned generation to
    * [[commitNext]] as its CAS base. A lost bootstrap race adopts the
    * winner's log. */
  private[graft] def ensureSnapshotAt(fs: FileSystem, sink: Path)
  : (Long, Manifest) =
    latestSnapshot(fs, sink).getOrElse {
      // generation 0 records the listed files and the schema their
      // footers carry, inferred this once
      val listed = listedManifest(fs, sink)
      val m = listed.copy(meta = inferredSchema(sink, listed.files)
        .fold(Map.empty[String, String])(s => Map(SchemaKey -> s.toDDL)))
      try (commitNext(fs, sink, -1L, m.files, meta = m.meta), m)
      catch {
        case _: CommitConflictException => latestSnapshot(fs, sink).get
      }
    }

  /** The union of the footer schemas of `files` (one Spark job), for
    * the bootstrap of a never-logged sink — None without files, without
    * an active session, or when the footers do not merge (the sink then
    * reads by inference, as before it was logged). */
  private def inferredSchema(sink: Path,
                             files: Seq[String]): Option[StructType] =
    if (files.isEmpty) None
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap { spark =>
        try Some(nullable(scanFiles(spark, sink, files, None).schema))
        catch { case scala.util.control.NonFatal(_) => None }
      }

  /** [[ensureSnapshotAt]] for callers that need only (generation, live
    * files). */
  def ensureLoggedAt(fs: FileSystem, sink: Path): (Long, Seq[String]) = {
    val (gen, m) = ensureSnapshotAt(fs, sink)
    (gen, m.files)
  }

  /** Writer-side enforcement: refuse `batch` if any row violates any
    * of the snapshot's declared `checks` — called BEFORE a write stages
    * anything, so a violating batch never moves a byte. One filter job
    * per constraint over the BATCH (delta-sized, never the table);
    * free when no constraints are declared. A NULL result counts as a
    * violation (Delta semantics: the constraint must evaluate TRUE). */
  private[graft] def requireChecks(checks: Map[String, String],
                                   batch: DataFrame,
                                   op: String): Unit =
    checks.foreach { case (name, e) =>
      val pass = org.apache.spark.sql.functions.expr(e)
      val offender = batch.filter(
        !org.apache.spark.sql.functions.coalesce(pass,
          org.apache.spark.sql.functions.lit(false))).take(1)
      require(offender.isEmpty,
        s"$op: batch violates CHECK constraint '$name' ($e) — first " +
          s"offender: ${offender.headOption.fold("")(_.toString)}")
    }

  /** Refuse an operator whose scan resolves columns by PHYSICAL name
    * on files carrying a column mapping (the snapshot's `cms`/`cts`) —
    * it would read renamed columns under stale names (mergeSchema
    * unioning old+new names as distinct null-padded columns) or
    * resurrect dropped ones. [[SchemaEvolve.normalize]] is the explicit
    * rewrite that clears the records, exactly as
    * [[DeleteVectors.applyDeletes]] clears DVs for the raw-reading
    * rewrite family. `files = None` guards the whole sink. */
  private[operators] def requireNoColmaps(
      cms: Map[String, Map[String, String]],
      cts: Map[String, Map[String, String]],
      op: String,
      files: Option[Seq[String]] = None): Unit = {
    val mapped = cms.keySet ++ cts.keySet
    val hit = files match {
      case None => mapped.toSeq
      case Some(fl) => fl.filter(mapped)
    }
    require(hit.isEmpty,
      s"$op reads files by physical column name but these carry a " +
        s"column mapping (${hit.sorted.take(3).mkString(", ")}${
          if (hit.size > 3) ", …" else ""}) — run " +
        "SchemaEvolve.normalize first to rewrite them to the logical " +
        "schema")
  }

  /** Fail-loud composition guard for rewrite operators that read live
    * files RAW (explicit file lists without DV application — Merge,
    * Compact, Upsert): rewriting a file whose deletion vector (in the
    * snapshot's `dvs`) still holds unapplied deletes would resurrect
    * the deleted rows into the rewritten output. Such sinks must run
    * [[DeleteVectors.applyDeletes]] first. `files = None` guards the
    * whole sink (operators that scan every live file). */
  private[operators] def requireNoDvs(dvs: Map[String, String],
                                      sink: Path, op: String,
                                      files: Option[Seq[String]] =
                                        None): Unit = {
    val hit = files match {
      case None => dvs.keys.toSeq
      case Some(fl) => fl.filter(dvs.contains)
    }
    require(hit.isEmpty,
      s"$op would rewrite files with unapplied deletion vectors " +
        s"(${hit.sorted.take(3).mkString(", ")}${
          if (hit.size > 3) ", …" else ""}) — run " +
        s"DeleteVectors.applyDeletes on $sink first")
  }

  /** [[ensureLoggedAt]] for callers that only need the live set. */
  def ensureLogged(fs: FileSystem, sink: Path): Seq[String] =
    ensureLoggedAt(fs, sink)._2

  /** The sink's rows, exactly-once: resolved through the latest
    * manifest when one exists (explicit live-file list + `basePath`,
    * so partition columns still materialize from directory names),
    * plain directory read otherwise. This is THE reader the protocol's
    * guarantee is stated for — a plain `spark.read.parquet(sink)` is
    * only equivalent once [[vacuum]] has run. A logged sink reads
    * under its schema record, so files that carry an older (narrower)
    * schema — [[Merge.mergeParquet]]'s lazy schema evolution — read
    * NULLs for the widened columns. `mergeSchema` applies only to the
    * directory read of a never-logged sink. */
  def read(spark: SparkSession, sink: String,
           mergeSchema: Boolean = false): DataFrame = {
    val hPath = new Path(sink)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestSnapshot(fs, hPath) match {
      case None => spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(sink)
      case Some((_, m)) => readSnapshot(spark, sink, fs, m)
    }
  }

  /** The visible rows of one manifest: its live files through their
    * column mappings and deletion vectors, under its schema record —
    * what [[read]] and [[readAt]] return, and the read for a caller
    * already holding the snapshot it commits against. */
  private[graft] def readSnapshot(spark: SparkSession, sink: String,
                                  fs: FileSystem, m: Manifest)
  : DataFrame = {
    val hPath = new Path(sink)
    if (m.files.isEmpty) spark.emptyDataFrame
    else if (m.colmaps.nonEmpty || m.coltypes.nonEmpty)
      mappedScan(spark, hPath, m.files, m, m.dvs)
    else applyDvs(spark, hPath, fs,
      scanFiles(spark, hPath, m.files, recordedSchema(m.meta)), m.dvs)
  }
}
