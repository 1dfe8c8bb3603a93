package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Manifest-resident per-file column statistics — the min/max/null
  * bounds production table formats keep next to each data file (Delta
  * per-file `stats` JSON, Iceberg manifest `lower_bounds`/
  * `upper_bounds`) so a point/band query PRUNES its file list from
  * the manifest alone, before any footer is opened or scan planned.
  * At 10⁶ files that is one cached manifest parse against 10⁶ footer
  * reads.
  *
  *   - [[analyze]] computes the bounds for chosen columns in ONE scan
  *     grouped by `_metadata.file_path` (file-count-sized result) and
  *     commits them as `#stats` overlays; `onlyMissing` makes it an
  *     incremental catch-up pass that touches only never-analyzed
  *     files — an append then costs one delta-sized re-analyze, not a
  *     table pass.
  *   - [[readBand]] is the consumer: live files whose recorded
  *     [min, max] cannot intersect the band are dropped BEFORE the
  *     scan is planned; the exact predicate is re-applied after, so
  *     pruning is pure I/O elision, never a semantics change. Files
  *     with no record survive (conservative), all-null files are
  *     skippable, and deletion vectors still apply — bounds are
  *     computed over RAW rows, a superset of the visible ones, so
  *     pruning stays sound under merge-on-read deletes.
  *   - Stats records are keyed by CURRENT LOGICAL column name:
  *     [[SchemaEvolve.renameColumn]] REKEYS every live file's records
  *     inside the same atomic rename commit and
  *     [[SchemaEvolve.dropColumn]] removes the dropped column's, so a
  *     renamed column keeps pruning with no re-analyze and a
  *     drop-then-rename can never resolve against the dropped
  *     column's stale bounds. [[analyze]] reads mapped files through
  *     their logical view, so evolution never strands a file
  *     unprunable.
  *
  * Stats records carry forward per surviving file automatically
  * ([[CommitLog.commitNext]]), so compaction/merge retire exactly the
  * rewritten files' bounds and an append leaves every untouched file
  * prunable. The reference leans on BigQuery's automatic pruning
  * (`dags/idh_etl.py:247-256`); raw parquet needs the bounds
  * materialized somewhere a planner can read cheaply. */
object TableStats {

  /** Comparison domain of a Spark type, or None when unsupported for
    * stats (nested/binary/array — never pruned, never analyzed). */
  private def domainOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case _: DecimalType => Some("decimal")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("micros")
    case BooleanType => Some("long")
    case _ => None
  }

  /** Encode a NATIVE collected min/max value into its domain's
    * orderable string — numerics (incl. date as epoch day, timestamps
    * as epoch micros, booleans as 0/1) through a plain decimal
    * rendering BigDecimal re-parses, strings verbatim. Aggregation
    * itself runs on the NATIVE type (string min/max would order
    * numbers lexicographically). NaN/Infinity bounds are NOT
    * encodable as decimals — [[analyze]] records None bounds for such
    * files (Delta's NaN trade: the file stays unprunable,
    * conservative), so this throws only on genuinely foreign types. */
  private def encNative(v: Any): String = v match {
    case null => null
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case t: java.sql.Timestamp =>
      (math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L).toString
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case l: java.time.LocalDateTime =>
      (l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L).toString
    case b: java.lang.Boolean => if (b) "1" else "0"
    case bd: java.math.BigDecimal => bd.toPlainString
    case bd: scala.math.BigDecimal => bd.underlying.toPlainString
    case n: java.lang.Number =>
      new java.math.BigDecimal(n.toString).toPlainString
    case other => throw new IllegalArgumentException(
      s"analyze: unencodable bound value $other " +
        s"(${other.getClass.getName})")
  }

  /** Whether a collected bound is a non-finite float/double — Spark's
    * min/max propagate NaN (which sorts ABOVE +Inf in Spark's
    * ordering), and neither NaN nor ±Inf round-trips through the
    * decimal encoding. */
  private def nonFinite(v: Any): Boolean = v match {
    case d: java.lang.Double => d.isNaN || d.isInfinite
    case f: java.lang.Float => f.isNaN || f.isInfinite
    case _ => false
  }

  /** String bounds compare in UTF-8 BYTE order (unsigned), matching
    * how Spark's UTF8String computed the min/max being compared —
    * Java String.compareTo is UTF-16 code-unit order, which DISAGREES
    * above the BMP: a supplementary code point (surrogates 0xD800+)
    * sorts below U+E000..U+FFFF in UTF-16 but above it in UTF-8.
    * Pruning with the wrong order silently drops in-band rows. */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[graft] def cmpEnc(typ: String, a: String, b: String): Int =
    if (typ == "string") cmpUtf8(a, b)
    else new java.math.BigDecimal(a).compareTo(
      new java.math.BigDecimal(b))

  /** Encode a USER band endpoint into the recorded domain. */
  private def encVal(typ: String, v: Any): String = (typ, v) match {
    case ("string", s: String) => s
    case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("date", d: java.time.LocalDate) => d.toEpochDay.toString
    case ("micros", t: java.sql.Timestamp) =>
      (t.getTime * 1000L + (t.getNanos % 1000000) / 1000L).toString
    case ("micros", i: java.time.Instant) =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case ("micros", l: java.time.LocalDateTime) =>
      (l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L).toString
    case (_, b: java.lang.Boolean) => if (b) "1" else "0"
    case (t, n: java.lang.Number) if t != "string" =>
      new java.math.BigDecimal(n.toString).toPlainString
    case _ => throw new IllegalArgumentException(
      s"readBand: cannot encode $v (${v.getClass.getSimpleName}) " +
        s"into stats domain '$typ'")
  }

  /** Per-(file, column) bounds from a scan already carrying a
    * sink-relative `__f` file column — the grouped-aggregation core
    * of [[analyze]], one pass, file-count-sized result. Requested
    * columns absent from this scan's schema (or of a non-stats
    * domain) are silently skipped per branch. */
  /** Whether a column's EXACT per-file sum is recordable: only
    * integral and decimal columns — a float/double sum is
    * order-dependent (fp addition is not associative), so no single
    * "exact" value exists to record. The sum aggregates through
    * decimal(38, s): wide enough that a per-file sum cannot overflow
    * for any realistic file (2⁶³·10⁹ rows fit in 38 digits). */
  private def sumCast(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(DecimalType(38, 0))
    case d: DecimalType => Some(DecimalType(38, d.scale))
    case _ => None
  }

  private def boundsOf(scan: DataFrame, cols: Seq[String])
  : Map[String, Map[String, CommitLog.ColStats]] = {
    val schema = scan.schema
    val typed = cols.filter(schema.fieldNames.contains).flatMap { c =>
      domainOf(schema(c).dataType).map(t =>
        (c, t, sumCast(schema(c).dataType)))
    }
    if (typed.isEmpty) return Map.empty
    val aggs = typed.zipWithIndex.flatMap { case ((c, _, sc), i) =>
      Seq(
        min(col(c)).as(s"__min$i"),
        max(col(c)).as(s"__max$i"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null$i"),
        // approx NDV rides the same grouped pass (HLL partial merge,
        // no extra scan) — the per-file distinct count the V2 column
        // statistics aggregate for CBO join reordering
        approx_count_distinct(col(c)).as(s"__ndv$i")) ++
      sc.map(t => sum(col(c).cast(t)).as(s"__sum$i")).toSeq
    }
    scan.groupBy("__f")
      .agg(count(lit(1)).as("__n"), aggs: _*)
      .collect().map { r =>
        val f = r.getString(r.fieldIndex("__f"))
        val n = r.getLong(r.fieldIndex("__n"))
        f -> typed.zipWithIndex.map { case ((c, t, sc), i) =>
          val mn = Option(r.get(r.fieldIndex(s"__min$i")))
          val mx = Option(r.get(r.fieldIndex(s"__max$i")))
          // a NaN/Infinity bound is unencodable — record None bounds
          // for the file (it never prunes; nNulls < nRows keeps it
          // distinguishable from the all-null skippable case)
          val (eMn, eMx) =
            if (mn.exists(nonFinite) || mx.exists(nonFinite))
              (None, None)
            else (mn.map(encNative), mx.map(encNative))
          val eSum =
            if (sc.isEmpty) None
            else Option(r.get(r.fieldIndex(s"__sum$i")))
              .map(encNative)
          c -> CommitLog.ColStats(t, n,
            r.getLong(r.fieldIndex(s"__null$i")), eMn, eMx, eSum,
            Some(r.getLong(r.fieldIndex(s"__ndv$i"))))
        }.toMap
      }.toMap
  }

  /** ANALYZE: per-(live file, column) row/null counts and min/max
    * bounds for `cols`, committed as `#stats` manifest records — one
    * scan per schema shape over the targeted files, one
    * file-count-sized collect, one commit. `onlyMissing = true`
    * (default) targets only files with no record yet for EVERY
    * requested column — the incremental form an append pipeline
    * runs. [[SchemaEvolve]]-mapped files are analyzed through their
    * LOGICAL view (rename/drop/widen resolved), keyed by logical
    * name — the same keying the pruning lookup and the rename-rekey
    * maintain, so evolution never strands a file unprunable. Bounds
    * are over RAW rows (DVs not applied): a conservative superset,
    * sound under merge-on-read deletes. Returns files analyzed. */
  def analyze(spark: SparkSession, path: String, cols: Seq[String],
              onlyMissing: Boolean = true): Long = {
    require(cols.nonEmpty, "analyze needs at least one column")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    val cms = snap.colmaps
    val cts = snap.coltypes
    val mapped = cms.keySet ++ cts.keySet
    val targets = live.filter { f =>
      !onlyMissing ||
        !cols.forall(snap.stats.getOrElse(f, Map.empty).contains)
    }
    if (targets.isEmpty) return 0L
    val (mappedT, plainT) = targets.partition(mapped)
    val mappedStats: Map[String, Map[String, CommitLog.ColStats]] =
      if (mappedT.isEmpty) Map.empty
      else boundsOf(
        CommitLog.mappedScan(spark, hPath, mappedT, snap,
            identity = true)
          .withColumn("__f", relCol(fs, hPath, col("__file_path")))
          .drop("__file_path", "__row_index"),
        cols)
    val stats = plainFileStats(spark, fs, hPath, plainT, cols,
      CommitLog.recordedSchema(snap.meta)) ++
      mappedStats
    require(stats.nonEmpty,
      s"analyze: none of $cols is a stats-capable column of $path")
    CommitLog.commitNext(fs, hPath, gen, live, stats = stats)
    targets.length.toLong
  }

  /** Scan-derived paths are URI-encoded — [[CommitLog.relPathCol]]
    * decodes them back to the manifest's raw names, or the stats
    * would key under e.g. 'p=NOT%20SPECIFIED/…' and be silently
    * dropped by the commit's carry-forward filter. */
  private def relCol(fs: org.apache.hadoop.fs.FileSystem, hPath: Path,
                     fp: Column): Column =
    CommitLog.relPathCol(fs.makeQualified(hPath).toUri.getPath + "/", fp)

  /** Per-file bounds of `cols` over sink files with no column mapping,
    * keyed by sink-relative name — one grouped pass over exactly
    * `files`, read under the schema `record` ([[CommitLog.scanFiles]]).
    * Empty when `files` is. */
  private[graft] def plainFileStats(spark: SparkSession,
                                    fs: org.apache.hadoop.fs.FileSystem,
                                    hPath: Path, files: Seq[String],
                                    cols: Seq[String],
                                    record: Option[StructType])
  : Map[String, Map[String, CommitLog.ColStats]] =
    if (files.isEmpty) Map.empty
    else boundsOf(
      CommitLog.scanFiles(spark, hPath, files, record)
        .withColumn("__f", relCol(fs, hPath, col("_metadata.file_path"))),
      cols)

  /** Encode a USER value into the recorded domain, None when the
    * value's type cannot map into it (then the file is simply not
    * pruned on that conjunct — unknown, never wrong). */
  private def tryEnc(typ: String, v: Any): Option[String] =
    try Option(encVal(typ, v))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Evaluate a value predicate against a column's recorded bounds:
    * unknown record → true (keep); all-null file → false (no non-null
    * value exists to match); recorded-but-unencodable bounds (NaN
    * files) → true. */
  private def valuePred(csOpt: Option[CommitLog.ColStats])
                       (p: (String, String, String) => Boolean)
  : Boolean = csOpt match {
    case None => true
    case Some(cs) if cs.min.isEmpty || cs.max.isEmpty =>
      cs.nNulls < cs.nRows
    case Some(cs) => p(cs.typ, cs.min.get, cs.max.get)
  }

  /** Whether ANY row of a file with stats `st` can satisfy `f` — the
    * per-file, per-conjunct pruning decision over the public
    * `sources.Filter` vocabulary (exactly what a DataSource V2
    * ScanBuilder is handed). Sound by construction: every uncertain
    * case answers true (keep); only a PROVEN-empty intersection skips.
    * Handled shapes: And/Or, =, <=>, IN, </<=/>/>=, IS [NOT] NULL,
    * and string prefix; everything else never prunes. */
  private[graft] def canMatch(st: Map[String, CommitLog.ColStats],
                              f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => canMatch(st, l) && canMatch(st, r)
    case sources.Or(l, r) => canMatch(st, l) || canMatch(st, r)
    case sources.IsNull(c) => st.get(c).forall(_.nNulls > 0)
    case sources.IsNotNull(c) =>
      st.get(c).forall(cs => cs.nNulls < cs.nRows)
    case sources.EqualTo(c, v) => valuePred(st.get(c)) { (t, mn, mx) =>
      tryEnc(t, v).forall(e =>
        cmpEnc(t, mx, e) >= 0 && cmpEnc(t, mn, e) <= 0)
    }
    case sources.EqualNullSafe(c, v) =>
      if (v == null) st.get(c).forall(_.nNulls > 0)
      else canMatch(st, sources.EqualTo(c, v))
    case sources.In(c, vs) =>
      if (vs == null) true
      else if (vs.isEmpty) false
      else vs.exists(v =>
        if (v == null) st.get(c).forall(_.nNulls > 0)
        else canMatch(st, sources.EqualTo(c, v)))
    case sources.GreaterThan(c, v) =>
      valuePred(st.get(c)) { (t, _, mx) =>
        tryEnc(t, v).forall(e => cmpEnc(t, mx, e) > 0) }
    case sources.GreaterThanOrEqual(c, v) =>
      valuePred(st.get(c)) { (t, _, mx) =>
        tryEnc(t, v).forall(e => cmpEnc(t, mx, e) >= 0) }
    case sources.LessThan(c, v) =>
      valuePred(st.get(c)) { (t, mn, _) =>
        tryEnc(t, v).forall(e => cmpEnc(t, mn, e) < 0) }
    case sources.LessThanOrEqual(c, v) =>
      valuePred(st.get(c)) { (t, mn, _) =>
        tryEnc(t, v).forall(e => cmpEnc(t, mn, e) <= 0) }
    case sources.StringStartsWith(c, prefix) =>
      valuePred(st.get(c)) { (t, mn, mx) =>
        // prefixed values live in [prefix, successor(prefix)): they
        // can exist iff max >= prefix AND (min <= prefix or min is
        // itself prefixed) — min above every prefixed value means none
        t != "string" || (cmpUtf8(mx, prefix) >= 0 &&
          (mn.startsWith(prefix) || cmpUtf8(mn, prefix) < 0))
      }
    case _ => true
  }

  /** Hive default-partition marker — the directory name Spark/Hive
    * write for a NULL (or empty-string) partition value. */
  private[graft] val HiveDefaultPart = "__HIVE_DEFAULT_PARTITION__"

  /** A file's partition values from its sink-relative path's `k=v`
    * levels, unescaped — metadata the manifest already carries in the
    * file NAME, so a partitioned sink prunes on its partition columns
    * with no ANALYZE at all. */
  private[graft] def partValuesOf(f: String): Map[String, String] =
    f.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
      val k = seg.takeWhile(_ != '=')
      val v = seg.drop(k.length + 1)
      k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(v)
    }.toMap

  /** Compare a partition directory's (unescaped) value string against
    * a user value — None when the comparison cannot be made SOUNDLY
    * (then the file is kept): strings compare in UTF-8 byte order
    * (matching Spark's ordering), integral types and dates parse and
    * compare as values (a "02" directory equals user value 2 —
    * string-form comparison would misprune external layouts), and
    * fractional/timestamp types never compare (their renderings are
    * not canonical enough to trust). */
  private def cmpPart(dir: String, v: Any): Option[Int] = v match {
    case null => None
    case s: String => if (s.isEmpty) None else Some(cmpUtf8(dir, s))
    case n: java.lang.Byte => cmpPartLong(dir, n.longValue)
    case n: java.lang.Short => cmpPartLong(dir, n.longValue)
    case n: java.lang.Integer => cmpPartLong(dir, n.longValue)
    case n: java.lang.Long => cmpPartLong(dir, n.longValue)
    case d: java.sql.Date =>
      try Some(java.time.LocalDate.parse(dir).compareTo(d.toLocalDate))
      catch { case scala.util.control.NonFatal(_) => None }
    case d: java.time.LocalDate =>
      try Some(java.time.LocalDate.parse(dir).compareTo(d))
      catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  private def cmpPartLong(dir: String, v: Long): Option[Int] =
    try Some(java.lang.Long.compare(dir.toLong, v))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Whether ANY row of a file with partition values `pv` can satisfy
    * `f` — the partition-level twin of [[canMatch]], same
    * keep-on-uncertainty contract. A column absent from `pv` never
    * prunes here (it is a data column — [[canMatch]]'s job); the
    * null-partition marker matches only IS NULL. */
  private[graft] def canMatchPart(pv: Map[String, String],
                                  f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => canMatchPart(pv, l) && canMatchPart(pv, r)
    case sources.Or(l, r) => canMatchPart(pv, l) || canMatchPart(pv, r)
    case sources.IsNull(c) =>
      pv.get(c).forall(_ == HiveDefaultPart)
    case sources.IsNotNull(c) =>
      pv.get(c).forall(_ != HiveDefaultPart)
    case sources.EqualTo(c, v) => pv.get(c).forall { d =>
      d != HiveDefaultPart && cmpPart(d, v).forall(_ == 0)
    }
    case sources.EqualNullSafe(c, v) =>
      if (v == null) pv.get(c).forall(_ == HiveDefaultPart)
      else canMatchPart(pv, sources.EqualTo(c, v))
    case sources.In(c, vs) =>
      if (vs == null) true
      else if (vs.isEmpty) false
      else vs.exists { v =>
        if (v == null) pv.get(c).forall(_ == HiveDefaultPart)
        else canMatchPart(pv, sources.EqualTo(c, v))
      }
    case sources.GreaterThan(c, v) => pv.get(c).forall { d =>
      d != HiveDefaultPart && cmpPart(d, v).forall(_ > 0)
    }
    case sources.GreaterThanOrEqual(c, v) => pv.get(c).forall { d =>
      d != HiveDefaultPart && cmpPart(d, v).forall(_ >= 0)
    }
    case sources.LessThan(c, v) => pv.get(c).forall { d =>
      d != HiveDefaultPart && cmpPart(d, v).forall(_ < 0)
    }
    case sources.LessThanOrEqual(c, v) => pv.get(c).forall { d =>
      d != HiveDefaultPart && cmpPart(d, v).forall(_ <= 0)
    }
    case sources.StringStartsWith(c, prefix) => pv.get(c).forall { d =>
      d != HiveDefaultPart && d.startsWith(prefix)
    }
    case _ => true
  }

  /** STRICT twin of [[canMatchPart]]: whether EVERY row of a file
    * with partition values `pv` provably satisfies `f` — rows of one
    * file all share their partition value, so a decidable comparison
    * against the directory value decides the predicate for the whole
    * file. Returns false on any uncertainty (column absent from the
    * path, undecidable rendering, unsupported node): the caller must
    * then keep the filter as a residual. The null-partition marker
    * reads back as NULL, so it satisfies only IS NULL / `<=> NULL`. */
  private[graft] def allRowsMatchPart(pv: Map[String, String],
                                      f: sources.Filter): Boolean =
    f match {
      case sources.And(l, r) =>
        allRowsMatchPart(pv, l) && allRowsMatchPart(pv, r)
      case sources.Or(l, r) =>
        allRowsMatchPart(pv, l) || allRowsMatchPart(pv, r)
      case sources.IsNull(c) => pv.get(c).contains(HiveDefaultPart)
      case sources.IsNotNull(c) =>
        pv.get(c).exists(_ != HiveDefaultPart)
      case sources.EqualTo(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).contains(0))
      case sources.EqualNullSafe(c, null) =>
        pv.get(c).contains(HiveDefaultPart)
      case sources.EqualNullSafe(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).contains(0))
      case sources.In(c, vs) => vs != null && pv.get(c).exists(d =>
        d != HiveDefaultPart && vs.exists(v =>
          v != null && cmpPart(d, v).contains(0)))
      case sources.GreaterThan(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).exists(_ > 0))
      case sources.GreaterThanOrEqual(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).exists(_ >= 0))
      case sources.LessThan(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).exists(_ < 0))
      case sources.LessThanOrEqual(c, v) => pv.get(c).exists(d =>
        d != HiveDefaultPart && cmpPart(d, v).exists(_ <= 0))
      case sources.StringStartsWith(c, prefix) => pv.get(c).exists(d =>
        d != HiveDefaultPart && d.startsWith(prefix))
      case _ => false
    }

  /** Whether the hive layout alone FULLY enforces `f` for a snapshot
    * with live files `files`: every file either provably matches no
    * row (so [[pruneIn]] skips it for this very filter) or provably
    * matches ALL rows. A scan may then drop `f` from its residual set
    * — the pruning decision IS the predicate — which is what lets an
    * aggregate push below a partition-filtered read. An empty
    * snapshot is trivially exact. */
  private[graft] def exactlyHandledByLayout(files: Seq[String],
                                            f: sources.Filter)
  : Boolean =
    files.forall { file =>
      val pv = partValuesOf(file)
      !canMatchPart(pv, f) || allRowsMatchPart(pv, f)
    }

  /** Whether `f` can contribute to manifest pruning at all — the
    * subset a V2 scan advertises as pushed. */
  private[graft] def prunable(f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => prunable(l) || prunable(r)
    case sources.Or(l, r) => prunable(l) && prunable(r)
    case _: sources.EqualTo | _: sources.EqualNullSafe |
         _: sources.In | _: sources.GreaterThan |
         _: sources.GreaterThanOrEqual | _: sources.LessThan |
         _: sources.LessThanOrEqual | _: sources.IsNull |
         _: sources.IsNotNull | _: sources.StringStartsWith => true
    case _ => false
  }

  /** Manifest-only pruning decision for a CONJUNCTION of filters:
    * (files that must be scanned, files provably irrelevant). A file
    * skips when any single conjunct proves no row can match — against
    * its `#stats` bounds AND against its hive-partition path values
    * (so a partitioned sink prunes on partition columns with NO
    * ANALYZE at all) — or when its `#dv` mark count equals its
    * recorded row count (every row deleted — zero visible rows
    * without opening the DV). Unknown files (no stats record, no
    * partition level for the column) always survive. Stats records
    * are keyed by CURRENT LOGICAL column name — [[SchemaEvolve]]
    * rekeys them inside the same rename/drop commit — so the lookup
    * needs no per-file mapping resolution. */
  def pruneFiles(fs: org.apache.hadoop.fs.FileSystem, sink: Path,
                 filters: Seq[sources.Filter])
  : (Seq[String], Seq[String]) =
    pruneSnapshot(fs, sink, CommitLog.readView(fs, sink), filters)

  /** [[pruneFiles]] over one snapshot's manifest: the free
    * (manifest-only) prunes, then the Bloom tier. */
  private def pruneSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                            sink: Path, m: CommitLog.Manifest,
                            filters: Seq[sources.Filter])
  : (Seq[String], Seq[String]) = {
    val (kept, skipped) = pruneIn(m.files, m.stats, m.dvMarks, filters)
    // second tier: Bloom point-lookup evidence on whatever survived
    // the free (manifest-only) prunes — costs one small sidecar read
    // per surviving indexed file, only for =/IN conjuncts
    val (kept2, bloomSkipped) = bloomPruneIn(fs, sink, kept, m.blooms,
      m.colmaps, filters)
    (kept2, skipped ++ bloomSkipped)
  }

  /** [[pruneFiles]] against an EXPLICIT snapshot's records — the form
    * a pinned-generation reader (V2 table, time travel) uses so the
    * decision never races a concurrent commit. */
  private[graft] def pruneIn(files: Seq[String],
                             stats: Map[String,
                               Map[String, CommitLog.ColStats]],
                             marks: Map[String, Long],
                             filters: Seq[sources.Filter])
  : (Seq[String], Seq[String]) =
    files.partition { f =>
      val st = stats.getOrElse(f, Map.empty)
      val pv = partValuesOf(f)
      val fullyDeleted = marks.get(f).exists(m =>
        st.values.headOption.exists(_.nRows == m))
      !fullyDeleted && filters.forall(flt =>
        canMatch(st, flt) && canMatchPart(pv, flt))
    }

  // ---- Bloom point-lookup index (#bloom sidecars) ----

  /** Build per-(file, column) Bloom-filter indexes and commit their
    * `#bloom` records — point-lookup pruning for the layout min/max
    * CANNOT serve: hash-scattered or append-ordered files all span
    * the full key range, so a `k = v` probe keeps every file on
    * bounds evidence, while the Bloom filter knows which few files
    * can actually hold `v` (Delta's Bloom index / Iceberg puffin
    * role). One pass over the key columns ([[graft.plans
    * .BloomFilterAgg]] grouped by file — partial filters build
    * map-side, the exchange carries filters, never rows); sidecars
    * land under [[CommitLog.BloomDirName]] and ONE commit publishes
    * the records. Incremental by default: only files missing a
    * record for some column are read (the analyze catch-up shape),
    * so maintaining the index after appends costs ∝ new files.
    *
    * Records key by the file's PHYSICAL column name (immutable per
    * file) — renames never rewrite or invalidate them, and a reused
    * logical name can never mis-prune. Values normalize as
    * [[graft.plans.BloomFilterAgg.update]] documents (integrals →
    * long, strings → UTF-8 bytes). Filters are over RAW rows (DVs
    * not applied): a superset, sound as DVs grow. Integral and
    * string columns only — loud otherwise. Returns files indexed. */
  def buildBloom(spark: SparkSession, path: String, cols: Seq[String],
                 expectedKeysPerFile: Long = 1000000L,
                 fpp: Double = 0.01,
                 onlyMissing: Boolean = true): Long = {
    require(cols.nonEmpty, "buildBloom needs at least one column")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    if (live.isEmpty) return 0L
    val cms = snap.colmaps
    val existing = snap.blooms
    def physOf(f: String, logical: String): String =
      cms.getOrElse(f, Map.empty)
        .collectFirst { case (p, l) if l == logical => p }
        .getOrElse(logical)
    val targets = live.filter { f =>
      !onlyMissing || !cols.forall(c =>
        existing.getOrElse(f, Map.empty).contains(physOf(f, c)))
    }
    if (targets.isEmpty) return 0L
    val scan = CommitLog.mappedScan(spark, hPath, targets, snap,
      identity = true)
    cols.foreach { c =>
      require(scan.columns.contains(c),
        s"buildBloom: no column `$c` in $path's logical schema")
      scan.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.StringType => ()
        case t => throw new IllegalArgumentException(
          s"buildBloom: `$c` is ${t.sql} — Bloom point-lookup " +
            "indexes cover integral and string keys")
      }
    }
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    // decoded like analyze's — see the relCol note there
    def relCol(fp: Column): Column = CommitLog.relPathCol(prefix, fp)
    val aggs = cols.map(c => graft.plans.BloomFilterAgg(col(c),
      expectedKeysPerFile, fpp).as(c))
    val rows = scan
      .withColumn("__f", relCol(col("__file_path")))
      .groupBy("__f")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    fs.mkdirs(new Path(hPath, CommitLog.BloomDirName))
    val overlay = rows.map { r =>
      val f = r.getString(0)
      f -> cols.zipWithIndex.map { case (c, i) =>
        val bytes = r.getAs[Array[Byte]](i + 1)
        val rel = CommitLog.BloomDirName + "/" +
          java.util.UUID.randomUUID().toString + ".bloom"
        val out = fs.create(new Path(hPath, rel), false)
        try out.write(bytes) finally out.close()
        physOf(f, c) -> rel
      }.toMap
    }.toMap
    CommitLog.commitNext(fs, hPath, gen, live, blooms = overlay)
    targets.length.toLong
  }

  /** Probe-side value normalization — MUST mirror
    * [[graft.plans.BloomFilterAgg.update]]; unknown types keep. */
  private def bloomMightContain(
      bf: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean =
    v match {
      case null => true
      case n: Byte => bf.mightContainLong(n.toLong)
      case n: Short => bf.mightContainLong(n.toLong)
      case n: Int => bf.mightContainLong(n.toLong)
      case n: Long => bf.mightContainLong(n)
      case s: String => bf.mightContainBinary(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => true
    }

  /** Bloom tier of the pruning decision: drop `kept` files whose
    * index PROVES an =/IN conjunct cannot match (no false negatives
    * → never wrong; anything uncertain keeps). Reads one sidecar per
    * (surviving indexed file, filter column) — driver-side,
    * KB-sized, cached per call; an unreadable sidecar keeps the
    * file. Filter columns resolve to each file's PHYSICAL name
    * through its `#colmap`, so the lookup is rename-proof. */
  private[graft] def bloomPruneIn(
      fs: org.apache.hadoop.fs.FileSystem, sink: Path,
      kept: Seq[String],
      blooms: Map[String, Map[String, String]],
      colmaps: Map[String, Map[String, String]],
      filters: Seq[sources.Filter]): (Seq[String], Seq[String]) = {
    if (blooms.isEmpty || filters.isEmpty) return (kept, Nil)
    val cache = scala.collection.mutable.Map.empty[
      String, Option[org.apache.spark.util.sketch.BloomFilter]]
    def filterOf(rel: String)
    : Option[org.apache.spark.util.sketch.BloomFilter] =
      cache.getOrElseUpdate(rel,
        try {
          val in = fs.open(new Path(sink, rel))
          try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None })
    def canMatch(f: String, flt: sources.Filter): Boolean = {
      def probe(a: String, vs: Seq[Any]): Boolean = {
        val phys = colmaps.getOrElse(f, Map.empty)
          .collectFirst { case (p, l) if l == a => p }.getOrElse(a)
        blooms.getOrElse(f, Map.empty).get(phys)
          .flatMap(filterOf) match {
          case None => true
          case Some(bf) => vs.exists(bloomMightContain(bf, _))
        }
      }
      flt match {
        case sources.EqualTo(a, v) => probe(a, Seq(v))
        case sources.EqualNullSafe(a, v) if v != null => probe(a, Seq(v))
        case sources.In(a, vs) => vs.isEmpty || probe(a, vs.toSeq)
        case sources.And(l, r) => canMatch(f, l) && canMatch(f, r)
        case sources.Or(l, r) => canMatch(f, l) || canMatch(f, r)
        case _ => true
      }
    }
    kept.partition(f => filters.forall(canMatch(f, _)))
  }

  /** [[pruneFiles]] for the closed band `column ∈ [lo, hi]` — the
    * original single-column entry point, kept as sugar. */
  def pruneBand(fs: org.apache.hadoop.fs.FileSystem, sink: Path,
                column: String, lo: Any, hi: Any)
  : (Seq[String], Seq[String]) =
    pruneFiles(fs, sink, bandFilters(column, lo, hi))

  private def bandFilters(column: String, lo: Any, hi: Any)
  : Seq[sources.Filter] =
    Seq(sources.GreaterThanOrEqual(column, lo),
      sources.LessThanOrEqual(column, hi))

  /** Manifest-pruned band read: plan the scan over ONLY the files
    * whose bounds can hold `column ∈ [lo, hi]`, apply deletion
    * vectors, then re-apply the exact predicate — identical rows to
    * the unpruned filter, minus the skipped files' I/O. */
  def readBand(spark: SparkSession, path: String, column: String,
               lo: Any, hi: Any): DataFrame =
    readWhere(spark, path, bandFilters(column, lo, hi),
      col(column) >= lit(lo) && col(column) <= lit(hi))

  /** Manifest-pruned CONJUNCTIVE read: prune one snapshot's file list
    * as [[pruneFiles]] does, scan exactly the kept files under that
    * snapshot's mapping/DV/coltype records, then re-apply the exact
    * predicate column — the multi-column generalization of
    * [[readBand]]. */
  def readWhere(spark: SparkSession, path: String,
                filters: Seq[sources.Filter],
                predicate: Column): DataFrame = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = CommitLog.readView(fs, hPath)
    val (keep, _) = pruneSnapshot(fs, hPath, m, filters)
    if (keep.isEmpty)
      return CommitLog.readSnapshot(spark, path, fs, m).filter(predicate)
        .limit(0)
    val keepSet = keep.toSet
    CommitLog.mappedScan(spark, hPath, keep, m,
      m.dvs.filter { case (f, _) => keepSet(f) })
      .filter(predicate)
  }
}
