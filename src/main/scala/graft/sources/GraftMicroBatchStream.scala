package graft.sources

import graft.operators.{CommitLog, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow,
  Literal}
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The commit-log tail as a NATIVE V2 [[MicroBatchStream]] — the
  * non-CDF half of the streaming source, migrated off the V1 `Source`
  * bridge (which remains exactly for the CDF path, whose key-pairing
  * join cannot be a per-partition reader, and as the
  * `spark.sql.streaming.disabledV2MicroBatchReaders` fallback).
  *
  * Same offset algebra as the V1 source ([[GraftSourceOffset]] (gen,
  * snapshot-progress) pairs, byte-identical JSON — checkpoints
  * written by either path restart under the other), same windows
  * (initial snapshot split by `maxFilesPerTrigger`, append-only tail
  * bounded by `maxGensPerTrigger`, `startingVersion`,
  * `ignoreChanges`), same non-append refusals. What V2 adds:
  *
  *   - [[SupportsAdmissionControl.latestOffset]] RECEIVES the
  *     committed start offset, so the rate limiter resumes from the
  *     checkpoint natively — the V1 bridge's best-effort
  *     `graft-offered` sidecar file (and its uncapped-on-restart
  *     fallback) is unnecessary here;
  *   - execution is per-partition parquet readers (one whole-file
  *     split each, deletion-vector positions anti-applied in the
  *     reader) instead of a re-wrapped DataFrame plan — the engine
  *     sees a true DataSourceV2 scan.
  *
  * Scope guard: tables carrying `#colmap`/`#coltype` records plan
  * their reads through [[CommitLog.mappedScan]] (per-epoch renames,
  * casts, unions) which has no per-partition-reader form —
  * [[GraftTable]] withholds the MICRO_BATCH_READ capability for them
  * so Spark resolves the V1 source instead, and a mid-stream
  * evolution fails the window loudly (a restart re-resolves through
  * the V1 path). DV positions load driver-side per window, bounded by
  * [[GraftMicroBatchStream.MaxWindowDvMarks]] — beyond it the window
  * refuses with a compaction hint rather than ballooning the driver. */
private[sources] final class GraftMicroBatchStream(
    state: GraftState,
    required: StructType,
    options: Map[String, String],
    checkpointLocation: String)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  import GraftMicroBatchStream.MaxWindowDvMarks

  private val path = state.path
  private def spark: SparkSession = SparkSession.active
  private def hPath = new Path(path)
  private def fs = hPath.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val startingVersion = options.get("startingVersion")
    .map(_.toLong)
  private val ignoreChanges = options.get("ignoreChanges")
    .exists(_.toBoolean)
  private val maxGensPerTrigger = options.get("maxGensPerTrigger")
    .map(_.toLong)
  private val maxFilesPerTrigger = options.get("maxFilesPerTrigger")
    .map(_.toLong)
  require(maxFilesPerTrigger.forall(_ > 0),
    "graft stream: maxFilesPerTrigger must be positive")

  // output layout: data columns then partition columns — exactly the
  // basePath-discovery order the table schema pins. An EMPTY
  // declared-partitioned table has no file paths to derive the layout
  // from — fall back to the declared `partition.cols` meta record
  // (the same fallback GraftTable.partitioning uses), or the first
  // appended window would read its partition column as NULL (hive
  // layouts store it only in the directory name)
  private val partCols = {
    val fromFiles = CommitLog.partitionColsOf(state.manifest.files)
    if (fromFiles.nonEmpty) fromFiles
    else state.manifest.meta.get("partition.cols")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
  }
  private val partitionSchema = StructType(
    required.fields.filter(f => partCols.contains(f.name)))
  private val dataSchema = StructType(
    required.fields.filterNot(f => partCols.contains(f.name)))

  private type Pos = (Long, Long)
  private def rank(p: Pos): (Long, Long) =
    (p._1, if (p._2 < 0) Long.MaxValue else p._2)
  private def maxPos(a: Pos, b: Pos): Pos =
    if (Ordering[(Long, Long)].gteq(rank(a), rank(b))) a else b
  @volatile private var offered: Option[Pos] = None

  private def posOf(o: Offset): Pos = o match {
    case g: GraftSourceOffset => (g.gen, g.idx)
    case other => GraftSourceOffset.parse(other.json)
  }

  /** Genesis = "nothing delivered": the first window is the full
    * (possibly split) snapshot — the V1 source expressed this as a
    * missing start offset; an explicit sentinel is the V2 spelling. */
  private def genesis = GraftSourceOffset(-1L, -1L)

  override def initialOffset(): Offset =
    startingVersion.map(GraftSourceOffset(_, -1L)).getOrElse(genesis)

  override def deserializeOffset(json: String): Offset = {
    val (g, i) = GraftSourceOffset.parse(json)
    GraftSourceOffset(g, i)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // Trigger.AvailableNow: pin "available" at prepare time so capped
  // draining terminates — latestOffset advances cap-by-cap toward the
  // pinned generation, never past it, and the trigger stops when the
  // offsets stop moving
  @volatile private var availableNowCeiling: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling =
      CommitLog.generations(fs, hPath).lastOption.orElse(Some(-1L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control form")

  // the latest generation the last poll saw: an idle poll stats the
  // next manifest instead of listing the log
  @volatile private var polled: Option[Long] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    polled = CommitLog.latestGeneration(fs, hPath, polled)
    val latestCapped = polled
      .map(l => availableNowCeiling.fold(l)(math.min(l, _)))
      .filter(_ >= 0)
    val base = {
      val s = posOf(start)
      // the committed offset IS visible here (unlike the V1 Source) —
      // the rate limiter can never regress below the checkpoint
      offered = Some(offered.map(maxPos(_, s)).getOrElse(s))
      offered.get
    }
    if (latestCapped.isEmpty) return GraftSourceOffset(base._1, base._2)
    val latest = latestCapped.get
    val next: Pos = base match {
      case (-1L, _) =>
        // fresh stream: pin the snapshot at the current latest
        // generation, split by file count when asked
        val n = CommitLog.manifestAt(fs, hPath, latest)
          .files.size.toLong
        maxFilesPerTrigger match {
          case Some(c) if c < n => (latest, c)
          case _ => (latest, -1L)
        }
      case (g, i) if i >= 0 =>
        // mid-snapshot: advance within the pinned generation's files
        val n = CommitLog.manifestAt(fs, hPath, g).files.size.toLong
        val j = maxFilesPerTrigger.map(c => math.min(n, i + c))
          .getOrElse(n)
        if (j >= n) (g, -1L) else (g, j)
      case (g, _) =>
        (maxGensPerTrigger.map(m => math.min(latest, g + m))
          .getOrElse(latest), -1L)
    }
    val pos = maxPos(base, next)
    offered = Some(pos)
    GraftSourceOffset(pos._1, pos._2)
  }

  /** The window's (file, owning manifest) list — the V1 source's
    * snapshot-slice / tail-window derivation, file-level. */
  private def windowFiles(startPos: Pos, endPos: Pos)
  : Seq[(String, CommitLog.Manifest)] = {
    val (endGen, endIdx) = endPos
    if (endGen < 0) return Nil // genesis → genesis: empty table
    val mEnd = CommitLog.manifestAt(fs, hPath, endGen)
    def tail(g: Long, toGen: Long): Seq[(String, CommitLog.Manifest)] = {
      require(CommitLog.generations(fs, hPath).contains(g),
        s"graft stream: generation $g of $path is expired — the " +
          "stream lagged past retention; restart from a fresh " +
          "checkpoint for a new snapshot")
      val mStart = CommitLog.manifestAt(fs, hPath, g)
      val startSet = mStart.files.toSet
      val endSet = mEnd.files.toSet
      val removed = mStart.files.filterNot(endSet)
      val dvGrew = mStart.files.filter(endSet).filter(f =>
        mEnd.dvs.get(f) != mStart.dvs.get(f))
      if ((removed.nonEmpty || dvGrew.nonEmpty) && !ignoreChanges)
        throw new IllegalStateException(
          s"graft stream: generations $g..$toGen of $path contain " +
            "non-append changes (files removed/rewritten or deletes " +
            "on already-streamed files) — an append-only stream " +
            "cannot represent them; set ignoreChanges=true to " +
            "stream only the appended rows, or restart from a " +
            "fresh checkpoint for a new snapshot")
      mEnd.files.filterNot(startSet).map(_ -> mEnd)
    }
    startPos match {
      case (-1L, _) =>
        val until =
          if (endIdx < 0) mEnd.files.size else endIdx.toInt
        mEnd.files.take(until).map(_ -> mEnd)
      case (g, i) if i >= 0 =>
        val mG = if (g == endGen) mEnd
          else CommitLog.manifestAt(fs, hPath, g)
        val until =
          if (endGen == g && endIdx >= 0) endIdx.toInt
          else mG.files.size
        val snap = mG.files.slice(i.toInt, until).map(_ -> mG)
        if (endGen == g) snap else snap ++ tail(g, endGen)
      case (g, _) =>
        if (endGen <= g) Nil
        else {
          require(endIdx < 0, // offers are monotone
            s"graft stream: tail window $g..$endGen cannot end " +
              s"mid-snapshot (idx=$endIdx)")
          tail(g, endGen)
        }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
  : Array[InputPartition] = {
    val window = windowFiles(posOf(start), posOf(end))
    if (window.isEmpty) return Array.empty
    window.foreach { case (f, m) =>
      if (m.colmaps.contains(f) || m.coltypes.contains(f))
        throw new IllegalStateException(
          s"graft stream: file $f of $path carries schema-evolution " +
            "records (#colmap/#coltype) that landed mid-stream — the " +
            "V2 reader has no per-partition form for the mapped " +
            "scan; restart the stream (a restarted stream resolves " +
            "through the V1 source, which plans the mapped view)")
    }
    // deletion vectors for the window, loaded driver-side (bounded):
    // positions per file, sorted, shipped inside the partitions
    val dvByFile: Map[String, Array[Long]] = {
      val withDv = window.flatMap { case (f, m) =>
        m.dvs.get(f).map(dv => (f, dv, m.dvMarks.getOrElse(f, -1L)))
      }
      if (withDv.isEmpty) Map.empty
      else {
        // a record without the optional mark-count field means the
        // cardinality is UNKNOWN — it must fail the bound, not bypass
        // it (the whole point is never to materialize an unbounded
        // position set on the driver)
        val unknown = withDv.exists(_._3 < 0)
        val knownMarks = withDv.map(_._3).filter(_ >= 0).sum
        require(!unknown && knownMarks <= MaxWindowDvMarks,
          s"graft stream: this window carries " +
            s"${if (unknown) "an unknown number of" else s"$knownMarks"
            } deletion marks (bound: $MaxWindowDvMarks) — compact " +
            "first (CALL system.apply_deletes) or disable the V2 " +
            "reader (spark.sql.streaming.disabledV2MicroBatchReaders) " +
            "to stream through the V1 plan")
        val files = withDv.map(_._1).toSet
        import org.apache.spark.sql.functions.col
        CommitLog.dvScan(spark, hPath, withDv.map(_._2))
          .filter(col("file").isInCollection(files)).collect()
          .groupBy(_.getString(0))
          .map { case (f, rows) =>
            f -> rows.map(_.getLong(1)).sorted
          }
      }
    }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    window.map { case (rel, _) =>
      val pv = TableStats.partValuesOf(rel)
      val row = new GenericInternalRow(
        partitionSchema.fields.map { f =>
          pv.get(f.name) match {
            case None => null
            case Some(TableStats.HiveDefaultPart) => null
            case Some(d) => Cast(
              Literal(UTF8String.fromString(d), StringType),
              f.dataType, Option(tz)).eval(null)
          }
        }.asInstanceOf[Array[Any]])
      val abs = new Path(hPath, rel)
      GraftInputPartition(abs.toString,
        GraftScan.cachedLen(fs, hPath, rel), row,
        dvByFile.getOrElse(rel, Array.empty))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val reader = org.apache.spark.sql.graftbridge.FileReadBridge
      .parquetRowReader(spark, dataSchema, partitionSchema, dataSchema)
    new GraftMicroBatchReaderFactory(reader)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftMicroBatchStream[$path]"
}

private[sources] object GraftMicroBatchStream {

  /** Driver-side bound on a single window's deletion-vector marks —
    * a window with more deletes than this refuses with a compaction
    * hint instead of materializing the positions on the driver. */
  val MaxWindowDvMarks: Long = 8L << 20

  /** Whether a table state can stream through the V2 reader: plain
    * layouts only — schema-evolution records need the mapped
    * DataFrame plan the V1 source builds. */
  def eligible(state: GraftState): Boolean =
    state.gen >= 0 && state.branch.isEmpty &&
      state.manifest.colmaps.isEmpty && state.manifest.coltypes.isEmpty
}

/** One whole data file: its absolute path, length, partition values
  * (in the stream's partition-schema order) and the file's deletion
  * positions (sorted). */
private[sources] final case class GraftInputPartition(
    absPath: String, length: Long, partValues: InternalRow,
    deleted: Array[Long]) extends InputPartition

private[sources] final class GraftMicroBatchReaderFactory(
    readerFunc: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      private val it = readerFunc(
        org.apache.spark.sql.graftbridge.FileReadBridge
          .partitionedFile(p.partValues, p.absPath, p.length))
      private var pos = -1L
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          pos += 1
          // whole-file splits + row-iterator contract make `pos` the
          // file row index — exactly the domain `#dv` positions speak
          if (p.deleted.isEmpty ||
            java.util.Arrays.binarySearch(p.deleted, pos) < 0) {
            current = r
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
