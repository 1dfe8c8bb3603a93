package graft.sources

import graft.operators.{Bucketing, CommitLog, TableStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast,
  GenericInternalRow, Literal}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  HasPartitionKey, PartitionReader, PartitionReaderFactory, Scan,
  SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The NATIVE V2 batch scan a bucket-declared graft table plans —
  * the read half of storage-partitioned joins.
  *
  * A [[GraftScan]] executes through the V1 bridge
  * (`RowDataSourceScanExec`), which structurally cannot report a
  * partitioning; this scan executes through `BatchScanExec` with
  * per-file parquet readers (the [[GraftMicroBatchStream]] machinery
  * lifted to batch: whole-file splits, in-reader deletion-vector
  * anti-apply, partition values from directory names) and reports
  * `KeyGroupedPartitioning(bucket(n, col))` with every input
  * partition keyed by the bucket id its FILE NAME carries
  * ([[Bucketing.bucketIdOf]] — zero I/O). Spark's
  * `V2ScanPartitioningAndOrdering` resolves the transform through
  * [[GraftCatalog]]'s function catalog ([[GraftBucketFunction]]), and
  * `EnsureRequirements` then plans a join of two same-`(n, key
  * type)`-bucketed graft tables with ZERO exchanges — at 100 TB per
  * side, the difference between a metadata decision and shuffling
  * both tables (`spark.sql.sources.v2.bucketing.enabled=true`;
  * BucketedSpjSpec pins the exchange-free plan and its
  * row-equality with the shuffled join).
  *
  * Planning falls back to the V1 [[GraftScan]] (same rows, shuffled
  * joins) whenever the invariants don't hold — see
  * [[GraftBucketedScan.tryPlan]]; correctness never depends on this
  * scan planning. */
final class GraftBucketedScan private (
    state: GraftState,
    dataRequired: StructType,
    partRequired: StructType,
    partCols: Seq[String],
    bucketCol: String,
    nBuckets: Int,
    val inner: GraftScan,
    dataFilters: Seq[Filter])
  extends Scan with SupportsReportStatistics
  with SupportsReportPartitioning {

  def keptCount: Int = inner.keptFiles.size

  def skippedCount: Int = inner.skippedFiles.size

  /** Distinct bucket ids among kept files — the reported partition
    * count (pruning may have removed whole buckets). */
  val bucketIds: Seq[Int] =
    inner.keptFiles.flatMap(Bucketing.bucketIdOf).distinct.sorted

  override def readSchema(): StructType =
    StructType(dataRequired.fields ++ partRequired.fields)

  override def description(): String =
    s"graft ${state.path} gen=${state.gen} bucketed($bucketCol, " +
      s"$nBuckets) files=${keptCount}/${state.manifest.files.size} " +
      s"buckets=${bucketIds.size}"

  override def estimateStatistics()
  : org.apache.spark.sql.connector.read.Statistics =
    inner.estimateStatistics()

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(nBuckets, bucketCol)),
      bucketIds.size)

  /** Streaming still resolves through this builder's scan — delegate
    * to the V1-shaped stream the plain scan plans. */
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    inner.toMicroBatchStream(checkpointLocation)

  override def toBatch: Batch = new Batch {

    override def planInputPartitions(): Array[InputPartition] = {
      val spark = SparkSession.active
      val hPath = new Path(state.path)
      val fs = hPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val kept = inner.keptFiles
      // deletion positions for the kept DV'd files, loaded driver-side
      // (tryPlan bounded the total marks before choosing this scan)
      val dvByFile: Map[String, Array[Long]] = {
        val withDv = kept.flatMap(f =>
          state.manifest.dvs.get(f).map(f -> _))
        if (withDv.isEmpty) Map.empty
        else {
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
      kept.map { rel =>
        val pv = TableStats.partValuesOf(rel)
        val row = new GenericInternalRow(
          partRequired.fields.map { f =>
            pv.get(f.name) match {
              case None => null
              case Some(TableStats.HiveDefaultPart) => null
              case Some(d) => Cast(
                Literal(UTF8String.fromString(d), StringType),
                f.dataType, Option(tz)).eval(null)
            }
          }.asInstanceOf[Array[Any]])
        GraftBucketedInputPartition(
          new Path(hPath, rel).toString,
          GraftScan.cachedLen(fs, hPath, rel), row,
          dvByFile.getOrElse(rel, Array.empty),
          Bucketing.bucketIdOf(rel).getOrElse(
            throw new IllegalStateException(
              s"bucketed scan planned over unrouted file $rel")))
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val spark = SparkSession.active
      // DV-less files take the FILTERED reader (parquet row-group/
      // page skipping); DV'd files must iterate every row so the
      // row index stays the deletion-vector position domain
      val plain = org.apache.spark.sql.graftbridge.FileReadBridge
        .parquetRowReader(spark, dataRequired, partRequired,
          dataRequired)
      val filtered = org.apache.spark.sql.graftbridge.FileReadBridge
        .parquetRowReader(spark, dataRequired, partRequired,
          dataRequired, dataFilters)
      new GraftBucketedReaderFactory(plain, filtered)
    }
  }

  override def toString: String = description()
}

object GraftBucketedScan {

  /** Driver-side bound on the deletion marks a single bucketed scan
    * may materialize — beyond it the plan falls back to the V1 scan
    * (which anti-joins DVs distributed) rather than ballooning the
    * driver. Same bound as the V2 streaming reader. */
  val MaxScanDvMarks: Long = 8L << 20

  /** The bucketed batch scan for this state/projection, or None when
    * any invariant fails (→ the caller plans the V1 [[GraftScan]]):
    *
    *   - bucketing declared (`#meta bucket.cols/bucket.n`) and the
    *     bucket column's type is bucket-hashable;
    *   - plain layout (no `#colmap`/`#coltype` records — the mapped
    *     scan has no per-partition-reader form, same scope rule as
    *     the V2 streaming reader);
    *   - no row-identity metadata columns in the projection (DML
    *     rewrites read those through the V1 relation);
    *   - a non-empty projection (degenerate count-shapes route to
    *     the aggregate-pushdown scans anyway);
    *   - EVERY kept file carries a conforming bucket name — the
    *     all-or-nothing co-location invariant
    *     ([[Bucketing.guardMeta]] keeps the declaration honest, so
    *     this only fails transiently between a guard-drop and the
    *     snapshot refresh);
    *   - the kept files' total deletion marks are known and bounded.
    */
  private[sources] def tryPlan(state: GraftState,
                               required: StructType,
                               pushed: Array[Filter],
                               allFilters: Array[Filter],
                               options: org.apache.spark.sql.util
                                 .CaseInsensitiveStringMap)
  : Option[GraftBucketedScan] = {
    if (state.gen < 0) return None
    val spec = Bucketing.specOf(state.manifest.meta)
    if (spec.isEmpty) return None
    val (bucketCol, n) = spec.get
    if (state.manifest.colmaps.nonEmpty ||
      state.manifest.coltypes.nonEmpty) return None
    if (required.fields.isEmpty ||
      required.fieldNames.exists(GraftRowLevel.isMetaCol)) return None
    val keyField = state.schema.fields.find(_.name == bucketCol)
    if (!keyField.exists(f =>
      GraftBucketFunction.supported(f.dataType))) return None
    val partCols = {
      val fromFiles =
        CommitLog.partitionColsOf(state.manifest.files)
      if (fromFiles.nonEmpty) fromFiles
      else state.manifest.meta.get("partition.cols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    }
    val inner = new GraftScan(state, required, pushed, allFilters,
      options)
    val kept = inner.keptFiles
    if (kept.isEmpty) return None
    if (!kept.forall(Bucketing.conforms(_, n))) return None
    // every DV'd kept file needs a KNOWN mark count, bounded in total
    val dvd = kept.filter(state.manifest.dvs.contains)
    val marks = dvd.map(f => state.manifest.dvMarks.getOrElse(f, -1L))
    if (marks.exists(_ < 0) || marks.sum > MaxScanDvMarks) return None
    val partRequired = StructType(
      required.fields.filter(f => partCols.contains(f.name)))
    val dataRequired = StructType(
      required.fields.filterNot(f => partCols.contains(f.name)))
    // parquet-pushable subset: convertible conjuncts referencing only
    // data columns (partition predicates were already consumed by
    // file pruning; Spark re-applies the full residual set above)
    val dataNames = dataRequired.fieldNames.toSet ++
      state.schema.fieldNames.filterNot(partCols.contains)
    val dataFilters = allFilters.toSeq.filter(
      _.references.forall(dataNames.contains))
    Some(new GraftBucketedScan(state, dataRequired, partRequired,
      partCols, bucketCol, n, inner, dataFilters))
  }
}

/** One whole data file keyed by its bucket id — `partitionKey` is
  * what Spark's key-grouped planning groups co-located tasks by. */
private[sources] final case class GraftBucketedInputPartition(
    absPath: String, length: Long, partValues: InternalRow,
    deleted: Array[Long], bucketId: Int)
  extends InputPartition with HasPartitionKey {

  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

private[sources] final class GraftBucketedReaderFactory(
    plainReader: org.apache.spark.sql.execution.datasources
      .PartitionedFile => Iterator[InternalRow],
    filteredReader: org.apache.spark.sql.execution.datasources
      .PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketedInputPartition]
    val readerFunc =
      if (p.deleted.isEmpty) filteredReader else plainReader
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
