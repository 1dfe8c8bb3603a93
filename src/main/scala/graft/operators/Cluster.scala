package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_distinct, broadcast, coalesce,
  col, expr, lit, shiftleft, shiftright, size, filter => arrFilter}

/** Multi-dimensional clustering — `OPTIMIZE ZORDER BY` (Delta's
  * Z-ordering, the Morton-curve layout every lakehouse engine ships
  * for multi-column pruning): rewrite a logged sink so each output
  * file covers a small HYPERCUBE of the clustering columns' value
  * space instead of a slab of one column. After the rewrite, the
  * manifest's per-file `#stats` bounds are tight on
  * EVERY clustering column, so [[TableStats.pruneIn]] skips files for
  * a selective band on ANY of them — a linear sort can only ever
  * serve its leading column.
  *
  * Mechanics, all shuffle-bounded (never a global window):
  *
  *   1. one distributed aggregate computes 2^bits equi-depth bucket
  *      boundaries per column (`approx_percentile` with a probability
  *      array — ONE job for all columns), broadcast into the bucket
  *      expression as array literals;
  *   2. each row's per-column bucket ids are bit-interleaved into the
  *      Morton key (pure codegen'd shift/mask arithmetic);
  *   3. `repartitionByRange(nFiles, zkey)` + in-partition sort lands
  *      contiguous Z-curve segments as files — equi-depth buckets
  *      make the segments balanced under skew;
  *   4. the new file set REPLACES the live set in one terminal CAS
  *      commit (rewriter semantics — a concurrent writer's commit
  *      makes this one conflict loudly) that also carries the new
  *      files' tight bounds, so no generation shows them unanalyzed.
  *
  * The scan reads through column mappings, widening casts AND
  * deletion vectors ([[CommitLog.mappedScan]]), so like
  * [[SchemaEvolve.normalizeCompact]] the rewrite pays down the whole
  * mapping/DV debt as a side effect.
  *
  * A hive-partitioned sink Z-orders WITHIN each committed partition:
  * the boundary aggregate runs GROUPED by the partition columns (still
  * one job), each partition gets its own equi-depth hypercubes via a
  * broadcast join of the tiny boundary table, and the rewrite stays
  * one range shuffle + one commit — so partition pruning keeps serving
  * the partition columns and the in-partition `#stats` bands serve the
  * clustering columns.
  *
  * At 100 TB: the boundary aggregate is one pass with a tiny result
  * (partitions × cols × 2^bits doubles), the rewrite is one shuffle of
  * the data (the same cost any OPTIMIZE pays), and the pruning payoff
  * compounds — a band of selectivity s on any one of k clustered
  * columns keeps ~s^(1/k)-ish of the files' hypercubes instead of
  * all of them.
  *
  * Caveat on extreme integral domains: boundaries are computed in
  * DOUBLE space, so bigint keys above 2^53 may collapse adjacent
  * boundaries and DEGRADE clustering quality (never correctness —
  * `#stats` bounds are re-derived from the written data). */
object Cluster {

  /** Rewrite `path` Z-ordered by `cols` into ~`nFiles` files, whose
    * stats on the clustering columns (and on every column the table
    * had stats for) ride the rewrite's one commit. Returns (files
    * before, files after). `bitsPerCol` bounds the curve resolution;
    * cols.size × bitsPerCol must fit a long. `keepReplaced = true` skips the
    * post-commit GC so every prior generation stays readable via
    * [[CommitLog.readAt]] — Z-ordering a time-travel sink is then a
    * pure layout optimization ([[Compact.compactSink]]'s contract);
    * the default reclaims the old files immediately. */
  def zorderBy(spark: SparkSession, path: String, cols: Seq[String],
               nFiles: Int, bitsPerCol: Int = 6,
               keepReplaced: Boolean = false,
               failpoint: String => Unit = _ => ()): (Long, Long) = {
    require(cols.size >= 2,
      "zorderBy needs at least two columns — use a plain sorted " +
        "compaction for one")
    require(bitsPerCol >= 1 && bitsPerCol * cols.size <= 62,
      s"bitsPerCol=$bitsPerCol over ${cols.size} columns does not " +
        "fit a long Morton key")
    require(nFiles >= 1, "nFiles must be positive")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (baseGen, snap) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = snap.files
    require(live.nonEmpty, s"zorderBy on an empty sink $path")
    val partCols = CommitLog.partitionColsOf(live)
    require(!cols.exists(partCols.contains),
      s"zorderBy: column(s) ${cols.filter(partCols.contains)
        .mkString(", ")} are PARTITION columns of $path — constant " +
        "within each partition, so clustering on them is meaningless; " +
        "partition pruning already serves them")
    // stats coverage BEFORE the rewrite (records leave with files)
    val priorStatsCols =
      snap.stats.values.flatMap(_.keySet).toSeq.distinct.sorted
    // logical, DV-applied view: the rewrite pays down mapping/DV debt
    val scan = CommitLog.mappedScan(spark, hPath, live, snap.colmaps,
      snap.dvs, coltypes = snap.coltypes)
    val missing = cols.filterNot(scan.columns.contains)
    require(missing.isEmpty,
      s"zorderBy column(s) ${missing.mkString(", ")} not in $path's " +
        s"logical schema ${scan.columns.mkString(", ")}")
    // up-front type check (buildBloom's discipline): a non-numeric
    // column would cast to all-null DOUBLEs and fail later with a
    // misleading "no non-null values" — name the real problem instead
    cols.foreach { c =>
      val dt = scan.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zorderBy: column `$c` is ${dt.catalogString} — equi-depth " +
          "boundaries are computed in DOUBLE space, so clustering " +
          "columns must be numeric; derive a numeric key first " +
          "(e.g. a hash, epoch seconds, or a dictionary code)")
    }
    require(!scan.columns.contains("__z"),
      "zorderBy stages its Morton key as `__z` — a sink column of " +
        "that name would be silently overwritten; rename it first")
    val nBuckets = 1 << bitsPerCol
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val pctExprs = cols.map(c => expr(
      s"approx_percentile(CAST(`$c` AS DOUBLE), " +
        s"array(${probs.mkString(",")}), 10000)").as("__b_" + c))

    // the frame to range-shuffle, carrying `__z`; flat sinks embed the
    // boundaries as literals (codegen-friendly, no join), partitioned
    // sinks attach per-partition boundary arrays via one broadcast
    // join of the tiny grouped-aggregate result
    val keyed: DataFrame =
      if (partCols.isEmpty) {
        // 1) equi-depth boundaries for every column in ONE aggregate
        val row = scan.agg(pctExprs.head, pctExprs.tail: _*).head
        val bounds: Seq[(String, Seq[Double])] = cols.zipWithIndex.map {
          case (c, i) =>
            require(!row.isNullAt(i),
              s"zorderBy: column `$c` has no non-null values to cluster")
            c -> row.getSeq[Double](i)
        }
        // 2) bucket id = #boundaries <= value (equi-depth rank,
        //    0-based; nulls compare null, drop from the filter, land
        //    in bucket 0)
        val bucketOf: Map[String, Column] = bounds.map { case (c, bs) =>
          val arr = org.apache.spark.sql.functions.array(
            bs.distinct.map(lit(_)): _*)
          c -> size(arrFilter(arr, b => b <= col(c).cast("double")))
            .cast("long")
        }.toMap
        scan.withColumn("__z", mortonKey(cols, bitsPerCol, bucketOf))
      } else {
        // 1) per-partition boundaries: the SAME single aggregate job,
        //    grouped by the partition columns — result is tiny
        //    (partitions × cols × 2^bits doubles), validated
        //    driver-side and broadcast back
        val grouped = scan.groupBy(partCols.map(col): _*)
          .agg(pctExprs.head, pctExprs.tail: _*)
        val rows = grouped.collect()
        rows.foreach { r =>
          cols.foreach { c =>
            require(r.getAs[AnyRef]("__b_" + c) != null,
              s"zorderBy: column `$c` has no non-null values to " +
                s"cluster in partition ${partCols.map(p =>
                  s"$p=${r.getAs[AnyRef](p)}").mkString("/")}")
          }
        }
        val boundsDf = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), grouped.schema)
        // 2) per-row bucket ids from the joined boundary arrays
        val bucketOf: Map[String, Column] = cols.map { c =>
          c -> coalesce(
            size(arrFilter(array_distinct(col("__b_" + c)),
              b => b <= col(c).cast("double"))), lit(0)).cast("long")
        }.toMap
        scan.join(broadcast(boundsDf), partCols)
          .withColumn("__z", mortonKey(cols, bitsPerCol, bucketOf))
      }

    val dataCols = scan.columns.toIndexedSeq.map(col)
    // 3) one range shuffle lands contiguous (partition, Z-curve)
    //    segments; the hive layout (if any) is preserved verbatim
    val rangeCols = partCols.map(col) :+ col("__z")
    val staged = keyed
      .repartitionByRange(nFiles, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .select(dataCols: _*)
    val newFiles = CommitLog.stageIn(fs, hPath, "z") { tmp =>
      if (partCols.isEmpty) staged.write.parquet(tmp.toString)
      else staged.write.partitionBy(partCols: _*).parquet(tmp.toString)
    }
    // 4) the new tight hypercube bounds are the whole point: the old
    //    files' records leave with them, so the new files' stats cover
    //    the UNION of the previously covered columns and the clustering
    //    columns — a rewrite must never silently shrink the table's
    //    stats coverage — and ride the one terminal-CAS commit (full
    //    replacement) → GC
    val covered = (priorStatsCols ++ cols).distinct
      .filter(scan.columns.contains)
    CommitLog.swap(fs, hPath, baseGen, live, live, newFiles, failpoint,
      keepReplaced,
      stats = TableStats.plainFileStats(spark, fs, hPath, newFiles,
        covered))
    (live.size.toLong, newFiles.size.toLong)
  }

  /** Morton interleave: bit i of column j lands at i*k + j. */
  private def mortonKey(cols: Seq[String], bitsPerCol: Int,
                        bucketOf: Map[String, Column]): Column = {
    val k = cols.size
    (0 until bitsPerCol).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(bucketOf(c), i).bitwiseAND(lit(1L)), i * k + j))
      }
    }
  }
}
