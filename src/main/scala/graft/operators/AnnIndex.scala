package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COMMITTED ANN index — IVF centroids, per-file cell-assignment
  * postings, and (tier 2) PQ codebooks + codes as table-format
  * citizens, so approximate top-k serves from committed artifacts
  * instead of retraining per query lineage (the
  * FAISS-index-next-to-the-table pattern, manifest-tracked the way
  * Delta tracks its Bloom indexes):
  *
  *   - `#meta ann.<col>.centroids` names the TRAINED centroid sidecar
  *     (`_graft_ann/...-centroids`, the [[Similarity.kmeansCentroids]]
  *     output schema `(cid, ce, cn)`) — trained ONCE over the table
  *     (optionally on a seeded SAMPLE — `sampleFraction` decouples
  *     training cost from table size at 100 TB; assignment still
  *     covers every row) and reused verbatim by every later catch-up
  *     and probe;
  *   - `#ann\t<file>\t<physCol>\t<sidecarRel>` records, one per data
  *     file, name the postings sidecar holding that file's rows as
  *     `(file, pos, did, de, dn, cid)` — quantized vectors
  *     pre-assigned to their nearest committed centroid. Physical
  *     column keying and carry-per-surviving-file follow `#bloom`: a
  *     rename never invalidates, a rewrite retires exactly the
  *     rewritten files' postings (their rows in a shared sidecar are
  *     excluded by the file-liveness semi-join, and the sidecar
  *     itself becomes [[CommitLog.vacuum]] debris once no record
  *     names it);
  *   - `#meta ann.<col>.pq` (+ `.pq.m`, `.pq.dims`) names the trained
  *     PQ CODEBOOK sidecar (`(m, cid, ce, cn)` per subspace — the
  *     [[Similarity.pqTopK]] codebook discipline: integer slices,
  *     exact sum/count recentering), and `#ann` records keyed
  *     `<physCol>#pq` name per-file CODE sidecars
  *     (`(file, pos, did, m, code)`) — the memory-light serving tier.
  *
  * INCREMENTAL by construction: [[build]]/[[buildPq]] target only
  * files lacking a record (the `ANALYZE onlyMissing` shape), so
  * maintaining the index after appends costs ∝ new files and never
  * retrains. Postings are over RAW rows (DVs not applied — the
  * `#stats`/`#bloom` superset discipline, sound as deletes grow);
  * serving anti-joins the manifest's deletion vectors so deleted rows
  * never surface as candidates.
  *
  * HYBRID serving (no all-or-nothing gap): a live file with no
  * committed record does not refuse the probe — [[topK]]/[[topKPq]]
  * inline-assign (and, for PQ, inline-encode) exactly the uncovered
  * remainder against the COMMITTED artifacts, so the table serves
  * correctly the moment an append commits and the next
  * [[build]]/[[buildPq]] merely re-materializes what serving computed
  * inline. Results are ≡ the full-coverage index by construction
  * (same centroids, same codebooks, same assignment expressions —
  * AnnIndexSpec pins it).
  *
  * 100 TB shape: centroids/codebooks are tiny and broadcast; postings
  * I/O is ∝ corpus (the index IS the corpus projection), the probe
  * shuffles only cell-matched candidates, and PQ serving carries
  * integer codes instead of vectors. The reference has no ANN
  * surface; this generalizes its batch-analytics role to the
  * embedding workloads a training-data pipeline serves. */
object AnnIndex {

  private def centroidKey(column: String) = s"ann.$column.centroids"
  private def kKey(column: String) = s"ann.$column.k"
  private def pqKey(column: String) = s"ann.$column.pq"
  private def pqMKey(column: String) = s"ann.$column.pq.m"
  private def pqDimsKey(column: String) = s"ann.$column.pq.dims"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def physOf(m: Map[String, String], logical: String): String =
    m.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  private def centroidsOf(spark: SparkSession, hPath: Path,
                          rel: String): DataFrame =
    spark.read.parquet(new Path(hPath, rel).toString)
      .select(col("cid"), col("ce"), col("cn"))

  /** Inline IVF assignment of `files`' rows against the committed
    * centroids — the (file, pos, did, de, dn, cid) shape `#ann`
    * postings carry, computed the IDENTICAL way [[build]] computes
    * them (which is what makes hybrid serving ≡ the index). */
  private def assignFiles(spark: SparkSession, hPath: Path,
                          files: Seq[String],
                          cms: Map[String, Map[String, String]],
                          cts: Map[String, Map[String, String]],
                          meta: Map[String, String],
                          column: String, idColumn: String,
                          centroids: DataFrame): DataFrame = {
    val fs = fsOf(spark, hPath)
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    val scan = CommitLog.mappedScan(spark, hPath, files, cms,
      identity = true, coltypes = cts, meta = meta)
    val rows = scan.select(
        struct(
          CommitLog.relPathCol(prefix, col("__file_path"))
            .as("file"),
          col("__row_index").as("pos"),
          col(idColumn).cast("long").as("did")).as("rid"),
        Similarity.quantize(col(column)).as("de"))
      .withColumn("dn", Similarity.dotQ(col("de"), col("de")))
    Similarity.assignToCells(rows, "rid", "de", "dn", keep = 1,
        centroids)
      .select(col("rid.file").as("file"), col("rid.pos").as("pos"),
        col("rid.did").as("did"), col("de"), col("dn"), col("cid"))
  }

  /** Build (or catch up) the committed index for `column`: train
    * centroids once if the table has none (on a seeded
    * `sampleFraction` of the corpus when < 1.0 — the 100 TB path:
    * training cost ∝ sample, assignment still covers every row), then
    * index exactly the record-less files, land postings as ONE
    * sidecar, and publish everything in ONE commit. Returns files
    * indexed. */
  def build(spark: SparkSession, path: String,
            column: String = "embedding", idColumn: String = "vec_id",
            numCentroids: Int = 16, iters: Int = 2,
            sampleFraction: Double = 1.0): Long = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"ann build: sampleFraction $sampleFraction out of (0, 1]")
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (gen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    require(live.nonEmpty, s"ann build on an empty sink $path")
    val meta = m.meta
    val cms = m.colmaps
    val cts = m.coltypes
    // 1. centroids: train ONCE over the current table, reuse forever
    // (catch-ups assign against the committed centroids — an index
    // whose cells drift per build would not be an index)
    val (centroidRel, trainedNow) = meta.get(centroidKey(column)) match {
      case Some(rel) => (rel, false)
      case None =>
        val full = CommitLog.readSnapshot(spark, path, fs, m)
          .select(col(idColumn).cast("long").as("vec_id"),
            col(column).as("embedding"))
        // seeded sample → deterministic training set; k-means seeds
        // are the sample's first N by id, so the trained artifact is
        // reproducible for a given snapshot + fraction
        val corpus =
          if (sampleFraction >= 1.0) full
          else full.sample(withReplacement = false, sampleFraction,
            seed = 42L)
        val cents = Similarity.kmeansCentroids(corpus, numCentroids,
          iters)
        val rel = CommitLog.AnnDirName + "/" +
          java.util.UUID.randomUUID().toString + "-centroids"
        graft.io.Sources.internalWriter(cents.coalesce(1))
          .parquet(new Path(hPath, rel).toString)
        (rel, true)
    }
    // 2. catch-up: exactly the files with no record for the column
    val targets = live.filter { f =>
      val phys = physOf(cms.getOrElse(f, Map.empty), column)
      !m.anns.getOrElse(f, Map.empty).contains(phys)
    }
    if (targets.isEmpty && !trainedNow) return 0L
    val newRecs: Map[String, Map[String, String]] =
      if (targets.isEmpty) Map.empty
      else {
        val rel = CommitLog.AnnDirName + "/" +
          java.util.UUID.randomUUID().toString
        // postings file count ∝ bytes, never task count
        // (Sources.sizedForWrite — guide §2.2/§6)
        graft.io.Sources.internalWriter(graft.io.Sources.sizedForWrite(
            assignFiles(spark, hPath, targets, cms, cts, meta, column,
              idColumn, centroidsOf(spark, hPath, centroidRel))))
          .parquet(new Path(hPath, rel).toString)
        targets.map { f =>
          f -> Map(physOf(cms.getOrElse(f, Map.empty), column) -> rel)
        }.toMap
      }
    // 3. one commit publishes centroid pointer + postings records
    CommitLog.commitNext(fs, hPath, gen, live, anns = newRecs,
      meta = if (trainedNow)
        Map(centroidKey(column) -> centroidRel,
          kKey(column) -> numCentroids.toString)
      else Map.empty)
    targets.size.toLong
  }

  /** The HYBRID visible-row source serving reads from: committed
    * postings for covered live files (liveness semi-join against
    * shared sidecars), inline assignment for the uncovered remainder,
    * deletion vectors anti-joined from both. Returns the
    * (file, pos, did, de, dn, cid) frame plus how many files were
    * served inline (0 = fully committed coverage). */
  private def visibleRows(spark: SparkSession, hPath: Path,
                          m: CommitLog.Manifest, column: String,
                          idColumn: String, centroids: DataFrame)
  : (DataFrame, Int) = {
    import spark.implicits._
    val cms = m.colmaps
    val (covered, uncovered) = m.files.partition { f =>
      m.anns.getOrElse(f, Map.empty)
        .contains(physOf(cms.getOrElse(f, Map.empty), column))
    }
    val committed: Option[DataFrame] =
      if (covered.isEmpty) None
      else {
        val rels = covered.flatMap(f => m.anns(f).get(
          physOf(cms.getOrElse(f, Map.empty), column)))
          .distinct.sorted
        val posts = spark.read.parquet(
          rels.map(r => new Path(hPath, r).toString): _*)
        // liveness: a shared sidecar may hold rows of files since
        // rewritten out of the manifest — keep exactly the live set
        Some(posts.join(broadcast(covered.toDF("file")), Seq("file"),
          "left_semi"))
      }
    val inline: Option[DataFrame] =
      if (uncovered.isEmpty) None
      else Some(assignFiles(spark, hPath, uncovered, cms, m.coltypes,
        m.meta, column, idColumn, centroids))
    val rows = (committed, inline) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return (
        spark.emptyDataset[(String, Long, Long, Array[Long], Long,
          Long)].toDF("file", "pos", "did", "de", "dn", "cid"),
        0)
    }
    // deleted rows must never be candidates
    val vis =
      if (m.dvs.isEmpty) rows
      else rows.join(
        CommitLog.dvScan(spark, hPath, m.dvs.values.toSeq)
          .select(col("file").as("__dvf"), col("pos").as("__dvp")),
        col("file") === col("__dvf") && col("pos") === col("__dvp"),
        "left_anti")
    (vis, uncovered.size)
  }

  /** Index-accelerated approximate top-k over the CURRENT snapshot:
    * probe the committed centroids' `nProbe` nearest cells per query
    * against the committed postings of the LIVE files — files not yet
    * indexed (fresh appends) are inline-assigned against the SAME
    * committed centroids, so the table serves correctly immediately
    * after an append (hybrid; run [[build]] to re-materialize).
    * Refuses only when no index exists at all. Result ≡
    * [[Similarity.ivfTopKWith]] over the table with the same
    * committed centroids. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
           nProbe: Int, k: Int, column: String = "embedding",
           idColumn: String = "vec_id"): DataFrame = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (_, m) = CommitLog.latestSnapshot(fs, hPath).getOrElse(
      throw new IllegalArgumentException(
        s"ann topK: $path is not a logged sink"))
    val centroidRel = m.meta.getOrElse(centroidKey(column),
      throw new IllegalArgumentException(
        s"ann topK: no committed ANN index for '$column' at $path — " +
          "AnnIndex.build first"))
    val cents = centroidsOf(spark, hPath, centroidRel)
    val (vis, _) = visibleRows(spark, hPath, m, column, idColumn,
      cents)
    Similarity.ivfProbeCells(queries,
      vis.select(col("did"), col("de"), col("dn"), col("cid")),
      cents, nProbe, k)
  }

  // ---- tier 2: committed PQ codebooks + codes ------------------------

  /** Slice quantized vectors into `subspaces` integer subvectors —
    * (ids..., m, se, sn) rows, the [[Similarity]] PQ slicing
    * discipline. */
  private def sliceQ(df: DataFrame, ids: Seq[String], vecCol: String,
                     subspaces: Int, dims: Int): DataFrame = {
    require(dims % subspaces == 0,
      s"ann pq: dims $dims not divisible into $subspaces subspaces")
    val w = dims / subspaces
    df.select(ids.map(col) :+
        explode(array((0 until subspaces).map(mm =>
          struct(lit(mm).as("m"),
            slice(col(vecCol), mm * w + 1, w).as("se"))): _*))
          .as("s"): _*)
      .select(ids.map(col) :+ col("s.m").as("m") :+
        col("s.se").as("se"): _*)
      .withColumn("sn", Similarity.dotQ(col("se"), col("se")))
  }

  /** Nearest-codeword assignment of sliced rows against a broadcast
    * codebook — squared-L2 argmin, ties by cid, the exact
    * [[Similarity.pqTopK]] assignment expression. */
  private def assignCodes(slices: DataFrame, ids: Seq[String],
                          cb: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    slices.join(broadcast(cb), "m")
      .withColumn("__l2",
        col("sn") + col("cn") -
          lit(2) * Similarity.dotQ(col("se"), col("ce")))
      .withColumn("__r", row_number().over(
        win.partitionBy((ids :+ "m").map(col): _*)
          .orderBy(col("__l2").asc, col("cid").asc)))
      .filter(col("__r") === 1)
      .select((ids.map(col) :+ col("m") :+ col("se") :+
        col("cid")): _*)
  }

  /** Train (once) and catch up the committed PQ tier for `column`:
    * ONE shared codebook over the committed postings' quantized
    * vectors (seeds = first `codebookSize` by id, one exact
    * sum/count recentering pass — the [[Similarity.pqTopK]]
    * discipline), committed as `#meta ann.<col>.pq`; per-file CODE
    * sidecars land as `#ann` records keyed `<physCol>#pq` for
    * exactly the files lacking one. Composes with [[build]] (runs it
    * first, so IVF coverage catches up in the same call). Returns
    * files code-indexed. */
  def buildPq(spark: SparkSession, path: String,
              column: String = "embedding",
              idColumn: String = "vec_id",
              subspaces: Int = 4, codebookSize: Int = 16): Long = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    // IVF coverage first (trains centroids if absent) — PQ serving
    // probes the IVF cells, and codes encode the postings' vectors
    build(spark, path, column, idColumn)
    val (gen, m) = CommitLog.ensureSnapshotAt(fs, hPath)
    val live = m.files
    val cms = m.colmaps
    def postsOf(files: Seq[String]): DataFrame = {
      val rels = files.flatMap(f => m.anns(f).get(
        physOf(cms.getOrElse(f, Map.empty), column))).distinct.sorted
      import spark.implicits._
      spark.read.parquet(
          rels.map(r => new Path(hPath, r).toString): _*)
        .join(broadcast(files.toDF("file")), Seq("file"), "left_semi")
    }
    // 1. codebook: train ONCE over the whole table's postings
    val (cbRel, dims, trainedNow) = m.meta.get(pqKey(column)) match {
      case Some(rel) =>
        (rel, m.meta(pqDimsKey(column)).toInt, false)
      case None =>
        val posts = postsOf(live)
        val d = posts.select(size(col("de")).as("w"))
          .filter(col("w") > 0).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(0)
        require(d > 0, s"ann buildPq: no non-empty vectors at $path")
        val seeds = sliceQ(
          posts.orderBy("did").limit(codebookSize)
            .select(col("did").as("cid"), col("de")),
          Seq("cid"), "de", subspaces, d)
          .select(col("m"), col("cid"), col("se").as("ce"),
            col("sn").as("cn"))
        val slices = sliceQ(posts.select(col("did"), col("de")),
          Seq("did"), "de", subspaces, d)
        // one exact sum/count recentering pass (the q95/q99
        // exact-moment discipline — partial-aggregation-order-proof)
        val cb = assignCodes(slices, Seq("did"), seeds)
          .select(col("m"), col("cid"),
            posexplode(col("se")).as(Seq("dim", "v")))
          .groupBy("m", "cid", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("c"))
          .groupBy("m", "cid")
          .agg(transform(
            array_sort(collect_list(struct(col("dim"),
              (col("s").cast("double") / col("c").cast("double"))
                .as("mean")))),
            s => round(s.getField("mean")).cast("long")).as("ce"))
          .select(col("m"), col("cid"), col("ce"),
            Similarity.dotQ(col("ce"), col("ce")).as("cn"))
        val rel = CommitLog.AnnDirName + "/" +
          java.util.UUID.randomUUID().toString + "-pq"
        graft.io.Sources.internalWriter(cb.coalesce(1))
          .parquet(new Path(hPath, rel).toString)
        (rel, d, true)
    }
    val cb = spark.read.parquet(new Path(hPath, cbRel).toString)
      .select(col("m"), col("cid"), col("ce"), col("cn"))
    // 2. code catch-up: files lacking a `<phys>#pq` record
    val targets = live.filter { f =>
      val phys = physOf(cms.getOrElse(f, Map.empty), column)
      !m.anns.getOrElse(f, Map.empty).contains(phys + "#pq")
    }
    if (targets.isEmpty && !trainedNow) return 0L
    val newRecs: Map[String, Map[String, String]] =
      if (targets.isEmpty) Map.empty
      else {
        val rel = CommitLog.AnnDirName + "/" +
          java.util.UUID.randomUUID().toString + "-codes"
        // codes file count ∝ bytes, never task count
        // (Sources.sizedForWrite — guide §2.2/§6)
        graft.io.Sources.internalWriter(graft.io.Sources.sizedForWrite(
            assignCodes(sliceQ(postsOf(targets)
                  .select(col("file"), col("pos"), col("did"),
                    col("de")),
                Seq("file", "pos", "did"), "de", subspaces, dims),
              Seq("file", "pos", "did"), cb)
              .select(col("file"), col("pos"), col("did"), col("m"),
                col("cid").as("code"))))
          .parquet(new Path(hPath, rel).toString)
        targets.map { f =>
          f -> Map((physOf(cms.getOrElse(f, Map.empty), column) +
            "#pq") -> rel)
        }.toMap
      }
    CommitLog.commitNext(fs, hPath, gen, live, anns = newRecs,
      meta = if (trainedNow)
        Map(pqKey(column) -> cbRel,
          pqMKey(column) -> subspaces.toString,
          pqDimsKey(column) -> dims.toString)
      else Map.empty)
    targets.size.toLong
  }

  /** PQ-tier serving from committed artifacts: queries probe the
    * committed IVF cells (`nProbe` nearest by the tier-1 assignment),
    * candidates score by asymmetric distance computation over the
    * committed codes and the per-query broadcast distance tables —
    * integer end to end, memory ∝ codes not vectors. HYBRID like
    * [[topK]]: live files lacking postings or codes are
    * inline-assigned/encoded against the committed artifacts, so
    * appends serve immediately. Returns (qid, did, approx_dist,
    * rank ≤ k), ties by did — with every cell probed and a codebook
    * covering the corpus this is EXACTLY the integer squared-L2
    * ranking (the anchor AnnIndexSpec and the oracle pin). */
  def topKPq(spark: SparkSession, path: String, queries: DataFrame,
             nProbe: Int, k: Int, column: String = "embedding",
             idColumn: String = "vec_id"): DataFrame = {
    val hPath = new Path(path)
    val fs = fsOf(spark, hPath)
    val (_, m) = CommitLog.latestSnapshot(fs, hPath).getOrElse(
      throw new IllegalArgumentException(
        s"ann topKPq: $path is not a logged sink"))
    val centroidRel = m.meta.getOrElse(centroidKey(column),
      throw new IllegalArgumentException(
        s"ann topKPq: no committed ANN index for '$column' at $path " +
          "— AnnIndex.buildPq first"))
    val cbRel = m.meta.getOrElse(pqKey(column),
      throw new IllegalArgumentException(
        s"ann topKPq: no committed PQ codebook for '$column' at " +
          s"$path — AnnIndex.buildPq first"))
    val subspaces = m.meta(pqMKey(column)).toInt
    val dims = m.meta(pqDimsKey(column)).toInt
    val cents = centroidsOf(spark, hPath, centroidRel)
    val cb = spark.read.parquet(new Path(hPath, cbRel).toString)
      .select(col("m"), col("cid"), col("ce"), col("cn"))
    // visible corpus rows (committed + inline remainder, DV-filtered)
    val (vis, _) = visibleRows(spark, hPath, m, column, idColumn,
      cents)
    val cms = m.colmaps
    val coded = m.files.filter { f =>
      m.anns.getOrElse(f, Map.empty)
        .contains(physOf(cms.getOrElse(f, Map.empty), column) + "#pq")
    }
    import spark.implicits._
    val committedCodes: Option[DataFrame] =
      if (coded.isEmpty) None
      else {
        val rels = coded.flatMap(f => m.anns(f).get(
          physOf(cms.getOrElse(f, Map.empty), column) + "#pq"))
          .distinct.sorted
        val c = spark.read.parquet(
            rels.map(r => new Path(hPath, r).toString): _*)
          .join(broadcast(coded.toDF("file")), Seq("file"),
            "left_semi")
        // the DV filter rode `vis` for rows; codes key by the same
        // (file, pos) domain — semi-join against visible rows keeps
        // exactly the servable positions
        Some(c.join(vis.select("file", "pos"), Seq("file", "pos"),
          "left_semi"))
      }
    val codedSet = coded.toSet
    val uncodedRows = vis.filter(!col("file").isInCollection(
      if (codedSet.isEmpty) Seq("") else codedSet.toSeq))
    val inlineCodes: DataFrame = assignCodes(
      sliceQ(uncodedRows.select(col("file"), col("pos"), col("did"),
        col("de")), Seq("file", "pos", "did"), "de", subspaces, dims),
      Seq("file", "pos", "did"), cb)
      .select(col("file"), col("pos"), col("did"), col("m"),
        col("cid").as("code"))
    val codes = committedCodes
      .map(_.unionByName(inlineCodes)).getOrElse(inlineCodes)
      .select(col("did"), col("m"), col("code"))
    // per-query ADC distance tables against the broadcast codebook
    val qprep = queries.filter(size(col("embedding")) > 0)
      .select(col("vec_id").as("qid"),
        Similarity.quantize(col("embedding")).as("qe"))
      .withColumn("qn", Similarity.dotQ(col("qe"), col("qe")))
    val qdist = sliceQ(qprep.select(col("qid"), col("qe")),
        Seq("qid"), "qe", subspaces, dims)
      .join(broadcast(cb), "m")
      .select(col("qid"), col("m"), col("cid").as("code"),
        (col("sn") + col("cn") -
          lit(2) * Similarity.dotQ(col("se"), col("ce"))).as("dist"))
    // candidates: the tier-1 cell probe (cosine assignment — the
    // SAME cells the committed postings carry)
    val probes = Similarity.assignToCells(qprep, "qid", "qe", "qn",
      keep = nProbe, cents)
    val cand = probes.select("qid", "cid")
      .join(vis.select("did", "cid"), "cid")
      .select("qid", "did").distinct()
    val win = org.apache.spark.sql.expressions.Window
    cand.join(codes, "did")
      .join(qdist, Seq("qid", "m", "code"))
      .groupBy("qid", "did").agg(sum("dist").as("approx_dist"))
      .withColumn("rank", row_number().over(
        win.partitionBy("qid")
          .orderBy(col("approx_dist").asc, col("did").asc)))
      .filter(col("rank") <= k)
  }
}
