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
  *     (`_graft_ann/...-centroids`, [[CentroidSchema]]) — trained ONCE
  *     over the table (optionally on a seeded SAMPLE — `sampleFraction`
  *     decouples training cost from table size at 100 TB; assignment
  *     still covers every row) and reused verbatim by every later
  *     catch-up and probe;
  *   - `#ann\t<file>\t<physCol>\t<sidecarRel>` records, one per data
  *     file, name the postings sidecar holding that file's rows as
  *     [[PostingsSchema]] `(file, pos, did, de, dn, cid)` — quantized vectors
  *     pre-assigned to their nearest committed centroid. Physical
  *     column keying and carry-per-surviving-file follow `#bloom`: a
  *     rename never invalidates, a rewrite retires exactly the
  *     rewritten files' postings (their rows in a shared sidecar are
  *     excluded by the file-liveness semi-join, and the sidecar
  *     itself becomes [[CommitLog.vacuum]] debris once no record
  *     names it);
  *   - `#meta ann.<col>.pq` (+ `.pq.m`, `.pq.dims`) names the trained
  *     PQ CODEBOOK sidecar ([[CodebookSchema]] `(m, cid, ce, cn)` per
  *     subspace — the [[Similarity.pqTopK]] codebook discipline:
  *     integer slices, exact sum/count recentering), and `#ann` records
  *     keyed `<physCol>#pq` name per-file CODE sidecars
  *     ([[CodesSchema]] `(file, pos, did, m, code)`) — the
  *     memory-light serving tier.
  *
  * TRAINED ON THE DRIVER: centroids and codebook train from their
  * quantized rows collected once, in one job, capped at
  * [[Similarity.TrainBytesCap]] bytes (above it the build fails and
  * names `sampleFraction`); the Lloyd iterations and the recentering
  * are local integer arithmetic, equal row for row to the SQL
  * formulation. The trained rows ride as a local frame into both the
  * sidecar write and the assignment that follows, which never re-reads
  * the sidecar it just wrote. Every sidecar kind has ONE fixed schema,
  * so no sidecar read infers a schema from parquet footers (the
  * [[CommitLog.DvSchema]] discipline).
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

  /** Fixed sidecar schemas, one per kind. */
  val CentroidSchema = "cid BIGINT, ce ARRAY<BIGINT>, cn BIGINT"
  val PostingsSchema =
    "file STRING, pos BIGINT, did BIGINT, de ARRAY<BIGINT>, dn BIGINT, " +
      "cid BIGINT"
  val CodebookSchema = "m INT, cid BIGINT, ce ARRAY<BIGINT>, cn BIGINT"
  val CodesSchema =
    "file STRING, pos BIGINT, did BIGINT, m INT, code BIGINT"

  /** Scan the sidecars at `rels` (sink-relative) under their kind's
    * fixed `schema`. */
  private def sidecar(spark: SparkSession, hPath: Path, schema: String,
                      rels: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .parquet(rels.map(r => new Path(hPath, r).toString): _*)

  /** The sidecar rows of `files` — a filter on the names the manifest
    * holds, so no broadcast job ships the file list. */
  private def ofFiles(rows: DataFrame, files: Seq[String]): DataFrame =
    rows.filter(col("file").isInCollection(files))

  /** Inline IVF assignment of `files`' rows against the committed
    * centroids — the (file, pos, did, de, dn, cid) shape `#ann`
    * postings carry, computed the IDENTICAL way [[build]] computes
    * them (which is what makes hybrid serving ≡ the index). */
  private def assignFiles(spark: SparkSession, hPath: Path,
                          files: Seq[String], m: CommitLog.Manifest,
                          column: String, idColumn: String,
                          centroids: DataFrame): DataFrame = {
    val fs = fsOf(spark, hPath)
    val prefix = fs.makeQualified(hPath).toUri.getPath + "/"
    val scan = CommitLog.mappedScan(spark, hPath, files, m,
      identity = true)
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
    * centroids on the driver once if the table has none (on a seeded
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
    // 1. centroids: train ONCE over the current table, reuse forever
    // (catch-ups assign against the committed centroids — an index
    // whose cells drift per build would not be an index)
    val (centroidRel, cents, trainedNow) = meta.get(centroidKey(column)) match {
      case Some(rel) =>
        (rel, sidecar(spark, hPath, CentroidSchema, Seq(rel)), false)
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
        (rel, cents, true)
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
            assignFiles(spark, hPath, targets, m, column, idColumn,
              cents)))
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
        val posts = sidecar(spark, hPath, PostingsSchema, rels)
        // liveness: a shared sidecar may hold rows of files since
        // rewritten out of the manifest — keep exactly the live set
        Some(ofFiles(posts, covered))
      }
    val inline: Option[DataFrame] =
      if (uncovered.isEmpty) None
      else Some(assignFiles(spark, hPath, uncovered, m, column,
        idColumn, centroids))
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
    val cents = sidecar(spark, hPath, CentroidSchema, Seq(centroidRel))
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
    * ONE shared codebook trained on the driver over the committed
    * postings' quantized vectors ([[Similarity.pqCodebook]]: seeds =
    * first `codebookSize` by id, one exact sum/count recentering pass
    * — the [[Similarity.pqTopK]] discipline), committed as
    * `#meta ann.<col>.pq`; per-file CODE
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
      ofFiles(sidecar(spark, hPath, PostingsSchema, rels), files)
    }
    // 1. codebook: train ONCE over the whole table's postings, on the
    // driver (seeds = first `codebookSize` by id, one exact sum/count
    // recentering pass)
    val (cbRel, cb, dims, trainedNow) = m.meta.get(pqKey(column)) match {
      case Some(rel) =>
        (rel, sidecar(spark, hPath, CodebookSchema, Seq(rel)),
          m.meta(pqDimsKey(column)).toInt, false)
      case None =>
        val rows = Similarity.collectTraining(
          postsOf(live).select(col("did"), col("de")),
          "ann buildPq codebook training")
        val d = rows.collectFirst {
          case (_, v) if v != null && v.nonEmpty => v.length
        }.getOrElse(0)
        require(d > 0, s"ann buildPq: no non-empty vectors at $path")
        require(d % subspaces == 0,
          s"ann pq: dims $d not divisible into $subspaces subspaces")
        val cb = spark.createDataFrame(java.util.Arrays.asList(
            Similarity.pqCodebook(rows, subspaces, codebookSize, d)
              .flatMap { case (mm, cells) => cells.map(c =>
                org.apache.spark.sql.Row(mm, c.cid, c.ce, c.cn)) }: _*),
          org.apache.spark.sql.types.StructType.fromDDL(CodebookSchema))
        val rel = CommitLog.AnnDirName + "/" +
          java.util.UUID.randomUUID().toString + "-pq"
        graft.io.Sources.internalWriter(cb.coalesce(1))
          .parquet(new Path(hPath, rel).toString)
        (rel, cb, d, true)
    }
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
    val cents = sidecar(spark, hPath, CentroidSchema, Seq(centroidRel))
    val cb = sidecar(spark, hPath, CodebookSchema, Seq(cbRel))
    // visible corpus rows (committed + inline remainder, DV-filtered)
    val (vis, _) = visibleRows(spark, hPath, m, column, idColumn,
      cents)
    val cms = m.colmaps
    val coded = m.files.filter { f =>
      m.anns.getOrElse(f, Map.empty)
        .contains(physOf(cms.getOrElse(f, Map.empty), column) + "#pq")
    }
    val committedCodes: Option[DataFrame] =
      if (coded.isEmpty) None
      else {
        val rels = coded.flatMap(f => m.anns(f).get(
          physOf(cms.getOrElse(f, Map.empty), column) + "#pq"))
          .distinct.sorted
        val c = ofFiles(sidecar(spark, hPath, CodesSchema, rels), coded)
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
