package graft

import graft.operators.{AnnIndex, CommitLog, Compact, DeleteVectors,
  Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Committed ANN index ([[AnnIndex]] — `#ann` records + `#meta
  * ann.<col>.centroids`): train once, catch up incrementally, probe
  * from committed postings with results equal by construction to the
  * inline [[Similarity.ivfTopKWith]] recompute, deletion vectors
  * filtered, orphaned sidecars vacuum-swept. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(i => (i,
      Array.tabulate(8)(d => math.sin(i * (d + 1) + 1).toFloat)))
      .toDF("vec_id", "embedding")

  private def key(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("qid").cast("long"), col("did").cast("long"),
      col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("train once, incremental catch-up, probe ≡ inline recompute, " +
    "DV-filtered, vacuum sweeps retired postings") {
    val root = java.nio.file.Files.createTempDirectory("ann1").toString
    val sink = s"$root/t"
    val fs = fsOf(sink); val hp = new Path(sink)
    val all = (0L until 120L)
    vectors(all.filter(_ % 3 != 2)).repartition(3)
      .write.parquet(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    val filesBefore = CommitLog.ensureLoggedAt(fs, hp)._2.size
    // build: trains centroids + indexes every file, ONE commit
    val n1 = AnnIndex.build(spark, sink, numCentroids = 6, iters = 2)
    assert(n1 == filesBefore.toLong, s"indexed $n1 of $filesBefore")
    val centRel = latest(fs, hp).meta("ann.embedding.centroids")
    def cents = spark.read.parquet(new Path(hp, centRel).toString)
    val queries = vectors(0L until 5L)
    def indexed = AnnIndex.topK(spark, sink, queries,
      nProbe = 2, k = 3)
    def inline = Similarity.ivfTopKWith(queries,
      CommitLog.read(spark, sink)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")),
      cents, nProbe = 2, k = 3)
    assert(key(indexed) == key(inline))
    // append: the table serves IMMEDIATELY (hybrid — the unindexed
    // files inline-assign against the committed centroids, so the
    // probe equals the inline recompute with zero catch-up), then
    // catch-up indexes EXACTLY the new files without retraining
    vectors(all.filter(_ % 3 == 2)).repartition(2)
      .write.format("graft").mode("append").option("path", sink).save()
    assert(key(indexed) == key(inline),
      "hybrid serving must cover the appended files immediately")
    val newFiles =
      CommitLog.ensureLoggedAt(fs, hp)._2.size - filesBefore
    val n2 = AnnIndex.build(spark, sink, numCentroids = 6, iters = 2)
    assert(n2 == newFiles.toLong,
      s"catch-up must index only the $newFiles new files, got $n2")
    assert(latest(fs, hp).meta("ann.embedding.centroids")
      == centRel, "catch-up must NOT retrain the centroids")
    assert(key(indexed) == key(inline))
    // deletes: DV'd rows never surface as candidates
    DeleteVectors.deleteWhere(spark, sink, col("vec_id") % 7 === 0)
    assert(key(indexed) == key(inline),
      "indexed probe must exclude DV'd rows exactly like the scan")
    assert(!indexed.collect().exists(_.getLong(1) % 7 == 0))
    // rewrite: compaction retires every record; hybrid serving still
    // answers (the whole table inline-assigns), a rebuild
    // re-materializes, and the ORPHANED postings become vacuum
    // debris while the referenced ones survive
    graft.operators.DeleteVectors.applyDeletes(spark, sink)
    Compact.compactSink(spark, sink)
    assert(key(indexed) == key(inline),
      "hybrid serving must survive a full rewrite")
    AnnIndex.build(spark, sink, numCentroids = 6, iters = 2)
    assert(key(indexed) == key(inline))
    val annDir = new Path(hp, CommitLog.AnnDirName)
    val entriesBefore = fs.listStatus(annDir).length
    // expire (which vacuums internally) sweeps the orphaned postings
    CommitLog.expireGenerations(fs, hp, 1)
    val entriesAfter = fs.listStatus(annDir).length
    assert(entriesAfter < entriesBefore,
      s"orphaned ann postings must be reclaimed: " +
        s"$entriesBefore -> $entriesAfter")
    // the index still serves after the sweep (its sidecars were live)
    assert(key(indexed) == key(inline))
    assert(fs.exists(new Path(hp, centRel)),
      "referenced centroids must survive vacuum")
  }

  test("CALL system.build_ann builds and catches up the committed " +
    "index from SQL") {
    val root = java.nio.file.Files.createTempDirectory("ann2").toString
    spark.conf.set("spark.sql.catalog.ann2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ann2.warehouse", root)
    spark.sql("CREATE NAMESPACE ann2.db")
    vectors(0L until 60L).repartition(2)
      .write.format("graft").mode("append").saveAsTable("ann2.db.e")
    // the build indexes every record-less LIVE file — derive the
    // expectation from the manifest, not from the writer's file
    // count (the format writer right-sizes staged files by bytes)
    val hp2 = new Path(s"$root/db/e")
    val fs2 = hp2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def live() = graft.operators.CommitLog
      .ensureLoggedAt(fs2, hp2)._2.size.toLong
    val nSeed = live()
    assert(nSeed >= 1L)
    val r = spark.sql(
      "CALL ann2.system.build_ann('db.e', num_centroids => 4)").head
    assert(r.getLong(0) == nSeed, r.toString)
    // catch-up after an append indexes only the new file(s)
    vectors(60L until 80L).coalesce(1)
      .write.format("graft").mode("append")
      .option("path", s"$root/db/e").save()
    val nAdded = live() - nSeed
    assert(nAdded >= 1L)
    val r2 = spark.sql(
      "CALL ann2.system.build_ann('db.e', num_centroids => 4)").head
    assert(r2.getLong(0) == nAdded, r2.toString)
    val got = AnnIndex.topK(spark, s"$root/db/e",
      vectors(0L until 3L), nProbe = 2, k = 2)
    assert(got.count() == 6L)
  }

  test("sampled centroid training (sampleFraction) decouples " +
    "training cost from table size: the trained-once invariant " +
    "holds, assignment covers EVERY row, catch-up reuses the " +
    "sampled centroids verbatim") {
    val root = java.nio.file.Files.createTempDirectory("ann3").toString
    val sink = s"$root/t"
    val fs = fsOf(sink); val hp = new Path(sink)
    vectors(0L until 200L).repartition(4).write.parquet(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    val n = AnnIndex.build(spark, sink, numCentroids = 5,
      sampleFraction = 0.3)
    assert(n == 4L)
    val centRel = latest(fs, hp).meta("ann.embedding.centroids")
    val cents = spark.read.parquet(new Path(hp, centRel).toString)
    // every row is assigned (coverage is NOT sampled — only training)
    val postRels = latest(fs, hp).anns.values
      .flatMap(_.values).toSeq.distinct
    val assigned = spark.read.parquet(
      postRels.map(r => new Path(hp, r).toString): _*).count()
    assert(assigned == 200L, s"assignment must cover all rows: $assigned")
    // probe ≡ inline recompute with the SAME sampled centroids
    val queries = vectors(0L until 4L)
    assert(key(AnnIndex.topK(spark, sink, queries, 2, 3)) ==
      key(Similarity.ivfTopKWith(queries,
        CommitLog.read(spark, sink)
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding")), cents, 2, 3)))
    // catch-up after an append reuses the sampled centroids verbatim
    vectors(200L until 230L).coalesce(1)
      .write.format("graft").mode("append").option("path", sink).save()
    AnnIndex.build(spark, sink, numCentroids = 5, sampleFraction = 0.3)
    assert(latest(fs, hp).meta("ann.embedding.centroids")
      == centRel, "catch-up must not retrain")
  }

  test("committed PQ tier: codebook trains once, codes catch up " +
    "incrementally, serving is all-integer ADC from committed " +
    "artifacts — and with full probes + a corpus-covering codebook " +
    "it is EXACTLY the integer squared-L2 ranking; appends serve " +
    "immediately (hybrid)") {
    val root = java.nio.file.Files.createTempDirectory("ann4").toString
    val sink = s"$root/t"
    val fs = fsOf(sink); val hp = new Path(sink)
    vectors(0L until 48L).repartition(3).write.parquet(sink)
    CommitLog.ensureLoggedAt(fs, hp)
    // codebookSize ≥ |corpus| → every slice has an exact codeword →
    // approx_dist is the EXACT squared L2 (the anchor)
    val n1 = AnnIndex.buildPq(spark, sink, subspaces = 4,
      codebookSize = 64)
    assert(n1 == 3L)
    val meta = latest(fs, hp).meta
    val cbRel = meta("ann.embedding.pq")
    assert(meta("ann.embedding.pq.m") == "4" &&
      meta("ann.embedding.pq.dims") == "8")
    val queries = vectors(0L until 4L)
    // exact integer L2 expected ranking + distances, independently
    def exact: Set[(Long, Long, Long, Int)] = {
      val q = queries.select(col("vec_id").as("qid"),
        Similarity.quantize(col("embedding")).as("qe"))
      val d = CommitLog.read(spark, sink)
        .select(col("vec_id").cast("long").as("did"),
          Similarity.quantize(col("embedding")).as("de"))
      val w = org.apache.spark.sql.expressions.Window
      q.crossJoin(d)
        .select(col("qid"), col("did"),
          (Similarity.dotQ(col("qe"), col("qe")) +
            Similarity.dotQ(col("de"), col("de")) -
            lit(2) * Similarity.dotQ(col("qe"), col("de"))).as("l2"))
        .withColumn("rank", row_number().over(w.partitionBy("qid")
          .orderBy(col("l2").asc, col("did").asc)))
        .filter(col("rank") <= 3)
        .select(col("qid").cast("long"), col("did"), col("l2"),
          col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
    }
    def served: Set[(Long, Long, Long, Int)] =
      AnnIndex.topKPq(spark, sink, queries, nProbe = 16, k = 3)
        .select(col("qid").cast("long"), col("did"),
          col("approx_dist"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
    assert(served == exact,
      "full-probe PQ with a corpus-covering codebook must equal the " +
        "exact integer L2 ranking, distances included")
    // append: hybrid serving covers the new file immediately — its
    // inline encoding against the COMMITTED codebook must be
    // IDENTICAL to the committed codes the catch-up then lands (the
    // appended vectors' own distances are approximate by design: the
    // codebook predates them)
    vectors(48L until 60L).coalesce(1)
      .write.format("graft").mode("append").option("path", sink).save()
    val hybridServed = served
    val n2 = AnnIndex.buildPq(spark, sink, subspaces = 4,
      codebookSize = 64)
    assert(n2 == 1L, s"code catch-up must target only the new file: $n2")
    assert(latest(fs, hp).meta("ann.embedding.pq") == cbRel,
      "catch-up must not retrain the codebook")
    assert(served == hybridServed,
      "inline encoding must equal the committed codes exactly")
    // deletes filter from the PQ tier too
    DeleteVectors.deleteWhere(spark, sink, col("vec_id") % 5 === 0)
    assert(!AnnIndex.topKPq(spark, sink, queries, 16, 3)
      .collect().exists(_.getAs[Long]("did") % 5 == 0))
  }
}
