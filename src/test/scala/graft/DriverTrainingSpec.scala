package graft

import graft.operators.{AnnIndex, CommitLog, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The driver-side ANN trainers ([[Similarity.kmeansCentroids]],
  * [[Similarity.pqCodebook]] through [[AnnIndex.buildPq]]) against
  * rows recorded from the Spark-plan trainers they replaced, on
  * fixtures with ties (two identical seeds), a null embedding, an
  * empty embedding and a cell that empties (the second identical seed
  * loses every tie). */
class DriverTrainingSpec extends SparkSpec {
  import spark.implicits._

  /** (cid, centre, norm²) rows, sorted. */
  private def cells(df: DataFrame): Seq[(Long, Seq[Long], Long)] =
    df.select("cid", "ce", "cn").collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq.sortBy(_._1)

  private val fixture = Seq[(Long, Array[Float])](
    (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
    (4L, Array(1f, 1f)), (5L, null), (6L, Array()),
    (7L, Array(0.5f, 0.9f)), (8L, Array(0.9f, 0.2f)),
    (9L, Array(-1f, 0.3f)), (10L, Array(2f, 0.000001f)),
    (11L, Array(2f, 0.000002f)), (12L, Array(-0.000003f, 3f)))

  test("kmeans centroids equal the recorded Spark-plan rows") {
    val withEmpty = fixture.toDF("vec_id", "embedding")
    val noEmpty = fixture.filterNot(_._1 == 6L).toDF("vec_id", "embedding")
    // seeds 1..4: cid 2 duplicates cid 1, loses every tie and empties;
    // the null and the empty embedding join a cell and add nothing
    val k4 = Seq((1L, Seq(1380000L, 40001L), 1906000080001L),
      (3L, Seq(-333334L, 1433333L), 2165555044445L),
      (4L, Seq(750000L, 950000L), 1465000000000L))
    for (it <- Seq(1, 2)) {
      assert(cells(Similarity.kmeansCentroids(withEmpty, 4, it)) == k4)
      assert(cells(Similarity.kmeansCentroids(noEmpty, 4, it)) == k4)
    }
    // seeds 1..5 and 7: the null-embedding seed 5 scores null against
    // every vector and empties
    val k6 = Seq((1L, Seq(1380000L, 40001L), 1906000080001L),
      (3L, Seq(-333334L, 1433333L), 2165555044445L),
      (4L, Seq(1000000L, 1000000L), 2000000000000L),
      (7L, Seq(500000L, 900000L), 1060000000000L))
    for (it <- Seq(1, 2))
      assert(cells(Similarity.kmeansCentroids(noEmpty, 6, it)) == k6)
    // an empty seed meets the empty vector: 0 / 0 fails as Spark's
    // ANSI division does
    intercept[ArithmeticException](
      Similarity.kmeansCentroids(withEmpty, 6, 1))
  }

  test("AnnIndex centroid and codebook sidecars equal the recorded " +
    "Spark-plan rows") {
    val root = java.nio.file.Files.createTempDirectory("dtrain").toString
    val sink = s"$root/t"
    Seq[(Long, Array[Float])](
      (1L, Array(1f, 0f, 0f, 1f)), (2L, Array(1f, 0f, 0f, 1f)),
      (3L, Array(0f, 1f, 1f, 0f)), (4L, Array(1f, 1f, -1f, 0.5f)),
      (5L, null), (7L, Array(0.5f, 0.9f, 0.1f, 0.000001f)),
      (8L, Array(0.9f, 0.2f, 0.3f, 0.000002f)),
      (9L, Array(-1f, 0.3f, 2f, -0.000003f)),
      (10L, Array(2f, 0.000001f, -0.5f, -0.000002f)),
      (11L, Array(0f, 0f, 0f, 1f)), (12L, Array(0f, 2f, 0f, 2f)))
      .toDF("vec_id", "embedding").repartition(2).write.parquet(sink)
    val hp = new Path(sink)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.ensureLoggedAt(fs, hp)
    AnnIndex.buildPq(spark, sink, subspaces = 2, codebookSize = 4)
    val meta = latest(fs, hp).meta
    def sidecar(schema: String, key: String) =
      spark.read.schema(schema).parquet(new Path(hp, meta(key)).toString)
    // 11 rows and the default 16 centroids: every row seeds a cell, the
    // duplicate seed 2 and the null seed 5 empty
    assert(cells(sidecar(AnnIndex.CentroidSchema,
        "ann.embedding.centroids")) == Seq(
      (1L, Seq(1000000L, 0L, 0L, 1000000L), 2000000000000L),
      (3L, Seq(0L, 1000000L, 1000000L, 0L), 2000000000000L),
      (4L, Seq(1000000L, 1000000L, -1000000L, 500000L), 3250000000000L),
      (7L, Seq(500000L, 900000L, 100000L, 1L), 1070000000001L),
      (8L, Seq(900000L, 200000L, 300000L, 2L), 940000000004L),
      (9L, Seq(-1000000L, 300000L, 2000000L, -3L), 5090000000009L),
      (10L, Seq(2000000L, 1L, -500000L, -2L), 4250000000005L),
      (11L, Seq(0L, 0L, 0L, 1000000L), 1000000000000L),
      (12L, Seq(0L, 2000000L, 0L, 2000000L), 8000000000000L)))
    // codebook seeds 1..4 per subspace; cid 2 empties in both
    val cb = sidecar(AnnIndex.CodebookSchema, "ann.embedding.pq")
      .select("m", "cid", "ce", "cn").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(cb == Seq(
      (0, 1L, Seq(980000L, 40000L), 962000000000L),
      (0, 3L, Seq(-125000L, 1050000L), 1118125000000L),
      (0, 4L, Seq(1000000L, 1000000L), 2000000000000L),
      (1, 1L, Seq(0L, 1250000L), 1562500000000L),
      (1, 3L, Seq(850000L, 0L), 722500000000L),
      (1, 4L, Seq(-750000L, 249999L), 624999500001L)))
    graft.io.Sources.deleteRecursively(root)
  }

  test("training rows above the byte cap fail loudly and name " +
    "sampleFraction") {
    val rows = (0L until 100L).map(i => (i, Array.fill(8)(i)))
      .toDF("id", "v")
    assert(Similarity.collectTraining(rows, "t", cap = 100L * 72).length ==
      100)
    val e = intercept[IllegalArgumentException](
      Similarity.collectTraining(rows, "t", cap = 1000L))
    assert(e.getMessage.contains("sampleFraction"), e.getMessage)
  }
}
