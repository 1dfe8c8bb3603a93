package graft.perfbench

import scala.collection.mutable

import graft.operators.{CommitLog, Compact, DeleteVectors, Merge, TableHistory}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `table_rw_mix`: one `graft` table seeded from generated `orders`
  * (50k keys) under a fixed script of writes and reads, with a
  * change-feed replica (`readChangeFeed` → `Merge.applyCdcParquet` in
  * `foreachBatch`, the calls of q339) caught up after every write.
  *
  * A round is one write step, the replica catch-up, then one read. The
  * write steps cycle through an append of new keys, a `mergeOnRead`
  * upsert, a `deleteWhere`, and maintenance (`applyDeletes` +
  * `compactSink`) followed by a copy-on-write `mergeParquet`, which
  * refuses a table that holds deletion vectors. Reads cycle through a
  * filtered scan, time travel to the table as of one write back, a
  * metadata count/min/max and `history`. Key positions are seeded, but
  * `mergeOnRead` upserts always land in the first seeded file and
  * deletes in the second, so every seed gives the same file layout and
  * the same rewrite work. Every result is checked against an in-driver
  * key → value model. */
final class TableRwMix(s: SparkSession, seed: Long) extends Workload {
  /** The generated shape (`inputs.py`): 50k order keys. */
  val Keys = 50000L
  val SeedFiles = 2
  val WriteCycle = Seq("append", "merge_on_read", "delete_where",
    "maintenance")
  val ReadCycle = Seq("scan", "time_travel", "meta_agg", "history")
  /** Seconds of `--seconds` per round (this sizes the run). */
  val SecondsPerRound = 6.0
  val CompactTargetBytes: Long = 1L << 20
  /** Op sizes are fixed so that every seed does the same amount of work;
    * only the key positions are seeded. */
  val AppendKeys = 1000
  val MergeKeys = 500
  val DeleteSpan = 1500
  val ScanSpan = 5000

  private var root: String = _
  private def table = s"$root/t"
  private def replica = s"$root/r"
  private var rng: java.util.SplittableRandom = _
  private var model: mutable.LongMap[Long] = _
  private var nextKey = 0L
  private var opIndex = 0L
  /** Model (count, sum of values) at each committed generation. */
  private val snapshots = mutable.LongMap.empty[(Long, Long)]
  private var readableFrom = 0L
  private var lastGen = -1L
  /** The newest generation before the last write step began. */
  private var lastWriteFrom = -1L
  private var query: StreamingQuery = _
  private val mismatches = mutable.ArrayBuffer.empty[String]

  private def fs = new Path(table).getFileSystem(
    s.sparkContext.hadoopConfiguration)

  private def generations(): Seq[Long] = Trace.withModule(Trace.Bench) {
    CommitLog.generations(fs, new Path(table))
  }

  /** Record the model state for every generation committed since the
    * last call. A write's intermediate commits (a rewrite's analyze, the
    * apply before a compaction) never change the visible rows. */
  private def noteCommits(): Unit = {
    val fresh = generations().filter(_ > lastGen)
    val state = (model.size.toLong, model.valuesIterator.sum)
    fresh.foreach(g => snapshots(g) = state)
    if (fresh.nonEmpty) lastGen = fresh.max
  }

  def setup(inputs: String, root: String): Unit = {
    close()
    this.root = root
    rng = new java.util.SplittableRandom(seed)
    snapshots.clear(); mismatches.clear()
    lastGen = -1L; lastWriteFrom = -1L; opIndex = 0L
    val keyed = s.read.parquet(s"$inputs/orders.parquet").select(
      col("o_orderkey").as("k"),
      (col("o_totalprice") * 100).cast("long").as("v"))
    model = mutable.LongMap.empty[Long]
    keyed.collect().foreach(r => model(r.getLong(0)) = r.getLong(1))
    nextKey = Keys + 1
    val per = Keys / SeedFiles
    (0 until SeedFiles).foreach { i =>
      keyed.filter(col("k") > i * per && col("k") <= (i + 1) * per)
        .coalesce(1).write.format("graft").mode("append").save(table)
    }
    noteCommits()
    readableFrom = lastGen
    // the replica starts as a plain copy of the seeded rows and follows
    // the change feed from the seeded generation on
    keyed.write.parquet(replica)
    startReplica(lastGen)
  }

  private var streams = 0
  private var rewrittenBytes = 0L

  /** The change-feed replica: `readChangeFeed` → `Merge.applyCdcParquet`
    * in `foreachBatch` (q339's calls), with the changes after `after`. */
  private def startReplica(after: Long): Unit = {
    streams += 1
    query = Trace.withModule("GraftMicroBatchStream") {
      s.readStream.format("graft")
        .option("readChangeFeed", "true").option("cdfKeys", "k")
        .option("startingVersion", after.toString)
        .load(table)
        .writeStream.option("checkpointLocation", s"$root/ck$streams")
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          val ops = df
            .filter(col("_change_type") =!= "update_preimage")
            .withColumn("__op", when(col("_change_type") === "delete",
              lit("D")).otherwise(lit("U")))
            .drop("_change_type")
          Trace.call("Merge") {
            Merge.applyCdcParquet(s, ops, Seq("k"), "__op", replica)
          }
          ()
        }.start()
    }
  }

  /** A seeded range of `width` keys within [lo, hi]. */
  private def keyRange(width: Int, lo: Long = 1L,
                       hi: Long = nextKey - 1): (Long, Long) = {
    val a = lo + rng.nextLong(hi - lo + 2 - width)
    (a, a + width - 1)
  }

  /** Keys of seeded file `i` (set-up writes one file per key range). */
  private def seedFile(i: Int): (Long, Long) = {
    val per = Keys / SeedFiles
    (i * per + 1, (i + 1) * per)
  }

  private def upserts(a: Long, b: Long, mult: Long): DataFrame =
    s.range(a, b + 1).select(col("id").as("k"),
      (col("id") * mult + opIndex).as("v"))

  private def modelUpsert(a: Long, b: Long, mult: Long): Unit =
    (a to b).foreach(k => model(k) = k * mult + opIndex)

  private def write(c: Client, kind: String): Unit = {
    lastWriteFrom = lastGen
    opIndex += 1
    kind match {
    case "maintenance" =>
      c.op("compact") {
        // the change feed cannot replay a deletion-vector apply, which
        // reclaims the files the feed would read: the replica pauses over
        // maintenance (no visible row changes) and resumes after it
        query.stop()
        Trace.call("DeleteVectors")(DeleteVectors.applyDeletes(s, table))
        readableFrom = generations().max
        Trace.call("Compact")(Compact.compactSink(s, table,
          targetBytes = CompactTargetBytes, keepReplaced = true))
      }
      noteCommits()
      if (Trace.enabled) rewrittenBytes += Trace.withModule(Trace.Bench) {
        // bytes of the live files the compaction replaced (kept on disk)
        val hp = new Path(table)
        val before = CommitLog.manifestAt(fs, hp, readableFrom).files
        val after = CommitLog.manifestAt(fs, hp, lastGen).files.toSet
        before.filterNot(after).map(r =>
          fs.getFileStatus(new Path(hp, r)).getLen).sum
      }
      startReplica(lastGen)
      opIndex += 1
      val (a, b) = keyRange(MergeKeys)
      c.op("merge_cow")(Trace.call("Merge")(Merge.mergeParquet(s,
        upserts(a, b, 3), Seq("k"), table, keepReplaced = true)))
        .foreach(_ => modelUpsert(a, b, 3))
      case "append" =>
        val a = nextKey
        val b = a + AppendKeys - 1
        c.op("append")(Trace.call("GraftDataSource")(
          upserts(a, b, 10).write.format("graft").mode("append").save(table)))
          .foreach { _ => modelUpsert(a, b, 10); nextKey = b + 1 }
      case "merge_on_read" =>
        val (lo, hi) = seedFile(0)
        val (a, b) = keyRange(MergeKeys, lo, hi)
        c.op("merge_on_read")(Trace.call("DeleteVectors")(
          DeleteVectors.mergeOnRead(s, table, upserts(a, b, 7), Seq("k"))))
          .foreach(_ => modelUpsert(a, b, 7))
      case "delete_where" =>
        val (lo, hi) = seedFile(1)
        val (a, b) = keyRange(DeleteSpan, lo, hi)
        val r = rng.nextInt(3)
        c.op("delete_where")(Trace.call("DeleteVectors")(
          DeleteVectors.deleteWhere(s, table,
            col("k").between(a, b) && col("k") % 3 === r)))
          .foreach(_ => (a to b).filter(_ % 3 == r).foreach(model.remove))
    }
    noteCommits()
  }

  private def expect(what: String, expected: Any, actual: Any): Unit =
    if (expected != actual)
      mismatches += s"$what: expected $expected, got $actual"

  private def read(c: Client, kind: String): Unit = kind match {
    case "scan" =>
      val (a, b) = keyRange(ScanSpan)
      c.op("scan")(Trace.call("GraftDataSource") {
        val df = s.read.format("graft").load(table)
          .filter(col("k").between(a, b))
          .agg(count(lit(1)), coalesce(sum("v"), lit(0L)))
        val r = df.head()
        Trace.probeScan(df)
        (r.getLong(0), r.getLong(1))
      }).foreach { got =>
        val in = model.iterator.filter { case (k, _) => k >= a && k <= b }
          .toSeq
        expect(s"scan [$a, $b]", (in.size.toLong, in.map(_._2).sum), got)
      }
    case "time_travel" =>
      // as of one write back: the newest readable generation committed
      // before the last write began
      val gens = snapshots.keys.filter(_ >= readableFrom).toSeq.sorted
      val g = gens.filter(_ <= lastWriteFrom).lastOption
        .getOrElse(gens.head)
      c.op("time_travel")(Trace.call("TableHistory") {
        val r = CommitLog.readAt(s, table, g)
          .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }).foreach(got => expect(s"time travel to $g", snapshots(g), got))
    case "meta_agg" =>
      c.op("meta_agg")(Trace.call("GraftMetaAgg") {
        val r = s.read.format("graft").load(table)
          .agg(count(lit(1)), min("k"), max("k")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }).foreach(got => expect("count/min/max",
        (model.size.toLong, model.keysIterator.min, model.keysIterator.max),
        got))
    case "history" =>
      c.op("history")(Trace.call("TableHistory")(
        TableHistory.history(s, table).count()))
        .foreach(got => expect("history rows", generations().size.toLong,
          got))
  }

  /** A fixed script sized by `seconds`: rounds of one write step (in
    * [[WriteCycle]] order), the replica catch-up, and one read (in
    * [[ReadCycle]] order). */
  def run(c: Client, seconds: Double): Unit =
    (0 until math.max(1, math.round(seconds / SecondsPerRound).toInt))
      .foreach { i =>
        write(c, WriteCycle(i % WriteCycle.size))
        c.op("replica_lag")(Trace.call("GraftMicroBatchStream")(
          query.processAllAvailable()))
        read(c, ReadCycle(i % ReadCycle.size))
      }

  override def close(): Unit =
    if (query != null) { query.stop(); query = null }

  private def rowsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

  def check(c: Client): Seq[String] =
    mismatches.toSeq ++
      TableRwMix.checkModel("table", model,
        rowsOf(s.read.format("graft").load(table))) ++
      TableRwMix.checkModel("replica", model,
        rowsOf(CommitLog.read(s, replica)))

  def spaceAmp(): Double = {
    val plain = s"$root/plain"
    s.read.format("graft").load(table).write.parquet(plain)
    (Stats.bytesUnder(table) + Stats.bytesUnder(replica)).toDouble /
      (2.0 * Stats.bytesUnder(plain))
  }

  def extraMetrics(c: Client): Seq[(String, Double, String, Int)] = {
    val w = c.seconds("compact", "merge_cow", "append", "merge_on_read",
      "delete_where")
    val r = c.seconds("scan", "time_travel", "meta_agg", "history")
    val lag = c.seconds("replica_lag")
    Seq(("write_p50_s", Stats.median(w), "s", w.size),
      ("write_tail_s", Stats.tail(w)._1, "s", w.size),
      ("read_p50_s", Stats.median(r), "s", r.size),
      ("read_tail_s", Stats.tail(r)._1, "s", r.size),
      ("replica_lag_p50_s", Stats.median(lag), "s", lag.size),
      ("replica_lag_tail_s", Stats.tail(lag)._1, "s", lag.size),
      ("generations", lastGen.toDouble, "count", 1))
  }

  /** Generations reached, and the graft reader's time for a full
    * aggregate over `spark.read.parquet` of the same live files (the
    * script ends on a copy-on-write merge, so no file carries deletion
    * vectors and both read the same rows). */
  override def layerMetrics(): Map[String, Double] = {
    val hp = new Path(table)
    val m = CommitLog.manifestAt(fs, hp, lastGen)
    val files = m.files.map(r => new Path(hp, r).toString)
    def median(df: => DataFrame) = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), sum("v")).collect()
      (System.nanoTime() - t0) / 1e9
    })
    val graft = median(s.read.format("graft").load(table))
    val parquet = median(s.read.parquet(files: _*))
    Map("CommitLog.generations" -> lastGen.toDouble,
      "GraftDataSource.vs_parquet" -> graft / parquet,
      "Compact.bytes_rewritten" -> rewrittenBytes.toDouble)
  }
}

object TableRwMix {
  /** The table's rows are exactly the model's key → value pairs. */
  def checkModel(what: String, model: collection.Map[Long, Long],
                 rows: Seq[(Long, Long)]): Seq[String] = {
    val dup = rows.size - rows.map(_._1).distinct.size
    val (right, wrong) = rows.partition { case (k, v) =>
      model.get(k).contains(v) }
    val missing = model.size - right.map(_._1).distinct.size
    if (dup == 0 && wrong.isEmpty && missing == 0) Nil
    else Seq(s"$what: ${rows.size} rows vs ${model.size} model keys; " +
      s"$dup duplicate keys, ${wrong.size} wrong or unknown rows " +
      s"(e.g. ${wrong.take(3).mkString(", ")}), $missing keys missing")
  }
}
