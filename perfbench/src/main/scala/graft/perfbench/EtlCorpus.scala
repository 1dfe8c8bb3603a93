package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.io.Sources
import graft.model.StarModel
import graft.operators.Publish
import graft.transform.CsvLoaders
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `etl_corpus`: the pipeline code over plain parquet, no table format.
  *
  * The paper's hourly ETL: generated `events` are cut into 24
  * time-ordered batches of 4200 rows (30 hours each). A run publishes a
  * seeded window of consecutive batches; each batch loads its
  * delay/weather scrape CSVs through `CsvLoaders`, stages the six star
  * tables (`Publish.stageAll`) and publishes them into six sinks
  * (`Publish.publishStaged`) — most dimension rows are no-op MERGEs.
  * Then one corpus-prep pass ([[Corpus]]) and a replay pass that
  * re-publishes every staged batch, which must append nothing. Small
  * deltas with a fixed per-call cost: `Publish`, `Upsert` and
  * filesystem ops dominate; iterative, shuffle- and broadcast-heavy
  * corpus operators follow. */
final class EtlCorpus(s: SparkSession, seed: Long) extends Workload {
  /** The generated shape (`inputs.py`): 24 batches of 4200 events. */
  val Batches = 24
  val RowsPerBatch = 4200L
  val HoursPerBatch = 30L
  /** Seconds of `--seconds` per published batch (this sizes the run). */
  val SecondsPerBatch = 25.0

  private val corpus = new Corpus(s)
  private var in: String = _
  private var root: String = _
  private def batchDir(i: Int) = s"$in/batch$i"
  private def stage(i: Int) = s"$root/stage/b$i"
  private def sink = s"$root/sink"

  private var window: Seq[Int] = Nil
  private val staged = mutable.ArrayBuffer.empty[Seq[Publish.StagedBatch]]
  private val csvRows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val published = mutable.ArrayBuffer.empty[Seq[(String, Long)]]
  private val replayed = mutable.ArrayBuffer.empty[Seq[(String, Long)]]

  private def link(from: String, to: String): Unit =
    Files.createSymbolicLink(Paths.get(from), Paths.get(to))

  /** Inputs are generated outside the JVM; the ETL has no initial
    * state beyond them (its sinks start empty). */
  def setup(inputs: String, root: String): Unit = {
    this.in = inputs
    this.root = root
    corpus.setup(s"$inputs/corpus", s"$root/corpus")
  }

  private def loadCsvs(i: Int): (Long, Long) = Trace.call("CsvLoaders") {
    val d = CsvLoaders.delaysPipeline(Sources.csvGlob(s,
      s"$in/csv/delays/b=$i/*.csv", CsvLoaders.delaysRawSchema)).count()
    val w = CsvLoaders.weatherPipeline(Sources.csvGlob(s,
      s"$in/csv/weather/b=$i/*.csv", CsvLoaders.weatherRawSchema)).count()
    (d, w)
  }

  /** A fixed script sized by `seconds`: a seeded window of consecutive
    * batches, one corpus pass, then the replay of every batch. */
  def run(c: Client, seconds: Double): Unit = {
    val n = math.max(1, math.round(seconds / SecondsPerBatch).toInt)
    val first = new java.util.SplittableRandom(seed).nextInt(Batches - n + 1)
    window = first until first + n
    window.foreach { b =>
      c.op("csv_load")(loadCsvs(b)).foreach(csvRows += _)
      c.op("stage")(Trace.call("Publish") {
        Publish.stageAll(s, batchDir(b), stage(b))
      }).foreach { st =>
        staged += st
        c.op("publish")(Trace.call("Publish") {
          Publish.publishStaged(s, st, stage(b), sink)
        }).foreach(published += _)
      }
    }
    corpus.pass(c)
    window.zip(staged).foreach { case (b, st) =>
      c.op("replay")(Trace.call("Publish") {
        Publish.publishStaged(s, st, stage(b), sink)
      }).foreach(replayed += _)
    }
  }

  /** Count and key-hash sum of each sink's key set, in one job. */
  private def keyPrints(sinkRoot: String): Map[String, (Long, Long)] =
    StarModel.all.map { m =>
      Publish.readSink(s, sinkRoot, m).select(m.keys.map(col): _*).distinct()
        .select(lit(m.name).as("t"), xxhash64(m.keys.map(col): _*)
          .cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), sum("h").cast("string"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), BigInt(r.getString(2)).toLong)).toMap

  def check(c: Client): Seq[String] = {
    val csv = csvRows.zip(window).collect {
      case ((d, w), b) if d != RowsPerBatch || w != HoursPerBatch * 2 =>
        s"batch $b: CsvLoaders loaded $d delay / $w weather rows, " +
          s"expected $RowsPerBatch / ${HoursPerBatch * 2}"
    }
    // the reference: one publish of the same hours as a single batch
    val one = s"$root/oneshot"
    Files.createDirectories(Paths.get(s"$one/events.parquet"))
    window.foreach { b =>
      link(s"$one/events.parquet/part-$b.parquet",
        s"$in/events_by_batch/b=$b/part-0.parquet")
    }
    Seq("orders", "lineitem", "customer", "supplier").foreach { t =>
      link(s"$one/$t.parquet", s"$in/dims/$t.parquet")
    }
    Publish.publishAll(s, one, s"$one/sink")
    csv.toSeq ++ EtlCorpus.checkReplays(replayed.toSeq, window.size) ++
      EtlCorpus.checkSinks(keyPrints(s"$one/sink"), keyPrints(sink)) ++
      corpus.check()
  }

  /** The sinks (and the PQ-indexed corpus table) over the same rows
    * written once as plain parquet. */
  def spaceAmp(): Double = {
    val plain = s"$root/plain"
    StarModel.all.foreach { m =>
      Publish.readSink(s, sink, m).write.parquet(s"$plain/${m.name}")
    }
    Stats.bytesUnder(sink).toDouble / Stats.bytesUnder(plain)
  }

  override def oracleCases(): Seq[(String, String)] = corpus.oracleCases()

  def extraMetrics(c: Client): Seq[(String, Double, String, Int)] = {
    def med(kinds: String*) = {
      val xs = c.seconds(kinds: _*)
      (if (xs.isEmpty) Double.NaN else Stats.median(xs), xs.size)
    }
    // a failed stage skips its publish, so index each kind on its own
    val batch = window.indices.map { i =>
      Seq("csv_load", "stage", "publish")
        .map(k => c.seconds(k).lift(i).getOrElse(0.0)).sum
    }
    val write = c.seconds("stage", "publish", "replay")
    val (replay, nReplay) = med("replay")
    val (corpusP50, nCorpus) = med(corpus.Calls.map(_._1): _*)
    Seq(("batch_p50_s", Stats.median(batch), "s", batch.size),
      ("replay_p50_s", replay, "s", nReplay),
      ("write_p50_s", Stats.median(write), "s", write.size),
      ("write_tail_s", Stats.tail(write)._1, "s", write.size),
      ("corpus_call_p50_s", corpusP50, "s", nCorpus),
      ("ann_space_amp", corpus.annSpaceAmp(), "x", 1))
  }

  override def layerMetrics(): Map[String, Double] = {
    val stagedRows = staged.map(_.map(_.rows).sum).sum.toDouble
    val appended = (published ++ replayed).map(_.map(_._2).sum).sum.toDouble
    val offered = stagedRows * (1 + replayed.size.toDouble /
      math.max(1, staged.size))
    Map("Publish.rows_staged" -> stagedRows,
      "Publish.rows_appended" -> appended,
      "Publish.new_row_ratio" -> (if (offered > 0) appended / offered else 0))
  }
}

object EtlCorpus {
  /** Every replayed batch appended zero rows to every sink. */
  def checkReplays(replayed: Seq[Seq[(String, Long)]], batches: Int)
  : Seq[String] =
    (if (replayed.size != batches)
      Seq(s"replayed ${replayed.size} of $batches published batches")
    else Nil) ++ replayed.zipWithIndex.flatMap { case (r, i) =>
      r.collect { case (t, n) if n != 0 =>
        s"replay of batch $i appended $n rows to $t" }
    }

  /** Each sink holds exactly the key set of the one-shot publish. */
  def checkSinks(expected: Map[String, (Long, Long)],
                 actual: Map[String, (Long, Long)]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (t, e) if !actual.get(t).contains(e) =>
        s"sink $t key set ${actual.get(t)} differs from one-shot publish $e"
    }
}
