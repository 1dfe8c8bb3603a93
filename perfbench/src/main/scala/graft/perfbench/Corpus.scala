package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.operators.{AnnIndex, CommitLog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-prep pass of `etl_corpus`: the LLM-data-pipeline operators
  * on generated `documents`, `embeddings` and the `lineitem`
  * part–supplier graph, through the engine's own query calls (same
  * input preparation, same arguments): Jaccard near-dup pairs (q26,
  * `Dedup`), cosine near-dup pairs (q55, `Similarity`), a PQ index build
  * + top-k serve (`AnnIndex`, q359's calls on a corpus its codebook
  * covers, so the served distances are exact) and multi-source BFS
  * (q160, `Graphs`): one call per module.
  *
  * Each call's rows must equal its first call's; the first call's rows
  * are checked against DuckDB oracle SQL over the same generated inputs
  * (by `run.py`). */
final class Corpus(s: SparkSession) {
  /** Indexed vectors; the codebook covers all of them. */
  val AnnVectors = 40
  val AnnCodebook = 64

  /** (call, module) of one pass, in order. */
  val Calls: Seq[(String, String)] = Seq(
    "q26_dedup_jaccard" -> "Dedup",
    "q55_cosine_near_dup" -> "Similarity",
    "ann_pq" -> "AnnIndex",
    "q160_bfs_hops" -> "Graphs")

  private var in: String = _
  private var root: String = _
  private val first = mutable.Map.empty[String, (Seq[Row], DataFrame)]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var annCalls = 0

  def setup(inputs: String, root: String): Unit = {
    this.in = inputs
    this.root = root
    first.clear(); mismatches.clear()
  }

  private def annSink(i: Int) = s"$root/ann/$i"

  /** Index the first `AnnVectors` embeddings and serve six of them. */
  private def ann(): DataFrame = {
    annCalls += 1
    val sink = annSink(annCalls)
    val emb = s.read.parquet(s"$in/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    emb.filter(col("vec_id") < AnnVectors).repartition(2).write.parquet(sink)
    val hp = new org.apache.hadoop.fs.Path(sink)
    CommitLog.ensureLoggedAt(
      hp.getFileSystem(s.sparkContext.hadoopConfiguration), hp)
    AnnIndex.buildPq(s, sink, subspaces = 8, codebookSize = AnnCodebook)
    AnnIndex.topKPq(s, sink, emb.filter(col("vec_id") < 6), nProbe = 16,
        k = 5)
      .select(col("qid").cast("long").as("qid"), col("did"),
        col("approx_dist"), col("rank"))
      .orderBy("qid", "rank")
  }

  private def call(name: String): DataFrame =
    if (name == "ann_pq") ann() else SparkEntry.queries(name)(s, in)

  /** One pass: every call once, each a client op. */
  def pass(c: Client): Unit = Calls.foreach { case (q, module) =>
    c.op(q)(Trace.call(module) {
      val df = call(q)
      (df.collect().toSeq, df)
    }).foreach { case (rows, df) =>
      first.get(q) match {
        case None => first(q) = (rows, df)
        case Some((prev, _)) => Checks.sameRows(s"$q repeat", prev, rows)
          .foreach(mismatches += _)
      }
    }
  }

  def check(): Seq[String] =
    mismatches.toSeq ++ Calls.map(_._1).filterNot(first.contains)
      .map(q => s"$q never completed")

  /** Exact top-5 by integer squared L2 (q359's oracle on this corpus). */
  private def annSql: String =
    s"""WITH v AS (
         SELECT vec_id,
                [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                 for x in embedding] AS e
         FROM embeddings WHERE vec_id < $AnnVectors),
       n AS (SELECT vec_id, e, list_sum([y * y for y in e]) AS nn FROM v),
       p AS (
         SELECT q.vec_id AS qid, d.vec_id AS did,
                CAST(q.nn + d.nn - 2 * list_sum(
                  [q.e[i] * d.e[i] for i in generate_series(1, len(q.e))])
                  AS BIGINT) AS approx_dist
         FROM n q CROSS JOIN n d WHERE q.vec_id < 6),
       r AS (
         SELECT qid, did, approx_dist,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY approx_dist ASC, did ASC) AS INTEGER) AS rank
         FROM p)
       SELECT qid, did, approx_dist, rank FROM r WHERE rank <= 5
       ORDER BY qid, rank"""

  /** Each call's first result and its oracle SQL, one directory each. */
  def oracleCases(): Seq[(String, String)] = first.keys.toSeq.sorted.map {
    q =>
      val dir = s"$root/oracle/$q"
      val (rows, df) = first(q)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$dir/result.parquet")
      Files.writeString(Paths.get(s"$dir/oracle.sql"),
        if (q == "ann_pq") annSql else SparkEntry.oracleSql(q))
      Files.writeString(Paths.get(s"$dir/inputs.txt"), in)
      q -> dir
  }

  /** The last PQ-indexed table (data, log, index sidecars) over the same
    * rows as plain parquet. */
  def annSpaceAmp(): Double = {
    val plain = s"$root/ann_plain"
    s.read.parquet(annSink(annCalls)).write.parquet(plain)
    Stats.bytesUnder(annSink(annCalls)).toDouble / Stats.bytesUnder(plain)
  }
}
