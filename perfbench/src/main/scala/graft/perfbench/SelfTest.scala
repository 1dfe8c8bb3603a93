package graft.perfbench

import graft.operators.DeleteVectors
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests (`python3 perfbench/run.py --self-test`):
  *   - the counting filesystem gives identical, non-zero counts for the
  *     same append + `deleteWhere` on a tiny table, run twice;
  *   - every correctness checker rejects a corrupted result and accepts
  *     the right one.
  * Prints `SELFTEST PASS` when every case holds. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** Per-module counts of one fixed append + delete in `dir`. */
  private def tinyOps(s: SparkSession, dir: String): Map[String, Seq[Long]] = {
    Trace.reset()
    Trace.enabled = true
    try {
      Trace.call("GraftDataSource") {
        s.range(0, 1000, 1, 2).select(col("id").as("k"),
          (col("id") * 2).as("v")).write.format("graft").mode("append")
          .save(dir)
      }
      Trace.call("DeleteVectors") {
        DeleteVectors.deleteWhere(s, dir, col("k") % 7 === 0)
      }
    } finally Trace.enabled = false
    Trace.drain()
    val mods = Trace.counterSnapshot.filter { case (m, _) =>
      m == "GraftDataSource" || m == "DeleteVectors" }
    mods.map { case (m, c) =>
      m -> Seq(c.calls.get, c.jobs.get, c.tasks.get, c.driverMeta.get,
        c.taskMeta.get, c.opens.get, c.creates.get)
    } ++ Map("CommitLog" -> Seq(Trace.commits.get, Trace.manifestReads.get,
      Trace.logLists.get))
  }

  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collect { case Array("--work", v) => v }
      .toSeq.head
    val s = Main.session(work, traced = true)
    Trace.install(s, traced = true)

    val first = tinyOps(s, s"$work/fs1")
    val second = tinyOps(s, s"$work/fs2")
    println(s"counts run 1: $first")
    println(s"counts run 2: $second")
    expect("counting filesystem: identical counts on two runs",
      first == second)
    expect("counting filesystem: driver metadata ops counted",
      first.get("DeleteVectors").exists(_(3) > 0))
    expect("counting filesystem: commits counted on the log directory",
      first("CommitLog").head >= 2)

    // etl_corpus
    expect("etl_corpus replay gate accepts zero appends",
      EtlCorpus.checkReplays(Seq(Seq("LineDim" -> 0L, "TimeDim" -> 0L)), 1)
        .isEmpty)
    expect("etl_corpus replay gate rejects a re-appending replay",
      EtlCorpus.checkReplays(Seq(Seq("LineDim" -> 0L, "TimeDim" -> 3L)), 1)
        .nonEmpty)
    expect("etl_corpus replay gate rejects a missing replay",
      EtlCorpus.checkReplays(Nil, 1).nonEmpty)
    val sinks = Map("LineDim" -> (10L, 12345L), "DelayFact" -> (99L, -7L))
    expect("etl_corpus sink gate accepts equal key sets",
      EtlCorpus.checkSinks(sinks, sinks).isEmpty)
    expect("etl_corpus sink gate rejects a changed key set",
      EtlCorpus.checkSinks(sinks, sinks.updated("DelayFact", (99L, -8L)))
        .nonEmpty)

    // table_rw_mix
    val model = Map(1L -> 10L, 2L -> 20L, 3L -> 30L)
    val rows = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)
    expect("table_rw_mix model gate accepts the model's rows",
      TableRwMix.checkModel("t", model, rows).isEmpty)
    expect("table_rw_mix model gate rejects a wrong value",
      TableRwMix.checkModel("t", model, rows.updated(1, 2L -> 21L)).nonEmpty)
    expect("table_rw_mix model gate rejects a missing key",
      TableRwMix.checkModel("t", model, rows.take(2)).nonEmpty)
    expect("table_rw_mix model gate rejects a duplicated key",
      TableRwMix.checkModel("t", model, rows :+ (3L -> 30L)).nonEmpty)

    // etl_corpus repeat check and any row-set comparison
    val ref = Seq(Row("A", "F", 10L, 1.5), Row("N", "O", 4L, 2.25))
    expect("row-set gate accepts the reference rows in any order",
      Checks.sameRows("q", ref, ref.reverse).isEmpty)
    expect("row-set gate rejects a changed sum",
      Checks.sameRows("q", ref,
        Seq(Row("A", "F", 10L, 1.5), Row("N", "O", 4L, 2.26))).nonEmpty)
    expect("row-set gate rejects a dropped group",
      Checks.sameRows("q", ref, ref.take(1)).nonEmpty)

    s.stop()
    println(if (failures == 0) "SELFTEST PASS" else s"SELFTEST FAIL ($failures)")
  }
}
