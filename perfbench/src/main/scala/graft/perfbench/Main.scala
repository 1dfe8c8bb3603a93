package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload instance for one run. `setup` is called several times,
  * each on fresh generated inputs and a fresh directory; the state of the
  * last call is the one `run` and `check` use. */
trait Workload {
  /** Build the initial state in `root` from the generated `inputs`. */
  def setup(inputs: String, root: String): Unit
  /** The closed loop: a fixed script of client calls, every one through
    * `c`, whose length is set by `seconds` alone — never by how fast
    * the calls complete — so every run of a seed does the same work. */
  def run(c: Client, seconds: Double): Unit
  /** Correctness gates over the run's outputs; one message per failure. */
  def check(c: Client): Seq[String]
  /** Bytes under the workload's table roots over the bytes of the same
    * live rows written once as plain parquet. */
  def spaceAmp(): Double
  /** Workload-specific end-to-end figures: name -> (value, unit, n). */
  def extraMetrics(c: Client): Seq[(String, Double, String, Int)]
  /** Per-layer figures only the workload can measure (traced run). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Files the JVM hands to the out-of-process oracle check. */
  def oracleCases(): Seq[(String, String)] = Nil
  def close(): Unit = ()
}

/** Entry point of one benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir>`. Prints a human table and, last, one
  * `PERFBENCH_RESULT <json>` line that `run.py` turns into the result. */
object Main {
  def session(work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, s: SparkSession, seed: Long): Workload =
    name match {
      case "etl_corpus" => new EtlCorpus(s, seed)
      case "table_rw_mix" => new TableRwMix(s, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    // input generation (`inputs.py`) ran before the JVM, once per set-up
    val inputs = opts("inputs").split(",").toSeq
    val genS = opts("gen-s").toDouble

    val t0 = System.nanoTime()
    val s = session(work, traced)
    Trace.install(s, traced)
    s.range(100000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w = workload(name, s, seed)
    val setups = inputs.zipWithIndex.map { case (in, i) =>
      val root = s"$work/setup$i"
      val a = System.nanoTime()
      w.setup(in, root)
      val dt = (System.nanoTime() - a) / 1e9
      // only the last set-up's state is used; earlier ones are deleted
      if (i > 0) {
        graft.io.Sources.deleteRecursively(s"$work/setup${i - 1}")
        graft.io.Sources.deleteRecursively(inputs(i - 1))
      }
      dt
    }
    val setupS = genS + sessionS + Stats.median(setups)

    System.gc()
    // set-up's job and task events must land before the counters restart
    Trace.drain()
    Trace.reset()
    Trace.enabled = traced
    val gc0 = gcMs
    val c = new Client
    val r0 = System.nanoTime()
    try w.run(c, seconds)
    finally {
      Trace.enabled = false
      w.close()
    }
    val phaseS = (System.nanoTime() - r0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    Trace.drain()
    // Spark's cleaner releases broadcast and shuffle blocks of collected
    // plans asynchronously, after a GC finds them unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / (1024.0 * 1024.0)

    val failures = Checks.guard("check")(w.check(c))
    val amp = w.spaceAmp()
    val all = c.seconds()
    val (tail, tailPct) = Stats.tail(all)
    val e2e = Seq(
      ("setup_s", setupS, "s", setups.size),
      ("run_s", phaseS, "s", 1),
      ("space_amp", amp, "x", 1),
      ("live_heap_mb", heapMb, "MB", 1))

    val report = new Report(name, seed, seconds, traced)
    // printed, not reported: the median of a run's few calls of different
    // kinds, and a tail with ten samples beyond it, are not steady from
    // run to run
    val extra = Seq(("op_p50_s", Stats.median(all), "s", all.size),
      ("op_tail_s", tail, "s", all.size)) ++ w.extraMetrics(c)
    report.printEndToEnd(e2e, extra, c, tailPct, genS, sessionS, setups)
    val layers =
      if (traced) Layers.collect(w.layerMetrics(), gcS) else Nil
    if (traced) report.printLayers(layers)
    if (c.errors.nonEmpty) {
      println(s"[perfbench] ${c.errors.size} failed operation(s):")
      c.errors.take(10).foreach(e => println(s"  $e"))
    }
    failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    println("PERFBENCH_RESULT " + report.json(
      correct = failures.isEmpty, c.attempted, c.failed,
      if (traced) layers.map(l => (l.name, l.value, l.unit))
      else e2e.map(m => (m._1, m._2, m._3)),
      w.oracleCases()))
    s.stop()
  }
}
