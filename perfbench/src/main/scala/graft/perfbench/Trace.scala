package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer tracing, recorded at the boundary of every call the
  * benchmark makes into a module. Disabled (every hook a no-op) in the
  * untraced run that gives the end-to-end numbers.
  *
  * A call is a span: `call(module)` sets the module as a Spark local
  * property, so jobs (listener), tasks (`TaskContext`) and filesystem
  * ops ([[CountingFs]]) started on its behalf, in any thread, are
  * attributed to it. Streaming threads inherit the property of the
  * thread that started the query. */
object Trace {
  val ModuleKey = "graft.perfbench.module"

  /** The modules every workload reports, in table order. */
  val Modules: Seq[String] = Seq("CsvLoaders", "Publish", "GraftDataSource",
    "DeleteVectors", "Merge", "Compact", "GraftMicroBatchStream",
    "TableHistory", "GraftMetaAgg", "Dedup", "Similarity", "Graphs",
    "AnnIndex")

  /** Benchmark bookkeeping (generation lookups, checks): counted apart
    * so it never inflates a module's or the commit log's counts. */
  val Bench = "bench"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _

  final class Counters {
    val calls, busyMs, jobs, tasks, driverMeta, taskMeta, opens, creates,
      bytesWritten, bytesRead, rowsRead = new AtomicLong
  }
  private val counters = new ConcurrentHashMap[String, Counters]
  def of(module: String): Counters =
    counters.computeIfAbsent(module, _ => new Counters)

  val commits, manifestReads, logLists, filesKept, filesSkipped =
    new AtomicLong
  val streamMs: ConcurrentHashMap[String, AtomicLong] =
    new ConcurrentHashMap[String, AtomicLong]

  final case class Span(module: String, startMs: Long, endMs: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  final case class Job(startMs: Long, endMs: Long)
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageModule = new ConcurrentHashMap[Int, String]

  def currentModule(): String = {
    val tc = TaskContext.get()
    val m =
      if (tc != null) tc.getLocalProperty(ModuleKey)
      else if (sc != null) sc.getLocalProperty(ModuleKey)
      else null
    if (m == null) "-" else m
  }

  /** Run `f` as one call into `module`; failures propagate unchanged. */
  def call[A](module: String)(f: => A): A = {
    if (!enabled) return f
    val prev = sc.getLocalProperty(ModuleKey)
    sc.setLocalProperty(ModuleKey, module)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(ModuleKey, prev)
      val c = of(module)
      c.calls.incrementAndGet()
      c.busyMs.addAndGet(t1 - t0)
      spans.add(Span(module, t0, t1))
    }
  }

  /** Run `f` with `module` as the thread's module property whether or
    * not tracing is on: threads started inside (a stream's) inherit it. */
  def withModule[A](module: String)(f: => A): A = {
    val prev = sc.getLocalProperty(ModuleKey)
    sc.setLocalProperty(ModuleKey, module)
    try f finally sc.setLocalProperty(ModuleKey, prev)
  }

  /** Add the file-pruning decision of an executed graft read. */
  def probeScan(df: org.apache.spark.sql.DataFrame): Unit = if (enabled) {
    val (kept, skipped) = graft.sources.PerfbenchScanProbe.files(
      df.queryExecution.optimizedPlan)
    filesKept.addAndGet(kept)
    filesSkipped.addAndGet(skipped)
  }

  private def isLog(path: String): Boolean =
    path.contains("/" + graft.operators.CommitLog.LogDirName)

  def fsOp(path: String, kind: CountingFs.Kind): Unit = if (enabled) {
    val module = currentModule()
    val c = of(module)
    val inTask = TaskContext.get() != null
    kind match {
      case CountingFs.Open => c.opens.incrementAndGet()
      case CountingFs.Create => c.creates.incrementAndGet()
      case _ =>
        if (inTask) c.taskMeta.incrementAndGet()
        else c.driverMeta.incrementAndGet()
    }
    if (module != Bench && isLog(path)) kind match {
      case CountingFs.List
          if path.endsWith(graft.operators.CommitLog.LogDirName) =>
        logLists.incrementAndGet()
      case CountingFs.Open if path.endsWith(".manifest") =>
        manifestReads.incrementAndGet()
      // a commit stages `.<gen>.manifest.<uuid>.tmp` and publishes it
      // exclusively (a hard link on the local filesystem)
      case CountingFs.Create if path.endsWith(".tmp") &&
          path.contains(".manifest.") =>
        commits.incrementAndGet()
      case _ =>
    }
  }

  def bytesWritten(module: String, n: Long): Unit =
    if (enabled) of(module).bytesWritten.addAndGet(n)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val m = Option(e.properties).flatMap(p =>
        Option(p.getProperty(ModuleKey))).getOrElse("-")
      e.stageIds.foreach(stageModule.put(_, m))
      jobStart.put(e.jobId, e.time)
      of(m).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t =>
        jobs.add(Job(t.longValue, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = of(stageModule.getOrDefault(e.stageId, "-"))
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { tm =>
        c.bytesRead.addAndGet(tm.inputMetrics.bytesRead)
        c.rowsRead.addAndGet(tm.inputMetrics.recordsRead)
      }
    }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        streamMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
      }
  }

  /** Hooks the session; `traced = false` leaves every hook a no-op. */
  def install(spark: SparkSession, traced: Boolean): Unit = {
    sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(Listener)
      spark.streams.addListener(StreamListener)
    }
  }

  /** Start counting from zero (after set-up and warm-up). */
  def reset(): Unit = {
    counters.clear(); spans.clear(); jobs.clear(); streamMs.clear()
    Seq(commits, manifestReads, logLists, filesKept, filesSkipped)
      .foreach(_.set(0L))
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def spansOf(module: String): Seq[Span] =
    spans.asScala.filter(_.module == module).toSeq

  /** Wall time of `s` during which no Spark job was running. */
  def gapMs(s: Span): Long = {
    val ivs = jobs.asScala.toSeq
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endMs - s.startMs) - covered
  }

  /** Wall time from the start of `s` to the first job it started (or
    * its end when it started none): planning and manifest resolution. */
  def firstJobMs(s: Span): Long = {
    val starts = jobs.asScala.map(_.startMs)
      .filter(t => t >= s.startMs && t <= s.endMs)
    (if (starts.isEmpty) s.endMs else starts.min) - s.startMs
  }

  def counterSnapshot: Map[String, Counters] =
    counters.asScala.toMap
}
