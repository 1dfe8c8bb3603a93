package graft.perfbench

/** Turns the tracer's counters into the per-layer metric table. */
object Layers {
  /** `samples` is the number of calls the figure was summed over;
    * `perCall` marks figures whose per-call mean is meaningful. */
  final case class Metric(name: String, value: Double, unit: String,
                          samples: Long, perCall: Boolean = true)

  /** Workload-measured per-layer figures, with their units. */
  val WorkloadMetrics: Seq[(String, String)] = Seq(
    "CommitLog.generations" -> "count",
    "GraftDataSource.vs_parquet" -> "ratio",
    "Publish.rows_staged" -> "rows",
    "Publish.rows_appended" -> "rows",
    "Publish.new_row_ratio" -> "ratio",
    "Compact.bytes_rewritten" -> "bytes")

  def collect(fromWorkload: Map[String, Double], gcS: Double): Seq[Metric] = {
    val snap = Trace.counterSnapshot
    def cnt(m: String) = snap.getOrElse(m, new Trace.Counters)
    val perModule = Trace.Modules.flatMap { m =>
      val c = cnt(m)
      val spans = Trace.spansOf(m)
      val n = c.calls.get
      Seq(
        Metric(s"$m.calls", n.toDouble, "count", n, perCall = false),
        Metric(s"$m.s", c.busyMs.get / 1000.0, "s", n),
        Metric(s"$m.jobs", c.jobs.get.toDouble, "count", n),
        Metric(s"$m.tasks", c.tasks.get.toDouble, "count", n),
        Metric(s"$m.driver_gap_s", spans.map(Trace.gapMs).sum / 1000.0,
          "s", n),
        Metric(s"$m.fs_meta", c.driverMeta.get.toDouble, "count", n),
        Metric(s"$m.fs_open", c.opens.get.toDouble, "count", n),
        Metric(s"$m.bytes_written", c.bytesWritten.get.toDouble, "bytes",
          n))
    }
    val ds = cnt("GraftDataSource")
    val dsSpans = Trace.spansOf("GraftDataSource")
    val nDs = dsSpans.size.toLong
    val commitCalls = Trace.Modules.map(cnt(_).calls.get).sum
    def stream(k: String) =
      Option(Trace.streamMs.get(k)).map(_.get / 1000.0).getOrElse(0.0)
    val nStream = cnt("GraftMicroBatchStream").calls.get
    val extra = Seq(
      Metric("CommitLog.commits", Trace.commits.get.toDouble, "count",
        commitCalls),
      Metric("CommitLog.manifest_reads", Trace.manifestReads.get.toDouble,
        "count", commitCalls),
      Metric("CommitLog.log_lists", Trace.logLists.get.toDouble, "count",
        commitCalls),
      Metric("GraftDataSource.files_read", Trace.filesKept.get.toDouble,
        "count", nDs),
      Metric("GraftDataSource.files_pruned", Trace.filesSkipped.get.toDouble,
        "count", nDs),
      Metric("GraftDataSource.rows_read", ds.rowsRead.get.toDouble, "rows",
        nDs),
      Metric("GraftDataSource.bytes_read", ds.bytesRead.get.toDouble,
        "bytes", nDs),
      Metric("GraftDataSource.planning_s",
        dsSpans.map(Trace.firstJobMs).sum / 1000.0, "s", nDs),
      // Spark reports the offset poll as `getOffset` for a V1 source
      Metric("GraftMicroBatchStream.latest_offset_s",
        stream("latestOffset") + stream("getOffset"),
        "s", nStream),
      Metric("GraftMicroBatchStream.get_batch_s", stream("getBatch"), "s",
        nStream),
      Metric("GraftMicroBatchStream.add_batch_s", stream("addBatch"), "s",
        nStream),
      Metric("GraftMicroBatchStream.wal_commit_s", stream("walCommit"), "s",
        nStream),
      Metric("jvm.gc_s", gcS, "s", 1, perCall = false))
    val measured = WorkloadMetrics.map { case (n, u) =>
      Metric(n, fromWorkload.getOrElse(n, 0.0), u,
        if (fromWorkload.contains(n)) 1L else 0L, perCall = false)
    }
    perModule ++ extra ++ measured
  }
}
