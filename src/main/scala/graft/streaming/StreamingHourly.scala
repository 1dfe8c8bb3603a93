package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming form of the reference's hourly micro-batch
  * semantics (SURVEY §2.9): the Airflow `@hourly` + `catchup=True` loop
  * (`dags/idh_etl.py:47-53`) becomes a file-source stream with 1-hour
  * tumbling windows; `Trigger.AvailableNow` reproduces the bounded
  * backfill (process everything currently present, then stop).
  *
  * Scale notes: the same plan runs unbounded on a real cluster — the file
  * source discovers new hourly partitions incrementally, the stateful
  * aggregation keeps one row per open window per key, and the watermark
  * (T2: late events collapse into their hour until the watermark passes)
  * bounds state. Here the sink is `memory` for the verify harness; in
  * production it would be a parquet/Delta append sink with the same plan.
  */
object StreamingHourly {
  private val runId = new AtomicInteger(0)

  /** Events file-stream source, shared by every streaming query here.
    * Harness generations have stored `ts` either as TIMESTAMP(NANOS)
    * (streams as ns longs, truncated to µs here) or as naive µs
    * timestamps (NTZ inference disabled so they stream as
    * TimestampType) — the same normalization `graft.io.Sources.table`
    * applies on the batch path, keyed off the inferred schema. The
    * directory is streamed with a glob filter because the file-stream
    * source needs a directory base and `$dir/events.parquet` is a
    * single file. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.io.Sources.harnessReadConf(spark)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // `$dir/events.parquet` is a single FILE in driver testdata but a
    // part-file DIRECTORY in ScaleUp-synthesized dirs; the file-stream
    // source needs a directory base either way, so pick it (and the
    // glob) by what's on disk — with the flat-file glob, a directory's
    // part files would silently stream ZERO rows
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src =
      if (fs.getFileStatus(p).isDirectory)
        spark.readStream.schema(schema).parquet(p.toString)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
    graft.io.Sources.normalizeNsTs(src, "ts")
  }

  /** Hourly tumbling count/sum over the events table, executed as a
    * Structured Streaming query with AvailableNow, returned as the
    * materialized result. Matches the batch q24 semantics exactly. */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_hourly_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    // stateful run: state partitions derived from the input size, not
    // the core count (Sources.streamShufflePartitions — AQE cannot
    // coalesce stateful exchanges, so the session constant would pin
    // one state-store lifecycle per core per micro-batch)
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select(col("w.start").as("hour_ts"), col("n_events"),
        col("sum_value"))
      .orderBy("hour_ts")
  }

  /** Stream-stream inner self-join with watermarks on BOTH sides: pairs
    * of same-user events in the same hour (a_id < b_id). The join
    * carries an event-time range condition (implied by the same-hour
    * equality, so it does not narrow the semantics) — that is what lets
    * the state store evict rows once the watermark passes, which is the
    * property that makes a stream-stream join runnable unbounded at
    * scale. AvailableNow bounds this run; the spec pins
    * streaming ≡ batch self-join. */
  def streamStreamPairs(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_pairs_${runId.incrementAndGet()}"
    def src(): DataFrame = eventsStream(spark, dir)
    val a = src()
      .select(col("user_id"), col("event_id").as("a_id"),
        date_trunc("hour", col("ts")).as("hour"), col("ts").as("a_ts"))
      .filter(col("user_id") < 5)
      .withWatermark("a_ts", "1 hour")
    val b = src()
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        date_trunc("hour", col("ts")).as("b_hour"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user_id") === col("b_user") && col("hour") === col("b_hour") &&
        col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") - expr("INTERVAL 1 HOUR") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("hour"), col("a_id"), col("b_id"))
    // input-sized state partitioning (see hourlyAgg) — a stream-stream
    // join holds FOUR state stores per partition per batch, so the
    // constant-32 layout cost 342.7 s of task time on this fixture
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name).orderBy("user_id", "hour", "a_id", "b_id")
  }

  /** STREAMING session windows: the q49 batch semantics (30-minute gap
    * per user) executed as a stateful streaming aggregation —
    * `session_window` merges a key's open sessions in the state store
    * as events arrive; AvailableNow bounds the run. Same result set as
    * batch q49, and the oracle IS q49's gap-and-islands SQL — the
    * strongest statement of batch/streaming parity the harness can
    * make.
    *
    * Output-mode tradeoff, explicit: this harness run uses COMPLETE
    * mode, where Spark retains every session's state for the life of
    * the query and the watermark evicts nothing — required here
    * because append mode only emits sessions the final watermark has
    * passed, and a bounded replay's last hour of sessions would be
    * withheld, breaking the q49 parity check. An UNBOUNDED deployment
    * must instead run append mode, where the watermark both emits and
    * EVICTS closed sessions and state holds only each user's open
    * sessions — same plan, one `.outputMode` change, and the sink then
    * receives each session exactly once on close. */
  def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sessions_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    // input-sized state partitioning (see hourlyAgg)
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** q100's APPEND-MODE twin — the unbounded-deployment configuration
    * run against the same bounded replay: the watermark both EMITS and
    * EVICTS closed sessions, so the sink receives exactly the sessions
    * the final watermark (max event time, ms floor, − 1 h) has passed,
    * and the state store ends holding only the still-open tail. The
    * withheld tail is not a bug but the mode's contract — the oracle
    * is q49's gap-and-islands SQL RESTRICTED to watermark-closed
    * sessions, which makes the emission boundary itself the thing the
    * hash compare pins (q100 pins the session CONTENTS via COMPLETE
    * mode; together the two cover both halves of the tradeoff its
    * scaladoc documents). Exactly-once emission and state eviction on
    * this path are spec'd batch-by-batch in MultimodalStreamingSpec. */
  def sessionAggAppend(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sessions_append_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    // input-sized state partitioning (see hourlyAgg)
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming dedup of an at-least-once feed via
    * `dropDuplicatesWithinWatermark` — the stateful-dedup half of the
    * exactly-once story (the sink half is the q56/T3 keyed upsert; this
    * removes duplicates IN-STREAM so they never reach the sink at all).
    * The feed is the events table with every third event re-delivered
    * (a second copy appended as separate files — the at-least-once
    * source shape); the stream keys dedup state by `event_id` under a
    * 1-hour watermark, which is what BOUNDS the state at scale: a
    * duplicate arriving within the watermark of its original is
    * dropped, and state for event-times older than the watermark is
    * evicted instead of accumulating one entry per event forever
    * (unbounded `dropDuplicates` would OOM an unbounded stream). The
    * hourly rollup of the deduped stream must equal the batch rollup
    * of the original table — the oracle is exactly q46's. */
  def dedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_dedup_${runId.incrementAndGet()}"
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_feed_")
      .toString
    try {
      val ev = graft.io.Sources.table(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("value"))
      ev.write.parquet(s"$root/feed")
      ev.filter(col("event_id") % 3 === 0)
        .write.mode("append").parquet(s"$root/feed")
      val schema = spark.read.parquet(s"$root/feed").schema
      val deduped = spark.readStream.schema(schema)
        .parquet(s"$root/feed")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      // input-sized state partitioning (see hourlyAgg)
      graft.io.Sources.withStreamPartitionsFor(spark, s"$root/feed") {
        val q = deduped.writeStream
          .format("memory")
          .queryName(name)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // cents-exact sum (the q125 discipline): a double sum would
      // depend on accumulation order, which the memory-sink batch does
      // not share with the oracle's scan order
      val out = spark.table(name)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)"))
            .as("sum_cents"))
        .orderBy("hour_ts")
      // materialize BEFORE the finally deletes the scratch feed
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      graft.io.Sources.deleteRecursively(root)
    }
  }

  /** Stream-stream LEFT OUTER join with watermarks on both sides — the
    * tier above [[streamStreamPairs]]'s inner join: purchases (left)
    * pair with same-user same-hour clicks; a purchase with NO click
    * emits with a NULL click id once the watermark EXPIRES its state
    * (the only moment "no match" becomes knowable on an unbounded
    * stream). Matched rows emit immediately, inner-style. The oracle
    * re-derives both halves: the matched set relationally, and the
    * unmatched set gated by the final watermark (ms-floor(max ts) −
    * 1 h, the q38 discipline) against the row's join-window upper
    * bound — purchases still inside the window at end-of-input are
    * correctly ABSENT. */
  def streamOuterPairs(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_outer_${runId.incrementAndGet()}"
    def src(): DataFrame = eventsStream(spark, dir)
    val a = src()
      .filter(col("event_type") === "purchase" && col("user_id") < 5)
      .select(col("user_id"), col("event_id").as("a_id"),
        date_trunc("hour", col("ts")).as("hour"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val b = src()
      .filter(col("event_type") === "click")
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        date_trunc("hour", col("ts")).as("b_hour"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = a.join(b,
      col("user_id") === col("b_user") && col("hour") === col("b_hour") &&
        col("b_ts") >= col("a_ts") - expr("INTERVAL 1 HOUR") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("hour"), col("a_id"), col("b_id"))
    // input-sized state partitioning (see hourlyAgg)
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name)
      .orderBy(col("user_id"), col("hour"), col("a_id"),
        col("b_id").asc_nulls_last)
  }

  /** SLIDING windows (1 h length, 15 min slide): every event lands in
    * exactly four overlapping windows — the moving-average shape
    * monitoring dashboards want, which tumbling (q46) cannot express.
    * State cost is windows-per-event × open keys (4× q46's here),
    * bounded by the same watermark eviction; the oracle re-derives the
    * 4-window fan-out relationally (epoch-aligned 15-min bucket minus
    * j slides), so streaming ≡ batch pins the window assignment
    * arithmetic exactly — including the [start, end) boundary
    * convention both engines must share. */
  def slidingHourly(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sliding_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    // input-sized state partitioning (see hourlyAgg)
    graft.io.Sources.withStreamPartitionsFor(spark,
        s"$dir/events.parquet") {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name)
      .select(col("w.start").as("w_start"), col("n_events"), col("cents"))
      .orderBy("w_start")
  }

  /** Per-user running state carried across micro-batches: event count,
    * cents total, and how many batches touched this key (the proof the
    * state actually survived a batch boundary). */
  final case class RunState(n: Long, cents: Long, updates: Int)
  final case class RunOut(user_id: Long, n_events: Long, cents: Long,
                          n_updates: Int)

  /** CUSTOM arbitrary state via `flatMapGroupsWithState` — the
    * Structured Streaming API tier below windowed aggregation and
    * `dropDuplicates*`: user code owns the per-key state cell. Here the
    * state is a per-user running (count, cents) total maintained across
    * micro-batches; the input is forced through FOUR time-ranged files
    * with `maxFilesPerTrigger = 1`, so AvailableNow replays it as four
    * batches and the state must genuinely persist and accumulate across
    * batch boundaries (`n_updates` records how many batches touched
    * each key; the spec pins it > 1). Update output mode emits the
    * running value per touched key per batch — the final row per key
    * (max `n_events`, strictly increasing) must equal the plain batch
    * aggregate, which is the oracle.
    *
    * Scale shape: state is one fixed-size row per key in the state
    * store, partitioned by the grouping key; each micro-batch shuffles
    * only its own rows. The fold is commutative (count/sum), so file
    * replay order cannot change the result. Cents arithmetic keeps the
    * cross-engine compare exact (q125 discipline); `coalesce(…, 0)`
    * mirrors SQL sum's null-skipping inside the typed fold. */
  def customStateRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val name = s"stream_state_${runId.incrementAndGet()}"
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_state_")
      .toString
    try {
      val ev = graft.io.Sources.table(spark, dir, "events")
        .select(col("user_id"), col("ts"),
          expr("CAST(coalesce(round(value * 100), 0) AS BIGINT)")
            .as("cents"))
      ev.repartitionByRange(4, col("ts")).write.parquet(s"$root/in")
      val schema = spark.read.parquet(s"$root/in").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .select(col("user_id"), col("cents"))
        .as[(Long, Long)]
      val out = stream.groupByKey(_._1)
        .flatMapGroupsWithState[RunState, RunOut](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[RunState]) =>
            val prev = state.getOption.getOrElse(RunState(0L, 0L, 0))
            var n = prev.n; var cents = prev.cents
            rows.foreach { r => n += 1; cents += r._2 }
            val next = RunState(n, cents, prev.updates + 1)
            state.update(next)
            Iterator(RunOut(user, next.n, next.cents, next.updates))
        }
      // input-sized state partitioning (see hourlyAgg)
      graft.io.Sources.withStreamPartitionsFor(spark, s"$root/in") {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // final state per key = the emitted row with max n_events
      // (strictly increasing per update, so the max is unique)
      val fin = spark.table(name)
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("cents"), col("n_updates")))
          .as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.cents").as("cents"), col("m.n_updates").as("n_updates"))
        .orderBy("user_id")
      val rows = fin.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), fin.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  /** q166 driver entry: the oracle-comparable projection (the
    * multi-batch proof column `n_updates` is spec territory — the
    * oracle can't know micro-batch boundaries). */
  def customStateRunningQuery(spark: SparkSession,
                              dir: String): DataFrame =
    customStateRunning(spark, dir)
      .select("user_id", "n_events", "cents")

  /** Streaming MERGE into the crash-atomic commit-manifest sink — the
    * canonical production CDC-apply loop: `foreachBatch` hands each
    * micro-batch to [[graft.operators.Merge.mergeParquet]], which
    * rewrites only the touched files and flips the sink's manifest
    * generation atomically, so a reader resolves every batch's result
    * exactly-once even if the job dies mid-swap (CommitProtocolSpec owns
    * the crash windows; this query owns the streaming composition).
    *
    * The update feed is the events table's clicks with a value rewrite
    * that is a pure function of the KEY (value ← (event_id mod 1000)/100)
    * plus one synthetic INSERT row per click (key offset by 10⁷, absent
    * from the sink) — so each key's final state is independent of which
    * micro-batch carried it, and the three-file feed split by
    * `event_id % 3` (disjoint key sets, `maxFilesPerTrigger = 1` →
    * three sequential merges) is order-insensitive by construction. The
    * oracle recomputes the final sink state relationally: originals
    * with clicks' values rewritten, plus the synthetic inserts.
    *
    * Scale shape: each merge batch scans the sink's key columns once,
    * rewrites only files holding matched keys, and appends inserts;
    * state between batches lives in the sink itself (not executor
    * memory), which is what lets an unbounded CDC stream run with
    * bounded resources. Cents aggregation keeps the compare exact. */
  def streamMergeSink(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_smerge_")
      .toString
    try {
      val ev = graft.io.Sources.table(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      ev.write.parquet(s"$root/sink")
      val newVal = (col("event_id") % 1000).cast("double") / lit(100.0)
      val clicks = ev.filter(col("event_type") === "click")
      val updates = clicks
        .select(col("event_id"), col("user_id"), col("event_type"),
          newVal.as("value"))
        .unionAll(clicks.select(
          (col("event_id") + 10000000L).as("event_id"), col("user_id"),
          lit("synthetic").as("event_type"), newVal.as("value")))
      (0 until 3).foreach { b =>
        updates.filter(col("event_id") % 3 === b).coalesce(1)
          .write.mode("append").parquet(s"$root/feed")
      }
      val schema = spark.read.parquet(s"$root/feed").schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/feed")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Merge.mergeParquet(spark, batch,
            Seq("event_id"), s"$root/sink")
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val fin = graft.operators.CommitLog.read(spark, s"$root/sink")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        .orderBy("user_id")
      val rows = fin.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), fin.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  /** ONLINE ANN serving: a stream of query vectors probes a static
    * hyperplane-LSH index (the q30 family) as a stream-static join —
    * the canonical vector-serving shape: the corpus side is a fixed
    * bucketed frame (no state, re-read per micro-batch; in production a
    * cached/bucketed table), the stream side computes its bucket
    * MAP-SIDE inside the micro-batch, and only same-bucket candidates
    * are scored. The per-query best match is a streaming `max(struct)`
    * aggregate — one row of state per query key, emitted in complete
    * mode over the bounded replay (two micro-batches via
    * maxFilesPerTrigger, so the aggregate state provably crosses a
    * batch boundary). Tie-break (cosine desc, did asc) rides the
    * struct's lexicographic max with a negated id, [[graft.operators
    * .ModeAgg]]'s single-pass trick. Oracle = the batch LSH rank-1
    * reduction of q30's SQL. */
  def streamAnnServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_sann_")
      .toString
    try {
      val emb = graft.io.Sources.table(spark, dir, "embeddings")
      val dims = emb.select(size(col("embedding")).as("d"))
        .filter(col("d") > 0).limit(1).head().getInt(0)
      val w = Similarity.planeWeightsLocal(numPlanes = 6, dims)
      def bucketed(df: org.apache.spark.sql.DataFrame, id: String,
                   vec: String, norm: String) =
        df.select(col("vec_id").as(id),
            Similarity.quantize(col("embedding")).as(vec))
          .select(col(id), col(vec),
            Similarity.dotQ(col(vec), col(vec)).as(norm),
            Similarity.bucketOf(col(vec), w).as("bucket"))
      // two query files → two micro-batches; the best-match state for
      // a key lives in the agg store, not the join (static side is
      // stateless by definition of stream-static)
      val queries = emb.filter(col("vec_id") < 10)
      (0 until 2).foreach { b =>
        queries.filter(col("vec_id") % 2 === b).coalesce(1)
          .write.mode("append").parquet(s"$root/qfeed")
      }
      val schema = spark.read.parquet(s"$root/qfeed").schema
      val qstream = bucketed(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/qfeed"),
        "qid", "qe", "qn")
      val corpus = bucketed(emb, "did", "de", "dn")
      val name = s"stream_ann_${runId.incrementAndGet()}"
      val scored = qstream.join(corpus, "bucket")
        .filter(col("qid") =!= col("did")) // serving: self is not a match
        .select(col("qid"),
          struct(
            Similarity.cosineFrom(
              Similarity.dotQ(col("qe"), col("de")),
              col("qn"), col("dn")).as("cosine"),
            (-col("did")).as("neg_did")).as("cand"))
        .groupBy("qid").agg(max(col("cand")).as("best"))
      // input-sized state partitioning (see hourlyAgg) — the state here
      // is one best-match row per streamed query key
      graft.io.Sources.withStreamPartitionsFor(spark, s"$root/qfeed") {
        val q = scored.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val out = spark.table(name)
        .select(col("qid"), (-col("best.neg_did")).as("best_did"),
          col("best.cosine").as("best_cosine"))
        .orderBy("qid")
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  /** [[transformWithStateDistinct]]'s processor: per-key MapState as a
    * set of seen event types; emits the running distinct count. Defined
    * top-level (not inline) so the closure serializes without capturing
    * the enclosing query method. */
  private class TypeSetProcessor
    extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, String), (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen:
      org.apache.spark.sql.streaming.MapState[String, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Boolean]("seen",
        Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, String)],
                                 timers: org.apache.spark.sql.streaming
                                   .TimerValues)
    : Iterator[(Long, Long)] = {
      rows.foreach { r =>
        if (!seen.containsKey(r._2)) seen.updateValue(r._2, true)
      }
      Iterator((key, seen.keys().size.toLong))
    }
  }

  /** Per-user distinct-event-type census via `transformWithState` —
    * Spark 4's arbitrary-state API tier above
    * `flatMapGroupsWithState` (q166): the processor owns a typed
    * MapState cell per key (the per-key SET the old API could only
    * fake inside one opaque value), updated across four forced
    * micro-batches. Emitted rows are the running distinct count;
    * the final value per key (the max — the count is monotone) must
    * equal the batch `count(DISTINCT event_type)`, which is the
    * oracle. Set semantics make the fold order-insensitive, so file
    * replay order cannot change the result.
    *
    * Scale shape: state is |seen types| entries per key in the state
    * store (RocksDB on a real cluster), partitioned by the grouping
    * key; each micro-batch shuffles only its own rows. */
  def transformWithStateDistinct(spark: SparkSession,
                                 dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val name = s"stream_tws_${runId.incrementAndGet()}"
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_tws_")
      .toString
    // transformWithState requires a state store with column families —
    // RocksDB (the production provider), not the HDFS-backed default;
    // scoped to this query and restored after
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.io.Sources.table(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      ev.repartitionByRange(4, col("ts")).write.parquet(s"$root/in")
      val schema = spark.read.parquet(s"$root/in").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
      val out = stream.groupByKey(_._1)
        .transformWithState[(Long, Long)](new TypeSetProcessor(),
          TimeMode.None(), OutputMode.Update())
      // input-sized state partitioning (see hourlyAgg) — doubly load-
      // bearing here: each partition is a full RocksDB instance whose
      // open/commit/snapshot lifecycle (native fsyncs included) runs
      // per micro-batch whether or not the partition holds any state
      graft.io.Sources.withStreamPartitionsFor(spark, s"$root/in") {
        val q = out.toDF("user_id", "n_types")
          .writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val fin = spark.table(name)
        .groupBy("user_id").agg(max("n_types").as("n_types"))
        .orderBy("user_id")
      val rows = fin.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), fin.schema)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
      graft.io.Sources.deleteRecursively(root)
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_stream_custom_state" -> (customStateRunningQuery _),
    "q170_stream_sliding" -> (slidingHourly _),
    "q174_stream_outer_join" -> (streamOuterPairs _),
    "q46_streaming_hourly" -> (hourlyAgg _),
    "q100_stream_sessions" -> (sessionAgg _),
    "q38_stream_sessions_append" -> (sessionAggAppend _),
    "q152_stream_dedup" -> (dedupWithinWatermark _),
    "q159_stream_pairs" -> (streamStreamPairs _),
    "q179_stream_merge_sink" -> (streamMergeSink _),
    "q186_stream_ann" -> (streamAnnServe _),
    "q195_transform_with_state" -> (transformWithStateDistinct _))

  /** Oracles: identical to the batch forms (q24 / q49) — streaming and
    * batch must agree. */
  val oracles: Map[String, String] = Map(
    // q166: the custom state's final per-key value must equal the plain
    // batch aggregate — state persisted and accumulated correctly
    // across the four forced micro-batches
    // q179: the final sink state is order-insensitive by construction
    // (each key's new value is a pure function of the key, and the
    // three micro-batches carry disjoint key sets), so the oracle is
    // the relational recomputation: originals with clicks rewritten,
    // plus the synthetic inserts
    "q179_stream_merge_sink" ->
      """WITH base AS (
           SELECT user_id,
                  CASE WHEN event_type = 'click'
                    THEN CAST(event_id % 1000 AS DOUBLE) / 100.0
                    ELSE value END AS value
           FROM events),
         ins AS (
           SELECT user_id,
                  CAST(event_id % 1000 AS DOUBLE) / 100.0 AS value
           FROM events WHERE event_type = 'click'),
         u AS (
           SELECT user_id, value FROM base
           UNION ALL SELECT user_id, value FROM ins)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM u GROUP BY 1 ORDER BY 1""",
    // q195: set semantics make the fold order-insensitive; the final
    // (max) running count per key must equal the batch count(DISTINCT)
    "q195_transform_with_state" ->
      """SELECT user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
         FROM events GROUP BY 1 ORDER BY 1""",
    // q186: the batch LSH rank-1 reduction (q30's bucketing, self
    // excluded) — streaming serve ≡ batch index probe
    "q186_stream_ann" ->
      """WITH v AS (
           SELECT vec_id,
                  [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                   for x in embedding] AS e
           FROM embeddings),
         proj AS (
           SELECT v.vec_id, pl.p,
                  list_sum([v.e[i] *
                    (2 * instr('0123456789abcdef',
                       substr(md5(pl.p || '-' || (i - 1)), 1, 1)) - 17)
                    for i in generate_series(1, len(v.e))]) AS proj
           FROM v CROSS JOIN (SELECT unnest(range(0, 6)) AS p) pl),
         buck AS (
           SELECT vec_id,
                  CAST(sum(CASE WHEN proj > 0
                                THEN CAST(pow(2, p) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS bucket
           FROM proj GROUP BY 1),
         n AS (SELECT vec_id, e, list_sum([y * y for y in e]) AS nn
               FROM v),
         sc AS (
           SELECT q.vec_id AS qid, d.vec_id AS did,
                  CAST(list_sum([qn.e[i] * dn.e[i]
                         for i in generate_series(1, len(qn.e))])
                    AS DOUBLE) /
                    (sqrt(CAST(qn.nn AS DOUBLE)) *
                     sqrt(CAST(dn.nn AS DOUBLE))) AS cosine
           FROM buck q
           JOIN buck d ON q.bucket = d.bucket AND q.vec_id <> d.vec_id
           JOIN n qn ON qn.vec_id = q.vec_id
           JOIN n dn ON dn.vec_id = d.vec_id
           WHERE q.vec_id < 10)
         SELECT qid, did AS best_did, cosine AS best_cosine
         FROM sc
         QUALIFY row_number() OVER (PARTITION BY qid
           ORDER BY cosine DESC, did ASC) = 1
         ORDER BY qid""",
    "q166_stream_custom_state" ->
      """SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(coalesce(round(value * 100), 0) AS BIGINT))
             AS BIGINT) AS cents
         FROM events GROUP BY 1 ORDER BY 1""",
    // q174: matched purchase-click pairs emit inner-style; unmatched
    // purchases emit with NULL click only once the final watermark has
    // passed their join-window upper bound (a_ts + 1 h < wm, strict —
    // verified against the boundary event) — purchases still in state
    // at end-of-input are correctly absent. The watermark itself is
    // min over BOTH sides' ms-floored max event time − 1 h (the q38
    // discipline), with one Catalyst subtlety the boundary event
    // exposed: the optimizer INFERS user_id < 5 on the click side from
    // the equi-join constraint and pushes it below the right
    // EventTimeWatermark node, so the click side's max is over users
    // < 5 only — the oracle mirrors exactly that
    "q174_stream_outer_join" ->
      """WITH p AS (
           SELECT user_id, event_id AS a_id,
                  date_trunc('hour', ts) AS hour, ts AS a_ts
           FROM events
           WHERE event_type = 'purchase' AND user_id < 5),
         c AS (
           SELECT user_id AS b_user, event_id AS b_id,
                  date_trunc('hour', ts) AS b_hour, ts AS b_ts
           FROM events WHERE event_type = 'click'),
         wm AS (
           SELECT make_timestamp(
                    (epoch_us(CAST(least(
                      (SELECT max(a_ts) FROM p),
                      (SELECT max(b_ts) FROM c WHERE b_user < 5))
                      AS TIMESTAMP))
                     // 1000) * 1000)
                  - INTERVAL 1 HOUR AS w),
         m AS (
           SELECT p.user_id, p.hour, p.a_id, c.b_id
           FROM p JOIN c
             ON p.user_id = c.b_user AND p.hour = c.b_hour),
         u AS (
           SELECT p.user_id, p.hour, p.a_id, CAST(NULL AS BIGINT) AS b_id
           FROM p, wm
           WHERE NOT EXISTS (SELECT 1 FROM c
                             WHERE c.b_user = p.user_id
                               AND c.b_hour = p.hour)
             AND p.a_ts + INTERVAL 1 HOUR < wm.w)
         SELECT user_id, hour, a_id, b_id FROM m
         UNION ALL
         SELECT user_id, hour, a_id, b_id FROM u
         ORDER BY user_id, hour, a_id, b_id NULLS LAST""",
    // q170: each event belongs to exactly 4 of the epoch-aligned
    // 1h/15min sliding windows — w_start ∈ {bucket₁₅(ts) − j·15 min,
    // j = 0..3}; [start, end) containment holds for all four since
    // ts < bucket₁₅(ts) + 15 min
    "q170_stream_sliding" ->
      """WITH e AS (
           SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents,
                  time_bucket(INTERVAL 15 MINUTE, ts) AS tb
           FROM events),
         w AS (
           SELECT cents, tb - j * (INTERVAL 15 MINUTE) AS w_start
           FROM e CROSS JOIN
             (SELECT unnest(generate_series(0, 3)) AS j) js)
         SELECT w_start, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM w GROUP BY 1 ORDER BY 1""",
    "q46_streaming_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // q152: the deduped at-least-once feed must roll up exactly like
    // the original table — the planted re-deliveries vanish in-stream
    "q152_stream_dedup" ->
      """SELECT date_trunc('hour', ts) AS hour_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM events GROUP BY 1 ORDER BY 1""",
    "q100_stream_sessions" -> graft.queries.PipelineQueries.q49Sql,
    // q159: the stream-stream join's output must equal the batch
    // self-join — inner-join results are emitted as matched (the
    // watermark's only role is state EVICTION), so a bounded
    // AvailableNow replay yields exactly the batch pair set
    "q159_stream_pairs" ->
      """SELECT a.user_id AS user_id,
                date_trunc('hour', a.ts) AS hour,
                a.event_id AS a_id, b.event_id AS b_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
          AND a.event_id < b.event_id
         WHERE a.user_id < 5
         ORDER BY user_id, hour, a_id, b_id""",
    // q38: q49's sessions RESTRICTED to those the final watermark
    // closed — watermark = ms-floor(max event time) − 1 h (Spark
    // tracks event-time stats in whole milliseconds), and append mode
    // emits a session once the watermark passes its end
    "q38_stream_sessions_append" ->
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (
           SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m),
         wm AS (
           SELECT make_timestamp(
                    (epoch_us(CAST(max(ts) AS TIMESTAMP)) // 1000) * 1000)
                  - INTERVAL 1 HOUR AS w
           FROM events)
         SELECT user_id, session_start, session_end, n_events, sum_value
         FROM (
           SELECT user_id,
                  min(ts) AS session_start,
                  max(ts) + INTERVAL 30 MINUTE AS session_end,
                  CAST(count(*) AS BIGINT) AS n_events,
                  sum(value) AS sum_value
           FROM g GROUP BY user_id, sid), wm
         WHERE session_end <= wm.w
         ORDER BY user_id, session_start""")
}
