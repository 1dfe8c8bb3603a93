package graft.queries

import graft.functions.ScalarFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Beyond-reference analytics surfaces a warehouse user expects on top of
  * the star schema, plus the sampling/streaming operations a 100 TB
  * training-data pipeline needs:
  *
  *   - q59: CUBE over the delay star (all grouping-set margins in one
  *     pass — the reference's DuckDB layer never used grouping sets);
  *   - q60: deterministic stratified sampling by content hash — at
  *     corpus scale reproducible sampling must not depend on RNG state,
  *     partitioning or row order, so the sample membership is a pure
  *     function of the key (hash-mod), mirrored exactly by the oracle;
  *   - q61: stream-static join — the streaming side enriches against a
  *     broadcast static dimension, the standard serving-pipeline shape
  *     (static side re-resolved per micro-batch on a real cluster).
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Sources.table(s, dir, name)

  // --- q59: CUBE over the delay star -----------------------------------
  def q59CubeDelays(s: SparkSession, dir: String): DataFrame = {
    val d = StarSchema.delays(s, dir)
    val r = StarSchema.routes(s, dir)
    val proj = d.join(broadcast(r), col("route_id") === col("route"))
      .select(lineType(col("route_type")).as("line_type"),
        timeOfDay(hour(col("timestamp"))).as("time_of_day"),
        col("delay_mins"))
    // CUBE through the SQL surface: Dataset.cube re-exposes the grouping
    // attributes through its Expand and trips DetectAmbiguousSelfJoin
    // when the frame is join-derived; the SQL path plans the identical
    // Expand + Aggregate without dataset-id metadata. NULLS LAST aligns
    // the cube's margin rows with DuckDB's default ordering.
    val view = s"cube_delays_${cubeRun.incrementAndGet()}"
    proj.createOrReplaceTempView(view)
    try s.sql(
      s"""SELECT line_type, time_of_day,
            CAST(count(*) AS BIGINT) AS n_delays,
            CAST(sum(delay_mins) AS BIGINT) AS total_delay_mins
          FROM $view
          GROUP BY CUBE(line_type, time_of_day)
          ORDER BY line_type ASC NULLS LAST, time_of_day ASC NULLS LAST""")
    finally
      // Dataset analysis is eager, so the resolved plan no longer needs
      // the view — drop it immediately instead of accumulating
      // cube_delays_N entries in the session catalog per call
      s.catalog.dropTempView(view)
  }

  private val cubeRun = new java.util.concurrent.atomic.AtomicInteger(0)

  val q59Sql: String = {
    // reuse the staging CTE text from StarSchema via the same SQL shapes
    s"""WITH ${StarSchema.delaysSql}, ${StarSchema.routesSql}
       SELECT CASE r.route_type WHEN 0 THEN 'tram' WHEN 2 THEN 'rail'
                   WHEN 3 THEN 'bus' ELSE 'unknown' END AS line_type,
              CASE WHEN hour(d.timestamp) BETWEEN 6 AND 9 THEN 'morning'
                   WHEN hour(d.timestamp) BETWEEN 10 AND 13 THEN 'midday'
                   WHEN hour(d.timestamp) BETWEEN 14 AND 17 THEN 'afternoon'
                   WHEN hour(d.timestamp) BETWEEN 18 AND 22 THEN 'evening'
                   ELSE 'night' END AS time_of_day,
              CAST(count(*) AS BIGINT) AS n_delays,
              CAST(sum(d.delay_mins) AS BIGINT) AS total_delay_mins
       FROM delays d JOIN routes r ON r.route_id = d.route
       GROUP BY CUBE(1, 2)
       ORDER BY line_type NULLS LAST, time_of_day NULLS LAST"""
  }

  // --- q60: deterministic stratified hash sampling ---------------------
  /** Keep-rate per stratum: 50% of English documents, 10% of the rest.
    * Membership = (60-bit md5 hash of the doc id) mod 100 < rate — a
    * pure function of the key: identical on every re-run, engine,
    * partitioning and row order (what `sampleBy`'s RNG is not). */
  def q60HashSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rate = when(col("lang") === "en", 50L).otherwise(10L)
    docs
      .filter(pmod(Dedup.hash60(col("doc_id").cast("string")), lit(100L))
        < rate)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast("long").as("sampled_chars"))
      .orderBy("lang")
  }

  val q60Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
              CAST(sum(n_chars) AS BIGINT) AS sampled_chars
       FROM documents
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
       GROUP BY lang ORDER BY lang"""

  // --- q155: corpus mixture rebalancing to target proportions ----------
  /** The mixture-weighting step of training-corpus assembly: given
    * RELATIVE target weights per language (en:5, de:2, fr:2, rest:1)
    * and a total budget of half the corpus, derive each language's
    * char budget FROM THE DATA (one aggregation), turn it into a
    * deterministic per-language acceptance rate, and apply it with the
    * q60 hash-Bernoulli so membership is a pure function of the key —
    * re-runs, backfills and the oracle all select the identical docs.
    * Extends q60 (fixed literal rates) and q74 (count quotas) with the
    * data-dependent rate computation real mixture rebalancing needs:
    * over-represented sources are thinned toward target, sources under
    * their target keep everything (rate clamps at 1).
    *
    * Exactness discipline: budgets are integer-divided in a pinned
    * order ((total div 2) · wt div Σwt), the rate is never
    * materialized as a float — the keep predicate cross-multiplies
    * ((hash mod 10⁴) · cur_chars < target · 10⁴), longs throughout
    * (at 100 TB char-counts the cross-product needs decimal(38,0) —
    * the q142 guard discipline). Output per language: target budget,
    * kept chars, kept docs — exactly reproducible by the oracle. */
  def q155MixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val wt = when(col("lang") === "en", 5L)
      .when(col("lang") === "de", 2L)
      .when(col("lang") === "fr", 2L).otherwise(1L)
    val cur = docs.groupBy("lang")
      .agg(sum("n_chars").cast("long").as("cur_chars"))
      .withColumn("wt", wt)
    val tot = cur.agg(sum("cur_chars").as("total"), sum("wt").as("sumw"))
    val tgt = cur.crossJoin(broadcast(tot))
      .select(col("lang"), col("cur_chars"),
        expr("((total div 2) * wt) div sumw").as("target_chars"))
    val kept = docs.join(broadcast(tgt), Seq("lang"))
      .filter(pmod(graft.operators.Dedup.hash60(
          col("doc_id").cast("string")), lit(10000L)) * col("cur_chars")
        < col("target_chars") * lit(10000L))
      .groupBy("lang")
      .agg(sum("n_chars").cast("long").as("chars_kept"),
        count(lit(1)).as("n_kept"))
    tgt.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("target_chars"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  val q155Sql: String =
    """WITH cur AS (
         SELECT lang, CAST(sum(n_chars) AS BIGINT) AS cur_chars,
                CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2
                          WHEN 'fr' THEN 2 ELSE 1 END AS wt
         FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(cur_chars) AS BIGINT) AS total,
                      CAST(sum(wt) AS BIGINT) AS sumw FROM cur),
       tgt AS (
         SELECT lang, cur_chars,
                ((tot.total // 2) * wt) // tot.sumw AS target_chars
         FROM cur CROSS JOIN tot),
       kept AS (
         SELECT d.lang, sum(d.n_chars) AS chars, count(*) AS n
         FROM documents d JOIN tgt ON tgt.lang = d.lang
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                 ::BIGINT % 10000 * tgt.cur_chars
               < tgt.target_chars * 10000
         GROUP BY d.lang)
       SELECT t.lang, CAST(t.target_chars AS BIGINT) AS target_chars,
              CAST(coalesce(k.chars, 0) AS BIGINT) AS chars_kept,
              CAST(coalesce(k.n, 0) AS BIGINT) AS n_kept
       FROM tgt t LEFT JOIN kept k ON k.lang = t.lang
       ORDER BY t.lang"""

  // --- q61: stream-static enrichment join ------------------------------
  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming events enriched against the static vehicles dimension
    * (broadcast per micro-batch), aggregated by carrier; AvailableNow
    * bounds the run. Must agree with the equivalent batch join. */
  def q61StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val name = s"stream_static_${streamRun.incrementAndGet()}"
    val events = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("vehicle_no",
        (col("user_id") % 100 + 1).cast("string"))
    val vehicles = StarSchema.vehicles(s, dir)
      .select(col("vehicle_number"), col("carrier"))
    val agg = events
      .join(broadcast(vehicles), col("vehicle_number") === col("vehicle_no"))
      .groupBy("carrier")
      // value is summed as integer millis: double accumulation order
      // differs between engines (and between runs at scale), so exact
      // cross-engine totals need integer arithmetic
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000).cast("long")).cast("long")
          .as("total_value_milli"))
    // stateful run: state partitions derived from the input size, not
    // the core count (Sources.streamShufflePartitions)
    graft.io.Sources.withStreamPartitionsFor(s, s"$dir/events.parquet") {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(name).orderBy("carrier")
  }

  val q61Sql: String =
    s"""WITH ${StarSchema.vehiclesSql}
       SELECT v.carrier, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(e.value * 1000) AS BIGINT)) AS BIGINT)
                AS total_value_milli
       FROM events e
       JOIN vehicles v
         ON v.vehicle_number = CAST(e.user_id % 100 + 1 AS VARCHAR)
       GROUP BY v.carrier ORDER BY v.carrier"""

  // --- q65: salted skew join -------------------------------------------
  /** The events table is user-skewed by construction of real workloads;
    * the salted join spreads each hot key over 8 sub-partitions while
    * producing EXACTLY the plain equi-join's rows — which is what the
    * oracle checks: it runs the unsalted join. */
  def q65SkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("value"), col("event_type"))
    val segs = t(s, dir, "customer")
      .filter(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    graft.operators.SkewJoin.saltedJoin(ev, segs, Seq("user_id"),
        buckets = 8)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 1000).cast("long")).cast("long")
          .as("total_value_milli"))
      .orderBy("segment")
  }

  val q65Sql: String =
    """SELECT c.c_mktsegment AS segment,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(e.value * 1000) AS BIGINT)) AS BIGINT)
                AS total_value_milli
       FROM events e
       JOIN customer c ON c.c_custkey = e.user_id
       WHERE c.c_custkey <= 1000
       GROUP BY 1 ORDER BY 1"""

  // --- q66: discrete (rank-based) percentiles --------------------------
  /** p50/p95 as the value at rank ceil(p·n) — DISCRETE percentiles pick
    * an actual data value, so they are exact and engine-portable where
    * interpolated (`percentile`/quantile_cont: different interpolation
    * expression order per engine) and sketch-based (`percentile_approx`:
    * not portable at all) forms are not.
    *
    * Scale note: rank-based exactness needs a per-group sort; with very
    * few groups those partitions are huge, so at 100 TB the play is
    * `percentile_approx` (t-digest, mergeable map-side) for monitoring
    * and this exact form only on sampled/partitioned slices. */
  def q66PercentileDisc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val ranked = li.withColumn("rn", row_number().over(Window
      .partitionBy("l_returnflag").orderBy("l_extendedprice")))
    val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5).cast("long"),
          col("l_extendedprice"))).as("p50_disc"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
          col("l_extendedprice"))).as("p95_disc"))
      .orderBy("l_returnflag")
  }

  val q66Sql: String =
    """WITH ranked AS (
         SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice) AS rn
         FROM lineitem),
       counts AS (
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1)
       SELECT r.l_returnflag,
              max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                       THEN l_extendedprice END) AS p50_disc,
              max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                       THEN l_extendedprice END) AS p95_disc
       FROM ranked r JOIN counts USING (l_returnflag)
       GROUP BY 1 ORDER BY 1"""

  // --- q70: approx percentiles with an oracle-checkable error bound ----
  /** `percentile_approx` (Greenwald-Khanna) values aren't portable across
    * engines — same treatment as q50's HLL: emit the EXACT discrete
    * percentiles plus booleans asserting the sketch landed within 1% of
    * them. accuracy=10000 bounds rank error at n/10000; on sf0.1's
    * ~600k-row lineitem that is ~60 ranks of a dense price column —
    * far inside 1% of value. The oracle recomputes the exact side and
    * asserts the booleans as literal true. At 100 TB this sketch is the
    * production path (mergeable map-side, one pass); the exact window
    * form (q66) is the audit tool. */
  def q70ApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    // one aggregation computes BOTH the sketch and the group sizes —
    // a separate counts groupBy would scan lineitem a third time
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(10000)).as("ap"),
        count(lit(1)).as("n"))
    val ranked = li.withColumn("rn", row_number().over(Window
      .partitionBy("l_returnflag").orderBy("l_extendedprice")))
    val exact = ranked
      .join(broadcast(approx.select(col("l_returnflag"), col("n"))),
        "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5).cast("long"),
          col("l_extendedprice"))).as("p50_disc"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
          col("l_extendedprice"))).as("p95_disc"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("p50_disc"), col("p95_disc"),
        (abs(col("ap").getItem(0) - col("p50_disc")) / col("p50_disc")
          <= 0.01).as("p50_within_1pct"),
        (abs(col("ap").getItem(1) - col("p95_disc")) / col("p95_disc")
          <= 0.01).as("p95_within_1pct"))
      .orderBy("l_returnflag")
  }

  val q70Sql: String =
    """WITH ranked AS (
         SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice) AS rn
         FROM lineitem),
       counts AS (
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1)
       SELECT r.l_returnflag,
              max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                       THEN l_extendedprice END) AS p50_disc,
              max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                       THEN l_extendedprice END) AS p95_disc,
              true AS p50_within_1pct,
              true AS p95_within_1pct
       FROM ranked r JOIN counts USING (l_returnflag)
       GROUP BY 1 ORDER BY 1"""

  // --- q84: Z-order (Morton) layout clustering -------------------------
  /** Z-order layout — the multi-dimensional clustering warehouses apply
    * before writing (Delta/Iceberg `OPTIMIZE ZORDER BY`; Morton 1966) so
    * min/max file statistics prune on EVERY clustered column, not just a
    * sort prefix. The z-value interleaves the bits of two key columns;
    * sorting by it tiles the key space into near-square rectangles.
    * Emitted per 1024-value z-range (a stand-in for "one output file"):
    * row count and the min/max of both dimensions — the bounding boxes a
    * scan planner would prune against. With 8-bit dims a bucket's box
    * spans ≤ 32×32 of the 256×256 key space; a single-column sort would
    * leave the second dimension spanning all 256 values in every file,
    * unprunable.
    *
    * Determinism/scale: the z-value is 32 integer bit-operations per
    * row, codegen'd, exact in both engines; the rollup is one partial
    * aggregation. At corpus scale the same expression feeds
    * `repartitionByRange(zvalue)` + sortWithinPartitions before the
    * write — this query verifies the math and the locality property the
    * layout buys. */
  def q84ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    def interleave(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
      (0 until 8).map { i =>
        shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
    t(s, dir, "lineitem")
      .select((col("l_partkey") % 256).as("a"),
        (col("l_suppkey") % 256).as("b"))
      .select(col("a"), col("b"),
        (interleave(col("a"), col("b")) / 1024).cast("long").as("zbucket"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("a").as("min_a"), max("a").as("max_a"),
        min("b").as("min_b"), max("b").as("max_b"))
      .orderBy("zbucket")
  }

  val q84Sql: String =
    """WITH keys AS (
         SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b FROM lineitem),
       z AS (
         SELECT a, b,
                CAST(list_sum([(((a >> i) & 1) << (2*i)) +
                               (((b >> i) & 1) << (2*i + 1))
                               for i in range(0, 8)]) AS BIGINT) // 1024
                  AS zbucket
         FROM keys)
       SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows,
              min(a) AS min_a, max(a) AS max_a,
              min(b) AS min_b, max(b) AS max_b
       FROM z GROUP BY zbucket ORDER BY zbucket"""

  // --- q88: pivot (crosstab) -------------------------------------------
  /** PIVOT — the crosstab reshape (delay counts as line_type rows ×
    * time-of-day columns). `RelationalGroupedDataset.pivot` with an
    * EXPLICIT value list: without one Spark runs a distinct-values job
    * first AND the output column set would depend on the data — the
    * explicit list keeps the schema static and the plan single-pass
    * (one partial+final aggregation; each pivot cell is a conditional
    * count, exactly the CASE-sum form the oracle states). Absent cells
    * are filled 0 to match the oracle's CASE sums. */
  def q88PivotDelays(s: SparkSession, dir: String): DataFrame = {
    val d = StarSchema.delays(s, dir)
    val r = StarSchema.routes(s, dir)
    d.join(broadcast(r), col("route_id") === col("route"))
      .select(lineType(col("route_type")).as("line_type"),
        timeOfDay(hour(col("timestamp"))).as("time_of_day"))
      .groupBy("line_type")
      .pivot("time_of_day",
        Seq("morning", "midday", "afternoon", "evening", "night"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("line_type")
  }

  val q88Sql: String =
    s"""WITH ${StarSchema.delaysSql}, ${StarSchema.routesSql},
       f AS (
         SELECT CASE r.route_type WHEN 0 THEN 'tram' WHEN 2 THEN 'rail'
                     WHEN 3 THEN 'bus' ELSE 'unknown' END AS line_type,
                CASE WHEN hour(d.timestamp) BETWEEN 6 AND 9 THEN 'morning'
                     WHEN hour(d.timestamp) BETWEEN 10 AND 13 THEN 'midday'
                     WHEN hour(d.timestamp) BETWEEN 14 AND 17
                       THEN 'afternoon'
                     WHEN hour(d.timestamp) BETWEEN 18 AND 22 THEN 'evening'
                     ELSE 'night' END AS tod
         FROM delays d JOIN routes r ON r.route_id = d.route)
       SELECT line_type,
              CAST(sum(CASE WHEN tod = 'morning' THEN 1 ELSE 0 END)
                AS BIGINT) AS morning,
              CAST(sum(CASE WHEN tod = 'midday' THEN 1 ELSE 0 END)
                AS BIGINT) AS midday,
              CAST(sum(CASE WHEN tod = 'afternoon' THEN 1 ELSE 0 END)
                AS BIGINT) AS afternoon,
              CAST(sum(CASE WHEN tod = 'evening' THEN 1 ELSE 0 END)
                AS BIGINT) AS evening,
              CAST(sum(CASE WHEN tod = 'night' THEN 1 ELSE 0 END)
                AS BIGINT) AS night
       FROM f GROUP BY line_type ORDER BY line_type"""

  // --- q89: set operations (INTERSECT / EXCEPT / UNION) ----------------
  /** The distinct set-operator family as one cohort-overlap query:
    * customers ordering in 1995Q1 vs 1995Q2 — retained (INTERSECT),
    * churned (EXCEPT), reached (UNION DISTINCT). Spark's
    * intersect/except carry exactly SQL's distinct-set semantics, and
    * each branch plans as an aggregation-free hash semi/anti form over
    * the two key sets; the three 1-row counts cross-join broadcast. */
  def q89SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def cohort(lo: String, hi: String) =
      o.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select("o_custkey")
    val a = cohort("1995-01-01", "1995-04-01")
    val b = cohort("1995-04-01", "1995-07-01")
    a.intersect(b).agg(count(lit(1)).as("n_retained"))
      .crossJoin(a.except(b).agg(count(lit(1)).as("n_churned")))
      .crossJoin(a.union(b).distinct()
        .agg(count(lit(1)).as("n_reached")))
  }

  val q89Sql: String =
    """WITH a AS (
         SELECT o_custkey FROM orders
         WHERE o_orderdate >= DATE '1995-01-01'
           AND o_orderdate < DATE '1995-04-01'),
       b AS (
         SELECT o_custkey FROM orders
         WHERE o_orderdate >= DATE '1995-04-01'
           AND o_orderdate < DATE '1995-07-01')
       SELECT
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_retained,
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_churned,
         (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT * FROM a UNION SELECT * FROM b)) AS n_reached"""

  // --- q90: unpivot (melt) ---------------------------------------------
  /** UNPIVOT — the wide→long reshape inverse of q88 (`Dataset.unpivot`,
    * Spark 3.4+; the melt every metrics pipeline runs before a generic
    * per-metric rollup). Three numeric lineitem columns melt to
    * (metric, value) rows and aggregate per metric; sums are ×100
    * integer cents so the result is partial-sum-order independent.
    * Scale shape: unpivot is a row-local Expand (3× row fan-out, zero
    * shuffle), followed by one 3-group aggregation — map-side partials
    * do almost all the work. */
  def q90Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(Array.empty,
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "v")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        sum(round(col("v") * 100).cast("long")).as("cents_sum"))
      .orderBy("metric")

  val q90Sql: String =
    """WITH m AS (
         SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT 'l_discount', l_discount FROM lineitem)
       SELECT metric, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT)
                AS cents_sum
       FROM m GROUP BY metric ORDER BY metric"""

  // --- q95: per-group z-score outliers (exact integer moments) ---------
  /** Top-5 outliers per l_returnflag group by z-score over l_quantity —
    * the feature-normalization pattern done ORDER-INDEPENDENTLY: a
    * naive avg/stddev_pop is a float sum whose value depends on
    * partial-aggregation order, so instead the group moments (n, Σq,
    * Σq²) are EXACT integer aggregates and the z-score is one IEEE
    * double expression from them: z = (n·q − Σq)/√(n·Σq² − (Σq)²) —
    * algebraically (q−μ)/σ_pop, bit-identical across engines, runs and
    * partitionings. The tiny per-group stats row broadcasts back onto
    * the rows; the top-5 window compiles to WindowGroupLimit.
    *
    * Overflow bound: with values ≤ V, n·Σq² ≤ n²V² must stay below
    * 2⁶³ — for V = 50 that holds to n ≈ 6·10⁷ rows per group; larger
    * groups switch the moments to DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB) with the same expression shape.
    *
    * A zero-variance group (n·Σq² = (Σq)²) has no defined z-score, and
    * the engines disagree on bare x/0: Spark's non-ANSI double division
    * yields NULL, DuckDB's IEEE default yields ±Inf/NaN. Both sides
    * guard the division explicitly (when / CASE → NULL) and order with
    * explicit NULLS LAST, so degenerate groups agree by construction
    * rather than by fixture luck. */
  def q95ZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("q"))
    val stats = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("q").as("s"),
        sum(col("q") * col("q")).as("ss"))
    li.join(broadcast(stats), "l_returnflag")
      .withColumn("z",
        when(col("n") * col("ss") - col("s") * col("s") > 0,
          (col("n") * col("q") - col("s")).cast("double") /
            sqrt((col("n") * col("ss") - col("s") * col("s"))
              .cast("double"))))
      .withColumn("rk", row_number().over(Window.partitionBy("l_returnflag")
        .orderBy(col("z").desc_nulls_last, col("l_orderkey").asc,
          col("l_linenumber").asc)))
      .filter(col("rk") <= 5)
      .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), col("z"))
      .orderBy("l_returnflag", "rk")
  }

  val q95Sql: String =
    """WITH li AS (
         SELECT l_returnflag, l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS q
         FROM lineitem),
       stats AS (
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(q) AS BIGINT) AS s,
                CAST(sum(q * q) AS BIGINT) AS ss
         FROM li GROUP BY 1),
       z AS (
         SELECT li.l_returnflag, li.l_orderkey, li.l_linenumber,
                CASE WHEN st.n * st.ss - st.s * st.s > 0 THEN
                  CAST(st.n * li.q - st.s AS DOUBLE) /
                    sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE))
                END AS z
         FROM li JOIN stats st USING (l_returnflag))
       SELECT l_returnflag, rk, l_orderkey, l_linenumber, z FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY l_returnflag
           ORDER BY z DESC NULLS LAST, l_orderkey ASC, l_linenumber ASC)
           AS INTEGER) AS rk FROM z)
       WHERE rk <= 5 ORDER BY l_returnflag, rk"""

  // --- q96: rank-function family (percent_rank / cume_dist / ntile) ----
  /** The remaining SQL:2003 rank functions over the event log, per
    * user: percent_rank, cume_dist and ntile(4) under a TOTAL ordering
    * (value, event_id) — with a unique ordering each function is a pure
    * ratio/bucket of integer ranks, so the doubles are deterministic
    * and the engines agree bit-for-bit (both define percent_rank = 0
    * for a single-row partition). One exchange on user_id serves all
    * three functions plus row_number. */
  def q96RankFunctions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .drop("value")
      .orderBy("user_id", "rn")
  }

  val q96Sql: String =
    """SELECT user_id, event_id,
              CAST(row_number() OVER w AS INTEGER) AS rn,
              percent_rank() OVER w AS pct_rank,
              cume_dist() OVER w AS cume,
              CAST(ntile(4) OVER w AS INTEGER) AS quartile
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
       ORDER BY user_id, rn"""

  // --- q97: triangle census (degree-ordered wedge join) ----------------
  /** Triangle count + global clustering coefficient of the part
    * co-occurrence graph (parts sharing an order, high-quantity lines
    * only — the filter keeps Σdeg² at a benchmarkable density). The
    * operator runs the degree-ORDERED algorithm
    * ([[graft.operators.Graphs.triangleStats]]); the oracle counts the
    * same triangles with the naive three-way self-join — two
    * independent formulations, one answer, which is the point: the
    * orientation trick must not change the census. */
  def q97TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // co-occurrence pairs map-side from the per-order part set (two
    // streaming Generates over the sorted array — the q26 pair shape)
    // instead of a lineitem self-join: one groupBy exchange replaces
    // the join's two plus its 1.4M-row join output
    val edges = li.groupBy("o").agg(array_sort(collect_set("p")).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("u"),
        explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .distinct()
    graft.operators.Graphs.triangleStats(edges)
  }

  val q97Sql: String =
    """WITH li AS (
         SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
         WHERE l_quantity >= 30),
       e AS (
         SELECT DISTINCT a.p AS u, b.p AS v
         FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
       deg AS (
         SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
           SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
         GROUP BY 1),
       tri AS (
         SELECT CAST(count(*) AS BIGINT) AS n_triangles
         FROM e ab JOIN e bc ON ab.v = bc.u
         JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         FROM deg),
       ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
       SELECT agg.n_vertices, ne.n_edges, agg.n_wedges, tri.n_triangles,
              CASE WHEN agg.n_wedges > 0 THEN
                CAST(3 * tri.n_triangles AS DOUBLE) /
                  CAST(agg.n_wedges AS DOUBLE)
              ELSE 0.0 END AS transitivity
       FROM agg, ne, tri"""

  // --- q160: multi-source BFS hop distances -----------------------------
  /** Minimum hop distance from a deterministic source set over the
    * part↔supplier bipartite graph (the q87 edge construction),
    * summarized per level as (dist, n_nodes, node_sum) — an exact
    * checksum of WHICH nodes sit at each distance, not just how many.
    *
    * The operator ([[graft.operators.Graphs.multiSourceBfs]]) is
    * level-synchronous frontier BFS: O(|E|+|V|) total across rounds,
    * shuffling only frontier-sized (node, dist) longs per round. The
    * oracle is the recursive-CTE formulation — per-level re-derivation
    * whose working set grows with path multiplicity, fine at oracle
    * scale and exactly the shape the distributed form avoids. Two
    * independent formulations, one answer. `maxHops = 4` bounds both
    * (and on this dense bipartite graph already reaches every node in
    * the sources' components). */
  def q160BfsHops(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"),
        (col("l_suppkey") + 10000000L).as("sp"))
      .distinct()
    val edges = li.select(col("p").as("src"), col("sp").as("dst"))
      .unionByName(li.select(col("sp").as("src"), col("p").as("dst")))
    // symmetric edge list → src alone enumerates every node
    val sources = edges.select(col("src").as("node"))
      .filter(col("node") % 97 === 0).distinct()
    val dists = graft.operators.Graphs.multiSourceBfs(edges, sources, 4)
    val out = dists.groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_sum"))
      .orderBy("dist")
    // materialize the ≤(maxHops+1)-row summary, then release the BFS
    // result's checkpoint blocks (the connectedComponents contract)
    val rows = out.collect()
    graft.operators.Dedup.unpersistCheckpoint(dists)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  val q160Sql: String =
    """WITH RECURSIVE li AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey + 10000000 AS sp
         FROM lineitem),
       edges AS (
         SELECT p AS src, sp AS dst FROM li
         UNION ALL SELECT sp AS src, p AS dst FROM li),
       bfs AS (
         SELECT DISTINCT src AS node, 0 AS dist
         FROM edges WHERE src % 97 = 0
         UNION
         SELECT e.dst AS node, b.dist + 1 AS dist
         FROM bfs b JOIN edges e ON e.src = b.node
         WHERE b.dist < 4),
       md AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
       SELECT CAST(dist AS BIGINT) AS dist,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(node) AS BIGINT) AS node_sum
       FROM md GROUP BY dist ORDER BY dist"""

  // --- q98: GROUPING SETS + grouping() margins --------------------------
  /** Explicit GROUPING SETS — the arbitrary-margin form completing the
    * CUBE (q59) / ROLLUP (q45) family: (flag, status), (flag) and the
    * grand total in ONE pass (a single Expand + partial+final
    * aggregation, never three scans), with the margin id composed from
    * `grouping()` bits identically in both engines (DuckDB has no
    * grouping_id, so the bit arithmetic is spelled out). Cents sums
    * keep the aggregate integer → partial-order independent. */
  def q98GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 +
          grouping(col("l_linestatus"))).cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("cents"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)

  val q98Sql: String =
    """SELECT CAST(2 * grouping(l_returnflag) + grouping(l_linestatus)
                AS INTEGER) AS gid,
              l_returnflag, l_linestatus,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                               (l_returnflag), ())
       ORDER BY gid, l_returnflag ASC NULLS LAST,
                l_linestatus ASC NULLS LAST"""

  // --- q99: exact-moment correlation / covariance -----------------------
  /** Pearson correlation and population covariance of (quantity,
    * discount%) per return flag — the q95 exact-moment discipline
    * applied to the BIVARIATE statistics: built-in corr/covar_pop
    * accumulate float sums whose value depends on partial-aggregation
    * order, so instead the five moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact integer aggregates and corr = (nΣxy − ΣxΣy) /
    * (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)), covar = (nΣxy − ΣxΣy)/n² — each
    * one IEEE expression, bit-identical across engines and runs.
    * Overflow: x ≤ 50, y ≤ 10 keep n·Σ terms under 2⁶³ to n ≈ 7·10⁶
    * rows per group; larger groups move the moments to DECIMAL(38,0) /
    * HUGEINT with the same shape. corr is undefined when either margin
    * has zero variance, and the engines disagree on bare x/0 (Spark
    * non-ANSI → NULL, DuckDB IEEE → Inf/NaN), so both sides guard the
    * division explicitly (when / CASE → NULL) — the same degenerate-
    * group discipline as q95. */
  def q99ExactCorr(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("y"))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        when((col("n") * col("sxx") - col("sx") * col("sx") > 0) &&
            (col("n") * col("syy") - col("sy") * col("sy") > 0),
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy"))
               .cast("double")))).as("corr_qd"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double")).as("covar_qd"))
      .orderBy("l_returnflag")
  }

  val q99Sql: String =
    """WITH li AS (
         SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                CAST(round(l_discount * 100) AS BIGINT) AS y
         FROM lineitem),
       m AS (
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy
         FROM li GROUP BY 1)
       SELECT l_returnflag, n,
              CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE) /
                  (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                   sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
              END AS corr_qd,
              CAST(n * sxy - sx * sy AS DOUBLE) /
                CAST(n * n AS DOUBLE) AS covar_qd
       FROM m ORDER BY l_returnflag"""

  // --- q108: full-outer reconciliation report ---------------------------
  /** Two-source reconciliation — the missing join type (FULL OUTER)
    * exercised on a real shape: the customer master (credit-worthy
    * accounts only) against order-derived spend. Rows classify as
    * `both`, `no_orders` (in the master, never ordered) or
    * `debtor_active` (ordering but filtered out of the master) — the
    * classic "which side is missing what" audit between two systems.
    * Money stays integer cents so every aggregate is order-independent.
    *
    * Scale: a full outer join cannot broadcast (both sides must surface
    * unmatched rows), so this is one co-partitioned shuffle on the key
    * with AQE skew splitting — the right side is pre-aggregated to one
    * row per key BEFORE the join, which is what keeps the shuffle
    * proportional to |keys| rather than |orders| at 100 TB. */
  def q108FullOuterRecon(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_acctbal") >= 0)
      .select(col("c_custkey").as("custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acctbal_cents"))
    val ord = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("spend_cents"))
    cust.join(ord, Seq("custkey"), "full_outer")
      .select(col("custkey"),
        when(col("acctbal_cents").isNotNull && col("n_orders").isNotNull,
          "both")
          .when(col("n_orders").isNull, "no_orders")
          .otherwise("debtor_active").as("status"),
        coalesce(col("acctbal_cents"), lit(0L)).as("acctbal_cents"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
      .orderBy("custkey")
  }

  val q108Sql: String =
    """WITH cust AS (
         SELECT c_custkey AS custkey,
                CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
         FROM customer WHERE c_acctbal >= 0),
       ord AS (
         SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS spend_cents
         FROM orders GROUP BY 1)
       SELECT COALESCE(c.custkey, o.custkey) AS custkey,
              CASE WHEN c.custkey IS NOT NULL AND o.custkey IS NOT NULL
                     THEN 'both'
                   WHEN o.custkey IS NULL THEN 'no_orders'
                   ELSE 'debtor_active' END AS status,
              CAST(COALESCE(c.acctbal_cents, 0) AS BIGINT) AS acctbal_cents,
              CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
              CAST(COALESCE(o.spend_cents, 0) AS BIGINT) AS spend_cents
       FROM cust c FULL OUTER JOIN ord o ON c.custkey = o.custkey
       ORDER BY custkey"""

  // --- q109: equi-width histogram (numeric profiling) -------------------
  /** Fixed-bound equi-width histogram of l_extendedprice (22 × 5000
    * buckets) — the profiling primitive behind data-quality dashboards
    * and binned features. The bucket id is `floor(x / width)` with a
    * CONSTANT width: both engines evaluate one IEEE double division +
    * floor, so assignment is bit-deterministic (a data-derived
    * min/max width would make every bucket boundary depend on two
    * floats computed engine-side — the classic nondeterminism trap;
    * `width_bucket` built-ins are avoided for the same reason: their
    * internal rounding shape is not specified identically). Everything
    * after assignment is integer. One partial+final hash aggregate, no
    * sort until the 22-row result. */
  def q109Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(floor(col("l_extendedprice") / 5000.0).cast("int")
        .as("bucket"), col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(min(l_extendedprice) * 100) AS BIGINT)")
          .as("min_cents"),
        expr("CAST(round(max(l_extendedprice) * 100) AS BIGINT)")
          .as("max_cents"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      .select(col("bucket"), (col("bucket") * 5000L).cast("long")
        .as("bucket_lo"), col("n"), col("min_cents"), col("max_cents"),
        col("cents"))
      .orderBy("bucket")

  val q109Sql: String =
    """SELECT CAST(floor(l_extendedprice / 5000.0) AS INTEGER) AS bucket,
              CAST(CAST(floor(l_extendedprice / 5000.0) AS INTEGER) * 5000
                AS BIGINT) AS bucket_lo,
              CAST(count(*) AS BIGINT) AS n,
              CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS min_cents,
              CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS max_cents,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
       FROM lineitem GROUP BY 1 ORDER BY bucket"""

  // --- q110: Markov transition matrix over user journeys ----------------
  /** First-order transition counts + probabilities between event types,
    * per-user sequences ordered by (ts, event_id) — the session-flow /
    * next-action model behind funnel and churn analytics. `lead` under
    * a TOTAL order makes the step pairs unique; counts are integers and
    * each probability is ONE double division n/tot, so the matrix is
    * bit-deterministic. One window exchange on user_id (millions of
    * small partitions at scale — healthy), one hash aggregate on the
    * (from, to) pairs (|event_types|² rows at most), and the per-row
    * totals join broadcasts the tiny marginal table. */
  def q110Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val steps = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = steps
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  val q110Sql: String =
    """WITH steps AS (
         SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS to_type
         FROM events),
       c AS (
         SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2),
       tot AS (
         SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
       SELECT c.from_type, c.to_type, c.n,
              CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
       FROM c JOIN tot t USING (from_type)
       ORDER BY from_type, to_type"""

  // --- q111: MAD-based robust outliers ----------------------------------
  /** Median-absolute-deviation outlier flagging per event type — the
    * robust companion to q95's z-score: a handful of extreme values
    * shifts mean±3σ but leaves median±3·MAD untouched, which is why
    * corpus-quality gates prefer it. Both medians are DISCRETE
    * (value at rank ⌈n/2⌉, the q66 convention), so every statistic is
    * an actual data value picked by integer rank — no interpolation,
    * no float accumulation; |x−med| and the 3·MAD threshold are single
    * IEEE expressions. Two rank passes (value, then deviation) shuffle
    * on event_type; the per-group stats broadcast back. At 100 TB the
    * few-groups sort is the bottleneck, so the scale path swaps exact
    * ranks for `percentile_approx` with this exact form as the audit. */
  def q111MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))

    def groupMedian(df: DataFrame, out: String): DataFrame = {
      val ranked = df.withColumn("rn", row_number().over(Window
        .partitionBy("event_type").orderBy(col("value").asc)))
      val counts = df.groupBy("event_type").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(counts), "event_type")
        .groupBy("event_type")
        .agg(max(when(col("rn") === ceil(col("n") * 0.5).cast("long"),
          col("value"))).as(out))
    }

    val med = groupMedian(ev, "med")
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"),
        abs(col("value") - col("med")).as("value"))
    val mad = groupMedian(dev, "mad")
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("med").as("med"),
        max("mad").as("mad"),
        sum(when(abs(col("value") - col("med")) > col("mad") * 3.0, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val q111Sql: String =
    """WITH ev AS (SELECT event_type, value FROM events),
       n1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM ev GROUP BY 1),
       r1 AS (SELECT event_type, value,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY value ASC) AS BIGINT) AS rn
              FROM ev),
       med AS (SELECT r1.event_type,
                 max(CASE WHEN r1.rn = CAST(ceil(n1.n * 0.5) AS BIGINT)
                       THEN r1.value END) AS med
               FROM r1 JOIN n1 USING (event_type) GROUP BY 1),
       dev AS (SELECT ev.event_type, abs(ev.value - med.med) AS adev
               FROM ev JOIN med USING (event_type)),
       r2 AS (SELECT event_type, adev,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY adev ASC) AS BIGINT) AS rn
              FROM dev),
       mad AS (SELECT r2.event_type,
                 max(CASE WHEN r2.rn = CAST(ceil(n1.n * 0.5) AS BIGINT)
                       THEN r2.adev END) AS mad
               FROM r2 JOIN n1 USING (event_type) GROUP BY 1)
       SELECT ev.event_type, n1.n, med.med, mad.mad,
              CAST(sum(CASE WHEN abs(ev.value - med.med) > mad.mad * 3.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM ev JOIN med USING (event_type) JOIN mad USING (event_type)
         JOIN n1 USING (event_type)
       GROUP BY ev.event_type, n1.n, med.med, mad.mad
       ORDER BY event_type"""

  // --- q114: running distinct users (first-touch rewrite) ---------------
  /** Cumulative distinct users per day — the DAU→cumulative-reach curve.
    * A windowed `count(DISTINCT)` needs per-frame distinct state (and
    * Spark refuses it outright); the scalable rewrite counts each
    * user's FIRST day once and cumulative-sums those first-appearances:
    * one user-key aggregate + a |days|-row running sum. The oracle runs
    * DuckDB's native windowed count(DISTINCT) — two independent
    * formulations agreeing is the test. Days with no new users still
    * appear (day domain left-joins the first-appearance counts). The
    * final window is a global ORDER BY over |days| rows — constant-size
    * regardless of event volume, so it never becomes the bottleneck. */
  def q114RunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"))
    val newPerDay = ev.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    ev.select("day").distinct()
      .join(newPerDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("new_users"), lit(0L))
        .as("new_users"))
      .withColumn("cum_users", sum("new_users").over(Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  val q114Sql: String =
    """WITH d AS (
         SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id
         FROM events),
       c AS (
         SELECT day, CAST(count(DISTINCT user_id) OVER (ORDER BY day
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
         FROM d),
       byday AS (SELECT DISTINCT day, cum_users FROM c)
       SELECT day,
              CAST(cum_users - COALESCE(lag(cum_users) OVER (ORDER BY day),
                0) AS BIGINT) AS new_users,
              cum_users
       FROM byday ORDER BY day"""

  // --- q115: chi-square crosstab (lang × source independence) -----------
  /** Per-cell chi-square decomposition of the lang × source
    * contingency table — the data-drift / independence diagnostic:
    * observed count, expected = row·col/total, and the cell's χ²
    * contribution (o−e)²/e. All inputs are exact integer counts;
    * expected and contribution are each a fixed IEEE expression
    * ((rt·ct)/n computed in integers until ONE division; (o−e)·(o−e)/e
    * spelled identically in both engines — no pow()), so every cell is
    * bit-deterministic. The total χ² is deliberately NOT summed: a
    * float sum's value depends on addition order; consumers fold the
    * cells in whatever order they fix. Marginals broadcast (|langs| and
    * |sources| rows); overflow bound rt·ct < 2⁶³ holds to n ≈ 3·10⁹
    * rows, beyond which the marginals move to DECIMAL(38,0). */
  def q115ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("lang", "source")
    val obs = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val rowT = obs.groupBy("lang").agg(sum("n").as("rt"))
    val colT = obs.groupBy("source").agg(sum("n").as("ct"))
    val tot = obs.agg(sum("n").as("tot"))
    obs.join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        (col("rt") * col("ct")).cast("double") / col("tot").cast("double"))
      .withColumn("chi2_contrib",
        (col("n").cast("double") - col("expected")) *
          (col("n").cast("double") - col("expected")) / col("expected"))
      .select(col("lang"), col("source"), col("n"), col("expected"),
        col("chi2_contrib"))
      .orderBy("lang", "source")
  }

  val q115Sql: String =
    """WITH obs AS (
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2),
       rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rt FROM obs GROUP BY 1),
       ct AS (SELECT source, CAST(sum(n) AS BIGINT) AS ct
              FROM obs GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM obs),
       e AS (
         SELECT o.lang, o.source, o.n,
                CAST(rt.rt * ct.ct AS DOUBLE) / CAST(tot.tot AS DOUBLE)
                  AS expected
         FROM obs o JOIN rt USING (lang) JOIN ct USING (source)
         CROSS JOIN tot)
       SELECT lang, source, n, expected,
              (CAST(n AS DOUBLE) - expected) *
                (CAST(n AS DOUBLE) - expected) / expected AS chi2_contrib
       FROM e ORDER BY lang, source"""

  // --- q116: schema-evolution union (unionByName allowMissing) ---------
  /** Heterogeneous-batch union — the schema-evolution reality of any
    * long-lived sink: batch v1 carries `cents` (no priority), batch v2
    * added `priority` and dropped the money column. `unionByName` with
    * `allowMissingColumns` aligns by NAME and null-fills what a batch
    * lacks — positional `union` would silently mis-bind columns, the
    * classic corruption. The oracle is DuckDB's native
    * `UNION ALL BY NAME` — the same alignment rule implemented
    * independently. Pure narrow op: no shuffle until the final sort. */
  def q116SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderdate") < "1994-01-01")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        lit("v1").as("batch"))
    val v2 = o.filter(col("o_orderdate") >= "1994-01-01")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority").as("priority"), lit("v2").as("batch"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  val q116Sql: String =
    """SELECT * FROM (
         SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                'v1' AS batch
         FROM orders WHERE o_orderdate < '1994-01-01'
         UNION ALL BY NAME
         SELECT o_orderkey, o_custkey, o_orderpriority AS priority,
                'v2' AS batch
         FROM orders WHERE o_orderdate >= '1994-01-01')
       ORDER BY o_orderkey"""

  // --- q117: winsorized + trimmed robust means --------------------------
  /** Winsorized (clamp to [p05, p95]) and trimmed (drop outside) means
    * per event type — the robust-mean pair that completes q111's MAD:
    * values go to integer cents FIRST, the percentile bounds are
    * DISCRETE rank picks (q66 convention) on those integers, the clamp
    * and the trim filter are integer comparisons, and each mean is one
    * Σ(int)/n division — so a statistic famous for float fuzz is
    * bit-deterministic. One rank pass + broadcast bounds. */
  def q117WinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val ranked = ev.withColumn("rn", row_number().over(Window
      .partitionBy("event_type").orderBy(col("cents").asc)))
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val bounds = ranked.join(broadcast(counts), "event_type")
      .groupBy("event_type")
      .agg(max(when(col("rn") === ceil(col("n") * 0.05).cast("long"),
        col("cents"))).as("p05_cents"),
        max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
          col("cents"))).as("p95_cents"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max("p05_cents").as("p05_cents"), max("p95_cents").as("p95_cents"),
        (sum(greatest(least(col("cents"), col("p95_cents")),
          col("p05_cents"))).cast("double") /
          count(lit(1)).cast("double")).as("winsor_mean_cents"),
        sum(when(col("cents").between(col("p05_cents"), col("p95_cents")),
          1L).otherwise(0L)).as("n_trimmed"),
        (sum(when(col("cents").between(col("p05_cents"), col("p95_cents")),
          col("cents"))).cast("double") /
          sum(when(col("cents").between(col("p05_cents"), col("p95_cents")),
            1L).otherwise(0L)).cast("double")).as("trim_mean_cents"))
      .orderBy("event_type")
  }

  val q117Sql: String =
    """WITH ev AS (
         SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
         FROM events),
       n1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM ev GROUP BY 1),
       r AS (SELECT event_type, cents,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY cents ASC) AS BIGINT) AS rn
             FROM ev),
       b AS (SELECT r.event_type,
               max(CASE WHEN r.rn = CAST(ceil(n1.n * 0.05) AS BIGINT)
                     THEN r.cents END) AS p05_cents,
               max(CASE WHEN r.rn = CAST(ceil(n1.n * 0.95) AS BIGINT)
                     THEN r.cents END) AS p95_cents
             FROM r JOIN n1 USING (event_type) GROUP BY 1)
       SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n,
              max(b.p05_cents) AS p05_cents, max(b.p95_cents) AS p95_cents,
              CAST(sum(greatest(least(ev.cents, b.p95_cents), b.p05_cents))
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS winsor_mean_cents,
              CAST(sum(CASE WHEN ev.cents BETWEEN b.p05_cents
                    AND b.p95_cents THEN 1 ELSE 0 END) AS BIGINT)
                AS n_trimmed,
              CAST(sum(CASE WHEN ev.cents BETWEEN b.p05_cents
                    AND b.p95_cents THEN ev.cents END) AS DOUBLE) /
                CAST(sum(CASE WHEN ev.cents BETWEEN b.p05_cents
                    AND b.p95_cents THEN 1 ELSE 0 END) AS DOUBLE)
                AS trim_mean_cents
       FROM ev JOIN b USING (event_type)
       GROUP BY ev.event_type ORDER BY event_type"""

  // --- q118: join-key skew profile --------------------------------------
  /** The "why is my join slow" diagnostic: per-key frequency of the
    * lineitem→part join key, top-5 heavy keys with their share of rows
    * and skew factor (multiples of the mean key load). At 1000
    * executors one 10×-mean key IS the straggler; this report is what
    * decides between AQE skew splitting and salting (`SkewJoin`).
    * Counts are exact integers; share and skew are one division each.
    * The top-5 rank compiles to WindowGroupLimit so map tasks keep five
    * rows each — the profile never shuffles the key distribution. */
  def q118SkewProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = t(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val glob = perKey.agg(count(lit(1)).as("n_keys"),
      sum("cnt").as("total_rows"))
    perKey
      .withColumn("rk", row_number().over(Window
        .orderBy(col("cnt").desc, col("l_partkey").asc)))
      .filter(col("rk") <= 5)
      .crossJoin(broadcast(glob))
      .select(col("rk"), col("l_partkey"), col("cnt"),
        (col("cnt").cast("double") / col("total_rows").cast("double"))
          .as("share"),
        ((col("cnt") * col("n_keys")).cast("double") /
          col("total_rows").cast("double")).as("skew_x_mean"),
        col("n_keys"), col("total_rows"))
      .orderBy("rk")
  }

  val q118Sql: String =
    """WITH pk AS (
         SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
         FROM lineitem GROUP BY 1),
       g AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                    CAST(sum(cnt) AS BIGINT) AS total_rows FROM pk),
       r AS (SELECT l_partkey, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, l_partkey ASC)
                 AS INTEGER) AS rk
             FROM pk)
       SELECT r.rk, r.l_partkey, r.cnt,
              CAST(r.cnt AS DOUBLE) / CAST(g.total_rows AS DOUBLE) AS share,
              CAST(r.cnt * g.n_keys AS DOUBLE) /
                CAST(g.total_rows AS DOUBLE) AS skew_x_mean,
              g.n_keys, g.total_rows
       FROM r CROSS JOIN g WHERE r.rk <= 5 ORDER BY r.rk"""

  // --- q39: catalog cardinality profile (PK-uniqueness audit) ----------
  /** The ingest-side scale report: per table, exact row count and
    * distinct primary-key count — n_rows = n_keys certifies every PK
    * across the catalog in one sweep (the first DQ gate a 100 TB load
    * runs, and the statistics a cost-based planner starts from; q101's
    * constraint report goes deep on ONE table, this goes wide across
    * all ten). Scale shape: one pass per table; the exact distinct is
    * a two-level hash aggregate on the key — partial maps collapse
    * near-unique keys to ~1 row per input row shuffled ONCE on the
    * key, and tables with composite keys (lineitem) shuffle the
    * composite. No driver-side anything; ten independent jobs that a
    * scheduler can overlap. */
  def q39TableProfile(s: SparkSession, dir: String): DataFrame = {
    val keys: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "nation" -> Seq("n_nationkey"),
      "orders" -> Seq("o_orderkey"),
      "part" -> Seq("p_partkey"),
      "region" -> Seq("r_regionkey"),
      "supplier" -> Seq("s_suppkey"))
    keys.map { case (name, ks) =>
      t(s, dir, name).agg(count(lit(1)).as("n_rows"),
          count_distinct(col(ks.head), ks.tail.map(col): _*).as("n_keys"))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_keys"),
          (col("n_rows") === col("n_keys")).as("pk_unique"))
    }.reduce(_.unionByName(_)).orderBy("table_name")
  }

  val q39Sql: String = Seq(
    ("customer", "c_custkey"), ("documents", "doc_id"),
    ("embeddings", "vec_id"), ("events", "event_id"),
    ("lineitem", "(l_orderkey, l_linenumber)"), ("nation", "n_nationkey"),
    ("orders", "o_orderkey"), ("part", "p_partkey"),
    ("region", "r_regionkey"), ("supplier", "s_suppkey"))
    .map { case (name, key) =>
      s"""SELECT '$name' AS table_name,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(DISTINCT $key) AS BIGINT) AS n_keys,
            count(*) = count(DISTINCT $key) AS pk_unique
          FROM $name"""
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // --- q164: token-balanced shard export -------------------------------
  /** Assign the corpus to K export shards so per-shard char budgets
    * balance — the fan-out step before handing a corpus to K
    * data-parallel trainers, where the slowest shard sets the epoch
    * time. Greedy snake assignment over the size-sorted corpus: rank
    * docs by (n_chars DESC, doc_id), walk ranks in boustrophedon order
    * (0..K-1, K-1..0, …) so each K-row band contributes once to every
    * shard and alternating direction cancels the within-band size
    * drift. The ranking is [[graft.operators.Ranking.globalRowNumber]]
    * — range-partitioned, offset-joined, windowed per range — NOT a
    * plain unpartitioned `row_number` window, which would plan a
    * single-partition Exchange and sort the whole corpus on one task
    * (the scalable form q112's scaladoc promises is this operator).
    * Output is the per-shard census (docs, chars, membership checksum);
    * balance itself is pinned by spec (max/min char spread), membership
    * by the oracle's plain-window re-derivation. */
  def q164BalancedShards(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val ranked = graft.operators.Ranking.globalRowNumber(
      docs, Seq(col("n_chars").desc, col("doc_id").asc), "rn")
    val k0 = col("rn") - 1L
    val band = (k0 / K).cast("long")
    val pos = (k0 % K).cast("long")
    ranked
      .withColumn("shard",
        when(band % 2 === 0, pos).otherwise(lit(K - 1) - pos))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        sum("doc_id").as("doc_id_sum"))
      .orderBy("shard")
  }

  val q164Sql: String =
    """WITH ranked AS (
         SELECT doc_id, n_chars,
                row_number() OVER (ORDER BY n_chars DESC, doc_id)
                  - 1 AS k0
         FROM documents)
       SELECT CASE WHEN (k0 // 8) % 2 = 0 THEN k0 % 8
                   ELSE 7 - (k0 % 8) END AS shard,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
       FROM ranked GROUP BY 1 ORDER BY 1"""

  // --- q165: association rules (market-basket) --------------------------
  /** Support / confidence / lift over order baskets (Agrawal-Srikant
    * association mining, the pairwise tier): which part pairs co-occur
    * beyond chance. The scale discipline is Apriori's antimonotonicity
    * — a pair can only be frequent if BOTH items are — so items below
    * `minSup` are dropped BEFORE any pair is enumerated, and the
    * remaining enumeration is the self-join per basket, cost
    * Σ_b k_b² over surviving basket sizes, never the item×item matrix.
    * The per-basket cap (≤ `maxBasket` frequent items, an explicit
    * SQL-expressible guard rather than a silent truncation) bounds the
    * worst basket's k²; at this SF nothing is dropped. Metrics are one
    * division of exact BIGINT cross-products each (confidence =
    * n_ab/n_a, lift = n_ab·N / (n_a·n_b)), so both engines compute
    * bit-identical doubles; ordering ties break on the pair key. */
  def q165AssociationRules(s: SparkSession, dir: String): DataFrame = {
    val minSup = 25L
    val minPairSup = 3L
    val maxBasket = 50L
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val nBaskets = li.select("ok").distinct().count()
    val items = li.groupBy("item").agg(count(lit(1)).as("n_i"))
      .filter(col("n_i") >= minSup)
    val fli = li.join(items.select("item"), "item")
    val okSizes = fli.groupBy("ok").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBasket).select("ok")
    val capped = fli.join(okSizes, "ok")
    val a = capped.select(col("ok"), col("item").as("part_a"))
    val b = capped.select(col("ok").as("ok_b"), col("item").as("part_b"))
    val pairs = a.join(b, col("ok") === col("ok_b") &&
        col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairSup)
    pairs
      .join(items.select(col("item").as("part_a"), col("n_i").as("n_a")),
        "part_a")
      .join(items.select(col("item").as("part_b"), col("n_i").as("n_b")),
        "part_b")
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_ab") * nBaskets).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val q165Sql: String =
    """WITH li AS (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
         FROM lineitem),
       n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
             FROM li),
       items AS (
         SELECT item, CAST(count(*) AS BIGINT) AS n_i
         FROM li GROUP BY 1 HAVING count(*) >= 25),
       fli AS (SELECT li.ok, li.item
               FROM li JOIN items ON items.item = li.item),
       ok_sizes AS (SELECT ok FROM fli GROUP BY ok
                    HAVING count(*) <= 50),
       capped AS (SELECT fli.ok, fli.item
                  FROM fli JOIN ok_sizes USING (ok)),
       pairs AS (
         SELECT a.item AS part_a, b.item AS part_b,
                CAST(count(*) AS BIGINT) AS n_ab
         FROM capped a JOIN capped b
           ON a.ok = b.ok AND a.item < b.item
         GROUP BY 1, 2 HAVING count(*) >= 3)
       SELECT part_a, part_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
              CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE)
                AS confidence,
              CAST(n_ab * n_baskets AS DOUBLE)
                / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
       FROM pairs
       JOIN items ia ON ia.item = part_a
       JOIN items ib ON ib.item = part_b
       CROSS JOIN n
       ORDER BY lift DESC, part_a, part_b LIMIT 20"""

  // --- q171: time-series gap fill (densification) -----------------------
  /** Hourly per-user series DENSIFIED over each user's own active span:
    * missing hours appear as explicit zero rows with a `gap` flag — the
    * resample-to-grid step every downstream window/forecast consumer
    * needs (q85's rolling windows silently skip empty hours; a model
    * must see them). The grid generates from one per-user min/max
    * aggregation (`sequence` + explode — grid rows ∝ Σ span hours, no
    * cross join against a global calendar), then ONE left equi-join on
    * (user, hour) brings in the observed aggregates. A user with a
    * years-long span fans out to years×24 grid rows — data-shaped, and
    * the reason the grid derives from each user's span rather than the
    * corpus min/max. Restricted to user_id < 10 to keep the oracle
    * output bounded. */
  def q171GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val hourly = ev.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n_obs"), sum("c").as("c_sum"))
    val grid = ev.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour_ts"),
        coalesce(col("n_obs"), lit(0L)).as("n_events"),
        coalesce(col("c_sum"), lit(0L)).as("cents"),
        col("n_obs").isNull.as("gap"))
      .orderBy("user_id", "hour_ts")
  }

  val q171Sql: String =
    """WITH ev AS (
         SELECT user_id, date_trunc('hour', ts) AS h,
                CAST(round(value * 100) AS BIGINT) AS c
         FROM events WHERE user_id < 10),
       hourly AS (
         SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_obs,
                CAST(sum(c) AS BIGINT) AS c_sum
         FROM ev GROUP BY 1, 2),
       grid AS (
         SELECT user_id,
                unnest(generate_series(min(h), max(h),
                  INTERVAL 1 HOUR)) AS h
         FROM ev GROUP BY user_id)
       SELECT g.user_id, g.h AS hour_ts,
              coalesce(n_obs, 0) AS n_events,
              coalesce(c_sum, 0) AS cents,
              n_obs IS NULL AS gap
       FROM grid g LEFT JOIN hourly USING (user_id, h)
       ORDER BY user_id, hour_ts"""

  // --- q172: observed metrics (zero-extra-pass pipeline DQ) -------------
  /** `Dataset.observe` + `Observation`: exact DQ metrics collected ON
    * the pipeline's own pass — the CollectMetrics node rides the scan
    * as accumulator updates, so row counts / null counts / sums cost
    * ZERO additional jobs at 100 TB, where a separate metrics scan
    * doubles the I/O bill (the q101 report re-reads its inputs; this
    * is the form that doesn't). The observed frame is driven by a
    * `noop`-sink write (the stand-in for the pipeline's real write
    * action), the metrics surface as a one-row frame, and the oracle
    * recomputes them relationally — proving accumulator-path ≡
    * aggregation-path. Caveat pinned elsewhere
    * ([[graft.operators.Upsert]] scaladoc): AQE's empty-relation
    * rewrite can drop CollectMetrics on EMPTY inputs, which is why the
    * sink family counts by committed-task metrics instead; on non-empty
    * analytics passes observe is the right tool. */
  def q172ObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_dq_${obsRun.incrementAndGet()}")
    t(s, dir, "events")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        count(col("props")).as("n_props_nonnull"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("n_props_nonnull").asInstanceOf[Long],
      m("cents").asInstanceOf[Long],
      m("n_purchase").asInstanceOf[Long]))
      .toDF("n_rows", "n_props_nonnull", "cents", "n_purchase")
  }

  private val obsRun = new java.util.concurrent.atomic.AtomicInteger(0)

  val q172Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(props) AS BIGINT) AS n_props_nonnull,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END) AS BIGINT) AS n_purchase
       FROM events"""

  // --- q173: connected components by star contraction -------------------
  /** Component census over a CHAIN-SHAPED graph — the adversarial case
    * for q63's label propagation (rounds ∝ diameter) and the home turf
    * of [[graft.operators.Dedup.connectedComponentsStar]] (rounds ∝
    * log): each customer's orders form one path (consecutive orders
    * linked), so components ≡ customers by construction and the oracle
    * derives the full census — representative (min order key), size,
    * key checksum — with ONE aggregation, no transitive closure. The
    * operator must rediscover exactly that structure from the bare
    * edge list. Diameter here is the per-customer order count; on a
    * crawl-graph or citation chain it is thousands, which is the case
    * the log-round bound exists for. */
  def q173StarComponents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    val edges = o
      .withColumn("prev", lag("o_orderkey", 1).over(
        Window.partitionBy("o_custkey").orderBy("o_orderkey")))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("src"), col("o_orderkey").as("dst"))
    val nodes = o.select(col("o_orderkey").as("id"))
    val labels = graft.operators.Dedup
      .connectedComponentsStar(nodes, "id", edges, "src", "dst")
    labels.groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_nodes"), sum("id").as("node_sum"))
      .orderBy("cluster_rep")
  }

  val q173Sql: String =
    """SELECT min(o_orderkey) AS cluster_rep,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(o_orderkey) AS BIGINT) AS node_sum
       FROM orders GROUP BY o_custkey ORDER BY cluster_rep"""

  // --- q175: multi-touch attribution (linear credit) --------------------
  /** Linear multi-touch attribution: every click within the hour before
    * a purchase shares the purchase's value equally — the model tier
    * above q146's last-touch, and the one that genuinely NEEDS the
    * purchase×click candidate pairs (that is its semantics, not an
    * implementation accident). The interval join decomposes the q91
    * way: clicks bucket by hour, purchases explode to their TWO
    * covering buckets (an hour window spans at most two hour buckets),
    * the join is equi on (user, bucket) with the exact time range as a
    * residual predicate — never a per-user cross join beyond the
    * bucket's span, skew bounded by events-per-user-per-hour. Credit
    * is ONE division per output row (cents/n_touches, both exact
    * BIGINTs → bit-identical doubles cross-engine); no double is ever
    * summed (the q125 accumulation-order discipline). */
  def q175MultiTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("c_id"),
        col("ts").as("c_ts"),
        date_trunc("hour", col("ts")).as("cbucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("bucket", explode(array(
        date_trunc("hour", col("p_ts")),
        date_trunc("hour", col("p_ts") - expr("INTERVAL 1 HOUR")))))
    purchases
      .join(clicks,
        col("user_id") === col("cu") && col("bucket") === col("cbucket")
          && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
          && col("c_ts") <= col("p_ts"))
      .groupBy("p_id", "user_id", "cents")
      .agg(count(lit(1)).as("n_touches"),
        min("c_id").as("first_click"), max("c_id").as("last_click"))
      .select(col("p_id"), col("user_id"), col("n_touches"),
        col("first_click"), col("last_click"),
        (col("cents").cast("double") / col("n_touches").cast("double"))
          .as("credit_per_touch"))
      .orderBy("p_id")
  }

  val q175Sql: String =
    """WITH p AS (
         SELECT user_id, event_id AS p_id, ts AS p_ts,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id AS cu, event_id AS c_id, ts AS c_ts
         FROM events WHERE event_type = 'click')
       SELECT p_id, user_id, CAST(count(*) AS BIGINT) AS n_touches,
              CAST(min(c_id) AS BIGINT) AS first_click,
              CAST(max(c_id) AS BIGINT) AS last_click,
              CAST(any_value(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS credit_per_touch
       FROM p JOIN c
         ON cu = user_id
        AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts
       GROUP BY p_id, user_id
       ORDER BY p_id"""

  // --- q197: exact equi-depth histogram without a global sort cliff -----
  /** 8-bucket equi-depth histogram of order totals: bucket boundaries
    * from the EXACT global rank ([[graft.operators.Ranking
    * .globalRowNumber]] — range partition + offset join, no
    * single-partition window), bucket = ⌊(rank−1)·8 / n⌋. Unlike
    * `ntile` (whose remainder-distribution rule would also have to be
    * replicated in the oracle), the floor formula is one integer
    * expression both engines share. Per bucket: population, min/max
    * cents — the stats-collection histogram a cost-based optimizer
    * feeds on, exact at any scale because no task ever sees more than
    * one range. */
  def q197EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val n = o.count()
    graft.operators.Ranking
      .globalRowNumber(o, Seq(col("cents"), col("o_orderkey")))
      // `div` (integer division) on BOTH sides: plain `/` is float
      // division in both engines, and DuckDB's double→int CAST rounds
      // where Spark's truncates — the one-ulp trap at bucket borders
      .select(col("cents"),
        expr(s"CAST((rn - 1) * 8 div ${n}L AS INT)").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("cents").as("cents_min"), max("cents").as("cents_max"))
      .orderBy("bucket")
  }

  val q197Sql: String =
    """WITH r AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (
                  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                           o_orderkey) AS rn,
                count(*) OVER () AS n
         FROM orders)
       SELECT CAST((rn - 1) * 8 // n AS INTEGER) AS bucket,
              CAST(count(*) AS BIGINT) AS n_orders,
              min(cents) AS cents_min, max(cents) AS cents_max
       FROM r GROUP BY 1 ORDER BY 1"""

  // --- q199: seasonal profile + worst in-season anomaly -----------------
  /** Hour-of-day seasonality of the event stream with the largest
    * in-season deviation — the monitoring readout behind "is tonight's
    * traffic weird for 3 AM": per hour-of-day, the cents-exact seasonal
    * mean and the maximum absolute residual. The residual max stays
    * EXACT until one division: |c − Σ/n| = |c·n − Σ| / n, and
    * max(|c·n − Σ|) is integer arithmetic (DECIMAL(38,0) — c·n reaches
    * 10¹⁸ long before the corpus is big). One aggregation for the
    * moments, one broadcast-join back for the residual pass — the
    * two-pass shape any exact per-group anomaly score needs (a one-pass
    * form would need the mean before it finishes computing it). */
  def q199SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ev = t(s, dir, "events").filter(col("value").isNotNull)
      .select(hour(col("ts")).as("hod"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val m = ev.groupBy("hod").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("c").cast(dec)).as("sc"))
    ev.join(broadcast(m), Seq("hod"))
      .select(col("hod"), col("n"), col("sc"),
        abs(col("c").cast(dec) * col("n") - col("sc")).as("dev"))
      .groupBy("hod")
      .agg(max(col("n")).as("n"), max(col("sc")).as("sc"),
        max(col("dev")).as("maxdev"))
      .select(col("hod"), col("n").cast("long").as("n_events"),
        (col("sc").cast("double") / col("n").cast("double"))
          .as("mean_cents"),
        (col("maxdev").cast("double") / col("n").cast("double"))
          .as("max_abs_residual"))
      .orderBy("hod")
  }

  val q199Sql: String =
    """WITH ev AS (
         SELECT hour(ts) AS hod,
                CAST(round(value * 100) AS BIGINT) AS c
         FROM events WHERE value IS NOT NULL),
       m AS (
         SELECT hod, CAST(count(*) AS HUGEINT) AS n,
                sum(CAST(c AS HUGEINT)) AS sc
         FROM ev GROUP BY 1),
       d AS (
         SELECT ev.hod, m.n, m.sc,
                abs(CAST(ev.c AS HUGEINT) * m.n - m.sc) AS dev
         FROM ev JOIN m ON ev.hod = m.hod)
       SELECT hod, CAST(max(n) AS BIGINT) AS n_events,
              CAST(max(sc) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                AS mean_cents,
              CAST(max(dev) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                AS max_abs_residual
       FROM d GROUP BY 1 ORDER BY 1"""

  // --- q204: backfill planner -------------------------------------------
  /** The Airflow-catchup replacement as ONE query: given a sink whose
    * ingest skipped some runs (simulated deterministically: the 03:00
    * and 07:00 hourly runs never landed), emit the exact hour
    * partitions a backfill must re-run — the dense hourly calendar
    * (generated from one min/max aggregation, the q171 grid discipline
    * — never a stored calendar table) anti-joined against the distinct
    * hours present. The reference needs a scheduler with
    * `catchup=True` state for this; here it is derivable from the sink
    * itself at any scale (the calendar is &#124;hours&#124;-sized
    * metadata, the distinct-hours aggregation is one shuffle of hour
    * keys). */
  def q204BackfillPlan(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(date_trunc("hour", col("ts")).as("h"))
    val ingested = ev.filter(!hour(col("h")).isin(3, 7))
      .select("h").distinct()
    val grid = ev.agg(min("h").as("lo"), max("h").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    grid.join(ingested, Seq("h"), "left_anti")
      .select(col("h").as("missing_hour"))
      .orderBy("missing_hour")
  }

  val q204Sql: String =
    """WITH ev AS (SELECT date_trunc('hour', ts) AS h FROM events),
       ingested AS (
         SELECT DISTINCT h FROM ev WHERE hour(h) NOT IN (3, 7)),
       grid AS (
         SELECT unnest(generate_series(min(h), max(h),
           INTERVAL 1 HOUR)) AS h
         FROM ev)
       SELECT g.h AS missing_hour
       FROM grid g LEFT JOIN ingested i ON g.h = i.h
       WHERE i.h IS NULL
       ORDER BY 1"""

  // --- q205: FORWARD as-of join (next event after) -----------------------
  /** Every click aligned to the user's NEXT purchase at-or-after it
    * ([[graft.operators.AsofJoin.asofForward]]) — time-to-convert
    * measurement, the mirror of q54's backward trades↔quotes form.
    * Same one-shuffle union-and-window shape, descending scan; the
    * oracle is DuckDB's native ASOF with the inequality reversed.
    * Purchases made unique per (user, ts) by max event_id — the
    * determinism contract both engines share. */
  def q205AsofForward(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withColumn("rn", row_number().over(Window
        .partitionBy("user_id", "p_ts").orderBy(col("p_id").desc)))
      .filter(col("rn") === 1).drop("rn")
    graft.operators.AsofJoin.asofForward(clicks, purchases, "user_id",
        leftTs = "click_ts", rightTs = "p_ts",
        valueCols = Seq("p_id", "p_ts"))
      .select(col("event_id"), col("user_id"), col("click_ts"),
        col("p_id").as("next_purchase_id"),
        col("p_ts").as("next_purchase_ts"))
      .orderBy("event_id")
  }

  val q205Sql: String =
    """WITH c AS (
         SELECT event_id, user_id, ts AS click_ts
         FROM events WHERE event_type = 'click'),
       p AS (
         SELECT user_id, ts AS p_ts, event_id AS p_id
         FROM events WHERE event_type = 'purchase'
         QUALIFY row_number() OVER (PARTITION BY user_id, ts
           ORDER BY event_id DESC) = 1)
       SELECT c.event_id, c.user_id, c.click_ts,
              p.p_id AS next_purchase_id, p.p_ts AS next_purchase_ts
       FROM c ASOF LEFT JOIN p
         ON c.user_id = p.user_id AND c.click_ts <= p.p_ts
       ORDER BY c.event_id"""

  // --- q206: top user journeys (first-3 event-type paths) ----------------
  /** Product-analytics path census: each user's journey = their first
    * three event types in (ts, event_id) order, corpus-wide top-10
    * journeys by population. One window bounded by WindowGroupLimit
    * (rank ≤ 3 — the per-key scan stops at 3), one conditional-pivot
    * aggregation per user, one count shuffle over &#124;distinct
    * journeys&#124; strings. Users with fewer than 3 events keep a
    * shorter path (concat_ws skips the missing steps, identically in
    * both engines). */
  def q206TopJourneys(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val first3 = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    first3.groupBy("user_id")
      .agg(concat_ws(">",
        max(when(col("rn") === 1, col("event_type"))),
        max(when(col("rn") === 2, col("event_type"))),
        max(when(col("rn") === 3, col("event_type")))).as("journey"))
      .groupBy("journey").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
      .limit(10)
  }

  val q206Sql: String =
    """WITH f AS (
         SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
         FROM events QUALIFY rn <= 3),
       j AS (
         SELECT user_id,
                concat_ws('>',
                  max(CASE WHEN rn = 1 THEN event_type END),
                  max(CASE WHEN rn = 2 THEN event_type END),
                  max(CASE WHEN rn = 3 THEN event_type END)) AS journey
         FROM f GROUP BY 1)
       SELECT journey, CAST(count(*) AS BIGINT) AS n_users
       FROM j GROUP BY 1
       ORDER BY n_users DESC, journey LIMIT 10"""

  // --- q207: quarantine (dead-letter) split ------------------------------
  /** The error-routing pattern every production ingest needs: rows
    * failing the contract go to a QUARANTINE sink with a reason, the
    * rest to the main sink — one pass, two writes, nothing dropped
    * silently (q156 tolerates torn rows at the parser; this is the
    * semantic tier above it). Both sinks are real parquet writes read
    * back for the census, so the report proves the split landed, not
    * just that the expression works. First matching rule wins
    * (deterministic CASE order, mirrored in the oracle). */
  def q207QuarantineSplit(s: SparkSession, dir: String): DataFrame = {
    val reason = when(col("o_totalprice") < 5000.0, "price_below_min")
      .when(col("o_orderkey") % 50 === 0, "key_blocklist")
    val tagged = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), reason.as("reason"))
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_quar_")
      .toString
    try {
      tagged.filter(col("reason").isNotNull)
        .write.parquet(s"$root/quarantine")
      tagged.filter(col("reason").isNull).drop("reason")
        .write.parquet(s"$root/main")
      val q = s.read.parquet(s"$root/quarantine")
        .groupBy("reason").agg(count(lit(1)).as("n"))
        .select(lit("quarantine").as("sink"), col("reason"), col("n"))
      val m = s.read.parquet(s"$root/main")
        .agg(count(lit(1)).as("n"))
        .select(lit("main").as("sink"), lit("ok").as("reason"), col("n"))
      val out = q.unionByName(m).orderBy("sink", "reason")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q207Sql: String =
    """WITH tagged AS (
         SELECT CASE WHEN o_totalprice < 5000.0 THEN 'price_below_min'
                     WHEN o_orderkey % 50 = 0 THEN 'key_blocklist'
                END AS reason
         FROM orders)
       SELECT 'quarantine' AS sink, reason, CAST(count(*) AS BIGINT) AS n
       FROM tagged WHERE reason IS NOT NULL GROUP BY 2
       UNION ALL
       SELECT 'main', 'ok', CAST(count(*) AS BIGINT)
       FROM tagged WHERE reason IS NULL
       ORDER BY sink, reason"""

  // --- q208: late-arriving dimension (Kimball) ----------------------------
  /** The Kimball late-arriving-dimension flow: facts enrich against a
    * dimension snapshot that is MISSING some members (every 5th
    * customer hasn't replicated yet) — unmatched facts take the
    * UNKNOWN placeholder member instead of being dropped or failing
    * the load; when the full dimension arrives, ONLY the placeholder
    * rows re-resolve (a |late|-sized semi-joined re-enrichment, never a
    * full-fact rescan). The report is the per-segment census before and
    * after reconciliation; the oracle derives both sides relationally.
    * UNKNOWN must be empty after — q101's FK check guarantees every
    * fact key exists in the full dimension. */
  def q208LateDim(s: SparkSession, dir: String): DataFrame = {
    val facts = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val dimFull = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val dimV1 = dimFull.filter(col("c_custkey") % 5 =!= 0)
    val before = facts.join(dimV1, col("o_custkey") === col("c_custkey"),
        "left_outer")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
    val late = before.filter(col("segment") === "UNKNOWN")
      .select("o_orderkey", "o_custkey")
      .join(dimFull, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"))
    val after = before.filter(col("segment") =!= "UNKNOWN")
      .select("o_orderkey", "segment")
      .unionByName(late)
    val b = before.groupBy("segment").agg(count(lit(1)).as("n_before"))
    val a = after.groupBy("segment").agg(count(lit(1)).as("n_after"))
    b.join(a, Seq("segment"), "full_outer")
      .select(col("segment"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy("segment")
  }

  val q208Sql: String =
    """WITH v1 AS (
         SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey % 5 <> 0),
       before AS (
         SELECT o.o_orderkey,
                coalesce(v1.c_mktsegment, 'UNKNOWN') AS segment
         FROM orders o LEFT JOIN v1 ON o.o_custkey = v1.c_custkey),
       after AS (
         SELECT o.o_orderkey, c.c_mktsegment AS segment
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       b AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_before
             FROM before GROUP BY 1),
       a AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_after
             FROM after GROUP BY 1)
       SELECT coalesce(b.segment, a.segment) AS segment,
              coalesce(b.n_before, 0) AS n_before,
              coalesce(a.n_after, 0) AS n_after
       FROM b FULL OUTER JOIN a ON b.segment = a.segment
       ORDER BY segment"""

  // --- q209: diagonal-Mahalanobis multi-dim outliers ----------------------
  /** Multi-dimensional outlier score — the tier above q95's univariate
    * z-score: per row, Σ_d ((x_d − μ_d)² / σ²_d·n²-scaled). The MOMENTS
    * are exact DECIMAL(38,0) (order-independent at any scale); the
    * per-row standardization then runs in DOUBLES — μ_d and the
    * variance numerator cast ONCE from exact decimals, then (x−μ)²/v
    * per dimension in a fixed-order IEEE expression both engines share.
    * A first cut kept the per-row arithmetic in decimal too
    * ((x·n−S)²/(n·Q−S²)); it was bit-identical but 6× slower at sf1 —
    * 6M interpreted 128-bit multiplies per dimension on the hot path,
    * where the double form costs two subtractions and a divide inside
    * codegen. Exactness is NOT lost where it matters: the moments (the
    * accumulation-order hazard) stay exact; the per-row expression is
    * single correctly-rounded steps. Top-10 scores via
    * TakeOrderedAndProject; one moment aggregation + one broadcast join
    * back — q199's two-pass shape in d dimensions. */
  def q209MahalanobisDiag(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("long").as("x1"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x2"))
    val m = li
      .select(col("x1").cast(dec).as("d1"), col("x2").cast(dec).as("d2"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum("d1").as("s1"), sum(col("d1") * col("d1")).as("q1"),
        sum("d2").as("s2"), sum(col("d2") * col("d2")).as("q2"))
      .select(col("n").cast("double").as("n_d"),
        (col("s1").cast("double") / col("n").cast("double")).as("mu1"),
        (col("n") * col("q1") - col("s1") * col("s1")).cast("double")
          .as("v1"),
        (col("s2").cast("double") / col("n").cast("double")).as("mu2"),
        (col("n") * col("q2") - col("s2") * col("s2")).cast("double")
          .as("v2"))
    def z2(x: Column, mu: Column, v: Column): Column = {
      // (x−μ)² / (v/n²): written as ((x−μ)·n)·((x−μ)·n)/v so the one
      // division is by the exactly-cast variance numerator
      val d = (x.cast("double") - mu) * col("n_d")
      d * d / v
    }
    li.crossJoin(broadcast(m))
      .select(col("l_orderkey"), col("l_linenumber"),
        (z2(col("x1"), col("mu1"), col("v1")) +
          z2(col("x2"), col("mu2"), col("v2"))).as("score"))
      .orderBy(col("score").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
  }

  val q209Sql: String =
    """WITH li AS (
         SELECT l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS x1,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS x2
         FROM lineitem),
       hm AS (
         SELECT CAST(count(*) AS HUGEINT) AS n,
                sum(CAST(x1 AS HUGEINT)) AS s1,
                sum(CAST(x1 AS HUGEINT) * CAST(x1 AS HUGEINT)) AS q1,
                sum(CAST(x2 AS HUGEINT)) AS s2,
                sum(CAST(x2 AS HUGEINT) * CAST(x2 AS HUGEINT)) AS q2
         FROM li),
       m AS (
         SELECT CAST(n AS DOUBLE) AS n_d,
                CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu1,
                CAST(n * q1 - s1 * s1 AS DOUBLE) AS v1,
                CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS mu2,
                CAST(n * q2 - s2 * s2 AS DOUBLE) AS v2
         FROM hm)
       SELECT l_orderkey, l_linenumber,
              (CAST(x1 AS DOUBLE) - mu1) * n_d *
                ((CAST(x1 AS DOUBLE) - mu1) * n_d) / v1 +
              (CAST(x2 AS DOUBLE) - mu2) * n_d *
                ((CAST(x2 AS DOUBLE) - mu2) * n_d) / v2 AS score
       FROM li CROSS JOIN m
       ORDER BY score DESC, l_orderkey, l_linenumber LIMIT 10"""

  // --- q220: bounded-hop weighted shortest paths (Bellman-Ford) ----------
  /** Minimum path COST (not hop count — q160's weighted tier) from the
    * q160 source set over the part↔supplier graph, edge weight a
    * deterministic int of the endpoints, capped at 3 relaxation
    * rounds: dist_k(v) = min(dist_{k-1}(v), min_u dist_{k-1}(u)+w).
    * [[graft.operators.Graphs.boundedSssp]] shuffles min-reduced
    * (node, long) pairs per round; the oracle unrolls the SAME DP
    * relationally (3 join+group-min levels — identical semantics by
    * construction, bounded working set ≤ |V| rows per level). Summary
    * = exact per-cost histogram with a node-sum checksum, q160's
    * reporting discipline. */
  def q220BoundedSssp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"),
        (col("l_suppkey") + 10000000L).as("sp"))
      .distinct()
    val half = li.select(col("p").as("src"), col("sp").as("dst"))
    val edges = half
      .unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("w", (col("src") + col("dst")) % 9 + 1)
    val sources = edges.select(col("src").as("node"))
      .filter(col("node") % 97 === 0).distinct()
    val dists = graft.operators.Graphs.boundedSssp(edges, sources, 3)
    val out = dists.groupBy("cost")
      .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_sum"))
      .orderBy("cost")
    val rows = out.collect()
    graft.operators.Dedup.unpersistCheckpoint(dists)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  val q220Sql: String =
    """WITH li AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey + 10000000 AS sp
         FROM lineitem),
       edges AS (
         SELECT src, dst, (src + dst) % 9 + 1 AS w FROM (
           SELECT p AS src, sp AS dst FROM li
           UNION ALL SELECT sp AS src, p AS dst FROM li)),
       d0 AS (
         SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost
         FROM edges WHERE src % 97 = 0),
       d1 AS (
         SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
           SELECT e.dst AS node, d0.cost + e.w AS cost
           FROM d0 JOIN edges e ON e.src = d0.node
           UNION ALL SELECT node, cost FROM d0) GROUP BY node),
       d2 AS (
         SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
           SELECT e.dst AS node, d1.cost + e.w AS cost
           FROM d1 JOIN edges e ON e.src = d1.node
           UNION ALL SELECT node, cost FROM d1) GROUP BY node),
       d3 AS (
         SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
           SELECT e.dst AS node, d2.cost + e.w AS cost
           FROM d2 JOIN edges e ON e.src = d2.node
           UNION ALL SELECT node, cost FROM d2) GROUP BY node)
       SELECT cost, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(node) AS BIGINT) AS node_sum
       FROM d3 GROUP BY cost ORDER BY cost"""

  // --- q221: U-shaped (position-based) multi-touch attribution -----------
  /** The 40/20/40 position-based attribution model in EXACT integer
    * basis points: each user's touches strictly before their first
    * purchase share 10000 bp — first and last touch 4000 each, the
    * middles split 2000 by largest-remainder (q219's conservation
    * discipline: Σ bp ≡ 10000 per converting user, no float credit
    * ever). Degenerates: one touch → 10000; two → 5000/5000. Windows
    * partition per user (bounded), census shuffles |channels| rows.
    * Completes the attribution family: last-touch (q146), linear
    * (q175), position-based (here). */
  def q221UShapeAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").select(
      col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
      .select(col("user_id"), col("fp.ts").as("p_ts"),
        col("fp.event_id").as("p_eid"))
    val touches = ev.join(firstPurchase, "user_id")
      .filter(col("ts") < col("p_ts") ||
        (col("ts") === col("p_ts") && col("event_id") < col("p_eid")))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sized = touches
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("user_id")))
    val bp = when(col("n") === 1, 10000L)
      .when(col("n") === 2, 5000L)
      .when(col("i") === 1 || col("i") === col("n"), 4000L)
      .otherwise(
        // middle j = i-1 of n-2 middles: base + largest-remainder cent
        expr("2000 div (n - 2)") +
          when(col("i") - 1 <= expr("2000 % (n - 2)"), 1L)
            .otherwise(0L))
    sized.withColumn("bp", bp.cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_touches"),
        sum("bp").cast("long").as("total_bp"))
      .orderBy("event_type")
  }

  val q221Sql: String =
    """WITH ev AS (
         SELECT user_id, ts, event_id, event_type FROM events),
       fpx AS (
         SELECT user_id, ts AS p_ts, event_id AS p_eid
         FROM (SELECT user_id, ts, event_id,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS rn
               FROM ev WHERE event_type = 'purchase')
         WHERE rn = 1),
       touches AS (
         SELECT e.user_id, e.ts, e.event_id, e.event_type
         FROM ev e JOIN fpx ON e.user_id = fpx.user_id
         WHERE e.ts < p_ts OR (e.ts = p_ts AND e.event_id < p_eid)),
       sized AS (
         SELECT event_type,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS i,
                count(*) OVER (PARTITION BY user_id) AS n
         FROM touches),
       credited AS (
         SELECT event_type,
                CASE WHEN n = 1 THEN 10000
                     WHEN n = 2 THEN 5000
                     WHEN i = 1 OR i = n THEN 4000
                     ELSE 2000 // (n - 2) +
                          CASE WHEN i - 1 <= 2000 % (n - 2)
                               THEN 1 ELSE 0 END
                END AS bp
         FROM sized)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
              CAST(sum(bp) AS BIGINT) AS total_bp
       FROM credited GROUP BY 1 ORDER BY 1"""

  // --- q222: CUSUM change-point detection --------------------------------
  /** One-sided CUSUM over each event type's hourly count series,
    * computed RELATIONALLY via the running-min identity: with
    * y_t = c_t − ref and C_t = Σ_{≤t} y, the textbook recurrence
    * S_t = max(0, S_{t-1} + y_t) equals C_t − min(0, min_{j≤t} C_j)
    * (the virtual C₀ = 0 is part of the prefix) — two
    * exact-integer window passes, no sequential recursion, so the
    * detector distributes (and the oracle replays it identically).
    * ref = per-type mean hourly count, floored to keep everything in
    * int64. Report: each type's peak CUSUM and when it peaked
    * (earliest hour on ties — WindowGroupLimit top-1). */
  def q222Cusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd-HH").as("hour"))
      .agg(count(lit(1)).as("c"))
    val withRef = hourly
      .withColumn("ref", expr(
        "sum(c) OVER (PARTITION BY event_type) div " +
          "count(c) OVER (PARTITION BY event_type)"))
    val wOrd = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = withRef
      .withColumn("cum", sum(col("c") - col("ref")).over(wOrd))
      // min over the prefix INCLUDING the virtual C₀ = 0 — without the
      // least(·,0) clamp, a series that never dips below zero would
      // report S₁ = 0 where the recurrence gives S₁ = y₁
      .withColumn("s",
        col("cum") - least(min("cum").over(wOrd), lit(0L)))
    cusum
      .withColumn("rk", row_number().over(Window
        .partitionBy("event_type")
        .orderBy(col("s").desc, col("hour"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("ref").cast("long").as("ref"),
        col("s").cast("long").as("peak_cusum"),
        col("hour").as("peak_hour"))
      .orderBy("event_type")
  }

  val q222Sql: String =
    """WITH hourly AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d-%H') AS hour,
                CAST(count(*) AS BIGINT) AS c
         FROM events GROUP BY 1, 2),
       withref AS (
         SELECT *, sum(c) OVER (PARTITION BY event_type) //
                   count(c) OVER (PARTITION BY event_type) AS ref
         FROM hourly),
       cusum AS (
         SELECT *,
                sum(c - ref) OVER (PARTITION BY event_type ORDER BY hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
         FROM withref),
       s AS (
         SELECT *,
                cum - least(min(cum) OVER (PARTITION BY event_type
                  ORDER BY hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  0) AS s
         FROM cusum),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY s DESC, hour) AS rk
         FROM s)
       SELECT event_type, CAST(ref AS BIGINT) AS ref,
              CAST(s AS BIGINT) AS peak_cusum, hour AS peak_hour
       FROM ranked WHERE rk = 1 ORDER BY event_type"""

  // --- q227: MAD robust outliers -----------------------------------------
  /** Median-absolute-deviation outlier scoring — the robust tier above
    * q95's mean/σ z-score (one in-group outlier inflates σ and masks
    * its neighbors; the median pair doesn't budge). Both medians are
    * EXACT discrete percentiles on integer cents — least value whose
    * cumulative histogram frequency reaches ⌈n/2⌉, identical to the
    * q66 rank-pick the oracle uses — so the
    * only float is the final (x−med)/MAD division. Top-3 per group by
    * deviation (|score| ranking ≡ |dev| ranking within a group — MAD
    * is a positive per-group constant), WindowGroupLimit-bounded;
    * cents joins the sort key because the harness data carries
    * duplicate (orderkey, linenumber) rows. */
  def q227MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_orderkey"), col("l_linenumber"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val counts = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    // the obvious row_number PARTITION BY flag collapses the TABLE
    // into |groups| window partitions — a 3-task sort ceiling. Instead
    // the median comes off the per-(group, value) HISTOGRAM: the
    // counting aggregation parallelizes fully (map-side partials), and
    // the one small window walks cumulative counts over DISTINCT
    // values — bounded by the value range (cents), not the row count,
    // at any corpus size. Median = least value whose cumulative
    // frequency reaches ⌈n/2⌉; exact under ties by construction.
    def histMedian(df: org.apache.spark.sql.DataFrame,
                   valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy("l_returnflag").orderBy(valueCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy("l_returnflag", valueCol)
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
        .join(broadcast(counts), "l_returnflag")
        .filter(col("cum") >= ceil(col("n") * 0.5).cast("long"))
        .groupBy("l_returnflag").agg(min(valueCol).as(outCol))
    }
    val med = histMedian(li, "cents", "med")
    val withDev = li.join(broadcast(med), "l_returnflag")
      .withColumn("dev", abs(col("cents") - col("med")))
    val mad = histMedian(withDev, "dev", "mad")
    withDev.join(broadcast(mad), "l_returnflag")
      .withColumn("rk", row_number().over(Window
        .partitionBy("l_returnflag")
        .orderBy(col("dev").desc, col("l_orderkey"),
          col("l_linenumber"), col("cents"))))
      .filter(col("rk") <= 3)
      .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), col("cents"),
        when(col("mad") > 0,
          (col("cents") - col("med")).cast("double") /
            col("mad").cast("double")).as("robust_z"))
      .orderBy("l_returnflag", "rk")
  }

  val q227Sql: String =
    """WITH li AS (
         SELECT l_returnflag, l_orderkey, l_linenumber,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         FROM lineitem),
       counts AS (
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
         FROM li GROUP BY 1),
       med AS (
         SELECT l_returnflag,
                max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN cents END) AS med
         FROM (SELECT l_returnflag, cents,
                      row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY cents) AS rn
               FROM li) r JOIN counts USING (l_returnflag)
         GROUP BY 1),
       dev AS (
         SELECT li.l_returnflag, l_orderkey, l_linenumber, cents,
                abs(cents - med) AS dev
         FROM li JOIN med USING (l_returnflag)),
       mad AS (
         SELECT l_returnflag,
                max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN dev END) AS mad
         FROM (SELECT l_returnflag, dev,
                      row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY dev) AS rn
               FROM dev) r JOIN counts USING (l_returnflag)
         GROUP BY 1),
       ranked AS (
         SELECT d.l_returnflag, l_orderkey, l_linenumber, cents,
                dev, med.med, mad.mad,
                row_number() OVER (PARTITION BY d.l_returnflag
                  ORDER BY dev DESC, l_orderkey, l_linenumber, cents)
                  AS rk
         FROM dev d JOIN med USING (l_returnflag)
              JOIN mad USING (l_returnflag))
       SELECT l_returnflag, CAST(rk AS INTEGER) AS rk, l_orderkey,
              l_linenumber, cents,
              CASE WHEN mad > 0 THEN
                CAST(cents - med AS DOUBLE) / CAST(mad AS DOUBLE)
              END AS robust_z
       FROM ranked WHERE rk <= 3
       ORDER BY l_returnflag, rk"""

  // --- q228: item-item similarity (bipartite projection) -----------------
  /** Collaborative-filtering's core primitive: suppliers similar by
    * SHARED PARTS — project the part↔supplier bipartite graph onto
    * suppliers via an inverted-index self-join on the part (the q26
    * postings discipline: candidate pairs are Σ_part df², bounded by
    * capping hot parts at scale, never |S|²), count co-occurrences,
    * and score sim² = n²/(d₁·d₂) — squared cosine kept RATIONAL (one
    * exact-integer ratio, one division; no sqrt, which is not
    * bit-identical across engines). Top-20 pairs by overlap. */
  def q228ItemItem(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
      .distinct()
    val deg = ps.groupBy("supp").agg(count(lit(1)).as("d"))
    val pairs = ps.as("a")
      .join(ps.as("b"), col("a.part") === col("b.part"))
      .filter(col("a.supp") < col("b.supp"))
      .groupBy(col("a.supp").as("s1"), col("b.supp").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(deg.select(col("supp").as("s1"), col("d").as("d1")), "s1")
      .join(deg.select(col("supp").as("s2"), col("d").as("d2")), "s2")
      .select(col("s1"), col("s2"), col("n_common"), col("d1"),
        col("d2"),
        ((col("n_common") * col("n_common")).cast("double") /
          (col("d1") * col("d2")).cast("double")).as("sim2"))
      .orderBy(col("n_common").desc, col("s1"), col("s2"))
      .limit(20)
  }

  val q228Sql: String =
    """WITH ps AS (
         SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
         FROM lineitem),
       deg AS (
         SELECT supp, CAST(count(*) AS BIGINT) AS d
         FROM ps GROUP BY 1),
       pairs AS (
         SELECT a.supp AS s1, b.supp AS s2,
                CAST(count(*) AS BIGINT) AS n_common
         FROM ps a JOIN ps b ON a.part = b.part AND a.supp < b.supp
         GROUP BY 1, 2)
       SELECT s1, s2, n_common, da.d AS d1, db.d AS d2,
              CAST(n_common * n_common AS DOUBLE) /
                CAST(da.d * db.d AS DOUBLE) AS sim2
       FROM pairs JOIN deg da ON pairs.s1 = da.supp
            JOIN deg db ON pairs.s2 = db.supp
       ORDER BY n_common DESC, s1, s2 LIMIT 20"""

  // --- q229: ordered 3-step pattern match (funnel with deadline) ---------
  /** MATCH_RECOGNIZE-lite: users completing signup → click → purchase
    * STRICTLY in order, with the whole chain inside 2 hours of the
    * first signup — q80's funnel plus ordering and a deadline. Each
    * step is one conditional min-aggregation (first signup, first
    * click after it, first purchase after that): three joins on
    * user_id, no window over raw events, no pattern automaton —
    * at 100 TB each step reduces map-side to one row per user.
    * Strictness is ts-level (a same-timestamp pair doesn't chain),
    * identical in both engines. */
  def q229Pattern3Step(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").as("e")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").as("e")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id")
      .agg(min("ts").as("t3"), min("t1").as("t1"))
    val conv = s3.filter(
      col("t3") <= col("t1") + expr("INTERVAL 2 HOURS"))
    s1.agg(count(lit(1)).as("n_signup")).crossJoin(
        s2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
      .crossJoin(conv.agg(count(lit(1)).as("n_converted_2h")))
  }

  val q229Sql: String =
    """WITH ev AS (
         SELECT user_id, ts, event_type FROM events),
       s1 AS (
         SELECT user_id, min(ts) AS t1
         FROM ev WHERE event_type = 'signup' GROUP BY 1),
       s2 AS (
         SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
         FROM ev e JOIN s1 ON e.user_id = s1.user_id
         WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
       s3 AS (
         SELECT e.user_id, min(e.ts) AS t3, min(s2.t1) AS t1
         FROM ev e JOIN s2 ON e.user_id = s2.user_id
         WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
              (SELECT CAST(count(*) AS BIGINT) FROM s2)
                AS n_click_after,
              (SELECT CAST(count(*) AS BIGINT) FROM s3)
                AS n_purchase_after,
              (SELECT CAST(count(*) AS BIGINT) FROM s3
               WHERE t3 <= t1 + INTERVAL 2 HOUR) AS n_converted_2h"""

  // --- q249: Pareto frontier (2D skyline) with a sound broadcast prune --
  /** The orders on the price/recency Pareto frontier: no other order is
    * both cheaper-or-equal AND newer-or-equal (with one strict) — the
    * "best tradeoffs" query (cheapest for its recency) that a naive
    * engine answers with an all-pairs NOT EXISTS. Two phases, both
    * exact:
    *   1. PRUNE (scan-linear, broadcast): per order month, the minimum
    *     price over all STRICTLY LATER months (a ~|months|-row window,
    *     broadcast back). Any row priced strictly above that bound is
    *     dominated by that later cheaper row — discarded map-side.
    *     Survivors ≈ the frontier plus a per-month boundary band.
    *   2. EXACT (on survivors only): one window ordered by price —
    *     `max(date)` over strictly-cheaper rows (RANGE … 1 PRECEDING
    *     on integer cents) and over same-price peers (RANGE CURRENT
    *     ROW) decides strict domination in O(n log n), no self-join.
    * Soundness: strict 2D domination is transitive, so every dominated
    * row is dominated by a frontier row, frontier rows are never
    * pruned (a pruned row has a strictly-later strictly-cheaper
    * dominator), hence phase 2 over survivors finds exactly the
    * frontier. The oracle runs the quadratic NOT EXISTS on the same
    * subset — the formulation this rewrite replaces. Subset keeps the
    * oracle's all-pairs bill bounded; at 100 TB the prune is what
    * makes the exact window's input small (frontier of random data
    * grows ~log n). q134 peels the frontier of per-DAY minima — a
    * pre-aggregated 1-value-per-day reduction; this form is
    * row-granular with full strict-domination semantics (peers, ties),
    * which is what the prune phase exists to make affordable. */
  def q249ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").filter(col("o_custkey") % 17 === 0)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"),
        col("o_orderdate"),
        date_trunc("month", col("o_orderdate")).as("m"))
    val wLater = Window.orderBy(col("m").cast("long"))
      .rangeBetween(1L, Window.unboundedFollowing)
    val bound = o.groupBy("m").agg(min("price_cents").as("m_min"))
      .withColumn("best_later", min("m_min").over(wLater))
      .select("m", "best_later")
    val survivors = o.join(broadcast(bound), Seq("m"))
      .filter(col("best_later").isNull ||
        col("price_cents") <= col("best_later"))
    val wLower = Window.orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1L)
    val wPeer = Window.orderBy("price_cents").rangeBetween(0L, 0L)
    survivors
      .withColumn("mx_lower", max("o_orderdate").over(wLower))
      .withColumn("mx_peer", max("o_orderdate").over(wPeer))
      .filter((col("mx_lower").isNull ||
          col("mx_lower") < col("o_orderdate")) &&
        col("mx_peer") <= col("o_orderdate"))
      .select(col("o_orderkey"), col("price_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("price_cents", "o_orderkey")
  }

  val q249Sql: String =
    """WITH o AS (
         SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_orderdate
         FROM orders WHERE o_custkey % 17 = 0)
       SELECT o_orderkey, price_cents,
              strftime(o_orderdate, '%Y-%m-%d') AS order_date
       FROM o a
       WHERE NOT EXISTS (
         SELECT 1 FROM o b
         WHERE b.price_cents <= a.price_cents
           AND b.o_orderdate >= a.o_orderdate
           AND (b.price_cents < a.price_cents
                OR b.o_orderdate > a.o_orderdate))
       ORDER BY price_cents, o_orderkey"""

  // --- q250: exact weighted median per group (histogram form) -----------
  /** Quantity-weighted median unit price per return flag — "the price
    * at which half the shipped VOLUME is cheaper". The naive form
    * sorts every row per group; this one aggregates to the
    * (flag, price) histogram first (map-side partial combine does the
    * heavy lifting), then runs the cumulative-weight window over
    * |distinct prices| rows — the same at-scale discipline as the
    * histogram quantiles (q109/q227): the window's input is the
    * value-domain size, not the row count. Lower weighted median
    * (smallest price with cumweight·2 ≥ total), all-integer so both
    * engines agree bit-for-bit. Complements q132 (quantity median
    * weighted by revenue cents): the histogram machinery is
    * axis-generic — swap value and weight columns and the same plan
    * serves either direction. */
  def q250WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"),
        col("l_quantity").cast("long").as("w"))
      .groupBy("l_returnflag", "pc").agg(sum("w").as("wsum"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy("l_returnflag")
    hist
      .withColumn("cum", sum("wsum").over(wCum))
      .withColumn("tot", sum("wsum").over(wTot))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min("pc").as("median_cents"), min("tot").as("total_weight"))
      .orderBy("l_returnflag")
  }

  val q250Sql: String =
    """WITH hist AS (
         SELECT l_returnflag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum
         FROM lineitem GROUP BY 1, 2),
       cum AS (
         SELECT l_returnflag, pc, wsum,
                sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY pc
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(wsum) OVER (PARTITION BY l_returnflag) AS tot
         FROM hist)
       SELECT l_returnflag,
              CAST(min(pc) AS BIGINT) AS median_cents,
              CAST(min(tot) AS BIGINT) AS total_weight
       FROM cum WHERE cum * 2 >= tot
       GROUP BY 1 ORDER BY 1"""

  // --- q251: new-vs-returning revenue decomposition per month -----------
  /** Monthly revenue split by whether the ordering customer is NEW
    * (this is their first-ever order month) or RETURNING — the growth
    * decomposition behind every "is revenue growth acquisition or
    * retention?" dashboard. One aggregation derives each customer's
    * first month (|customers| rows), joins back to the per-order rows
    * (unhinted — dimension-sized, AQE broadcasts it), and one final
    * rollup per month. All cents-integer sums; no window over the
    * full fact. */
  def q251NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
        .as("month"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))
    val first = o.groupBy("o_custkey").agg(min("month").as("m0"))
    o.join(first, "o_custkey")
      .groupBy("month")
      .agg(
        sum(when(col("month") === col("m0"), col("pc")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("month") =!= col("m0"), col("pc")).otherwise(0L))
          .as("returning_cents"),
        countDistinct(when(col("month") === col("m0"), col("o_custkey")))
          .as("new_customers"),
        countDistinct(when(col("month") =!= col("m0"), col("o_custkey")))
          .as("returning_customers"))
      .orderBy("month")
  }

  val q251Sql: String =
    """WITH o AS (
         SELECT o_custkey,
                strftime(date_trunc('month', o_orderdate), '%Y-%m')
                  AS month,
                CAST(round(o_totalprice * 100) AS BIGINT) AS pc
         FROM orders),
       first AS (
         SELECT o_custkey, min(month) AS m0 FROM o GROUP BY 1)
       SELECT month,
              CAST(sum(CASE WHEN month = m0 THEN pc ELSE 0 END)
                AS BIGINT) AS new_cents,
              CAST(sum(CASE WHEN month <> m0 THEN pc ELSE 0 END)
                AS BIGINT) AS returning_cents,
              CAST(count(DISTINCT CASE WHEN month = m0
                THEN o.o_custkey END) AS BIGINT) AS new_customers,
              CAST(count(DISTINCT CASE WHEN month <> m0
                THEN o.o_custkey END) AS BIGINT) AS returning_customers
       FROM o JOIN first USING (o_custkey)
       GROUP BY month ORDER BY month"""

  // --- q252: interval-union coverage (sweep-line as a window) -----------
  /** Total COVERED time per user when each event opens an interval
    * [ts, ts + dur) and intervals overlap — utilization/uptime
    * accounting where double-counting overlaps is the classic bug. The
    * all-pairs overlap join is quadratic per user; the sweep-line form
    * is one partitioned window: order intervals by start, carry
    * `max(end)` over all PRECEDING rows, and each row contributes
    * `max(0, end − max(start, prev_max_end))` — covered length exactly,
    * islands counted where a row's start clears everything before it.
    * All epoch-microsecond integers; the window partitions by user, so
    * it scales with the per-user interval count, never the corpus. */
  def q252IntervalCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          (expr("CAST(round(value * 100) AS BIGINT)") % 7200L + 60L) *
            1000000L).as("en"))
    val w = Window.partitionBy("user_id").orderBy("st", "en", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("prev_en", max("en").over(w))
      .withColumn("contrib",
        greatest(col("en") - greatest(col("st"),
          coalesce(col("prev_en"), col("st"))), lit(0L)))
      .withColumn("opens",
        when(col("prev_en").isNull || col("st") > col("prev_en"), 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("contrib").as("covered_micros"),
        sum("opens").as("n_islands"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id")
  }

  val q252Sql: String =
    """WITH iv AS (
         SELECT user_id, event_id, epoch_us(ts) AS st,
                epoch_us(ts) +
                  (CAST(round(value * 100) AS BIGINT) % 7200 + 60)
                    * 1000000 AS en
         FROM events),
       swept AS (
         SELECT user_id, st, en,
                max(en) OVER (PARTITION BY user_id
                  ORDER BY st, en, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS prev_en
         FROM iv)
       SELECT user_id,
              CAST(sum(greatest(en - greatest(st,
                  coalesce(prev_en, st)), 0)) AS BIGINT)
                AS covered_micros,
              CAST(sum(CASE WHEN prev_en IS NULL OR st > prev_en
                THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
              CAST(count(*) AS BIGINT) AS n_intervals
       FROM swept GROUP BY user_id ORDER BY user_id"""

  // --- q253: ABC classification (cumulative-share bucketing) ------------
  /** Parts bucketed A/B/C by cumulative revenue share (A = parts
    * covering the first 80% of revenue, B = to 95%, C = the tail) — the
    * inventory-management classic. One fact aggregation to |parts|
    * rows, then the cumulative window runs over the part dimension,
    * never the fact (same histogram discipline as q250: window input
    * = value-domain size). Share thresholds compare as integer
    * cross-multiplications (cum·10 ≤ tot·8), so no engine ever
    * divides — bit-exact class boundaries even when a part straddles
    * 80.000…1%. Ties rank deterministically (revenue desc, partkey
    * asc). */
  def q253AbcClass(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
    val wCum = Window.orderBy(col("cents").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .withColumn("cum", sum("cents").over(wCum))
      .withColumn("tot", sum("cents").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("abc_class",
        when(col("cum") * 10 <= col("tot") * 8, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("class_cents"))
      .orderBy("abc_class")
  }

  val q253Sql: String =
    """WITH rev AS (
         SELECT l_partkey,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM lineitem GROUP BY 1),
       ranked AS (
         SELECT cents,
                sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(cents) OVER () AS tot
         FROM rev)
       SELECT CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                   WHEN cum * 20 <= tot * 19 THEN 'B'
                   ELSE 'C' END AS abc_class,
              CAST(count(*) AS BIGINT) AS n_parts,
              CAST(sum(cents) AS BIGINT) AS class_cents
       FROM ranked GROUP BY 1 ORDER BY 1"""

  // --- q254: deterministic ordered string aggregation (LISTAGG) ---------
  /** Top-5 customers by account balance per nation as ONE comma-joined
    * string — the LISTAGG/string_agg reshape every report layer asks
    * for, with the two at-scale disciplines that make it safe:
    * (1) the top-5 cut is a partitioned WindowGroupLimit (never a
    * global sort), so the aggregated string is bounded at 5 names per
    * group no matter the fact size; (2) `collect_list` alone is
    * partition-order nondeterministic, so the names collect as
    * (rank, name) structs and `array_sort` + `transform` fixes the
    * order INSIDE the aggregate — same answer on any partitioning. */
  def q254ListAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("bal_cents").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("c_nationkey")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("rk"),
            col("c_name")))), x => x.getField("c_name")), ",")
          .as("top_names"),
        max("bal_cents").as("best_cents"))
      .orderBy("c_nationkey")
  }

  val q254Sql: String =
    """WITH ranked AS (
         SELECT c_nationkey, c_name,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                row_number() OVER (PARTITION BY c_nationkey
                  ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC,
                           c_custkey ASC) AS rk
         FROM customer)
       SELECT c_nationkey,
              string_agg(c_name, ',' ORDER BY rk) AS top_names,
              CAST(max(bal_cents) AS BIGINT) AS best_cents
       FROM ranked WHERE rk <= 5
       GROUP BY 1 ORDER BY 1"""

  // --- q255: cohort retention triangle ----------------------------------
  /** The retention triangle: users grouped by their FIRST-activity
    * month (the cohort), counted in each subsequent month they remain
    * active, keyed by months-since-cohort offset. Built from two
    * bounded aggregations — distinct (user, month) activity and a
    * per-user min — joined on the (dimension-sized) user key; no
    * window over raw events. Month arithmetic runs on integer month
    * indices (year·12 + month), so offsets are exact in both engines;
    * the cohort label re-derives from the SAME min (string min ≡
    * index min for zero-padded yyyy-MM). */
  def q255CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val act = t(s, dir, "events")
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM").as("mstr"),
        (year(col("ts")) * 12 + month(col("ts"))).as("midx"))
      .distinct()
    val first = act.groupBy("user_id")
      .agg(min("mstr").as("cohort_month"), min("midx").as("m0"))
    act.join(first, "user_id")
      .groupBy(col("cohort_month"),
        (col("midx") - col("m0")).cast("long").as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_month", "offset")
  }

  val q255Sql: String =
    """WITH act AS (
         SELECT DISTINCT user_id, strftime(ts, '%Y-%m') AS mstr,
                year(ts) * 12 + month(ts) AS midx
         FROM events),
       first AS (
         SELECT user_id, min(mstr) AS cohort_month, min(midx) AS m0
         FROM act GROUP BY 1)
       SELECT cohort_month, midx - m0 AS offset,
              CAST(count(*) AS BIGINT) AS n_active
       FROM act JOIN first USING (user_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // --- q258: month-over-month rank movers -------------------------------
  /** Brands whose monthly-revenue RANK jumped or fell ≥ 3 places vs the
    * previous calendar month — the "top movers" leaderboard delta. Two
    * windows, both over the |month × brand| rollup (never the fact):
    * rank within month (revenue desc, brand asc — deterministic), then
    * lag within brand ordered by month INDEX, kept only when the
    * previous observation is the immediately preceding month (a brand
    * absent for a month re-enters unranked rather than comparing
    * across the gap). All-integer ranks and month indices. */
  def q258RankMovers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("midx"),
      date_format(col("l_shipdate"), "yyyy-MM").as("mstr"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val monthly = li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("mstr", "midx", "p_brand")
      .agg(sum("pc").as("cents"))
    val wRank = Window.partitionBy("midx")
      .orderBy(col("cents").desc, col("p_brand").asc)
    val wLag = Window.partitionBy("p_brand").orderBy("midx")
    monthly
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("prev_rk", lag("rk", 1).over(wLag))
      .withColumn("prev_midx", lag("midx", 1).over(wLag))
      .filter(col("prev_midx") === col("midx") - 1 &&
        abs(col("prev_rk") - col("rk")) >= 3)
      .select(col("mstr").as("month"), col("p_brand"), col("rk"),
        col("prev_rk"), (col("prev_rk") - col("rk")).as("delta"))
      .orderBy("month", "rk", "p_brand")
  }

  val q258Sql: String =
    """WITH monthly AS (
         SELECT strftime(l_shipdate, '%Y-%m') AS mstr,
                year(l_shipdate) * 12 + month(l_shipdate) AS midx,
                p_brand,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2, 3),
       ranked AS (
         SELECT mstr, midx, p_brand, cents,
                CAST(row_number() OVER (PARTITION BY midx
                  ORDER BY cents DESC, p_brand ASC) AS BIGINT) AS rk
         FROM monthly),
       lagged AS (
         SELECT mstr, midx, p_brand, rk,
                lag(rk) OVER (PARTITION BY p_brand ORDER BY midx)
                  AS prev_rk,
                lag(midx) OVER (PARTITION BY p_brand ORDER BY midx)
                  AS prev_midx
         FROM ranked)
       SELECT mstr AS month, p_brand, rk, prev_rk, prev_rk - rk AS delta
       FROM lagged
       WHERE prev_midx = midx - 1 AND abs(prev_rk - rk) >= 3
       ORDER BY month, rk, p_brand"""

  // --- q260: EWMA via deterministic ordered fold ------------------------
  /** Exponentially weighted moving average of the hourly event count
    * per event type (α = 1/4) — the standard smoothing a monitoring
    * layer runs, and a worked example of the cross-engine discipline
    * for ORDER-SENSITIVE float math: a windowed sum of α(1−α)ᵏ terms
    * would accumulate in engine-specific order, so instead BOTH
    * engines run the same left fold (s₁ = x₁; sₜ = α·xₜ + (1−α)·sₜ₋₁)
    * over the same chronologically-sorted list — Spark's `aggregate`
    * HOF seeded with the first element, DuckDB's `list_reduce` —
    * giving the identical IEEE operation sequence, hence bit-equal
    * doubles. α = 1/4 and 3/4 are exact binary fractions. The fold
    * runs over the |type × hours| rollup, never raw events; per-key
    * state is one double (the streaming form is q85/q242's rolling
    * window family). */
  def q260Ewma(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    hourly.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("h"), col("cnt"))))
        .as("arr"))
      .select(col("event_type"),
        size(col("arr")).cast("long").as("n_hours"),
        expr("""aggregate(slice(arr, 2, size(arr) - 1),
                CAST(arr[0].cnt AS DOUBLE),
                (acc, x) -> 0.25D * CAST(x.cnt AS DOUBLE) + 0.75D * acc)""")
          .as("ewma"))
      .orderBy("event_type")
  }

  val q260Sql: String =
    """WITH hourly AS (
         SELECT event_type, date_trunc('hour', ts) AS h,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       agg AS (
         SELECT event_type,
                list(CAST(cnt AS DOUBLE) ORDER BY h) AS arr
         FROM hourly GROUP BY 1)
       SELECT event_type, CAST(len(arr) AS BIGINT) AS n_hours,
              CAST(list_reduce(arr, (a, b) -> 0.25 * b + 0.75 * a)
                AS DOUBLE) AS ewma
       FROM agg ORDER BY event_type"""

  // --- q261: revenue concentration (Lorenz / Gini) ----------------------
  /** Gini coefficient of customer revenue — "how concentrated is the
    * book of business" — by the sorted-rank identity
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ ascending. One fact
    * aggregation to |customers| rows, one ranking window over that
    * value domain, one reduce. The q125 `dec` discipline: every
    * product runs in decimal(38,0) (n·Σx overflows int64 around
    * sf100 — exactly the silent-wrap ADVICE caught in JoinGuard), and
    * only the final ratio converts to double. Rank ties (equal
    * revenue) cannot change Σ i·xᵢ — any permutation of a tie group
    * reassigns the same rank set to the same value — so the result is
    * deterministic without a tie-break column. */
  def q261Gini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val rev = t(s, dir, "orders").groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("cents"))
    val w = Window.orderBy(col("cents").asc, col("o_custkey").asc)
    rev
      .withColumn("i", row_number().over(w).cast("long"))
      .select(col("cents").cast(dec).as("x"), col("i").cast(dec).as("i"))
      .agg(count(lit(1)).as("n_customers"),
        sum("x").as("sx"), sum(col("i") * col("x")).as("six"),
        max("i").as("n"))
      .select(col("n_customers"),
        col("sx").cast("long").as("total_cents"),
        ((lit(2).cast(dec) * col("six") -
          (col("n") + lit(1).cast(dec)) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double")).as("gini"))
  }

  val q261Sql: String =
    """WITH rev AS (
         SELECT o_custkey,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM orders GROUP BY 1),
       ranked AS (
         SELECT CAST(cents AS DECIMAL(38,0)) AS x,
                CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC)
                  AS DECIMAL(38,0)) AS i
         FROM rev),
       m AS (
         SELECT CAST(count(*) AS BIGINT) AS n_customers,
                sum(x) AS sx, sum(i * x) AS six, max(i) AS n
         FROM ranked)
       SELECT n_customers, CAST(sx AS BIGINT) AS total_cents,
              CAST(CAST(2 AS DECIMAL(38,0)) * six -
                   (n + CAST(1 AS DECIMAL(38,0))) * sx AS DOUBLE) /
                CAST(n * sx AS DOUBLE) AS gini
       FROM m"""

  // --- q262: k-core extraction (fixed-round peeling) --------------------
  /** The 4-core of the co-purchase graph (parts linked when a large
    * order contains both — q97's edge construction): nodes surviving
    * repeated deletion of degree-<4 nodes, with their in-core degrees.
    * [[graft.operators.Graphs.kCorePeel]] peels for 8 fixed rounds
    * (early-stopping at the fixpoint, which is observationally
    * identical); the oracle unrolls the same 8 peels as chained CTEs —
    * iterative graph semantics pinned relationally, the q220/q160
    * bounded-iteration discipline. */
  def q262KCore(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val edges = li.groupBy("o").agg(array_sort(collect_set("p")).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("u"),
        explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .distinct()
    graft.operators.Graphs.kCorePeel(edges, k = 4, rounds = 8)
      .orderBy("node")
  }

  val q262Sql: String = {
    // AS MATERIALIZED is load-bearing: each peel references its
    // predecessor twice (degree pass + survivor join), so inlined CTEs
    // would expand e0 2⁸ times — exponential work and a
    // too-many-open-files parquet re-scan storm
    val peels = (1 to 8).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM e${i - 1}
            UNION ALL SELECT v AS n FROM e${i - 1}) t$i GROUP BY 1),
         k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= 4),
         e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
                 JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n)"""
    }.mkString(",\n       ")
    s"""WITH li AS MATERIALIZED (
         SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
         WHERE l_quantity >= 30),
       e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
              FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
       $peels
       SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
         SELECT u AS n FROM e8 UNION ALL SELECT v AS n FROM e8) t
       GROUP BY 1 ORDER BY node"""
  }

  // --- q264: gap-fill with exact linear interpolation -------------------
  /** q171's densified hourly grid, with missing hours LINEARLY
    * INTERPOLATED between the neighboring observations instead of
    * zero-filled — the resample-and-interpolate a forecasting feature
    * pipeline needs. Neighbor discovery is two IGNORE-NULLS window
    * scans over the per-user grid (last observation at-or-before, first
    * at-or-after — never a self-join against observations); endpoints
    * always exist because the grid spans each user's own [min, max]
    * hour. The interpolated value (v₀·(t₁−t) + v₁·(t−t₀)) / (t₁−t₀) is
    * a RATIONAL, and int division rounds differently across engines
    * (Spark `div` truncates, DuckDB `//` floors), so the value is
    * emitted as exact integer numerator + denominator — the q125
    * emit-the-exact-parts discipline; consumers divide in their own
    * float domain. */
  def q264Interpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val hourly = ev.groupBy("user_id", "h").agg(sum("c").as("v"))
    val grid = ev.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val g = grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("ht", (unix_micros(col("h")) / 3600000000L).cast("long"))
    val wB = Window.partitionBy("user_id").orderBy("ht")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wF = Window.partitionBy("user_id").orderBy("ht")
      .rowsBetween(0, Window.unboundedFollowing)
    g.withColumn("pv", last("v", ignoreNulls = true).over(wB))
      .withColumn("pt", last(when(col("v").isNotNull, col("ht")),
        ignoreNulls = true).over(wB))
      .withColumn("nv", first("v", ignoreNulls = true).over(wF))
      .withColumn("nt", first(when(col("v").isNotNull, col("ht")),
        ignoreNulls = true).over(wF))
      .select(col("user_id"), col("h").as("hour_ts"),
        col("v").isNotNull.as("observed"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") * (col("nt") - col("ht")) +
            col("nv") * (col("ht") - col("pt"))).as("value_num"),
        when(col("v").isNotNull, lit(1L))
          .otherwise(col("nt") - col("pt")).as("value_den"))
      .orderBy("user_id", "hour_ts")
  }

  val q264Sql: String =
    """WITH ev AS (
         SELECT user_id, date_trunc('hour', ts) AS h,
                CAST(round(value * 100) AS BIGINT) AS c
         FROM events WHERE user_id < 10),
       hourly AS (
         SELECT user_id, h, CAST(sum(c) AS BIGINT) AS v
         FROM ev GROUP BY 1, 2),
       grid AS (
         SELECT user_id,
                unnest(generate_series(min(h), max(h),
                  INTERVAL 1 HOUR)) AS h
         FROM ev GROUP BY user_id),
       g AS (
         SELECT grid.user_id, grid.h, v,
                epoch_us(grid.h) // 3600000000 AS ht
         FROM grid LEFT JOIN hourly
           ON grid.user_id = hourly.user_id AND grid.h = hourly.h),
       nb AS (
         SELECT user_id, h, v, ht,
                last_value(v IGNORE NULLS) OVER wb AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN ht END
                  IGNORE NULLS) OVER wb AS pt,
                first_value(v IGNORE NULLS) OVER wf AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN ht END
                  IGNORE NULLS) OVER wf AS nt
         FROM g
         WINDOW wb AS (PARTITION BY user_id ORDER BY ht
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY user_id ORDER BY ht
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT user_id, h AS hour_ts, v IS NOT NULL AS observed,
              CAST(CASE WHEN v IS NOT NULL THEN v
                ELSE pv * (nt - ht) + nv * (ht - pt) END AS BIGINT)
                AS value_num,
              CAST(CASE WHEN v IS NOT NULL THEN 1
                ELSE nt - pt END AS BIGINT) AS value_den
       FROM nb ORDER BY user_id, hour_ts"""

  // --- q265: event debounce (consecutive-duplicate suppression) ---------
  /** Per event type: how many events survive DEBOUNCING — dropping an
    * event when it repeats the same user's immediately preceding
    * event type (sensor chatter / double-click suppression, the
    * append-log cousin of U2's keep-first dedup: U2 dedups by KEY,
    * this dedups by ADJACENCY, so the same type further down the
    * stream is kept again). One lag window partitioned by user
    * (per-user event counts bound the sort), ties broken by event_id
    * — deterministic under any partitioning. The streaming twin is
    * q195's transformWithState (carry one last-type value per user). */
  def q265Debounce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("event_type")
  }

  val q265Sql: String =
    """WITH lagged AS (
         SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
         FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
              CAST(sum(CASE WHEN prev_type IS NULL
                    OR prev_type <> event_type
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM lagged GROUP BY 1 ORDER BY 1"""

  // --- q272: sliding 7-day distinct users (WAU) -------------------------
  /** Rolling 7-day active users per day — the DAU/WAU board metric.
    * Distinct-over-a-sliding-window has no direct window-function form
    * (COUNT(DISTINCT) OVER RANGE is unsupported and would be quadratic
    * anyway); the scalable identity: reduce events to distinct
    * (user, day) FIRST (map-side, events-shaped → user-day-shaped),
    * then each user-day CONTRIBUTES to exactly 7 window days
    * (explode), and the per-window-day distinct-user count is one
    * aggregation. Work is 7·|user-days|, independent of raw event
    * volume — the at-scale rewrite of the textbook range self-join.
    * Window days clip to the observed day span so the leading edge
    * isn't padded with partial windows. */
  def q272SlidingWau(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val span = ud.agg(min("d").as("d0"), max("d").as("d1"))
    ud.crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(sequence(col("d"),
          least(col("d") + expr("INTERVAL 6 DAYS"), col("d1")),
          expr("INTERVAL 1 DAY"))).as("wd"))
      .distinct()
      .groupBy(date_format(col("wd"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  val q272Sql: String =
    """WITH ud AS (
         SELECT DISTINCT user_id, date_trunc('day', ts) AS d
         FROM events),
       span AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
       contrib AS (
         SELECT DISTINCT user_id,
                unnest(generate_series(d,
                  least(d + INTERVAL 6 DAY, d1), INTERVAL 1 DAY)) AS wd
         FROM ud CROSS JOIN span)
       SELECT strftime(wd, '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS wau
       FROM contrib GROUP BY 1 ORDER BY 1"""

  // --- q273: snapshot-generation diff (time-travel audit) ---------------
  /** WHAT CHANGED between two committed generations of a CommitLog
    * sink — the audit query time travel exists for: build a ledger,
    * run two keepReplaced merges ([[graft.operators.Merge]]), then
    * diff generation 0 against the latest via
    * [[graft.operators.CommitLog.readAt]] + the q120 snapshot-diff
    * full-outer shape. Output: one row per changed key with its
    * before/after value and change kind (I/U — this history has no
    * deletes). Scale: the diff is one full-outer join of two
    * manifest-resolved reads — each pins its OWN file list, so the
    * two snapshots scan disjoint-by-generation files, never a log
    * replay. */
  def q273SnapshotAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_tt_")
      .toString
    try {
      val cust = graft.io.Sources.table(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val sink = s"$root/ledger"
      cust.repartition(4).write.parquet(sink)
      val m1 = cust.filter(col("c_custkey") % 11 === 0)
        .withColumn("bal_cents", col("bal_cents") + 1100L)
      graft.operators.Merge.mergeParquet(s, m1, Seq("c_custkey"), sink,
        keepReplaced = true)
      val m2 = cust.filter(col("c_custkey") % 13 === 0)
        .withColumn("bal_cents", col("bal_cents") + 1300L)
        .unionByName(s.range(1, 4)
          .select((col("id") + 95000000L).as("c_custkey"),
            lit(500L).as("bal_cents")))
      graft.operators.Merge.mergeParquet(s, m2, Seq("c_custkey"), sink,
        keepReplaced = true)
      val g0 = graft.operators.CommitLog.readAt(s, sink, 0L)
        .select(col("c_custkey"), col("bal_cents").as("before_cents"))
      val g2 = graft.operators.CommitLog.readAt(s, sink, 2L)
        .select(col("c_custkey"), col("bal_cents").as("after_cents"))
      val out = g0.join(g2, Seq("c_custkey"), "full_outer")
        .filter(col("before_cents").isNull ||
          col("after_cents").isNull ||
          col("before_cents") =!= col("after_cents"))
        .select(col("c_custkey"),
          when(col("before_cents").isNull, "I").otherwise("U").as("kind"),
          col("before_cents"), col("after_cents"))
        .orderBy("c_custkey")
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      graft.io.Sources.deleteRecursively(root)
    }
  }

  val q273Sql: String =
    """WITH base AS (
         SELECT c_custkey,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM customer),
       after AS (
         SELECT c_custkey,
                bal_cents +
                  CASE WHEN c_custkey % 13 = 0 THEN 1300
                       WHEN c_custkey % 11 = 0 THEN 1100
                       ELSE 0 END AS bal_cents
         FROM base
         UNION ALL
         SELECT 95000000 + i, 500 FROM unnest(generate_series(1, 3)) t(i))
       SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
              CASE WHEN b.c_custkey IS NULL THEN 'I' ELSE 'U' END AS kind,
              b.bal_cents AS before_cents,
              a.bal_cents AS after_cents
       FROM base b FULL OUTER JOIN after a ON b.c_custkey = a.c_custkey
       WHERE b.bal_cents IS DISTINCT FROM a.bal_cents
       ORDER BY c_custkey"""

  // --- q274: TPC-H Q13 (customer order-count distribution) --------------
  /** The distribution of orders-per-customer INCLUDING the zero bucket
    * — TPC-H Q13's left-join-then-histogram, the shape that catches
    * engines that silently drop never-ordered customers. Two
    * aggregations: per-customer counts (left join keeps the zeros),
    * then the count-of-counts histogram — both map-side partial,
    * |customers| and |distinct counts| sized. */
  def q274Tpch13(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey")
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q274Sql: String =
    """WITH per_cust AS (
         SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1)
       SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM per_cust GROUP BY 1
       ORDER BY custdist DESC, c_count DESC"""

  // --- q282: dimensional coverage-gap audit -----------------------------
  /** Which (region, segment, priority) cells have NO orders — the
    * completeness audit behind "is this slice empty or missing?". The
    * expected grid is the cross product of the three (tiny) dimension
    * value sets — built with explicit crossJoins of DISTINCT value
    * frames, never a fact self-product — and one anti-join against the
    * observed combinations flags the gaps. At 100 TB the observed side
    * reduces map-side to ≤|grid| rows before the anti-join, so the
    * audit costs one fact rollup regardless of volume. */
  def q282CoverageGaps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val observed = o
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("c_mktsegment"), col("o_orderpriority"))
      .distinct()
    val grid = r.select("r_name").distinct()
      .crossJoin(c.select("c_mktsegment").distinct())
      .crossJoin(o.select("o_orderpriority").distinct())
    grid.join(observed, Seq("r_name", "c_mktsegment", "o_orderpriority"),
        "left_anti")
      .orderBy("r_name", "c_mktsegment", "o_orderpriority")
  }

  val q282Sql: String =
    """WITH observed AS (
         SELECT DISTINCT r_name, c_mktsegment, o_orderpriority
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey),
       grid AS (
         SELECT r_name, c_mktsegment, o_orderpriority
         FROM (SELECT DISTINCT r_name FROM region)
         CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
         CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders))
       SELECT g.* FROM grid g
       LEFT JOIN observed o
         ON g.r_name = o.r_name AND g.c_mktsegment = o.c_mktsegment
        AND g.o_orderpriority = o.o_orderpriority
       WHERE o.r_name IS NULL
       ORDER BY 1, 2, 3"""

  // --- q283: session entry/exit + bounce analysis -----------------------
  /** Web-analytics session anatomy over the 30-minute-gap sessions
    * (q49's sessionization): per ENTRY event type, how many sessions
    * start there, how many BOUNCE (single-event sessions), and the
    * most common exit type. One gap-window pass assigns session ids
    * (monotonic per user), one aggregation collapses each session to
    * (entry, exit, n_events), one rollup per entry type. Session
    * count is user-day-shaped; raw events stream through exactly two
    * partitioned windows. */
  def q283SessionAnatomy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = t(s, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val perSession = sess.groupBy("user_id", "sid")
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"),
        count(lit(1)).as("n_events"))
    perSession.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_bounces"),
        sum(when(col("exit_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase_exits"))
      .orderBy("entry_type")
  }

  val q283Sql: String =
    """WITH lagged AS (
         SELECT user_id, ts, event_id, event_type,
                lag(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_ts
         FROM events),
       marked AS (
         SELECT user_id, ts, event_id, event_type,
                CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
         FROM lagged),
       sess AS (
         SELECT user_id, ts, event_id, event_type,
                sum(new_s) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked),
       per_session AS (
         SELECT user_id, sid,
                min((ts, event_id, event_type))[3] AS entry_type,
                max((ts, event_id, event_type))[3] AS exit_type,
                CAST(count(*) AS BIGINT) AS n_events
         FROM sess GROUP BY 1, 2)
       SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
              CAST(sum(CASE WHEN exit_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase_exits
       FROM per_session GROUP BY 1 ORDER BY 1"""

  // --- q284: deterministic annotation-pair sampling ---------------------
  /** N pseudo-random document PAIRS for human annotation, drawn
    * WITHOUT materializing any pair space: `spark.range(N)` generates
    * the sample indices and two md5-derived hashes map each index
    * into the doc-id domain (rejecting self-pairs, ordering a < b) —
    * the |D|² pair space exists only conceptually. Membership is a
    * pure function of the sample index (the q60 reproducibility
    * discipline: same N → same pairs on any cluster, any partitioning)
    * and the generator composes with any downstream join back to the
    * corpus. Output: the 64 sampled pairs with their doc lengths
    * joined in. */
  def q284AnnotationPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "n_chars")
    val nDocs = docs.count()
    val pairs = s.range(0, 96)
      .select(col("id").as("sample_id"),
        (graft.operators.Dedup.hash60(concat(lit("a:"),
          col("id").cast("string"))) % nDocs).as("ia"),
        (graft.operators.Dedup.hash60(concat(lit("b:"),
          col("id").cast("string"))) % nDocs).as("ib"))
      .filter(col("ia") =!= col("ib"))
      .select(col("sample_id"),
        least(col("ia"), col("ib")).as("da"),
        greatest(col("ia"), col("ib")).as("db"))
      .orderBy("sample_id").limit(64)
    pairs
      .join(docs.select(col("doc_id").as("da"),
        col("n_chars").as("chars_a")), "da")
      .join(docs.select(col("doc_id").as("db"),
        col("n_chars").as("chars_b")), "db")
      .select("sample_id", "da", "db", "chars_a", "chars_b")
      .orderBy("sample_id")
  }

  val q284Sql: String =
    """WITH n AS (SELECT count(*) AS nd FROM documents),
       idx AS (
         SELECT i AS sample_id,
                ('0x' || substr(md5('a:' || CAST(i AS VARCHAR)), 1, 15))
                  ::BIGINT % (SELECT nd FROM n) AS ia,
                ('0x' || substr(md5('b:' || CAST(i AS VARCHAR)), 1, 15))
                  ::BIGINT % (SELECT nd FROM n) AS ib
         FROM unnest(generate_series(0, 95)) AS t(i)),
       pairs AS (
         SELECT sample_id, least(ia, ib) AS da,
                greatest(ia, ib) AS db
         FROM idx WHERE ia <> ib
         ORDER BY sample_id LIMIT 64)
       SELECT sample_id, da, db,
              a.n_chars AS chars_a, b.n_chars AS chars_b
       FROM pairs
       JOIN documents a ON a.doc_id = da
       JOIN documents b ON b.doc_id = db
       ORDER BY sample_id"""

  // --- q286: percent-of-parent hierarchy shares -------------------------
  /** Each nation's revenue with its share of the parent region and of
    * the world — the percent-of-parent decomposition every drill-down
    * BI layer shows at each level. One fact rollup to |nations| rows,
    * then the parent totals are WINDOW sums over that rollup (region
    * partition, then global) — the fact is scanned once, no per-level
    * re-aggregation, no self-join. Shares follow the q261 discipline:
    * exact integer numerators everywhere, one double division per
    * share at the very end. */
  def q286PercentOfParent(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))
    val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val n = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val r = t(s, dir, "region").select("r_regionkey", "r_name")
    val byNation = o
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum("pc").as("cents"))
    val wR = Window.partitionBy("r_name")
    val wG = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byNation
      .withColumn("region_cents", sum("cents").over(wR))
      .withColumn("world_cents", sum("cents").over(wG))
      .select(col("r_name"), col("n_name"), col("cents"),
        col("region_cents"),
        (col("cents").cast("double") * 100.0 /
          col("region_cents").cast("double")).as("pct_of_region"),
        (col("cents").cast("double") * 100.0 /
          col("world_cents").cast("double")).as("pct_of_world"))
      .orderBy("r_name", "n_name")
  }

  val q286Sql: String =
    """WITH by_nation AS (
         SELECT r_name, n_name,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2)
       SELECT r_name, n_name, cents,
              CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
                AS region_cents,
              CAST(cents AS DOUBLE) * 100.0 /
                CAST(sum(cents) OVER (PARTITION BY r_name) AS DOUBLE)
                AS pct_of_region,
              CAST(cents AS DOUBLE) * 100.0 /
                CAST(sum(cents) OVER () AS DOUBLE) AS pct_of_world
       FROM by_nation ORDER BY r_name, n_name"""

  // --- q290: event-time disorder audit (watermark sizing) ---------------
  /** How out-of-order is the stream, per user: each event's LATENESS is
    * how far its event time lags the maximum event time already seen
    * in that user's ARRIVAL order (event_id — the ingest sequence
    * number), i.e. exactly what a watermark must absorb. Output per
    * user bucket: events, late events, worst lateness, and how many a
    * 30-minute watermark would drop — the sizing report consumed by
    * q46/q152's `withWatermark` choices. One window partitioned by
    * user in arrival order; no global ordering anywhere (a GLOBAL
    * watermark audit would two-phase the same running max over ingest
    * shards). */
  def q290DisorderAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .withColumn("hwm", max(unix_micros(col("ts"))).over(w))
      .withColumn("late_us",
        greatest(col("hwm") - unix_micros(col("ts")), lit(0L)))
      .groupBy((col("user_id") % 10L).as("user_bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_late"),
        max("late_us").as("max_late_us"),
        sum(when(col("late_us") > 1800000000L, 1L).otherwise(0L))
          .as("n_dropped_at_30m"))
      .orderBy("user_bucket")
  }

  val q290Sql: String =
    """WITH lagged AS (
         SELECT user_id, epoch_us(ts) AS us,
                max(epoch_us(ts)) OVER (PARTITION BY user_id
                  ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS hwm
         FROM events),
       late AS (
         SELECT user_id, greatest(coalesce(hwm, us) - us, 0) AS late_us
         FROM lagged)
       SELECT user_id % 10 AS user_bucket,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
              CAST(max(late_us) AS BIGINT) AS max_late_us,
              CAST(sum(CASE WHEN late_us > 1800000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_at_30m
       FROM late GROUP BY 1 ORDER BY 1"""

  // --- q291: substitution candidates within a part family ---------------
  /** Up to three cheaper same-family alternatives for each expensive
    * part — the "substitute suggestion" catalog query: family =
    * (p_type, p_size), candidates must be a DIFFERENT brand and
    * strictly cheaper, ranked by price gap. The family window does the
    * pairing (partitioned self-join on the family key — never a
    * cross join), restricted to the costliest parts so the oracle's
    * output stays bounded; prices compare in exact cents. */
  def q291Substitutes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
      col("p_type"), col("p_size"),
      expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
    val target = p.filter(col("p_partkey") % 50 === 0)
    val alt = p.select(col("p_type"), col("p_size"),
      col("p_partkey").as("alt_key"), col("p_brand").as("alt_brand"),
      col("cents").as("alt_cents"))
    val cand = target.join(alt, Seq("p_type", "p_size"))
      .filter(col("alt_brand") =!= col("p_brand") &&
        col("alt_cents") < col("cents"))
    val w = Window.partitionBy("p_partkey")
      .orderBy(col("alt_cents").asc, col("alt_key").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("p_partkey"), col("rk").cast("long").as("rk"),
        col("alt_key"), (col("cents") - col("alt_cents")).as("gap_cents"))
      .orderBy("p_partkey", "rk")
  }

  val q291Sql: String =
    """WITH p AS (
         SELECT p_partkey, p_brand, p_type, p_size,
                CAST(round(p_retailprice * 100) AS BIGINT) AS cents
         FROM part),
       cand AS (
         SELECT t.p_partkey, a.p_partkey AS alt_key,
                t.cents - a.cents AS gap_cents, a.cents AS alt_cents
         FROM p t JOIN p a
           ON t.p_type = a.p_type AND t.p_size = a.p_size
          AND a.p_brand <> t.p_brand AND a.cents < t.cents
         WHERE t.p_partkey % 50 = 0),
       ranked AS (
         SELECT p_partkey, alt_key, gap_cents,
                row_number() OVER (PARTITION BY p_partkey
                  ORDER BY alt_cents ASC, alt_key ASC) AS rk
         FROM cand)
       SELECT p_partkey, CAST(rk AS BIGINT) AS rk, alt_key, gap_cents
       FROM ranked WHERE rk <= 3 ORDER BY p_partkey, rk"""

  // --- q294: fulfillment-lag percentiles per priority -------------------
  /** Days from order placement to FIRST shipment, summarized as exact
    * p50/p90/p99 per order priority — the SLA scorecard. Lag derives
    * per order (one min-aggregation over its lines), then the
    * percentile machinery is the q109/q250 histogram discipline: the
    * |priority × lag-days| histogram carries cumulative ranks, and
    * each percentile is a conditional min — the window input is the
    * value domain (days), never the orders. */
  def q294FulfillmentLag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate"))
    val firstShip = t(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(min("l_shipdate").as("ship"))
    val lag = o.join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship"), col("o_orderdate")).cast("long").as("d"))
    val hist = lag.groupBy("o_orderpriority", "d")
      .agg(count(lit(1)).as("k"))
    val w = Window.partitionBy("o_orderpriority").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wT = Window.partitionBy("o_orderpriority")
    hist
      .withColumn("cum", sum("k").over(w))
      .withColumn("tot", sum("k").over(wT))
      .groupBy("o_orderpriority")
      .agg(min("tot").as("n_orders"),
        min(when(col("cum") * 2 >= col("tot"), col("d"))).as("p50_days"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("d")))
          .as("p90_days"),
        min(when(col("cum") * 100 >= col("tot") * 99, col("d")))
          .as("p99_days"),
        max("d").as("max_days"))
      .orderBy("o_orderpriority")
  }

  val q294Sql: String =
    """WITH first_ship AS (
         SELECT l_orderkey, min(l_shipdate) AS ship
         FROM lineitem GROUP BY 1),
       lag AS (
         SELECT o_orderpriority,
                CAST(date_diff('day', o_orderdate, ship) AS BIGINT) AS d
         FROM orders JOIN first_ship ON o_orderkey = l_orderkey),
       hist AS (
         SELECT o_orderpriority, d, CAST(count(*) AS BIGINT) AS k
         FROM lag GROUP BY 1, 2),
       ranked AS (
         SELECT o_orderpriority, d, k,
                sum(k) OVER (PARTITION BY o_orderpriority ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(k) OVER (PARTITION BY o_orderpriority) AS tot
         FROM hist)
       SELECT o_orderpriority,
              CAST(min(tot) AS BIGINT) AS n_orders,
              CAST(min(CASE WHEN cum * 2 >= tot THEN d END) AS BIGINT)
                AS p50_days,
              CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN d END)
                AS BIGINT) AS p90_days,
              CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN d END)
                AS BIGINT) AS p99_days,
              CAST(max(d) AS BIGINT) AS max_days
       FROM ranked GROUP BY 1 ORDER BY 1"""

  // --- q295: ABC × velocity classification matrix -----------------------
  /** The two-axis inventory matrix: parts bucketed A/B/C by cumulative
    * revenue share (q253's axis) × FAST/SLOW by order-line count
    * (velocity: above/below the median multiplicity) — the 3×2 grid
    * purchasing manages from ("C-fast" = cheap but busy, "A-slow" =
    * expensive shelf-warmers). Both axes derive from ONE |parts|-row
    * rollup; each classification is a window over that rollup
    * (cumulative share; median via the histogram rank), and the
    * matrix is one final 6-row reduce. */
  def q295AbcVelocity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"), count(lit(1)).as("n_lines"))
    val wCum = Window.orderBy(col("cents").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wMed = Window.orderBy("n_lines")
      .rowsBetween(Window.unboundedPreceding, 0)
    val classed = per
      .withColumn("cum", sum("cents").over(wCum))
      .withColumn("tot", sum("cents").over(wAll))
      .withColumn("abc",
        when(col("cum") * 10 <= col("tot") * 8, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B").otherwise("C"))
      .withColumn("rn", row_number().over(wMed).cast("long"))
      .withColumn("np", count(lit(1)).over(wAll))
      .withColumn("med_n",
        min(when(col("rn") * 2 >= col("np"), col("n_lines"))).over(wAll))
      .withColumn("velocity",
        when(col("n_lines") > col("med_n"), "FAST").otherwise("SLOW"))
    classed.groupBy("abc", "velocity")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("cents"))
      .orderBy("abc", "velocity")
  }

  val q295Sql: String =
    """WITH per AS (
         SELECT l_partkey,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem GROUP BY 1),
       classed AS (
         SELECT cents, n_lines,
                sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(cents) OVER () AS tot,
                row_number() OVER (ORDER BY n_lines) AS rn,
                count(*) OVER () AS np
         FROM per),
       med AS (
         SELECT min(CASE WHEN rn * 2 >= np THEN n_lines END) AS med_n
         FROM classed)
       SELECT CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                   WHEN cum * 20 <= tot * 19 THEN 'B'
                   ELSE 'C' END AS abc,
              CASE WHEN n_lines > med_n THEN 'FAST' ELSE 'SLOW' END
                AS velocity,
              CAST(count(*) AS BIGINT) AS n_parts,
              CAST(sum(cents) AS BIGINT) AS cents
       FROM classed CROSS JOIN med
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // --- q302: PPS systematic sampling ------------------------------------
  /** Probability-proportional-to-size SYSTEMATIC sampling (Madow's
    * method), k=20 picks per language weighted by n_chars — the exact
    * selection scheme survey samplers use when inclusion probability
    * must be ∝ weight without per-item randomness. Item i (docs ordered
    * by doc_id) receives floor(cum·k/total) − floor(cumPrev·k/total)
    * picks — ALL integer arithmetic, so both engines select the
    * identical sample (no RNG, no doubles; heavy items (w > total/k)
    * legitimately take multiple picks). One shuffle: the per-lang
    * running-sum window; the partition total rides the same window
    * pass. At corpus scale a skewed single-language corpus would swap
    * the window for the q81-style per-shard prefix scan — the
    * selection arithmetic is unchanged. */
  def q302PpsSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = lit(20L)
    val byLang = Window.partitionBy("lang")
    val run = byLang.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars").as("w"))
      .withColumn("cum", sum("w").over(run))
      .withColumn("total", sum("w").over(byLang))
    docs
      .withColumn("n_picks",
        expr("(cum * 20) DIV total - ((cum - w) * 20) DIV total"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").cast("long").as("total_chars"),
        sum(when(col("n_picks") > 0L, 1L).otherwise(0L))
          .as("n_selected"),
        sum("n_picks").cast("long").as("picks_total"),
        sum(when(col("n_picks") > 0L, col("w")).otherwise(0L))
          .cast("long").as("selected_chars"),
        sum(when(col("n_picks") > 0L, col("doc_id")).otherwise(0L))
          .cast("long").as("selected_id_sum"))
      .orderBy("lang")
  }

  val q302Sql: String =
    """WITH c AS (
         SELECT doc_id, lang, n_chars AS w,
                sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(n_chars) OVER (PARTITION BY lang) AS total
         FROM documents),
       p AS (
         SELECT lang, w, doc_id,
                (cum * 20) // total - ((cum - w) * 20) // total
                  AS n_picks
         FROM c)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(w) AS BIGINT) AS total_chars,
              CAST(sum(CASE WHEN n_picks > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
              CAST(sum(n_picks) AS BIGINT) AS picks_total,
              CAST(sum(CASE WHEN n_picks > 0 THEN w ELSE 0 END)
                AS BIGINT) AS selected_chars,
              CAST(sum(CASE WHEN n_picks > 0 THEN doc_id ELSE 0 END)
                AS BIGINT) AS selected_id_sum
       FROM p GROUP BY 1 ORDER BY 1"""

  // --- q303: token-budget greedy selection ------------------------------
  /** Budgeted greedy selection: per source, take docs in priority order
    * until a 50k-BPE-token budget is exhausted — the curriculum /
    * budget-capped ingestion step that sits AFTER scoring (q32) and
    * differs from quota sampling (q74 caps COUNTS; this caps the token
    * SUM a trainer actually pays for). Priority is a deterministic
    * hash surrogate for a model score, so both engines rank
    * identically; the kept set is `cum ≤ budget` over a per-source
    * running sum ordered by (priority desc, doc_id) — a doc larger
    * than the remaining budget is skipped-over-the-boundary exactly
    * like a packing cutoff, not trimmed. One window shuffle by source. */
  def q303BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(ceil(length(text) / 4.0) AS BIGINT)").as("toks"),
        pmod(Dedup.hash60(concat(col("doc_id").cast("string"), lit("q"))),
          lit(1000L)).as("priority"))
    val run = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum("toks").over(run))
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        sum("toks").cast("long").as("candidate_toks"),
        sum(when(col("cum") <= 50000L, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cum") <= 50000L, col("toks")).otherwise(0L))
          .cast("long").as("kept_toks"),
        sum(when(col("cum") <= 50000L, col("doc_id")).otherwise(0L))
          .cast("long").as("kept_id_sum"))
      .orderBy("source")
  }

  val q303Sql: String =
    """WITH d AS (
         SELECT doc_id, source,
                CAST(ceil(length(text) / 4.0) AS BIGINT) AS toks,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'q'),
                  1, 15))::BIGINT % 1000 AS priority
         FROM documents),
       c AS (
         SELECT source, doc_id, toks,
                sum(toks) OVER (PARTITION BY source
                  ORDER BY priority DESC, doc_id ASC
                  ROWS UNBOUNDED PRECEDING) AS cum
         FROM d)
       SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
              CAST(sum(toks) AS BIGINT) AS candidate_toks,
              CAST(sum(CASE WHEN cum <= 50000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN cum <= 50000 THEN toks ELSE 0 END)
                AS BIGINT) AS kept_toks,
              CAST(sum(CASE WHEN cum <= 50000 THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
       FROM c GROUP BY 1 ORDER BY 1"""

  // --- q304: A-ES weighted reservoir (top-k per group) ------------------
  /** Efraimidis–Spirakis weighted sampling without replacement: each
    * doc draws key = ln(u)/w with u a det-hash uniform in (0,1] and
    * w = n_chars; the top-5 keys per language ARE a weight-proportional
    * sample — the one-pass mergeable scheme for "sample k docs ∝ size"
    * at stream/corpus scale (keys merge under max, so partial top-ks
    * combine map-side; the plan is a WindowGroupLimit, never a global
    * sort). The ln/÷ ride IEEE doubles in both engines; md5-spread keys
    * make a rank flip at the k-boundary require a sub-ulp tie, and the
    * emitted columns are all integers. */
  def q304WeightedReservoir(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (Dedup.hash60(col("doc_id").cast("string")) + lit(1L))
      .cast("double") / lit(1152921504606846976.0)
    val key = log(u) / col("n_chars").cast("double")
    val rank = Window.partitionBy("lang")
      .orderBy(col("es_key").desc, col("doc_id").asc)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"), key.as("es_key"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_chars"))
      .orderBy("lang", "rank")
  }

  val q304Sql: String =
    """WITH keyed AS (
         SELECT doc_id, lang, n_chars,
                ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT + 1) / 1152921504606846976.0)
                  / n_chars AS es_key
         FROM documents),
       ranked AS (
         SELECT lang, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang
                  ORDER BY es_key DESC, doc_id ASC) AS rank
         FROM keyed)
       SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
              CAST(n_chars AS BIGINT) AS n_chars
       FROM ranked WHERE rank <= 5 ORDER BY lang, rank"""

  // --- q305: temperature-scaled mixture (alpha = 0.5) -------------------
  /** Temperature-scaled source rebalancing — the multilingual-corpus
    * smoothing rule p_i ∝ n_i^α with α = 0.5: weights derive FROM the
    * data (√ of each language's char mass), unlike q155's fixed
    * relative weights, so low-resource languages are up-weighted
    * exactly as the exponent dictates. isqrt(n) = floor(sqrt(n)) is
    * EXACT for n < 2⁵² (IEEE sqrt is correctly rounded, so only true
    * perfect squares land on integers), keeping the whole budget
    * computation in pinned-order integer division and the keep
    * predicate in the q155 cross-multiplied hash-Bernoulli form —
    * bit-identical membership in both engines. One aggregation for
    * the weights, one broadcast, one corpus pass. */
  def q305TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cur = docs.groupBy("lang")
      .agg(sum("n_chars").cast("long").as("cur_chars"))
      .withColumn("wt", floor(sqrt(col("cur_chars").cast("double")))
        .cast("long"))
    val tot = cur.agg(sum("cur_chars").as("total"), sum("wt").as("sumw"))
    val tgt = cur.crossJoin(broadcast(tot))
      .select(col("lang"), col("cur_chars"), col("wt"),
        expr("((total DIV 2) * wt) DIV sumw").as("target_chars"))
    val kept = docs.join(broadcast(tgt), Seq("lang"))
      .filter(pmod(Dedup.hash60(col("doc_id").cast("string")),
          lit(10000L)) * col("cur_chars")
        < col("target_chars") * lit(10000L))
      .groupBy("lang")
      .agg(sum("n_chars").cast("long").as("chars_kept"),
        count(lit(1)).as("n_kept"))
    tgt.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("cur_chars"), col("wt"),
        col("target_chars"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  val q305Sql: String =
    """WITH cur AS (
         SELECT lang, CAST(sum(n_chars) AS BIGINT) AS cur_chars,
                CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)))
                  AS BIGINT) AS wt
         FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(cur_chars) AS BIGINT) AS total,
                      CAST(sum(wt) AS BIGINT) AS sumw FROM cur),
       tgt AS (
         SELECT lang, cur_chars, wt,
                ((tot.total // 2) * wt) // tot.sumw AS target_chars
         FROM cur CROSS JOIN tot),
       kept AS (
         SELECT d.lang,
                CAST(sum(d.n_chars) AS BIGINT) AS chars_kept,
                CAST(count(*) AS BIGINT) AS n_kept
         FROM documents d JOIN tgt ON d.lang = tgt.lang
         WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 10000) * tgt.cur_chars
               < tgt.target_chars * 10000
         GROUP BY 1)
       SELECT tgt.lang, cur_chars, wt, target_chars,
              coalesce(chars_kept, 0) AS chars_kept,
              coalesce(n_kept, 0) AS n_kept
       FROM tgt LEFT JOIN kept ON tgt.lang = kept.lang
       ORDER BY tgt.lang"""

  // --- q306: Kolmogorov–Smirnov drift per source ------------------------
  /** Two-sample KS statistic between each source's n_chars distribution
    * and the whole corpus — the distribution-drift gate that catches
    * shape changes TVD-on-categories (q292) cannot see. Exactness: the
    * ecdf difference at value v is |c_s(v)·N − c(v)·n_s| / (n_s·N), so
    * the MAX is taken over the integer numerator (no float ecdfs to
    * diverge on) and divides once at the end. The step functions are
    * evaluated on the full grid = |sources| × |distinct n_chars| via a
    * broadcast cross of two dimension-sized frames; at corpus scale the
    * value domain is quantized first (the grid stays |sources| ×
    * |buckets|), the cumsum windows and the max-reduce are unchanged. */
  def q306KsDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus pass: everything below derives from this map-side
    // reducible |sources × distinct values| rollup
    val base = t(s, dir, "documents")
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c_s"))
    val srcN = base.groupBy("source").agg(sum("c_s").as("n_s"))
    val corpusCum = base.groupBy("v").agg(sum("c_s").as("c"))
      .withColumn("cum_all", sum("c").over(
        Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("v", "cum_all")
    val tot = srcN.agg(sum("n_s").as("total"))
    val grid = srcN.crossJoin(broadcast(tot))
      .crossJoin(corpusCum.select("v"))
    val bySrc = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(base, Seq("source", "v"), "left")
      .withColumn("cum_s", sum(coalesce(col("c_s"), lit(0L))).over(bySrc))
      .join(corpusCum, Seq("v"))
      .groupBy("source", "n_s", "total")
      .agg(max(abs(col("cum_s") * col("total") -
        col("cum_all") * col("n_s"))).as("ks_num"))
      .select(col("source"), col("n_s").cast("long").as("n_s"),
        col("ks_num").cast("long").as("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_s") * col("total")).cast("double")).as("ks_stat"))
      .orderBy("source")
  }

  val q306Sql: String =
    """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total
                  FROM documents),
       vals AS (SELECT DISTINCT n_chars AS v FROM documents),
       src_n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                 FROM documents GROUP BY 1),
       corpus_cum AS (
         SELECT n_chars AS v,
                sum(count(*)) OVER (ORDER BY n_chars
                  ROWS UNBOUNDED PRECEDING) AS cum_all
         FROM documents GROUP BY n_chars),
       src_cnt AS (
         SELECT source, n_chars AS v, count(*) AS c_s
         FROM documents GROUP BY 1, 2),
       grid AS (
         SELECT src_n.source, src_n.n_s, vals.v,
                sum(coalesce(c_s, 0)) OVER (PARTITION BY src_n.source
                  ORDER BY vals.v ROWS UNBOUNDED PRECEDING) AS cum_s
         FROM src_n CROSS JOIN vals
         LEFT JOIN src_cnt ON src_cnt.source = src_n.source
                          AND src_cnt.v = vals.v)
       SELECT source, n_s,
              CAST(max(abs(cum_s * n.total - cum_all * n_s)) AS BIGINT)
                AS ks_num,
              CAST(max(abs(cum_s * n.total - cum_all * n_s)) AS DOUBLE)
                / CAST(n_s * n.total AS DOUBLE) AS ks_stat
       FROM grid JOIN corpus_cum USING (v) CROSS JOIN n
       GROUP BY source, n_s, n.total ORDER BY source"""

  // --- q307: Mann–Whitney U rank-sum ------------------------------------
  /** Mann–Whitney U comparing English vs non-English document lengths —
    * the nonparametric location test (does one group stochastically
    * dominate?) that complements q306's shape test. Tie handling is the
    * textbook midrank, kept EXACT by working in doubled ranks: a tied
    * block at value v spans ranks (cum_before, cum_before + cnt], so
    * its midrank·2 = 2·cum_before + cnt + 1 — integers throughout, and
    * U = (R₁·2 − n₁(n₁+1)·... )/2 materializes once at the end. One
    * |distinct value|-sized aggregation carries the whole test; no
    * per-row ranks ever shuffle. */
  def q307MannWhitney(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
    val byVal = docs.groupBy("v")
      .agg(count(lit(1)).as("cnt"), sum("is_en").as("c_en"))
      .withColumn("cum", sum("cnt").over(
        Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    byVal
      .agg(
        sum("c_en").cast("long").as("n1"),
        sum(col("cnt") - col("c_en")).cast("long").as("n2"),
        sum(col("c_en") *
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L)))
          .cast("long").as("r1_x2"))
      .select(col("n1"), col("n2"), col("r1_x2"),
        ((col("r1_x2") - col("n1") * (col("n1") + lit(1L)))
          .cast("double") / 2.0).as("u_stat"),
        (((col("r1_x2") - col("n1") * (col("n1") + lit(1L)))
          .cast("double") / 2.0) /
          (col("n1") * col("n2")).cast("double")).as("auc"))
  }

  val q307Sql: String =
    """WITH by_val AS (
         SELECT n_chars AS v, count(*) AS cnt,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
                sum(count(*)) OVER (ORDER BY n_chars
                  ROWS UNBOUNDED PRECEDING) AS cum
         FROM documents GROUP BY n_chars)
       SELECT CAST(sum(c_en) AS BIGINT) AS n1,
              CAST(sum(cnt - c_en) AS BIGINT) AS n2,
              CAST(sum(c_en * (2 * (cum - cnt) + cnt + 1)) AS BIGINT)
                AS r1_x2,
              CAST(sum(c_en * (2 * (cum - cnt) + cnt + 1)) -
                   sum(c_en) * (sum(c_en) + 1) AS DOUBLE) / 2.0
                AS u_stat,
              (CAST(sum(c_en * (2 * (cum - cnt) + cnt + 1)) -
                    sum(c_en) * (sum(c_en) + 1) AS DOUBLE) / 2.0) /
                CAST(sum(c_en) * sum(cnt - c_en) AS DOUBLE) AS auc
       FROM by_val"""

  val all: Map[String, Q] = Map(
    "q305_temperature_mix" -> q305TemperatureMix _,
    "q306_ks_drift" -> q306KsDrift _,
    "q307_mann_whitney" -> q307MannWhitney _,
    "q302_pps_sample" -> q302PpsSample _,
    "q303_budget_select" -> q303BudgetSelect _,
    "q304_weighted_reservoir" -> q304WeightedReservoir _,
    "q294_fulfillment_lag" -> q294FulfillmentLag _,
    "q295_abc_velocity" -> q295AbcVelocity _,
    "q290_disorder_audit" -> q290DisorderAudit _,
    "q291_substitutes" -> q291Substitutes _,
    "q286_percent_of_parent" -> q286PercentOfParent _,
    "q207_quarantine_split" -> q207QuarantineSplit _,
    "q208_late_dim" -> q208LateDim _,
    "q209_mahalanobis_diag" -> q209MahalanobisDiag _,
    "q220_bounded_sssp" -> q220BoundedSssp _,
    "q221_ushape_attribution" -> q221UShapeAttribution _,
    "q222_cusum" -> q222Cusum _,
    "q227_mad_outliers" -> q227MadOutliers _,
    "q228_item_item" -> q228ItemItem _,
    "q229_pattern_3step" -> q229Pattern3Step _,
    "q204_backfill_plan" -> q204BackfillPlan _,
    "q205_asof_forward" -> q205AsofForward _,
    "q206_top_journeys" -> q206TopJourneys _,
    "q197_equidepth_hist" -> q197EquidepthHist _,
    "q199_seasonal_anomaly" -> q199SeasonalAnomaly _,
    "q175_multi_touch" -> q175MultiTouch _,
    "q173_star_components" -> q173StarComponents _,
    "q39_table_profile" -> q39TableProfile _,
    "q59_cube_delays" -> q59CubeDelays _,
    "q60_hash_sample" -> q60HashSample _,
    "q155_mixture_rebalance" -> q155MixtureRebalance _,
    "q61_stream_static_join" -> q61StreamStaticJoin _,
    "q65_skew_salted_join" -> q65SkewSaltedJoin _,
    "q66_percentile_disc" -> q66PercentileDisc _,
    "q70_approx_percentile" -> q70ApproxPercentile _,
    "q84_zorder_layout" -> q84ZorderLayout _,
    "q88_pivot_delays" -> q88PivotDelays _,
    "q89_set_ops" -> q89SetOps _,
    "q90_unpivot" -> q90Unpivot _,
    "q95_zscore_outliers" -> q95ZscoreOutliers _,
    "q96_rank_functions" -> q96RankFunctions _,
    "q97_triangle_count" -> q97TriangleCount _,
    "q160_bfs_hops" -> q160BfsHops _,
    "q98_grouping_sets" -> q98GroupingSets _,
    "q99_exact_corr" -> q99ExactCorr _,
    "q108_full_outer_recon" -> q108FullOuterRecon _,
    "q109_histogram" -> q109Histogram _,
    "q110_transitions" -> q110Transitions _,
    "q111_mad_outliers" -> q111MadOutliers _,
    "q114_running_distinct" -> q114RunningDistinct _,
    "q115_chi_square" -> q115ChiSquare _,
    "q116_schema_evolution" -> q116SchemaEvolution _,
    "q117_winsorized_mean" -> q117WinsorizedMean _,
    "q118_skew_profile" -> q118SkewProfile _,
    "q164_balanced_shards" -> q164BalancedShards _,
    "q165_association_rules" -> q165AssociationRules _,
    "q171_gap_fill" -> q171GapFill _,
    "q172_observe_metrics" -> q172ObserveMetrics _,
    "q249_pareto_frontier" -> q249ParetoFrontier _,
    "q250_weighted_median" -> q250WeightedMedian _,
    "q251_new_vs_returning" -> q251NewVsReturning _,
    "q252_interval_coverage" -> q252IntervalCoverage _,
    "q253_abc_class" -> q253AbcClass _,
    "q254_listagg" -> q254ListAgg _,
    "q255_cohort_retention" -> q255CohortRetention _,
    "q258_rank_movers" -> q258RankMovers _,
    "q260_ewma" -> q260Ewma _,
    "q261_gini" -> q261Gini _,
    "q262_kcore" -> q262KCore _,
    "q264_interpolate" -> q264Interpolate _,
    "q265_debounce" -> q265Debounce _,
    "q272_sliding_wau" -> q272SlidingWau _,
    "q282_coverage_gaps" -> q282CoverageGaps _,
    "q283_session_anatomy" -> q283SessionAnatomy _,
    "q284_annotation_pairs" -> q284AnnotationPairs _,
    "q273_snapshot_audit" -> q273SnapshotAudit _,
    "q274_tpch13" -> q274Tpch13 _,
  )

  val oracles: Map[String, String] = Map(
    "q305_temperature_mix" -> q305Sql,
    "q306_ks_drift" -> q306Sql,
    "q307_mann_whitney" -> q307Sql,
    "q302_pps_sample" -> q302Sql,
    "q303_budget_select" -> q303Sql,
    "q304_weighted_reservoir" -> q304Sql,
    "q207_quarantine_split" -> q207Sql,
    "q208_late_dim" -> q208Sql,
    "q209_mahalanobis_diag" -> q209Sql,
    "q220_bounded_sssp" -> q220Sql,
    "q221_ushape_attribution" -> q221Sql,
    "q222_cusum" -> q222Sql,
    "q227_mad_outliers" -> q227Sql,
    "q228_item_item" -> q228Sql,
    "q229_pattern_3step" -> q229Sql,
    "q204_backfill_plan" -> q204Sql,
    "q205_asof_forward" -> q205Sql,
    "q206_top_journeys" -> q206Sql,
    "q197_equidepth_hist" -> q197Sql,
    "q199_seasonal_anomaly" -> q199Sql,
    "q39_table_profile" -> q39Sql,
    "q59_cube_delays" -> q59Sql,
    "q60_hash_sample" -> q60Sql,
    "q155_mixture_rebalance" -> q155Sql,
    "q61_stream_static_join" -> q61Sql,
    "q65_skew_salted_join" -> q65Sql,
    "q66_percentile_disc" -> q66Sql,
    "q70_approx_percentile" -> q70Sql,
    "q84_zorder_layout" -> q84Sql,
    "q88_pivot_delays" -> q88Sql,
    "q89_set_ops" -> q89Sql,
    "q90_unpivot" -> q90Sql,
    "q95_zscore_outliers" -> q95Sql,
    "q96_rank_functions" -> q96Sql,
    "q97_triangle_count" -> q97Sql,
    "q160_bfs_hops" -> q160Sql,
    "q98_grouping_sets" -> q98Sql,
    "q99_exact_corr" -> q99Sql,
    "q108_full_outer_recon" -> q108Sql,
    "q109_histogram" -> q109Sql,
    "q110_transitions" -> q110Sql,
    "q111_mad_outliers" -> q111Sql,
    "q114_running_distinct" -> q114Sql,
    "q115_chi_square" -> q115Sql,
    "q116_schema_evolution" -> q116Sql,
    "q117_winsorized_mean" -> q117Sql,
    "q118_skew_profile" -> q118Sql,
    "q164_balanced_shards" -> q164Sql,
    "q165_association_rules" -> q165Sql,
    "q171_gap_fill" -> q171Sql,
    "q249_pareto_frontier" -> q249Sql,
    "q250_weighted_median" -> q250Sql,
    "q251_new_vs_returning" -> q251Sql,
    "q252_interval_coverage" -> q252Sql,
    "q253_abc_class" -> q253Sql,
    "q254_listagg" -> q254Sql,
    "q255_cohort_retention" -> q255Sql,
    "q258_rank_movers" -> q258Sql,
    "q260_ewma" -> q260Sql,
    "q261_gini" -> q261Sql,
    "q262_kcore" -> q262Sql,
    "q264_interpolate" -> q264Sql,
    "q265_debounce" -> q265Sql,
    "q272_sliding_wau" -> q272Sql,
    "q282_coverage_gaps" -> q282Sql,
    "q286_percent_of_parent" -> q286Sql,
    "q290_disorder_audit" -> q290Sql,
    "q291_substitutes" -> q291Sql,
    "q294_fulfillment_lag" -> q294Sql,
    "q295_abc_velocity" -> q295Sql,
    "q283_session_anatomy" -> q283Sql,
    "q284_annotation_pairs" -> q284Sql,
    "q273_snapshot_audit" -> q273Sql,
    "q274_tpch13" -> q274Sql,
    "q172_observe_metrics" -> q172Sql,
    "q173_star_components" -> q173Sql,
    "q175_multi_touch" -> q175Sql,
  )
}
