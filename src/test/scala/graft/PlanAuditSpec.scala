package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}

/** Physical-plan audits: the properties that matter at 100 TB, asserted
  * so a refactor can't silently regress them. These run the real planner
  * (AQE final plans where materialized) over the sf0.001 data.
  */
class PlanAuditSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan
  }

  /** Full traversal including AQE wrappers: AdaptiveSparkPlanExec holds
    * its tree in `executedPlan`, QueryStageExec in `plan` — neither
    * exposes it via `children`. */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: collectAll(a.executedPlan)
    case q: QueryStageExec => p +: collectAll(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(collectAll)
  }

  test("q02 predicates reach the parquet scan (PushedFilters)") {
    val plan = executed(graft.queries.CoreQueries
      .q02FilterPredicates(spark, dir))
    val scans = collectAll(plan).filter(_.nodeName.contains("Scan"))
    assert(scans.nonEmpty)
    val s = scans.map(_.toString).mkString
    assert(s.contains("PushedFilters: [") &&
      s.contains("IsNotNull(c_acctbal)") &&
      s.contains("GreaterThan(c_acctbal,0.0)"), s.take(500))
  }

  test("q01 projection prunes the parquet read schema") {
    val plan = executed(graft.queries.CoreQueries
      .q01ScanProject(spark, dir))
    val scan = collectAll(plan).filter(_.nodeName.contains("Scan"))
      .map(_.toString).mkString
    // lineitem has 16 columns; the scan must read only the 4 used
    assert(scan.contains("ReadSchema"), scan.take(300))
    assert(!scan.contains("l_shipdate") && !scan.contains("l_comment"),
      "scan reads columns the query never uses")
  }

  test("q09 star join: every dimension joins as broadcast-hash") {
    val plan = executed(graft.queries.CoreQueries.q09StarJoin(spark, dir))
    val all = collectAll(plan)
    val bhj = all.count(_.isInstanceOf[BroadcastHashJoinExec])
    val smj = all.count(_.isInstanceOf[SortMergeJoinExec])
    // 5 dims broadcast; the lineitem⋈orders join may be SMJ or (via AQE)
    // broadcast — but no more than one non-broadcast join may remain
    assert(bhj >= 5, s"expected >=5 broadcast joins, got $bhj")
    assert(smj <= 1, s"expected <=1 sort-merge join, got $smj")
  }

  test("q44 fact table: no shuffle before the dimension joins") {
    val plan = executed(graft.queries.StarSchema.q44DelayFact(spark, dir))
    val all = collectAll(plan)
    val bhj = all.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj == 5, s"expected 5 broadcast-hash joins, got $bhj")
    // the only shuffles allowed: dim-side aggregations (weather/time
    // build) and the final global sort — none on the joined fact stream
    val smj = all.count(_.isInstanceOf[SortMergeJoinExec])
    assert(smj == 0, s"fact joins must not sort-merge, got $smj")
  }

  test("LSH bucketing is map-side: no shuffle, explode or aggregation " +
      "between the corpus scan and the bucket join") {
    val emb = graft.io.Sources.table(spark, dir, "embeddings")
    val plan = executed(graft.operators.Similarity
      .cosineNearDupPairs(emb, numPlanes = 6, threshold = 0.9))
    val all = collectAll(plan)
    // the old formulation posexploded each vector into 64 (dim, value)
    // rows and ran two grouped aggregations before the join — assert the
    // rewrite keeps bucket assignment entirely in-row
    assert(!all.exists(_.nodeName.contains("Generate")),
      "bucket assignment must not explode vectors")
    assert(!all.exists(_.nodeName.contains("Aggregate")),
      "bucket assignment must not aggregate")
    // the only shuffles allowed are the bucket join's own two sides (and
    // AQE may even broadcast one away)
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2, s"expected <=2 shuffles (join sides), got $shuffles")
  }

  test("IVF centroid assignment reduces map-side: WindowGroupLimit " +
      "precedes the exchange, so the shuffle carries top-k per vector, " +
      "not the k× candidate fan-out") {
    val emb = graft.io.Sources.table(spark, dir, "embeddings")
    val plan = executed(graft.operators.Similarity
      .ivfTopK(emb.limit(5), emb, numCentroids = 4, nProbe = 2, k = 3))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"rank-filter pushdown missing: $nodes")
  }

  test("q74 quota sampling reduces map-side: row_number <= K compiles " +
      "to WindowGroupLimit before the exchange, so the shuffle carries " +
      "O(sources × K) rows, not the corpus") {
    val plan = executed(graft.queries.PipelineQueries
      .q74QuotaSample(spark, dir))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"rank-filter pushdown missing: $nodes")
  }

  test("q73 decontamination broadcasts the benchmark gram set: the " +
      "corpus gram stream joins as the streamed side of a broadcast " +
      "hash join — no shuffle of the training side's grams") {
    val plan = executed(graft.queries.PipelineQueries
      .q73Decontaminate(spark, dir))
    val all = collectAll(plan)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected BroadcastHashJoin: ${all.map(_.nodeName)}")
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]),
      "benchmark join degraded to SortMergeJoin")
  }

  test("publish re-run prunes the sink scan to the incoming batch's " +
      "partitions (PartitionFilters on the anti-join's sink side)") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_prune").toString
    val path = s"$root/sink"
    val day1 = Seq((20240101L, "a", 1.0), (20240102L, "b", 2.0))
      .toDF("time_id", "k", "v")
    graft.operators.Upsert.upsertParquet(spark, day1, Seq("time_id", "k"),
      Seq("v"), path, partitionCol = Some("time_id"), preDeduped = true)
    // an incremental batch touching ONE of the two sink partitions
    val batch = Seq((20240102L, "c", 3.0)).toDF("time_id", "k", "v")
    val sk = graft.operators.Upsert.sinkKeys(spark, batch,
      Seq("time_id", "k"), path, Some("time_id"))
    val s = collectAll(executed(sk)).filter(_.nodeName.contains("Scan"))
      .map(_.toString).mkString
    assert(s.contains("PartitionFilters"), s.take(500))
    assert(s.contains("20240102"), "batch partition not in filter: " +
      s.take(500))
    assert(!s.contains("20240101"),
      "scan not pruned to the batch's partitions: " + s.take(500))
  }

  test("publish builder frames plan no global sort and dedup without " +
      "sort-based aggregation (the q56 round-3 contract)") {
    graft.operators.Publish.builders(spark, dir).foreach { case (m, build) =>
      val conformed = graft.model.StarModel.conform(build(), m.schema)
      val ord = m.schema.fieldNames.filterNot(m.keys.contains).toSeq
      val deduped = graft.operators.Upsert.dedupKeepFirstAgg(conformed,
        m.keys, if (ord.nonEmpty) ord else m.keys)
      val all = collectAll(executed(deduped))
      // no GLOBAL sort anywhere: builder frames dropped the oracle
      // ORDER BY, and the keyed dedup is an aggregation, not a window
      // (its min(struct) plans as a partial+final SortAggregate pair —
      // struct buffers aren't hash-aggregable — which is still a
      // per-partition sort by grouping key, not a range-partitioned
      // global sort, and measured 3.5x faster than the window form)
      val globalSorts = all.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty,
        s"${m.name}: publish path plans a global sort: $globalSorts")
      assert(!all.exists(_.nodeName.contains("Window")),
        s"${m.name}: keyed dedup must aggregate, not window-sort")
    }
  }

  test("q03 aggregation is partial (map-side) before the exchange") {
    val plan = executed(graft.queries.CoreQueries.q03AggPricing(spark, dir))
    val all = collectAll(plan)
    val aggs = all.filter(_.nodeName.contains("HashAggregate"))
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    // partial + final pairs around each exchange
    assert(aggs.size >= 2, s"expected partial+final aggregates: $aggs")
    assert(shuffles >= 1)
    val planStr = plan.toString
    assert(planStr.contains("partial_sum") ||
      aggs.exists(_.toString.contains("partial")), "no partial aggregation")
  }

  test("q75 PII redaction is one expression pass: regex count + rewrite " +
      "in-row, no aggregation, no shuffle besides the output sort") {
    val plan = executed(graft.queries.PipelineQueries
      .q75PiiRedact(spark, dir))
    val all = collectAll(plan)
    assert(!all.exists(_.nodeName.contains("Aggregate")),
      "per-doc PII counts must not aggregate")
    assert(!all.exists(_.nodeName.contains("Generate")),
      "regex match lists must stay in-row, not explode")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected only the output sort, got $shuffles")
  }

  test("q76 BM25: corpus stats broadcast to the scoring pass and the " +
      "top-k is a TakeOrderedAndProject merge, never a global sort") {
    val plan = executed(graft.queries.PipelineQueries.q76Bm25(spark, dir))
    val all = collectAll(plan)
    assert(all.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      s"1-row stats must broadcast: ${all.map(_.nodeName)}")
    assert(all.exists(_.nodeName.contains("TakeOrderedAndProject")),
      s"top-k must be a per-task heap + driver merge: " +
        s"${all.map(_.nodeName)}")
    val globalSorts = all.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, "BM25 top-k planned a global sort")
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]),
      "stats join degraded to SortMergeJoin")
  }

  test("q77 int8 quantization is one expression pass: per-vector " +
      "min/max/codes/error all in-row, no shuffle besides the output " +
      "sort") {
    val plan = executed(graft.queries.PipelineQueries
      .q77QuantizeInt8(spark, dir))
    val all = collectAll(plan)
    assert(!all.exists(_.nodeName.contains("Aggregate")),
      "per-vector quantization must not aggregate")
    assert(!all.exists(_.nodeName.contains("Generate")),
      "code arrays must stay in-row, not explode")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected only the output sort, got $shuffles")
  }

  test("q78 sentence dedup: keep-first compiles to WindowGroupLimit, so " +
      "each map task forwards one candidate per chunk-hash before the " +
      "exchange") {
    val plan = executed(graft.queries.PipelineQueries
      .q78SentenceDedup(spark, dir))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"rank-filter pushdown missing: $nodes")
  }

  test("q79 SCD2 history: both window passes share one exchange + sort " +
      "on the entity key (lag change-detect and lead interval-close " +
      "never re-shuffle)") {
    val plan = executed(graft.queries.PipelineQueries
      .q79Scd2History(spark, dir))
    val all = collectAll(plan)
    assert(all.count(_.nodeName.contains("Window")) >= 2,
      s"expected two window passes: ${all.map(_.nodeName)}")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    // one hash exchange for the windows + the output sort's range
    // exchange — a third would mean the lead pass re-partitioned
    assert(shuffles <= 2,
      s"windows must share one exchange, got $shuffles shuffles")
  }

  test("q80 funnel: anchor window, per-user aggregation and rollup ride " +
      "one entity-key exchange (plus the single-partition rollup)") {
    val plan = executed(graft.queries.PipelineQueries.q80Funnel(spark, dir))
    val all = collectAll(plan)
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    // hash by user_id (window + groupBy reuse it) + the 1-row rollup
    assert(shuffles <= 2,
      s"funnel must not re-shuffle the event log, got $shuffles shuffles")
  }

  test("q81 sequence packing: the per-shard prefix scan and the per-bin " +
      "rollup ride one shard-key exchange (hash(source) satisfies the " +
      "(source, bin) grouping) plus the output sort") {
    val plan = executed(graft.queries.PipelineQueries
      .q81PackSequences(spark, dir))
    val all = collectAll(plan)
    assert(all.exists(_.nodeName.contains("Window")),
      s"expected the cumsum window: ${all.map(_.nodeName)}")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 2,
      s"packing must not re-shuffle between scan and rollup, got $shuffles")
  }

  test("q91 interval join decomposes to an equi-join on the time bucket: " +
      "no cartesian product, no nested-loop join anywhere in the plan") {
    val plan = executed(graft.queries.PipelineQueries
      .q91IntervalJoin(spark, dir))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(!nodes.exists(_.contains("CartesianProduct")),
      s"range join degraded to a cartesian product: $nodes")
    assert(!nodes.exists(_.contains("BroadcastNestedLoopJoin")),
      s"range join degraded to a nested-loop join: $nodes")
  }

  test("q69 repetition signals are one expression pass: no aggregation, " +
      "no explode, no shuffle besides the output sort") {
    val plan = executed(graft.queries.PipelineQueries
      .q69Repetition(spark, dir))
    val all = collectAll(plan)
    assert(!all.exists(_.nodeName.contains("Aggregate")),
      "per-doc n-gram stats must not aggregate")
    assert(!all.exists(_.nodeName.contains("Generate")),
      "n-gram arrays must stay in-row, not explode")
    assert(!all.exists(_.nodeName.contains("Window")))
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 1, s"expected only the output sort, got $shuffles")
  }

  test("q93 fuzzy match: no cartesian product anywhere — candidates " +
      "come from the prefix-token equi-join, and the df table joins " +
      "as broadcast") {
    val df = graft.queries.PipelineQueries.q93FuzzyMatch(spark, dir)
    // the broadcast(dfreq) HINTS must be in the plan — any
    // BroadcastHashJoin appearing at test scale would green-light a
    // hint regression, since AQE broadcasts everything this small
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size >= 2,
      s"both prefix passes must hint the df-table broadcast: $hints")
    val nodes = collectAll(executed(df)).map(_.nodeName)
    assert(!nodes.exists(_.contains("CartesianProduct")),
      s"fuzzy match degraded to all-pairs: $nodes")
  }

  test("q95 z-score: group stats broadcast back onto the rows and the " +
      "top-5 rank filter compiles to WindowGroupLimit") {
    val plan = executed(graft.queries.AnalyticsQueries
      .q95ZscoreOutliers(spark, dir))
    val all = collectAll(plan)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"stats join should broadcast: ${all.map(_.nodeName)}")
    assert(all.map(_.nodeName).count(_.contains("WindowGroupLimit")) >= 2,
      s"rank-filter pushdown missing: ${all.map(_.nodeName)}")
  }

  test("q96 rank functions: percent_rank, cume_dist, ntile and " +
      "row_number all ride ONE user_id exchange") {
    val plan = executed(graft.queries.AnalyticsQueries
      .q96RankFunctions(spark, dir))
    val all = collectAll(plan)
    val windows = all.count(_.nodeName.contains("Window"))
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(windows >= 1, s"window nodes: ${all.map(_.nodeName)}")
    // one exchange for the window partition, one for the output sort
    assert(shuffles <= 2,
      s"rank family re-shuffled: $shuffles exchanges")
  }

  test("q129 inverted index aggregates postings through the CAPPED " +
      "collect (bounded buffers), never a plain collect_set") {
    val plan = executed(graft.queries.ScaleQueries
      .q129InvertedIndex(spark, dir))
    val s = collectAll(plan).map(_.toString).mkString
    assert(s.contains("collect_set_sorted_capped"),
      "capped aggregate missing from the postings build")
    assert(!s.contains("collect_set("),
      "unbounded collect_set found in the postings build")
  }

  test("q131 TF-IDF top-k reduces map-side: rank <= 5 compiles to " +
      "WindowGroupLimit before the final exchange") {
    val plan = executed(graft.queries.ScaleQueries
      .q131TfidfTerms(spark, dir))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(nodes.count(_.contains("WindowGroupLimit")) >= 2,
      s"rank-filter pushdown missing: $nodes")
  }

  test("q132 weighted median reduces the fact table to |group x value| " +
      "rows with a partial aggregate BEFORE any window walks it") {
    val plan = executed(graft.queries.ScaleQueries
      .q132WeightedMedian(spark, dir))
    val all = collectAll(plan)
    val aggs = all.filter(_.nodeName.contains("HashAggregate"))
    assert(aggs.exists(_.toString.contains("partial_sum")),
      "no map-side partial aggregation before the exchange")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    // one for the (flag, q) aggregate, one for the flag window
    // partition, one for the output sort
    assert(shuffles <= 3, s"weighted median over-shuffled: $shuffles")
  }

  test("q125 OLS moments aggregate partially map-side and the plan " +
      "carries six decimal sums, not per-row state") {
    val plan = executed(graft.queries.ScaleQueries
      .q125OlsRegression(spark, dir))
    val s = collectAll(plan).filter(_.nodeName.contains("HashAggregate"))
      .map(_.toString).mkString
    assert(s.contains("partial_"),
      "moment sums must combine map-side before the exchange")
  }

  test("q126 corpus drift joins only broadcast one-row totals: no " +
      "sort-merge join anywhere") {
    val plan = executed(graft.queries.ScaleQueries
      .q126CorpusDrift(spark, dir))
    val all = collectAll(plan)
    assert(!all.exists(_.isInstanceOf[SortMergeJoinExec]),
      "drift report should never sort-merge: totals are one broadcast row")
  }

  test("whole-stage codegen covers the scalar pipeline (q15 buckets)") {
    val plan = executed(graft.queries.CoreQueries.q15Buckets(spark, dir))
    val s = collectAll(plan).map(_.nodeName).mkString(",")
    assert(s.contains("WholeStageCodegen"), s)
  }

  test("incremental SemDeDup probes ONLY the persisted index: the " +
      "batch-dedup plan scans the index parquet, never the base corpus") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("plan_semidx").toString
    try {
      val base = (1L to 200L).map(i =>
        (i, Array.tabulate(8)(j => ((i * 7 + j) % 13).toFloat / 13f)))
        .toDF("vec_id", "embedding")
      base.write.parquet(s"$root/base")
      val basePq = spark.read.parquet(s"$root/base")
      val cents = graft.operators.Similarity.firstNCentroids(basePq, 4)
      cents.write.parquet(s"$root/centroids")
      graft.operators.Similarity.semanticCells(basePq, cents)
        .write.parquet(s"$root/cells")
      val batch = (1001L to 1020L).map(i =>
        (i, Array.tabulate(8)(j => ((i * 5 + j) % 13).toFloat / 13f)))
        .toDF("vec_id", "embedding")
      val inc = graft.operators.Similarity.semanticDedupIncremental(
        batch,
        spark.read.parquet(s"$root/centroids"),
        spark.read.parquet(s"$root/cells"), 0.95)
      val scans = collectAll(executed(inc)).map(_.toString)
        .filter(_.contains("FileScan"))
      assert(scans.nonEmpty)
      assert(!scans.exists(_.contains("/base")),
        "the incremental path must never rescan the base corpus — " +
          "its cost contract is probe ∝ batch")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  test("q164 global ranking plans no single-partition exchange: the " +
      "window runs per range, not over the whole corpus on one task") {
    val plan = executed(graft.queries.AnalyticsQueries
      .q164BalancedShards(spark, dir))
    val singles = collectAll(plan)
      .filter(_.isInstanceOf[ShuffleExchangeExec])
      .map(_.toString)
      .filter(_.contains("SinglePartition"))
    assert(singles.isEmpty,
      s"found SinglePartition exchange:\n${singles.mkString("\n")}")
  }

  test("q200 sparse cosine: the df filter reaches the index join as a " +
      "broadcast, and pair counting has map-side partial aggregation") {
    val plan = executed(graft.queries.LearnedQueries
      .q200SparseCosine(spark, dir))
    val all = collectAll(plan)
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the kept-terms filter must join as a broadcast, not a shuffle")
    val partials = all.map(_.toString).count(t =>
      t.startsWith("HashAggregate") && t.contains("partial_sum"))
    assert(partials >= 1,
      "per-pair dot products must combine map-side before the exchange")
  }

  test("q197 equi-depth histogram plans no single-partition exchange") {
    val plan = executed(graft.queries.AnalyticsQueries
      .q197EquidepthHist(spark, dir))
    val single = collectAll(plan).exists { p =>
      p.isInstanceOf[ShuffleExchangeExec] &&
        p.asInstanceOf[ShuffleExchangeExec]
          .outputPartitioning.numPartitions == 1
    }
    assert(!single,
      "the global rank must come from ranges, not one collapsed window")
  }

  test("q178 NB top-5 per class compiles to WindowGroupLimit") {
    val plan = executed(graft.queries.LearnedQueries
      .q178NaiveBayes(spark, dir))
    val nodes = collectAll(plan).map(_.nodeName)
    assert(nodes.exists(_.contains("WindowGroupLimit")),
      "rank<=5 must prune per-class rows before the full window sort")
  }

  test("MV rewrite substitutes the materialization for the registered " +
      "rollup — and ONLY for it: a near-miss query and a schema-drifted " +
      "MV both keep the base scan") {
    import graft.plans.MvRewrite
    import org.apache.spark.sql.functions._
    def rollup(): DataFrame = graft.io.Sources.table(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_mvspec_")
      .toString
    try {
      rollup().write.mode("overwrite").parquet(s"$root/mv")
      val mv = spark.read.parquet(s"$root/mv")
      val baseline = rollup().orderBy("hour").collect()
      MvRewrite.withRewrite(spark, rollup(), mv) {
        // 1. the registered query is served from the MV …
        val hit = rollup().orderBy("hour")
        assert(MvRewrite.scansPath(hit.queryExecution.optimizedPlan,
          root), "the rewrite must substitute the MV scan")
        assert(!MvRewrite.scansPath(hit.queryExecution.optimizedPlan,
          "events.parquet"), "the fact scan must be gone after rewrite")
        // … with rows identical to the base computation
        assert(hit.collect().toSeq == baseline.toSeq)
        // 2a. a consumer ON TOP of the view (a filter over its output)
        // still hits: the rewrite matches the view SUBTREE
        val onTop = rollup().filter(col("n_events") > 0)
        assert(MvRewrite.scansPath(onTop.queryExecution.optimizedPlan,
          root), "a query consuming the view must be served from it")
        // 2b. a near-miss whose difference is BELOW the aggregate (a
        // pre-filter changes what the rollup computes) is NOT
        // rewritten — plan-equality matching cannot mis-fire
        val miss = graft.io.Sources.table(spark, dir, "events")
          .filter(col("event_type") === "click")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
        assert(!MvRewrite.scansPath(miss.queryExecution.optimizedPlan,
          root), "a semantically different rollup must keep its base scan")
      }
      // 3. an MV whose schema drifted from the definition is refused
      // even though the plans sameResult — the compat check holds
      val drifted = mv.withColumnRenamed("cents", "cents_v2")
      MvRewrite.withRewrite(spark, rollup(), drifted) {
        val q = rollup().orderBy("hour")
        assert(!MvRewrite.scansPath(q.queryExecution.optimizedPlan,
          root), "a name/type-mismatched MV must not be substituted")
      }
      // 4. scope hygiene: outside withRewrite the session plans the
      // base scan again
      assert(!MvRewrite.scansPath(
        rollup().queryExecution.optimizedPlan, root))
    } finally graft.io.Sources.deleteRecursively(root)
  }

  test("bucketed point lookup prunes to ONE bucket " +
      "(SelectedBucketsCount) — the q128 bucket layout also serves " +
      "key-point reads without touching the other buckets") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("plan_bucket").toString
    val tab = "plan_bucket_probe"
    // autoBucketedScan drops the bucketed read when no EXCHANGE is
    // saved — but a point lookup's win is bucket PRUNING, so pin the
    // bucketed scan on for the audit (a real point-read path sets the
    // same conf)
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        .write.bucketBy(8, "k").sortBy("k")
        .option("path", s"$root/t").saveAsTable(tab)
      val plan = executed(
        spark.table(tab).filter(col("k") === 42L).select(sum("v")))
      val s = collectAll(plan).filter(_.nodeName.contains("Scan"))
        .map(_.toString).mkString
      assert(s.contains("SelectedBucketsCount: 1 out of 8"),
        "point filter must scan exactly one bucket:\n" + s.take(600))
    } finally {
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      spark.sql(s"DROP TABLE IF EXISTS $tab")
      graft.io.Sources.deleteRecursively(root)
    }
  }

  test("dynamic partition pruning: a filtered broadcast dimension " +
      "prunes the partitioned fact scan at RUNTIME (the multi-TB " +
      "analogue of q68's static partition pruning)") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("plan_dpp").toString
    try {
      spark.range(10000)
        .selectExpr("id % 10 AS day", "id AS v")
        .write.partitionBy("day").parquet(s"$root/fact")
      spark.range(10).selectExpr("id AS day",
          "CASE WHEN id < 2 THEN 'keep' ELSE 'drop' END AS attr")
        .write.parquet(s"$root/dim")
      val fact = spark.read.parquet(s"$root/fact")
      val dim = spark.read.parquet(s"$root/dim")
        .filter(col("attr") === "keep")
      val plan = executed(fact.join(dim, "day").agg(sum("v")))
      val s = collectAll(plan).filter(_.nodeName.contains("Scan"))
        .map(_.toString).mkString
      assert(s.contains("dynamicpruning"),
        "fact scan must carry a dynamic-pruning partition filter:\n" +
          s.take(600))
    } finally graft.io.Sources.deleteRecursively(root)
  }

  test("q183 phrase search: the term filter sits under the exchange " +
      "(only the two phrase terms' postings ever shuffle)") {
    val plan = executed(graft.queries.LearnedQueries
      .q183PhraseSearch(spark, dir))
    val all = collectAll(plan)
    val exchanges = all.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // any exchange whose input explodes the corpus (Generate) must
    // already carry the phrase-term equality filter below it —
    // otherwise the full posting stream crosses the wire
    exchanges.foreach { e =>
      val sub = collectAll(e.child)
      if (sub.exists(_.nodeName.contains("Generate"))) {
        val txt = sub.map(_.toString).mkString
        assert(txt.contains("= table") || txt.contains("= part"),
          "an exploded-postings exchange is missing the term filter " +
            "below it:\\n" + txt.take(800))
      }
    }
  }

  test("q309 TPC-H Q6: envelope predicates reach the scan even though " +
    "the exact round/cast bands cannot") {
    val plan = executed(graft.queries.CoreQueries.q309Tpch6(spark, dir))
    val scans = collectAll(plan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // metadata, not toString — the display form truncates at
    // spark.sql.maxMetadataStringLength and would hide later filters
    val s = scans.map(_.metadata("PushedFilters")).mkString
    // date range + both double envelopes push; scan reads only the 4
    // needed columns of lineitem's 11
    assert(s.contains("GreaterThanOrEqual(l_discount,0.0449)") &&
      s.contains("LessThanOrEqual(l_discount,0.0751)") &&
      s.contains("LessThan(l_quantity,24.0)") &&
      s.contains("GreaterThanOrEqual(l_shipdate,"), s.take(800))
    val read = scans.map(_.metadata("ReadSchema")).mkString
    assert(!read.contains("l_orderkey"),
      "scan should prune to shipdate/quantity/discount/extendedprice:\n" +
        read.take(800))
  }

  test("mapped read fans out per schema EPOCH, never per file: a " +
    "renamed 6-file sink plans exactly 2 parquet scans (pre/post " +
    "epochs); normalize collapses it back to 1") {
    import spark.implicits._
    import graft.operators.{CommitLog, SchemaEvolve}
    val root = java.nio.file.Files.createTempDirectory("pa_ep").toString
    val sink = s"$root/t"
    (1L to 4L).foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.ensureLoggedAt(fs, new org.apache.hadoop.fs.Path(sink))
    SchemaEvolve.renameColumn(spark, sink, "v", "score")
    // two post-rename appends (logical schema, no records)
    (5L to 6L).foreach { k =>
      val tmp = new org.apache.hadoop.fs.Path(sink + "__st" + k)
      Seq((k, k * 10)).toDF("k", "score").coalesce(1)
        .write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part,
        new org.apache.hadoop.fs.Path(sink, part.getName)))
      fs.delete(tmp, true)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val (g, live) = CommitLog.ensureLoggedAt(fs, hp)
      CommitLog.commitAppend(fs, hp, g, live, Seq(part.getName))
    }
    def parquetScans(df: DataFrame): Int =
      collectAll(executed(df)).count {
        case _: org.apache.spark.sql.execution.FileSourceScanExec =>
          true
        case p => p.nodeName == "BatchScan"
      }
    val df = CommitLog.read(spark, sink)
    assert(df.count() == 6L)
    assert(parquetScans(df) == 2,
      "4 mapped + 2 unmapped files must plan as exactly TWO scans " +
        "(one per epoch), not one per file")
    SchemaEvolve.normalize(spark, sink)
    assert(parquetScans(CommitLog.read(spark, sink)) == 1,
      "a normalized sink must plan as ONE scan again")
  }

  test("change feed plans scans over CHANGED files only: an append+" +
    "delete window on a 6-file sink never reads the 4 unchanged " +
    "files") {
    import spark.implicits._
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory("pa_cf").toString
    val sink = s"$root/t"
    (1L to 6L).foreach { k =>
      Seq((k, k * 10)).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(sink)
    }
    val hp = new org.apache.hadoop.fs.Path(sink)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (g0, _) = CommitLog.ensureLoggedAt(fs, hp)
    // window: one appended file + marks on ONE existing file
    val tmp = new org.apache.hadoop.fs.Path(sink + "__st")
    Seq((9L, 90L)).toDF("k", "v").coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(sink,
      part.getName)))
    fs.delete(tmp, true)
    val (g1, live1) = CommitLog.ensureLoggedAt(fs, hp)
    CommitLog.commitAppend(fs, hp, g1, live1, Seq(part.getName))
    DeleteVectors.deleteWhere(spark, sink,
      org.apache.spark.sql.functions.col("k") === 3L)
    val gEnd = CommitLog.committed(fs, hp).get._1
    val feed = CommitLog.changesBetween(spark, sink, g0, gEnd)
    assert(feed.count() == 2L) // one insert, one delete
    val dataFiles = collectAll(executed(feed)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten.filterNot(_.contains("_graft_dv")).distinct
    assert(dataFiles.size == 2,
      s"the feed must scan exactly the appended file and the marked " +
        s"file, got ${dataFiles.size}: $dataFiles")
  }

  test("format(\"graft\") V2 scan: pushed filters drive a pinned " +
    "manifest-only pruning decision, visible in the physical plan; " +
    "projection narrows the relation output") {
    import graft.operators.{CommitLog, TableStats}
    import org.apache.spark.sql.execution.RowDataSourceScanExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pa_v2").toString
    val sink = s"$root/t"
    (0 until 5).foreach { b =>
      (0 until 10).map(i => (b * 10L + i, f"s${b * 10 + i}%03d"))
        .toDF("k", "s").coalesce(1).write.mode("append").parquet(sink)
    }
    val hp = new org.apache.hadoop.fs.Path(sink)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitLog.ensureLoggedAt(fs, hp)
    TableStats.analyze(spark, sink, Seq("k"))
    val df = spark.read.format("graft").load(sink)
      .filter(col("k") >= 15L && col("k") <= 25L)
    val plan = executed(df)
    val scans = collectAll(plan).collect {
      case r: RowDataSourceScanExec => r
    }
    assert(scans.size == 1, s"expected one V2 relation scan: $plan")
    val info = scans.head.relation match {
      case g: graft.sources.GraftScanInfo => g
      case other => fail(s"not a graft relation: $other")
    }
    // the band can only live in decades 1 and 2 — pinned
    assert(info.keptCount == 2 && info.skippedCount == 3,
      s"kept=${info.keptCount} skipped=${info.skippedCount}")
    // the decision is readable off the plan (explain surface), and
    // the pushed conjuncts reach the scan node
    val txt = plan.toString
    assert(txt.contains("kept=2, skipped=3"), txt.take(600))
    val handled = scans.head.handledFilters.map(_.toString).mkString
    assert(handled.contains("GreaterThanOrEqual(k,15)") &&
      handled.contains("LessThanOrEqual(k,25)"), handled)
    // the pushed conjuncts ALSO reach the INNER parquet scan (the
    // frame the relation executes), so row-group/page skipping works
    // inside kept files — file-level manifest pruning is not the only
    // I/O elision tier
    val innerScans = collectAll(
      info.innerFrame().queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(innerScans.size == 1, s"one inner parquet scan expected")
    val innerPushed = innerScans.head.metadata
      .getOrElse("PushedFilters", "")
    assert(innerPushed.contains("GreaterThanOrEqual(k,15)") &&
      innerPushed.contains("LessThanOrEqual(k,25)"),
      s"inner scan must carry the pushed conjuncts: $innerPushed")
    // exactness above the pruned scan
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      (15L to 25L))
    // column pruning narrows the relation's output attributes
    val df2 = spark.read.format("graft").load(sink).select("s")
    val scan2 = collectAll(executed(df2)).collect {
      case r: RowDataSourceScanExec => r
    }.head
    assert(scan2.output.map(_.name) == Seq("s"), scan2.output.toString)
  }

  test("architecture: no Scala UDF anywhere in the main tree — every " +
    "row-path expression stays inside whole-stage codegen (the one " +
    "historical offender was Compact's per-row bin lookup, replaced " +
    "by a broadcast equi-join)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.exists(root),
      s"expected to run from the project root, cwd=${
        System.getProperty("user.dir")}")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("udf(")
      }.map(_.toString).toList
    assert(hits.isEmpty,
      s"Scala UDFs box every row through the JVM-object boundary and " +
        s"break codegen spans — found udf( in: ${hits.mkString(", ")}")
  }
}
