package graft.queries

import graft.operators.{BloomJoin, FrequentItems, ManifestSkip, SnapshotDiff}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators a 100 TB deployment runs daily,
  * oracle-gated end-to-end:
  *
  *   - q120: CDC-feed generation by snapshot diff
  *     ([[graft.operators.SnapshotDiff]]) — the producer side of the
  *     q102 `applyCdc` consumer;
  *   - q121: incremental maintenance of a materialized JOIN view — the
  *     row-level complement of q104's aggregate-state maintenance:
  *     only the delta is ever joined, the base view's files are never
  *     rewritten;
  *   - q122: Bloom-filter semi-join reduction
  *     ([[graft.operators.BloomJoin]]) — the probe side shrinks at the
  *     scan, before its shuffle; exactness restored by the join;
  *   - q123: file-level data skipping from a min/max manifest
  *     ([[graft.operators.ManifestSkip]]) over a range-clustered sink
  *     — prune files before the scan is planned, filter exactly after;
  *   - q124: exact heavy hitters by two-pass Misra-Gries
  *     ([[graft.operators.FrequentItems]]) — only candidate keys ever
  *     shuffle, never the key universe.
  *
  * The snapshots/deltas are deterministic key-arithmetic splits of the
  * driver tables, mirrored verbatim in the oracles, so each query's
  * hash compare proves the MAINTENANCE path equals the one-shot
  * recompute the oracle performs. */
object MaintenanceQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Sources.table(s, dir, name)

  /** Shared seed of the CDC-replication family (q324/q325 — the
    * [[graft.operators.Publish.sharedStaging]] discipline): ONE
    * logged docs sink (parity-split files) + the staged updates batch,
    * built once per JVM; each query copies and mutates privately. */
  private[queries] def cdcDocsFixture(s: SparkSession, dir: String)
  : String =
    SharedFixtures.seeded(s, dir, "cdc_docs") { r =>
      val docs0 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Seq(0, 1).foreach { par =>
        docs0.filter(col("doc_id") % 2 === par).coalesce(1)
          .write.mode("append").parquet(s"$r/up")
      }
      val hUp = new org.apache.hadoop.fs.Path(s"$r/up")
      graft.operators.CommitLog.ensureLoggedAt(
        hUp.getFileSystem(s.sparkContext.hadoopConfiguration), hUp)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            lit(77L).as("n_chars")))
        .coalesce(1).write.parquet(s"$r/updates")
    }

  /** Shared seed of the stats-pruning / DSv2-read / meta-tables family
    * (q329/q331/q337 — the [[SharedFixtures]] discipline): the 7-file
    * year-clustered orders sink, logged and ANALYZEd on o_orderdate,
    * built once per JVM. Three queries previously each re-ran the same
    * 7 per-year append jobs + the ANALYZE pass; each now copies the
    * seeded tree and mutates (or just reads) the copy. Content is
    * identical to what each query built privately — oracles
    * unaffected. */
  private[queries] def ordersYearFixture(s: SparkSession, dir: String)
  : String =
    SharedFixtures.seeded(s, dir, "orders_year") { r =>
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      (1995 to 2001).foreach { y =>
        orders.filter(year(col("o_orderdate")) === y).coalesce(1)
          .write.mode("append").parquet(s"$r/sink")
      }
      val hPath = new org.apache.hadoop.fs.Path(s"$r/sink")
      graft.operators.CommitLog.ensureLoggedAt(
        hPath.getFileSystem(s.sparkContext.hadoopConfiguration), hPath)
      graft.operators.TableStats.analyze(s, s"$r/sink",
        Seq("o_orderdate"))
    }

  /** [[ordersYearFixture]]'s EVOLVED stage (q331/q337): the same sink
    * after the predicate delete (`o_orderkey % 10 = 3` → deletion
    * vectors on all 7 files) and the `o_orderdate → order_ts` rename —
    * exactly the mutation sequence both queries ran privately, so the
    * copied manifest chain carries the identical
    * bootstrap → analyze → delete → schema-evolve history both pin. */
  private[queries] def ordersYearEvolvedFixture(s: SparkSession,
                                                dir: String): String =
    SharedFixtures.seeded(s, dir, "orders_year_evolved") { r =>
      val base = ordersYearFixture(s, dir)
      SharedFixtures.copyInto(s, s"$base/sink", s"$r/sink")
      graft.operators.DeleteVectors.deleteWhere(s, s"$r/sink",
        col("o_orderkey") % 10 === 3)
      graft.operators.SchemaEvolve.renameColumn(s, s"$r/sink",
        "o_orderdate", "order_ts")
    }

  /** Shared seed of the CDF-streaming replica (q339): the keyed
    * orders sink with its two snapshot generations, plus the empty
    * replica — copied per invocation, streamed privately. */
  private[queries] def cdcOrdersFixture(s: SparkSession, dir: String)
  : String =
    SharedFixtures.seeded(s, dir, "cdc_orders") { r =>
      val keyed = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") * 10).as("v"))
      keyed.filter(col("k") % 10 === 0)
        .write.format("graft").mode("append").save(s"$r/up")
      keyed.filter(col("k") % 10 === 1)
        .write.format("graft").mode("append").save(s"$r/up")
      import s.implicits._
      Seq.empty[(Long, Long)].toDF("k", "v").write.parquet(s"$r/down")
    }

  // --- q120: snapshot-diff CDC feed ------------------------------------
  /** Two deterministic images of `orders` (old: every key not ≡0 mod 7;
    * new: every key not ≡0 mod 11, with keys ≡0 mod 5 repriced by
    * +10.0) diffed into an I/U/D feed. The mod arithmetic makes every
    * op class non-empty — keys ≡0 mod 7 only → I, ≡0 mod 11 only → D,
    * in both and ≡0 mod 5 → U — and the repricing (+10.0, one IEEE add)
    * is bit-identical across engines. Unchanged keys (the majority)
    * emit nothing, which is the point: the feed is |changes|-sized. */
  def q120SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
    val newSnap = orders.filter(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
    SnapshotDiff.changeFeed(oldSnap, newSnap, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("op"),
        col("old_o_totalprice").as("price_old"),
        col("new_o_totalprice").as("price_new"))
      .orderBy("o_orderkey")
  }

  val q120Sql: String =
    """WITH oldsnap AS (
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 7 <> 0),
       newsnap AS (
         SELECT o_orderkey, o_custkey,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 11 <> 0)
       SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
              CASE WHEN o.o_orderkey IS NULL THEN 'I'
                   WHEN n.o_orderkey IS NULL THEN 'D'
                   ELSE 'U' END AS op,
              o.o_totalprice AS price_old,
              n.o_totalprice AS price_new
       FROM oldsnap o FULL OUTER JOIN newsnap n
         ON o.o_orderkey = n.o_orderkey
       WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
          OR NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                  AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
       ORDER BY o_orderkey"""

  // --- q121: materialized-join-view incremental maintenance ------------
  /** A materialized `orders ⋈ customer ⋈ nation` enrichment view is
    * built from the base batch (keys not ≡0 mod 4), persisted, then
    * maintained by joining ONLY the delta (keys ≡0 mod 4) and
    * appending — base view files are never read back during
    * maintenance, so update cost tracks |Δ| × dim, not the fact
    * history. Valid for append-only deltas on the fact side of a
    * N:1 join (new orders can't change an existing order's enrichment);
    * updating dims is q72's partition-replace / q36's row MERGE
    * territory. The report aggregates the maintained view per nation;
    * the oracle recomputes from scratch — incremental must equal
    * recompute exactly (counts + exact cents, no float-sum order
    * dependence).
    *
    * Join shape: nation (25 rows, bounded by geography) is explicitly
    * broadcast; customer is left UNHINTED — dimension size is data-
    * dependent, so AQE decides (the [[graft.operators.Graphs]] guard
    * discipline). */
  def q121DeltaViewMaintain(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def enrich(batch: DataFrame): DataFrame = batch
      .join(dim, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_totalprice", "n_name")
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_dview_")
      .toString
    try {
      enrich(orders.filter(col("o_orderkey") % 4 =!= 0))
        .write.mode("overwrite").parquet(s"$root/view")
      // maintenance: Δ alone is joined; the view is append-only storage
      enrich(orders.filter(col("o_orderkey") % 4 === 0))
        .write.mode("append").parquet(s"$root/view")
      val report = s.read.parquet(s"$root/view")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy("n_name")
      // materialize before the temp view dir is deleted (q104 pattern)
      val rows = report.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q121Sql: String =
    """SELECT n_name,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name"""

  // --- q122: Bloom-prefiltered selective join --------------------------
  /** `lineitem ⋈ urgent orders` with the lineitem side pre-shrunk by a
    * Bloom filter of the urgent order keys: ~20% of orders are
    * '1-URGENT', so ~80% of lineitem rows die at the scan instead of
    * crossing the join's exchange. The exact equi-join downstream
    * discards the filter's false positives, so the result is exactly
    * the plain join — which is what the oracle computes, with no bloom
    * anywhere: the hash compare proves the reduction is lossless.
    *
    * The build side is scanned twice here (count to size the filter,
    * then the treeAggregate build) plus once by the join — the count
    * is the honest stand-in for the catalog/footer cardinality
    * estimate a warehouse would use (MaintenanceSpec pins the
    * prune-rate and equivalence). */
  def q122BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val bloom = BloomJoin.keyFilter(urgent, "o_orderkey",
      expectedKeys = urgent.count(), fpp = 0.01)
    val items = t(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
    BloomJoin.prefilter(items, "l_orderkey", bloom)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      .orderBy("l_returnflag")
  }

  val q122Sql: String =
    """SELECT l_returnflag,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT'
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- q123: manifest-pruned range scan --------------------------------
  /** `lineitem` is published range-clustered on `l_shipdate` (16 range
    * partitions → near-disjoint per-file date ranges), a min/max
    * manifest is built once, and a quarter-window query reads only the
    * files the manifest admits — the exact BETWEEN still applies to
    * the survivors. The oracle is the plain full-scan filter: the hash
    * compare proves pruning is lossless; MaintenanceSpec pins that it
    * actually PRUNES (and that a hash-scattered layout degrades to
    * read-everything without breaking). */
  def q123ManifestSkip(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_manifest_")
      .toString
    try {
      t(s, dir, "lineitem")
        .select("l_shipdate", "l_returnflag", "l_extendedprice")
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$root/sink")
      val manifest =
        ManifestSkip.buildManifest(s, s"$root/sink", "l_shipdate")
      val (rows, _, _) = ManifestSkip.prunedRead(s, s"$root/sink",
        manifest, "l_shipdate",
        lit("1996-01-01").cast("timestamp"),
        lit("1996-03-31").cast("timestamp"))
      val report = rows.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy("l_returnflag")
      // materialize before the temp sink is deleted (q104 pattern)
      val out = report.collect()
      s.createDataFrame(java.util.Arrays.asList(out: _*), report.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q123Sql: String =
    """SELECT l_returnflag,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents
       FROM lineitem
       WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1996-03-31'
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- q124: exact heavy hitters (two-pass Misra-Gries) ----------------
  /** Every token above 2% of the corpus token stream (k = 50), exact
    * counts — via [[FrequentItems.exactFrequent]], so the full
    * vocabulary never shuffles; the oracle does the plain GROUP BY +
    * HAVING the operator provably equals. */
  def q124FrequentTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    FrequentItems.exactFrequent(toks, "token", k = 50)
  }

  val q124Sql: String =
    """WITH toks AS (
         SELECT u.token
         FROM documents, unnest(string_split(text, ' ')) AS u(token))
       SELECT token, CAST(count(*) AS BIGINT) AS cnt
       FROM toks GROUP BY token
       HAVING CAST(count(*) AS BIGINT) * 50 >
              (SELECT CAST(count(*) AS BIGINT) FROM toks)
       ORDER BY cnt DESC, token"""

  // --- q162: per-file Bloom index point lookup -------------------------
  /** Needle-in-haystack point lookups against a HASH-SCATTERED sink —
    * the layout where q123's min/max manifest is provably useless
    * (every file spans the full key range; MaintenanceSpec pins that
    * degradation) — pruned instead by a per-file BLOOM index
    * ([[ManifestSkip.buildBloomIndex]], one
    * [[graft.plans.BloomFilterAgg]] pass): each probed order key lives
    * in exactly one of the 16 hash files, so the lookup reads ~|keys
    * ∪ false positives| files instead of the sink. At 100 TB this is
    * the difference between a point query costing one file and costing
    * a full scan — the secondary-index role Bloom stats play in
    * Delta/Iceberg metadata, as a freestanding operator.
    *
    * The probe set (order keys ≡0 mod 5003 — a dozen keys at sf0.01)
    * is derived by a key-projected scan and collected: request-sized
    * by construction, the same bounded-collect class as the file list.
    * The oracle is the plain full-scan IN-filter: the hash compare
    * proves bloom pruning is lossless (no false negatives); the spec
    * pins that it actually PRUNES. */
  def q162BloomIndex(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_bloomidx_")
      .toString
    try {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // hash-scatter on the NON-lookup key: the adversarial layout for
      // min/max stats, the representative one for a sink clustered for
      // some other workload
      orders.repartition(16, col("o_custkey"))
        .write.mode("overwrite").parquet(s"$root/sink")
      val nRows = orders.count()
      val index = ManifestSkip.buildBloomIndex(s, s"$root/sink",
        "o_orderkey", expectedKeysPerFile = math.max(nRows / 16, 1L))
      val probeKeys = orders.filter(col("o_orderkey") % 5003 === 0)
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      val (rows, _, _) = ManifestSkip.bloomPrunedRead(s, s"$root/sink",
        index, "o_orderkey", probeKeys)
      val report = rows
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .orderBy("o_orderkey")
      // materialize before the temp sink is deleted (q104 pattern)
      val out = report.collect()
      s.createDataFrame(java.util.Arrays.asList(out: _*), report.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q162Sql: String =
    """SELECT o_orderkey, o_custkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       FROM orders WHERE o_orderkey % 5003 = 0
       ORDER BY o_orderkey"""

  // --- q161: mergeable HLL sketch maintenance --------------------------
  /** Distinct-customer counts maintained as PERSISTED HyperLogLog
    * sketches — the mergeable-summary pattern that replaces "rescan
    * all history per report" with "merge fixed-size sketch state" at
    * 100 TB: the monthly job sketches ONLY its month
    * (`hll_sketch_agg`, Spark's DataSketches-backed aggregate; one
    * append-only sketch row per month), and every report — quarterly
    * here, yearly or corpus-total identically — derives by sketch
    * UNION (`hll_union_agg`) over that metadata-sized table, never
    * re-reading raw orders. Late data re-sketches one month; a new
    * month appends one row. COUNT(DISTINCT) does not decompose this
    * way (distinct sets don't add), which is exactly what the sketch's
    * merge semilattice buys.
    *
    * Correctness gate: HLL is approximate, so the oracle pins (a) the
    * EXACT per-quarter distinct count, recomputed here from raw orders
    * alongside the merged estimate, and (b) `est_ok` — the estimate
    * landing within ±10% of exact (lgK = 12 → ~1.6% RSE; 10% is >6σ,
    * and the sketch is deterministic for fixed input, so the flag is
    * stable, not flaky). Production keeps only the sketch path; the
    * exact pass exists to prove the estimate's error bound through
    * the cross-engine hash compare. */
  def q161HllIncremental(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select("o_orderdate", "o_custkey")
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_hll_")
      .toString
    try {
      // the monthly job: one fixed-size sketch row per month
      orders
        .groupBy((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).cast("int").as("ym"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .write.parquet(s"$root/sketches")
      // the report: merge month sketches into quarters — reads ONLY
      // the sketch table (months-count rows of ~KB binaries)
      val est = s.read.parquet(s"$root/sketches")
        .groupBy((expr("ym div 100") * 10 +
          expr("(ym % 100 - 1) div 3") + 1).cast("int").as("quarter"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = orders
        .groupBy((year(col("o_orderdate")) * 10 +
          quarter(col("o_orderdate"))).cast("int").as("quarter"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      val report = exact.join(est, "quarter")
        .select(col("quarter"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <=
            col("n_exact").cast("double") * 0.1).as("est_ok"))
        .orderBy("quarter")
      // materialize before the temp sketch dir is deleted (q104 pattern)
      val rows = report.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q161Sql: String =
    """SELECT CAST(year(o_orderdate) * 10 + quarter(o_orderdate)
                AS INTEGER) AS quarter,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
              TRUE AS est_ok
       FROM orders GROUP BY 1 ORDER BY 1"""

  // --- q196: theta-sketch set algebra -----------------------------------
  /** Mergeable THETA sketches (DataSketches, the set-algebra tier above
    * q161's HLL — HLL only unions; theta also intersects and subtracts):
    * two order-key populations sketched independently, then
    * |A∩B|, |A∪B|, |A∖B| estimated from the two fixed-size sketches
    * alone — the metadata-only way to answer "how many keys would this
    * join match" before running it at 100 TB. lgK = 16 keeps both
    * sketches in exact mode at every probed SF, and the q161 oracle
    * discipline pins exact counts plus an est-within-bound boolean
    * (TRUE literal on the DuckDB side — the estimate itself is not
    * cross-engine portable, the BOUND is). */
  def q196ThetaSketches(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select("o_orderkey")
    val a = orders.filter(col("o_orderkey") % 3 === 0)
    val b = orders.filter(col("o_orderkey") % 5 === 0)
    val ska = a.agg(expr("theta_sketch_agg(o_orderkey, 16)").as("ska"))
    val skb = b.agg(expr("theta_sketch_agg(o_orderkey, 16)").as("skb"))
    val est = ska.crossJoin(skb).select(
      expr("theta_sketch_estimate(theta_intersection(ska, skb))")
        .as("est_inter"),
      expr("theta_sketch_estimate(theta_union(ska, skb))").as("est_union"),
      expr("theta_sketch_estimate(theta_difference(ska, skb))")
        .as("est_diff"))
    val exact = orders.agg(
      sum(when(col("o_orderkey") % 15 === 0, 1L).otherwise(0L))
        .cast("long").as("n_inter"),
      sum(when(col("o_orderkey") % 3 === 0 ||
        col("o_orderkey") % 5 === 0, 1L).otherwise(0L)).cast("long")
        .as("n_union"),
      sum(when(col("o_orderkey") % 3 === 0 &&
        col("o_orderkey") % 5 =!= 0, 1L).otherwise(0L)).cast("long")
        .as("n_diff"))
    exact.crossJoin(est).select(
      col("n_inter"), col("n_union"), col("n_diff"),
      (abs(col("est_inter") - col("n_inter")) <=
        col("n_inter").cast("double") * 0.1).as("inter_ok"),
      (abs(col("est_union") - col("n_union")) <=
        col("n_union").cast("double") * 0.1).as("union_ok"),
      (abs(col("est_diff") - col("n_diff")) <=
        col("n_diff").cast("double") * 0.1).as("diff_ok"))
  }

  val q196Sql: String =
    """SELECT CAST(sum(CASE WHEN o_orderkey % 15 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inter,
              CAST(sum(CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_union,
              CAST(sum(CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
              TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok
       FROM orders"""

  // --- q198: CDC net-effect compaction ----------------------------------
  /** Two consecutive days of CDC feeds (q120's snapshot-diff producer,
    * run day0→day1 and day1→day2) compacted to their NET effect per
    * key: I then D cancels, I then U nets to I with the final value,
    * U then U nets to one U, D then I nets to U. The correctness
    * statement is algebraic and the oracle IS it: net(feed(s0,s1),
    * feed(s1,s2)) ≡ feed(s0,s2) — sequential-feed compaction equals the
    * single diff. This is the compaction a downstream consumer applies
    * before replaying a day of CDC into a 100 TB sink: |net| ≤ |Δ| keys
    * rewrite instead of every intermediate churn.
    *
    * Shape: the two feeds union (each |changes|-sized), one per-key
    * aggregation takes the FIRST old state and LAST new state
    * (min/max over (day, …) structs — no window), and the net op is a
    * CASE over their nullness. */
  def q198CdcNetEffect(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def snap(modDrop: Int, modUp: Int, bump: Double): DataFrame =
      orders.filter(col("o_orderkey") % modDrop =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % modUp === 0,
            col("o_totalprice") + bump)
            .otherwise(col("o_totalprice")))
    val s0 = snap(7, 1000000007, 0.0) // no reprice on day 0
    val s1 = snap(11, 5, 10.0)
    val s2 = snap(13, 4, 25.0)
    def feed(o: DataFrame, n: DataFrame, day: Int): DataFrame =
      SnapshotDiff.changeFeed(o, n, Seq("o_orderkey"))
        .select(col("o_orderkey"), lit(day).as("day"),
          col("old_o_totalprice").as("p_old"),
          col("new_o_totalprice").as("p_new"),
          col("op"))
    val feeds = feed(s0, s1, 1).unionAll(feed(s1, s2, 2))
    // first day's OLD state and last day's NEW state per key; `op`
    // rides along so nullable payloads can't fake existence: a feed
    // row's side exists iff its op says so (I has no old, D has no new)
    val net = feeds
      .groupBy("o_orderkey")
      .agg(
        min(struct(col("day"), col("op"), col("p_old"))).as("first"),
        max(struct(col("day"), col("op"), col("p_new"))).as("last"))
      .select(col("o_orderkey"),
        when(col("first.op") === "I", lit(null).cast("double"))
          .otherwise(col("first.p_old")).as("price_old"),
        when(col("last.op") === "D", lit(null).cast("double"))
          .otherwise(col("last.p_new")).as("price_new"),
        (col("first.op") =!= "I").as("existed"),
        (col("last.op") =!= "D").as("exists_now"))
      .select(col("o_orderkey"),
        when(!col("existed") && col("exists_now"), "I")
          .when(col("existed") && !col("exists_now"), "D")
          .when(col("existed") && col("exists_now"), "U")
          .otherwise("X").as("op"),
        when(col("existed"), col("price_old")).as("price_old"),
        when(col("exists_now"), col("price_new")).as("price_new"))
      // X = I-then-D churn that nets to nothing; U that nets to the
      // same value (can't happen with these bumps, but the guard is
      // semantic, not data-dependent) also drops
      .filter(col("op") =!= "X")
      .filter(!(col("op") === "U" &&
        col("price_old") <=> col("price_new")))
      .orderBy("o_orderkey")
    net
  }

  val q198Sql: String =
    """WITH s0 AS (
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 7 <> 0),
       s2 AS (
         SELECT o_orderkey, o_custkey,
                CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 25.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0)
       SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
              CASE WHEN o.o_orderkey IS NULL THEN 'I'
                   WHEN n.o_orderkey IS NULL THEN 'D'
                   ELSE 'U' END AS op,
              o.o_totalprice AS price_old,
              n.o_totalprice AS price_new
       FROM s0 o FULL OUTER JOIN s2 n ON o.o_orderkey = n.o_orderkey
       WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
          OR NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
       ORDER BY o_orderkey"""

  // --- q247: materialized-view rewrite ----------------------------------
  /** Serve the registered hourly rollup from its MATERIALIZATION: the
    * dashboard query (aggregate over the raw events fact) is rewritten
    * by [[graft.plans.MvRewrite.SubstituteView]] — an optimizer
    * `Rule[LogicalPlan]` installed via
    * `spark.experimental.extraOptimizations` — to scan the MV parquet
    * instead, turning a fact-table scan into a |hours|-row read. At
    * 100 TB this is THE warehouse serving optimization: the rollup is
    * maintained once (here built once; incrementally in production via
    * the q104 pattern) and every repeat of the defining query costs MV
    * rows, not fact rows. Matching is canonicalized-plan equality (the
    * CacheManager identity test), so the rewrite cannot mis-fire on a
    * query that is not exactly the view. The `require` pins that the
    * executed plan really reads the MV — a silent fallback to the base
    * scan would still give correct rows (the oracle cannot tell), so
    * the mechanism is asserted in-query, and PlanAuditSpec re-checks
    * both the fire and the no-fire (incompatible-plan) directions. */
  def q247MvRewrite(s: SparkSession, dir: String): DataFrame = {
    def rollup(): DataFrame = t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q247mv_")
      .toString
    try {
      rollup().write.mode("overwrite").parquet(s"$root/mv")
      val mv = s.read.parquet(s"$root/mv")
      graft.plans.MvRewrite.withRewrite(s, rollup(), mv) {
        val df = rollup().orderBy("hour")
        require(graft.plans.MvRewrite.scansPath(
            df.queryExecution.optimizedPlan, root),
          "MV rewrite did not fire: the optimized plan never scans " +
            s"the materialization under $root")
        // materialize inside the rewrite scope (and before the temp
        // MV dir is deleted) — the q121 pattern
        val rows = df.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q247Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d-%H') AS hour,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents
       FROM events GROUP BY 1 ORDER BY 1"""

  // --- q310: small-file compaction bin-packing plan ---------------------
  /** The PLANNING side of [[graft.operators.Compact]]: given a sink's
    * file inventory (per partition: file name + size), assign files to
    * target-sized rewrite bins so one compaction job can coalesce each
    * bin into one output file. At 100 TB the small-file problem is a
    * planning problem first — the plan must be computable from the
    * manifest alone (|files| rows, NEVER the data), deterministic
    * (re-planning an unchanged inventory yields the same bins, so an
    * interrupted compaction resumes instead of churning), and local
    * per partition (bins never span partitions — a bin is one writer
    * task's input). Algorithm: next-fit-decreasing — files sort by
    * size desc within their partition, and each file's bin is the
    * EXCLUSIVE running sum of its predecessors integer-divided by the
    * bin target, i.e. a new bin opens exactly when the accumulated
    * bytes pass a target boundary. One window pass over a
    * manifest-sized frame; the data files themselves are untouched.
    * The inventory here is synthesized deterministically from
    * lineitem (one "file" per (returnflag, linestatus, ship month),
    * sized by an integer row-width model) so the oracle can replay
    * the identical plan from the same tables. */
  def q310CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val target = 200000L // bin capacity in size units
    val inv = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("part_key"),
        concat_ws("-", col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM")).as("file_name"))
      .agg((count(lit(1)) * 100L +
        sum(col("l_quantity").cast("long"))).as("size_bytes"))
    val w = Window.partitionBy("part_key")
      .orderBy(col("size_bytes").desc, col("file_name").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    inv.withColumn("prev_bytes",
        coalesce(sum("size_bytes").over(w), lit(0L)))
      .withColumn("bin", expr(s"prev_bytes div $target"))
      .drop("prev_bytes")
      .groupBy("part_key", "bin")
      .agg(count(lit(1)).as("n_files"),
        sum("size_bytes").as("bin_bytes"),
        min("file_name").as("first_file"))
      .orderBy("part_key", "bin")
  }

  val q310Sql: String =
    """WITH inv AS (
         SELECT l_returnflag AS part_key,
                l_linestatus || '-' || strftime(l_shipdate, '%Y-%m')
                  AS file_name,
                CAST(count(*) * 100 + sum(CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS size_bytes
         FROM lineitem GROUP BY 1, 2),
       binned AS (
         SELECT part_key, file_name, size_bytes,
                coalesce(sum(size_bytes) OVER (PARTITION BY part_key
                  ORDER BY size_bytes DESC, file_name ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // 200000 AS bin
         FROM inv)
       SELECT part_key, CAST(bin AS BIGINT) AS bin,
              CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
              min(file_name) AS first_file
       FROM binned GROUP BY 1, 2 ORDER BY 1, 2"""

  // --- q316: compaction plan EXECUTED (q310 → Compact.compactByPlan) ----
  /** The q310 plan turned into motion, end-to-end under the commit
    * log: build a small-file sink whose on-disk files ARE the q310
    * inventory (one parquet file per (returnflag, linestatus-month)
    * group, via a two-level `partitionBy` — the addressable-file
    * trick), compute the same next-fit-decreasing bin assignment, and
    * execute it with [[graft.operators.Compact.compactByPlan]] — each
    * bin becomes exactly one file in its partition directory, the
    * `file_key=` scaffolding level collapses, and the swap is the
    * [[graft.operators.CommitLog]] add → COMMIT → delete. The emitted
    * evidence is all POST-EXECUTION disk state: per partition, live
    * file counts before/after from the committed manifests and row
    * counts from the manifest reader — which the oracle must predict
    * from lineitem alone (files_before = inventory groups,
    * files_after = distinct bins, rows_after = partition row count).
    * A file-count mismatch anywhere (a merged bin, a dropped file, a
    * manifest drift) fails the hash compare. */
  def q316CompactionExecute(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Compact, CommitLog}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q316_")
      .toString
    val sink = s"$root/sink"
    try {
      // one ship-year bounds the fixture build (the mechanics are
      // month-count-shaped, not row-count-shaped; a full-history sink
      // would just write 6× the scaffolding files for the same proof)
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1998-01-01")
      val fileKey = concat_ws("-", col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM"))
      // one real parquet file per inventory group: repartition by the
      // group → all its rows in one task → one file per (part, group)
      // directory
      li.select(col("l_returnflag").as("part_key"),
          fileKey.as("file_key"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
        .repartition(col("part_key"), col("file_key"))
        .write.partitionBy("part_key", "file_key").parquet(sink)
      // the q310 bin assignment, at file granularity
      val target = 200000L
      val inv = li.groupBy(col("l_returnflag").as("part_key"),
          fileKey.as("file_key"))
        .agg((count(lit(1)) * 100L +
          sum(col("l_quantity").cast("long"))).as("size_bytes"))
      val w = Window.partitionBy("part_key")
        .orderBy(col("size_bytes").desc, col("file_key").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bins = inv.withColumn("prev",
          coalesce(sum("size_bytes").over(w), lit(0L)))
        .withColumn("bin", expr(s"prev div $target"))
        .select("part_key", "file_key", "bin")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val liveBefore = CommitLog.ensureLogged(fs, hPath)
      def partOf(rel: String): String =
        rel.split('/')(0).stripPrefix("part_key=")
      def keyOf(rel: String): String =
        rel.split('/')(1).stripPrefix("file_key=")
      // file → globally-unique, dir-safe bin id ("<part><bin>")
      val plan = liveBefore.map { r =>
        r -> s"${partOf(r)}${bins((partOf(r), keyOf(r)))}"
      }.toMap
      Compact.compactByPlan(s, sink, "part_key", plan,
        collapseCols = Seq("file_key"))
      val filesBefore = liveBefore.groupBy(partOf).view.mapValues(_.size)
      val (_, liveAfter) = CommitLog.committed(fs, hPath).get
      val filesAfter = liveAfter.groupBy(partOf).view.mapValues(_.size)
      val rowsAfter = CommitLog.read(s, sink)
        .groupBy("part_key").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      import s.implicits._
      filesBefore.keys.toSeq.sorted.map { p =>
        (p, filesBefore(p).toLong, filesAfter(p).toLong, rowsAfter(p))
      }.toDF("part_key", "files_before", "files_after", "rows_after")
        .orderBy("part_key")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q316Sql: String =
    """WITH li AS (
         SELECT * FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'),
       inv AS (
         SELECT l_returnflag AS part_key,
                l_linestatus || '-' || strftime(l_shipdate, '%Y-%m')
                  AS file_key,
                CAST(count(*) * 100 + sum(CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS size_bytes
         FROM li GROUP BY 1, 2),
       binned AS (
         SELECT part_key, file_key, size_bytes,
                coalesce(sum(size_bytes) OVER (PARTITION BY part_key
                  ORDER BY size_bytes DESC, file_key ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // 200000 AS bin
         FROM inv),
       rows_per AS (
         SELECT l_returnflag AS part_key,
                CAST(count(*) AS BIGINT) AS rows_after
         FROM li GROUP BY 1)
       SELECT b.part_key,
              CAST(count(*) AS BIGINT) AS files_before,
              CAST(count(DISTINCT bin) AS BIGINT) AS files_after,
              r.rows_after
       FROM binned b JOIN rows_per r ON b.part_key = r.part_key
       GROUP BY b.part_key, r.rows_after
       ORDER BY b.part_key"""

  // --- q318/q319: deletion vectors (merge-on-read row deletes) ---------
  /** Shared fixture for the DV pair: a lang-partitioned sink built
    * from `documents` in two parity appends (`doc_id % 2`), so each
    * (lang, parity) cell is EXACTLY ONE data file and the oracle can
    * reason about files from doc_id arithmetic alone. */
  /** The lang-partitioned parity-split documents sink six DV-family
    * queries (q318/q319/q320/q321/q322/q326) each rebuilt per
    * invocation — now seeded once per JVM ([[SharedFixtures]]) and
    * copied into each query's private scratch root; every consumer
    * mutates only its copy. Content identical to the private build. */
  private def dvFixture(s: SparkSession, dir: String, sink: String)
  : Unit = {
    val shared = SharedFixtures.seeded(s, dir, "dv_docs") { r =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Seq(0, 1).foreach { par =>
        docs.filter(col("doc_id") % 2 === par)
          .repartition(col("lang"))
          .write.partitionBy("lang").mode("append").parquet(s"$r/sink")
      }
    }
    SharedFixtures.copyInto(s, s"$shared/sink", sink)
  }

  /** Merge-on-read DELETE ([[graft.operators.DeleteVectors]]): two
    * overlapping predicates delete rows by marking positions in
    * deletion vectors — NO data file is rewritten, the manifest
    * reader anti-joins the marks away. Emitted evidence per lang, all
    * of it post-delete disk/manifest state the oracle must predict
    * from `documents` arithmetic: live file count before == after
    * (`files_before`/`files_after` — the merge-on-read point: a
    * 0.01% delete on 100 TB moves zero data bytes), `dv_files` = the
    * files carrying marks (the (lang, parity) cells containing a
    * matching row), and the surviving `rows_after`/`sum_chars` the
    * reader actually returns through the DV anti-join. */
  def q318DvDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q318_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val liveBefore = CommitLog.ensureLogged(fs, hPath)
      DeleteVectors.deleteWhere(s, sink, col("doc_id") % 5 === 3)
      DeleteVectors.deleteWhere(s, sink, col("doc_id") % 7 === 2)
      val (_, snapAfter) = CommitLog.latestSnapshot(fs, hPath).get
      val liveAfter = snapAfter.files
      val dvRecs = snapAfter.dvs
      def langOf(rel: String): String =
        rel.split('/')(0).stripPrefix("lang=")
      val fb = liveBefore.groupBy(langOf).view.mapValues(_.size).toMap
      val fa = liveAfter.groupBy(langOf).view.mapValues(_.size).toMap
      val dvf = dvRecs.keys.toSeq.groupBy(langOf).view
        .mapValues(_.size).toMap
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      import s.implicits._
      fb.keys.toSeq.sorted.map { l =>
        val (ra, sc) = stats.getOrElse(l, (0L, 0L))
        (l, fb(l).toLong, fa(l).toLong,
          dvf.getOrElse(l, 0).toLong, ra, sc)
      }.toDF("lang", "files_before", "files_after", "dv_files",
        "rows_after", "sum_chars").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q318Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       del AS (SELECT *, (doc_id % 5 = 3 OR doc_id % 7 = 2) AS gone
               FROM d),
       cells AS (
         SELECT lang, doc_id % 2 AS par,
                CAST(count(*) FILTER (WHERE gone) AS BIGINT) AS dels
         FROM del GROUP BY 1, 2),
       files AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS files_before,
                CAST(count(*) FILTER (WHERE dels > 0) AS BIGINT)
                  AS dv_files
         FROM cells GROUP BY 1),
       kept AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM del WHERE NOT gone GROUP BY 1)
       SELECT f.lang, f.files_before, f.files_before AS files_after,
              f.dv_files,
              coalesce(k.rows_after, 0) AS rows_after,
              coalesce(k.sum_chars, 0) AS sum_chars
       FROM files f LEFT JOIN kept k ON f.lang = k.lang
       ORDER BY f.lang"""

  /** [[q318DvDelete]]'s debt paid down:
    * [[graft.operators.DeleteVectors.applyDeletes]] rewrites exactly
    * the DV'd files without their deleted rows (one fresh file per
    * touched partition), drops the records, and leaves every clean
    * file byte-untouched. Evidence per lang: `files_after` =
    * untouched files + one rewritten file where any marked cell still
    * has survivors, `dv_files_after` = 0, and the reader's
    * `rows_after`/`sum_chars` unchanged from the merge-on-read view —
    * the compaction moved bytes, not rows. */
  def q319DvApply(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q319_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      DeleteVectors.deleteWhere(s, sink, col("doc_id") % 5 === 3)
      DeleteVectors.deleteWhere(s, sink, col("doc_id") % 7 === 2)
      DeleteVectors.applyDeletes(s, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, snapAfter) = CommitLog.latestSnapshot(fs, hPath).get
      val liveAfter = snapAfter.files
      val dvAfter = snapAfter.dvs
      def langOf(rel: String): String =
        rel.split('/')(0).stripPrefix("lang=")
      val fa = liveAfter.groupBy(langOf).view.mapValues(_.size).toMap
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      import s.implicits._
      fa.keys.toSeq.sorted.map { l =>
        val (ra, sc) = stats.getOrElse(l, (0L, 0L))
        (l, fa(l).toLong,
          dvAfter.keys.count(langOf(_) == l).toLong, ra, sc)
      }.toDF("lang", "files_after", "dv_files_after", "rows_after",
        "sum_chars").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q319Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       del AS (SELECT *, (doc_id % 5 = 3 OR doc_id % 7 = 2) AS gone
               FROM d),
       cells AS (
         SELECT lang, doc_id % 2 AS par,
                CAST(count(*) FILTER (WHERE gone) AS BIGINT) AS dels,
                CAST(count(*) FILTER (WHERE NOT gone) AS BIGINT)
                  AS survivors
         FROM del GROUP BY 1, 2),
       files AS (
         SELECT lang,
                CAST(count(*) FILTER (WHERE dels = 0) AS BIGINT)
                + CASE WHEN sum(CASE WHEN dels > 0
                                     THEN survivors ELSE 0 END) > 0
                       THEN 1 ELSE 0 END AS files_after
         FROM cells GROUP BY 1),
       kept AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM del WHERE NOT gone GROUP BY 1)
       SELECT f.lang, f.files_after, CAST(0 AS BIGINT) AS dv_files_after,
              coalesce(k.rows_after, 0) AS rows_after,
              coalesce(k.sum_chars, 0) AS sum_chars
       FROM files f LEFT JOIN kept k ON f.lang = k.lang
       WHERE f.files_after > 0
       ORDER BY f.lang"""

  /** Change data feed between two committed generations
    * ([[graft.operators.CommitLog.changesBetween]]): the row-level
    * changelog derived from manifests + deletion vectors alone — no
    * change files exist. Window: fixture-build generation → (append a
    * negated-key batch, then DV-delete originals ≡3 (mod 5) and the
    * appended keys below −400). The feed must emit the surviving
    * appended rows as inserts, the marked originals as deletes, and
    * NET OUT the appended rows deleted inside the window (a reader at
    * neither endpoint ever saw them) — the oracle constructs all
    * three sets from `documents` arithmetic. */
  def q320ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q320_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (g0, _) = CommitLog.ensureLoggedAt(fs, hPath)
      t(s, dir, "documents")
        .filter(col("doc_id") % 11 === 5)
        .select((-col("doc_id")).as("doc_id"), col("lang"),
          col("n_chars"))
        .repartition(col("lang"))
        .write.partitionBy("lang").mode("append").parquet(sink)
      val (g1, _) = CommitLog.ensureLoggedAt(fs, hPath)
      CommitLog.commitNext(fs, hPath, g1,
        CommitLog.listDataFiles(fs, hPath))
      DeleteVectors.deleteWhere(s, sink,
        col("doc_id") % 5 === 3 || col("doc_id") < -400)
      val gEnd = CommitLog.committed(fs, hPath).get._1
      // materialize before the finally tears the scratch sink down
      val rows = CommitLog.changesBetween(s, sink, g0, gEnd)
        .select(col("_change_type"), col("doc_id").cast("long"),
          col("lang"), col("n_chars"))
        .orderBy("_change_type", "doc_id")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3)))
        .toSeq
      import s.implicits._
      rows.toDF("_change_type", "doc_id", "lang", "n_chars")
        .orderBy("_change_type", "doc_id")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q320Sql: String =
    """SELECT * FROM (
         SELECT 'insert' AS _change_type, -doc_id AS doc_id, lang,
                n_chars
         FROM documents WHERE doc_id % 11 = 5 AND doc_id <= 400
         UNION ALL
         SELECT 'delete' AS _change_type, doc_id, lang, n_chars
         FROM documents WHERE doc_id % 5 = 3)
       ORDER BY _change_type, doc_id"""

  /** Merge-on-read MERGE
    * ([[graft.operators.DeleteVectors.mergeOnRead]]): upsert a batch
    * of updated + brand-new rows by DV-marking the matched versions
    * and appending the batch — zero existing data files read in full
    * or rewritten (`old_files_intact` pins it from the manifests).
    * Updates: every doc ≡0 (mod 3) gains 1000 chars; inserts: every
    * doc ≡0 (mod 10) reappears under key doc_id+1000000 with 77
    * chars. Evidence per lang: reader row count / char sum through
    * the DV view, DV'd file count (= parity cells holding a matched
    * row), and the untouched-files invariant. */
  def q321MergeOnRead(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q321_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val liveBefore = CommitLog.ensureLogged(fs, hPath)
      val docs = t(s, dir, "documents")
      val updates = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            lit(77L).as("n_chars")))
      DeleteVectors.mergeOnRead(s, sink, updates, Seq("doc_id"),
        partitionCol = Some("lang"))
      val (_, snapAfter) = CommitLog.latestSnapshot(fs, hPath).get
      val liveAfter = snapAfter.files
      val dvRecs = snapAfter.dvs
      def langOf(rel: String): String =
        rel.split('/')(0).stripPrefix("lang=")
      val dvf = dvRecs.keys.toSeq.groupBy(langOf).view
        .mapValues(_.size).toMap
      val intact = liveBefore.forall(liveAfter.contains)
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      import s.implicits._
      stats.keys.toSeq.sorted.map { l =>
        val (ra, sc) = stats(l)
        (l, ra, sc, dvf.getOrElse(l, 0).toLong, intact)
      }.toDF("lang", "rows_after", "sum_chars", "dv_files",
        "old_files_intact").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q321Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       merged AS (
         SELECT doc_id, lang,
                CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                     ELSE n_chars END AS n_chars
         FROM d
         UNION ALL
         SELECT doc_id + 1000000, lang, 77 FROM d WHERE doc_id % 10 = 0),
       cells AS (
         SELECT lang, doc_id % 2 AS par,
                CAST(count(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT)
                  AS matched
         FROM d GROUP BY 1, 2),
       dvf AS (
         SELECT lang,
                CAST(count(*) FILTER (WHERE matched > 0) AS BIGINT)
                  AS dv_files
         FROM cells GROUP BY 1)
       SELECT m.lang,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(m.n_chars) AS BIGINT) AS sum_chars,
              f.dv_files, TRUE AS old_files_intact
       FROM merged m JOIN dvf f ON m.lang = f.lang
       GROUP BY m.lang, f.dv_files
       ORDER BY m.lang"""

  /** Change data feed with UPDATE PAIRING
    * ([[graft.operators.CommitLog.changesBetween]] with `keys`): a
    * MoR MERGE inside the window surfaces as
    * `update_preimage`/`update_postimage` pairs (Delta CDF's
    * vocabulary) instead of unlinked D+I, while unmatched halves stay
    * plain insert/delete. Window over the fixture: (1) mergeOnRead —
    * every doc ≡0 (mod 3) gains 1000 chars (matched) and every doc
    * ≡0 (mod 10) reappears under doc_id+1000000 with 77 chars
    * (unmatched insert); (2) deleteWhere doc_id%7==1 over the merged
    * state. The oracle derives all four op classes from arithmetic:
    * an update whose postimage is deleted in-window nets to a plain
    * DELETE of the preimage, and an insert deleted in-window nets to
    * nothing — a reader at neither endpoint ever saw those rows. */
  def q322CdfUpdates(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q322_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (g0, _) = CommitLog.ensureLoggedAt(fs, hPath)
      val docs = t(s, dir, "documents")
      val updates = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            lit(77L).as("n_chars")))
      DeleteVectors.mergeOnRead(s, sink, updates, Seq("doc_id"),
        partitionCol = Some("lang"))
      DeleteVectors.deleteWhere(s, sink, col("doc_id") % 7 === 1)
      val gEnd = CommitLog.committed(fs, hPath).get._1
      // materialize before the finally tears the scratch sink down
      val rows = CommitLog.changesBetween(s, sink, g0, gEnd,
          keys = Seq("doc_id"))
        .select(col("_change_type"), col("doc_id").cast("long"),
          col("lang"), col("n_chars").cast("long"))
        .orderBy("_change_type", "doc_id")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3)))
        .toSeq
      import s.implicits._
      rows.toDF("_change_type", "doc_id", "lang", "n_chars")
        .orderBy("_change_type", "doc_id")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q322Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
       SELECT * FROM (
         SELECT 'update_preimage' AS _change_type, doc_id, lang,
                n_chars
         FROM d WHERE doc_id % 3 = 0 AND doc_id % 7 <> 1
         UNION ALL
         SELECT 'update_postimage', doc_id, lang, n_chars + 1000
         FROM d WHERE doc_id % 3 = 0 AND doc_id % 7 <> 1
         UNION ALL
         SELECT 'delete', doc_id, lang, n_chars
         FROM d WHERE doc_id % 7 = 1
         UNION ALL
         SELECT 'insert', doc_id + 1000000, lang, 77
         FROM d WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0)
       ORDER BY _change_type, doc_id"""

  /** Non-additive schema evolution
    * ([[graft.operators.SchemaEvolve]]): RENAME as a metadata-only
    * manifest commit (per-file `#colmap` records; `metadata_only`
    * pins that the live file set is untouched), then the three writer
    * shapes that must keep working THROUGH the mapping — a
    * logical-schema append (new epoch, no record), a row-level MERGE
    * in logical names (touched files rewrite to the logical schema
    * and shed their records), and the plain logical read unioning all
    * epochs. Oracle: pure `documents` arithmetic over the final
    * state. */
  def q323SchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, Merge, SchemaEvolve}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q323_")
      .toString
    val sink = s"$root/sink"
    try {
      // UNPARTITIONED parity fixture (lang as a data column): the
      // row-level merge family rewrites touched files flat, so its
      // sinks are flat — partitioned layouts take the partition-replace
      // path instead (SURVEY §2.9). The seed is cdcDocsFixture's
      // upstream — byte-identical to the 2 private parity appends this
      // query ran before — copied and mutated privately.
      SharedFixtures.copyInto(s,
        s"${MaintenanceQueries.cdcDocsFixture(s, dir)}/up", sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, liveBefore) = CommitLog.ensureLoggedAt(fs, hPath)
      SchemaEvolve.renameColumn(s, sink, "n_chars", "size")
      val (g1, liveAfter) = CommitLog.ensureLoggedAt(fs, hPath)
      val metadataOnly = liveBefore.sorted == liveAfter.sorted
      val docs = t(s, dir, "documents")
      // post-rename append in the LOGICAL schema — a new epoch
      docs.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
          (col("n_chars") + 5L).as("size"))
        .coalesce(1)
        .write.mode("append").parquet(sink)
      CommitLog.commitNext(fs, hPath, g1,
        CommitLog.listDataFiles(fs, hPath))
      // row-level MERGE in logical names through the mapping
      Merge.mergeParquet(s,
        docs.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") * 2L).as("size")),
        Seq("doc_id"), sink)
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("size").as("sum_size"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.map { case (l, ra, ss) => (l, ra, ss, metadataOnly) }
        .toDF("lang", "rows_after", "sum_size", "metadata_only")
        .orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q323Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       final AS (
         SELECT lang, CASE WHEN doc_id % 9 = 0 THEN n_chars * 2
                           ELSE n_chars END AS size
         FROM d
         UNION ALL
         SELECT lang, n_chars + 5 FROM d WHERE doc_id % 11 = 5)
       SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(size) AS BIGINT) AS sum_size,
              TRUE AS metadata_only
       FROM final GROUP BY lang ORDER BY lang"""

  /** End-to-end CDC REPLICATION over the paired change feed: an
    * upstream sink is mutated by a MoR MERGE + a predicate delete; the
    * manifest-derived feed ([[graft.operators.CommitLog
    * .changesBetween]] with `keys`) is consumed EXACTLY the way a
    * Delta-CDF subscriber consumes it — drop `update_preimage`, map
    * `update_postimage`/`insert` → U and `delete` → D — and applied to
    * an independent downstream replica via the tri-branch
    * [[graft.operators.Merge.applyCdcParquet]]. The downstream NEVER
    * reads the upstream's data files: everything flows through the
    * feed, which is the replication contract at 100 TB (feed cost ∝
    * changed files, apply cost ∝ touched replica files). Oracle: the
    * replica's final per-lang rollup equals direct arithmetic over
    * `documents`. */
  def q324CdfReplicate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, Merge}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q324_")
      .toString
    val up = s"$root/up"; val down = s"$root/down"
    try {
      // seeded ONCE per JVM (SharedFixtures): the logged docs sink and
      // the staged updates batch; this query mutates a private COPY
      val shared = MaintenanceQueries.cdcDocsFixture(s, dir)
      SharedFixtures.copyInto(s, s"$shared/up", up)
      SharedFixtures.copyInto(s, s"$shared/up", down)
      val hUp = new org.apache.hadoop.fs.Path(up)
      val fs = hUp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (g0, _) = CommitLog.ensureLoggedAt(fs, hUp)
      val updates = s.read.parquet(s"$shared/updates")
      DeleteVectors.mergeOnRead(s, up, updates, Seq("doc_id"))
      DeleteVectors.deleteWhere(s, up, col("doc_id") % 7 === 1)
      val gEnd = CommitLog.committed(fs, hUp).get._1
      // subscriber side: paired feed → net CDC batch → replica MERGE
      val ops = CommitLog.changesBetween(s, up, g0, gEnd,
          keys = Seq("doc_id"))
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("op",
          when(col("_change_type") === "delete", lit("D"))
            .otherwise(lit("U")))
        .drop("_change_type")
      Merge.applyCdcParquet(s, ops, Seq("doc_id"), "op", down)
      val stats = CommitLog.read(s, down)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.toDF("lang", "rows_after", "sum_chars").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q324Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       final AS (
         SELECT lang, CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                           ELSE n_chars END AS n_chars
         FROM d WHERE doc_id % 7 <> 1
         UNION ALL
         SELECT lang, 77 FROM d
         WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0)
       SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM final GROUP BY lang ORDER BY lang"""

  /** Exactly-once incremental CDC SUBSCRIPTION
    * ([[graft.operators.Replicate]]): where q324 replays ONE window by
    * hand, this runs the production loop — init the replica at the
    * upstream's current generation, then let `syncOnce` consume each
    * committed window (a MoR MERGE, then a predicate delete) with the
    * `#txn` ledger advancing atomically with every apply. Evidence:
    * the replica's final per-lang rollup (oracle arithmetic),
    * `windows_applied` = the two non-empty windows, and `caught_up` =
    * ledger generation == upstream latest. The replica never reads an
    * upstream data file outside the feed. */
  def q325CdcSubscription(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, Replicate}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q325_")
      .toString
    val up = s"$root/up"; val down = s"$root/down"
    try {
      // same shared seed as q324 — the subscription loop mutates a
      // private copy of the once-per-JVM fixture
      val shared = MaintenanceQueries.cdcDocsFixture(s, dir)
      SharedFixtures.copyInto(s, s"$shared/up", up)
      val hUp = new org.apache.hadoop.fs.Path(up)
      val fs = hUp.getFileSystem(s.sparkContext.hadoopConfiguration)
      Replicate.init(s, up, down, "q325")
      // window 1: MoR MERGE (updates + inserts)
      val updates = s.read.parquet(s"$shared/updates")
      DeleteVectors.mergeOnRead(s, up, updates, Seq("doc_id"))
      val s1 = Replicate.syncOnce(s, up, down, Seq("doc_id"), "q325")
      // window 2: predicate delete
      DeleteVectors.deleteWhere(s, up, col("doc_id") % 7 === 1)
      val s2 = Replicate.syncOnce(s, up, down, Seq("doc_id"), "q325")
      val windows = Seq(s1, s2).count(st => st.toGen > st.fromGen)
      val caughtUp = CommitLog.latestSnapshot(fs,
          new org.apache.hadoop.fs.Path(down))
        .flatMap(_._2.txns.get("q325"))
        .contains(CommitLog.committed(fs, hUp).get._1)
      val stats = CommitLog.read(s, down)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.map { case (l, ra, sc) =>
        (l, ra, sc, windows.toLong, caughtUp)
      }.toDF("lang", "rows_after", "sum_chars", "windows_applied",
        "caught_up").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q325Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       final AS (
         SELECT lang, CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                           ELSE n_chars END AS n_chars
         FROM d WHERE doc_id % 7 <> 1
         UNION ALL
         SELECT lang, 77 FROM d
         WHERE doc_id % 10 = 0 AND doc_id % 7 <> 0)
       SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              CAST(2 AS BIGINT) AS windows_applied,
              TRUE AS caught_up
       FROM final GROUP BY lang ORDER BY lang"""

  /** Right-to-be-forgotten erasure on a PARTITIONED corpus
    * ([[graft.operators.Merge.eraseParquet]], now partition-aware):
    * the erasure keys all live in one language partition, so only
    * that partition's touched files rewrite — every other partition's
    * files stay byte-identical on disk (`others_intact` pins the rel
    * names), which is the difference between a request-sized rewrite
    * and re-copying the corpus. Rewritten output lands back under the
    * same `lang=` scheme via the recursive swap. */
  def q326ErasePartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, Merge}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q326_")
      .toString
    val sink = s"$root/sink"
    try {
      dvFixture(s, dir, sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, liveBefore) = CommitLog.ensureLoggedAt(fs, hPath)
      val docs = t(s, dir, "documents")
      val keys = docs.filter(col("lang") === "en" &&
        col("doc_id") % 13 === 4).select("doc_id")
      Merge.eraseParquet(s, keys, Seq("doc_id"), sink)
      val (_, liveAfter) = CommitLog.ensureLoggedAt(fs, hPath)
      val afterSet = liveAfter.toSet
      val intact = liveBefore.filterNot(_.startsWith("lang=en/"))
        .forall(afterSet)
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.map { case (l, ra, sc) => (l, ra, sc, intact) }
        .toDF("lang", "rows_after", "sum_chars",
          "other_partitions_intact")
        .orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q326Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              TRUE AS other_partitions_intact
       FROM documents
       WHERE NOT (lang = 'en' AND doc_id % 13 = 4)
       GROUP BY lang ORDER BY lang"""

  /** Type WIDENING as metadata ([[graft.operators.SchemaEvolve
    * .widenColumn]], Iceberg's type-promotion class): the corpus is
    * written with a genuine 32-bit `n_chars`, widened to bigint in one
    * manifest commit (`metadata_only` pins zero data motion), and a
    * post-widen append lands values beyond Int.MaxValue — the two
    * epochs (narrow-cast, native-wide) union in the logical reader and
    * the per-lang sums/maxes only work if the cast is applied
    * per-file. Oracle: `documents` arithmetic with the same widening
    * applied in SQL. */
  def q327TypeWiden(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, SchemaEvolve}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q327_")
      .toString
    val sink = s"$root/sink"
    try {
      val docs0 = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("int").as("n_chars"))
      Seq(0, 1).foreach { par =>
        docs0.filter(col("doc_id") % 2 === par).coalesce(1)
          .write.mode("append").parquet(sink)
      }
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, liveBefore) = CommitLog.ensureLoggedAt(fs, hPath)
      SchemaEvolve.widenColumn(s, sink, "n_chars", "bigint")
      val (g1, liveAfter) = CommitLog.ensureLoggedAt(fs, hPath)
      val metadataOnly = liveBefore.sorted == liveAfter.sorted
      // post-widen append: values a 32-bit column could never hold
      t(s, dir, "documents").filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
          (col("n_chars") + 3000000000L).as("n_chars"))
        .coalesce(1).write.mode("append").parquet(sink)
      CommitLog.commitNext(fs, hPath, g1,
        CommitLog.listDataFiles(fs, hPath))
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_n"), max("n_chars").as("max_n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.map { case (l, ra, sn, mn) => (l, ra, sn, mn, metadataOnly) }
        .toDF("lang", "rows_after", "sum_n", "max_n", "metadata_only")
        .orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q327Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
       final AS (
         SELECT lang, CAST(n_chars AS BIGINT) AS n FROM d
         UNION ALL
         SELECT lang, n_chars + 3000000000 FROM d
         WHERE doc_id % 17 = 3)
       SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(n) AS BIGINT) AS sum_n,
              CAST(max(n) AS BIGINT) AS max_n,
              TRUE AS metadata_only
       FROM final GROUP BY lang ORDER BY lang"""

  /** Table-level CHECK constraints as manifest records
    * ([[graft.operators.CommitLog.addCheck]], Delta's constraint
    * feature): declared in one commit after a validating pass over
    * the existing corpus, then ENFORCED at write time — a MoR MERGE
    * batch carrying a violating row is refused before any mark or
    * append (`violator_refused` pins the sink stayed untouched), the
    * conforming batch lands, and the record rides a subsequent
    * DV delete + MoR→CoW rewrite untouched (`carried`). Oracle: final
    * per-lang state from `documents` arithmetic. */
  def q328CheckConstraints(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q328_")
      .toString
    val sink = s"$root/sink"
    try {
      // same parity-split docs sink as q323 — cdcDocsFixture's
      // upstream, copied and mutated privately
      SharedFixtures.copyInto(s,
        s"${MaintenanceQueries.cdcDocsFixture(s, dir)}/up", sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.addCheck(s, sink,
        "valid_doc", "n_chars >= 0 AND lang IS NOT NULL")
      val gAfterAdd = CommitLog.committed(fs, hPath).get._1
      val docs = t(s, dir, "documents")
      // a batch smuggling one violating row is refused wholesale
      val bad = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 9 === 0, lit(-1L))
            .otherwise(col("n_chars") + 1000L).as("n_chars"))
      val refused =
        try { DeleteVectors.mergeOnRead(s, sink, bad, Seq("doc_id"))
              false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("valid_doc") &&
            CommitLog.committed(fs, hPath).get._1 == gAfterAdd }
      // the conforming batch lands; the record rides the MoR→CoW pass
      DeleteVectors.mergeOnRead(s, sink,
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars")),
        Seq("doc_id"))
      DeleteVectors.applyDeletes(s, sink)
      val carried = CommitLog.latestSnapshot(fs, hPath).get._2.checks
        .contains("valid_doc")
      val stats = CommitLog.read(s, sink)
        .groupBy("lang").agg(count(lit(1)).as("rows_after"),
          sum("n_chars").as("sum_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      stats.map { case (l, ra, sc) => (l, ra, sc, refused, carried) }
        .toDF("lang", "rows_after", "sum_chars", "violator_refused",
          "carried").orderBy("lang")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q328Sql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                            ELSE n_chars END) AS BIGINT) AS sum_chars,
              TRUE AS violator_refused, TRUE AS carried
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Manifest-resident file statistics
    * ([[graft.operators.TableStats]]): ANALYZE computes per-(file,
    * column) min/max bounds in one grouped scan and commits them as
    * `#stats` records; a band read then prunes its file list from the
    * manifest ALONE — the orders corpus is year-clustered into 7
    * files, the two-year band provably skips 5 before any scan is
    * planned (`files_scanned`/`files_skipped` pinned), and the pruned
    * result hash-matches the plain filter (`equals_plain` +
    * the oracle recomputing the band directly). Delta per-file stats /
    * Iceberg lower-upper bounds, manifest-resident. */
  def q329StatsPruning(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q329_")
      .toString
    val sink = s"$root/sink"
    try {
      // the seeded 7-file year-clustered + ANALYZEd sink
      // (ordersYearFixture), copied per invocation — content identical
      // to the 7 private append jobs + ANALYZE this query ran before
      SharedFixtures.copyInto(s,
        s"${MaintenanceQueries.ordersYearFixture(s, dir)}/sink", sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-12-31 23:59:59")
      val (keep, skip) = TableStats.pruneBand(fs, hPath,
        "o_orderdate", lo, hi)
      val pruned = TableStats.readBand(s, sink, "o_orderdate", lo, hi)
      val plain = CommitLog.read(s, sink)
        .filter(col("o_orderdate") >= lit(lo) &&
          col("o_orderdate") <= lit(hi))
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val pr = rollup(pruned)
      val equalsPlain = pr == rollup(plain)
      import s.implicits._
      pr.map { case (y, ra, so) =>
        (y.toLong, ra, so, keep.size.toLong, skip.size.toLong,
          equalsPlain)
      }.toDF("yr", "rows_after", "sum_okey", "files_scanned",
        "files_skipped", "equals_plain").orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q329Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              CAST(2 AS BIGINT) AS files_scanned,
              CAST(5 AS BIGINT) AS files_skipped,
              TRUE AS equals_plain
       FROM orders
       WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1998-12-31 23:59:59'
       GROUP BY 1 ORDER BY 1"""

  /** Generalized manifest pruning ([[graft.operators.TableStats
    * .pruneFiles]]): the orders corpus lands clustered on BOTH
    * dimensions — hive-partitioned by (year, o_orderkey mod 4), one
    * file per cell, 28 files — and a CONJUNCTIVE predicate (two-year
    * band AND bucket = 2) prunes from the manifest alone to exactly
    * the 2 intersection cells before any scan plans. Either conjunct
    * alone keeps 8 (band) or 7 (equality) files; the conjunction's
    * multiplicative skip is the point: at 10⁶ files the same
    * decision is one cached manifest parse. Pinned counts + pruned
    * rollup hash-checked against the oracle's direct recompute. */
  def q330StatsConjunction(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, TableStats}
    import org.apache.spark.sql.sources
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q330_")
      .toString
    val sink = s"$root/sink"
    try {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("bkt", (col("o_orderkey") % 4).cast("int"))
        .repartition(col("yr"), col("bkt"))
        .write.partitionBy("yr", "bkt").parquet(sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hPath)
      TableStats.analyze(s, sink, Seq("o_orderdate", "bkt"))
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-12-31 23:59:59")
      val conj = Seq[sources.Filter](
        sources.GreaterThanOrEqual("o_orderdate", lo),
        sources.LessThanOrEqual("o_orderdate", hi),
        sources.EqualTo("bkt", 2))
      val (keep, skip) = TableStats.pruneFiles(fs, hPath, conj)
      val pruned = TableStats.readWhere(s, sink, conj,
        col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi)
          && col("bkt") === 2)
      val rows = pruned
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (y, ra, so) =>
        (y, ra, so, keep.size.toLong, skip.size.toLong)
      }.toDF("yr", "rows_after", "sum_okey", "files_scanned",
        "files_skipped").orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q330Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              CAST(2 AS BIGINT) AS files_scanned,
              CAST(26 AS BIGINT) AS files_skipped
       FROM orders
       WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1998-12-31 23:59:59'
         AND o_orderkey % 4 = 2
       GROUP BY 1 ORDER BY 1"""

  /** The DataSource V2 read surface
    * ([[graft.sources.GraftDataSource]]): a sink that has lived
    * through ANALYZE, a predicate DELETE (deletion vectors) and a
    * column RENAME reads through the bare format string —
    * `spark.read.format("graft")` — with the band filter PUSHED into
    * manifest `#stats` pruning (2 of 7 files planned, pinned from the
    * physical plan's relation), DVs anti-joined, the mapping epoch
    * resolved, and the result hash-equal to the operator-API read
    * (`equals_operator`). `versionAsOf` time travel reads the
    * pre-rename generation (`time_travel_ok` vs
    * [[graft.operators.CommitLog.readAt]]). This is the surface
    * Delta/Iceberg ship: every capability with no operator
    * vocabulary required. */
  def q331Dsv2Read(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve,
      TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q331_")
      .toString
    val sink = s"$root/sink"
    try {
      // the seeded evolved sink (ordersYearEvolvedFixture): 7
      // year-clustered files + ANALYZE + predicate delete + rename,
      // copied per invocation — the identical mutation sequence this
      // query ran privately before
      SharedFixtures.copyInto(s,
        s"${MaintenanceQueries.ordersYearEvolvedFixture(s, dir)}/sink",
        sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      // the rename is the chain's last single commit, so the
      // pre-rename snapshot is exactly one generation back
      val genPre = CommitLog.committed(fs, hPath).get._1 - 1
      val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-12-31 23:59:59")
      val band = col("order_ts") >= lit(lo) && col("order_ts") <= lit(hi)
      val v2 = s.read.format("graft").load(sink).filter(band)
      // pin the manifest pruning decision from the PHYSICAL plan
      val info = v2.queryExecution.sparkPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec =>
          r.relation
      }.collectFirst { case g: graft.sources.GraftScanInfo => g }
        .getOrElse(throw new IllegalStateException(
          "no graft V2 relation in the plan"))
      def rollup(df: DataFrame) = df
        .groupBy(year(col("order_ts")).cast("long").as("yr"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val viaOperator = rollup(CommitLog.read(s, sink).filter(band))
      val viaFormat = rollup(v2)
      // versionAsOf: the pre-rename snapshot still answers under ITS
      // schema, identical to the operator-API time travel
      val tt = s.read.format("graft")
        .option("versionAsOf", genPre.toString).load(sink)
      val ttOk = tt.columns.contains("o_orderdate") &&
        tt.count() == CommitLog.readAt(s, sink, genPre).count()
      import s.implicits._
      viaFormat.map { case (y, ra, so) =>
        (y, ra, so, info.keptCount.toLong, info.skippedCount.toLong,
          viaFormat == viaOperator, ttOk)
      }.toDF("yr", "rows_after", "sum_okey", "files_scanned",
        "files_skipped", "equals_operator", "time_travel_ok")
        .orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q331Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              CAST(2 AS BIGINT) AS files_scanned,
              CAST(5 AS BIGINT) AS files_skipped,
              TRUE AS equals_operator,
              TRUE AS time_travel_ok
       FROM orders
       WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1998-12-31 23:59:59'
         AND o_orderkey % 10 <> 3
       GROUP BY 1 ORDER BY 1"""

  /** Fused normalize + compact
    * ([[graft.operators.SchemaEvolve.normalizeCompact]]): a
    * 21-file partitioned sink carrying RENAME mappings on every file
    * and deletion vectors from a predicate delete is bin-packed to
    * one file per partition in ONE rewrite pass — the mapping and DV
    * debt is paid down by the same I/O cycle that lands the plan
    * layout (normalize-then-compact would read and write the bytes
    * twice). Pinned after-state: 7 files, zero colmap records, zero
    * DV records; rollup hash-checked against the oracle's direct
    * recompute of the surviving rows. */
  def q332NormalizeCompact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q332_")
      .toString
    val sink = s"$root/sink"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .withColumn("yr", year(col("o_orderdate")))
      (0 until 3).foreach { i =>
        orders.filter(col("o_orderkey") % 3 === i)
          .repartition(col("yr"))
          .write.partitionBy("yr").mode("append").parquet(sink)
      }
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hPath)
      SchemaEvolve.renameColumn(s, sink, "o_orderkey", "okey")
      DeleteVectors.deleteWhere(s, sink, col("okey") % 7 === 0)
      val (gen, live) = CommitLog.ensureLoggedAt(fs, hPath)
      require(live.size == 21, s"fixture: expected 21 files, ${live.size}")
      // plan: every partition's files fuse into one bin
      val plan = live.map { f =>
        val yr = f.split('/').find(_.startsWith("yr="))
          .getOrElse(sys.error(s"no yr level in $f")).stripPrefix("yr=")
        f -> s"b$yr"
      }.toMap
      val (rewritten, after) = SchemaEvolve.normalizeCompact(
        s, sink, plan, partitionCol = Some("yr"))
      val (_, snapAfter) = CommitLog.latestSnapshot(fs, hPath).get
      val mappedAfter =
        (snapAfter.colmaps.keySet ++ snapAfter.coltypes.keySet).size
      val dvAfter = snapAfter.dvs.size
      val rows = CommitLog.read(s, sink)
        .groupBy(col("yr").cast("long").as("yr"))
        .agg(count(lit(1)).as("rows_after"), sum("okey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (y, ra, so) =>
        (y, ra, so, after, mappedAfter.toLong, dvAfter.toLong)
      }.toDF("yr", "rows_after", "sum_okey", "files_after",
        "mapped_after", "dv_after").orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q332Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              CAST(7 AS BIGINT) AS files_after,
              CAST(0 AS BIGINT) AS mapped_after,
              CAST(0 AS BIGINT) AS dv_after
       FROM orders
       WHERE o_orderkey % 7 <> 0
       GROUP BY 1 ORDER BY 1"""

  /** DESCRIBE HISTORY ([[graft.operators.TableHistory]]): the
    * operational audit derived from retained manifests ALONE — one
    * fixture sink lives through bootstrap, logged append, predicate
    * delete, CHECK declaration, ANALYZE and a column rename, and the
    * history table reports each generation's inferred operation kind
    * plus its file-motion and record-family footprint, every cell a
    * fixture-arithmetic constant the oracle re-derives. */
  def q333TableHistory(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve,
      TableHistory, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q333_")
      .toString
    val sink = s"$root/sink"
    try {
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      orders.filter(col("k") % 100 === 1).coalesce(1).write.parquet(sink)
      CommitLog.ensureLoggedAt(fs, hPath) // gen 0: bootstrap
      // gen 1: logged append of a second staged file
      val staged = CommitLog.stageIn(fs, hPath, "stage")(tmp =>
        orders.filter(col("k") % 100 === 2).coalesce(1)
          .write.parquet(tmp.toString))
      val (g0, live0) = CommitLog.ensureLoggedAt(fs, hPath)
      CommitLog.commitAppend(fs, hPath, g0, live0, staged)
      // gen 2: predicate delete marks rows in BOTH files
      DeleteVectors.deleteWhere(s, sink, col("k") % 3 === 0)
      // gen 3: constraint; gen 4: analyze; gen 5: rename
      CommitLog.addCheck(s, sink, "v_nonneg", "v >= 0")
      TableStats.analyze(s, sink, Seq("k"))
      SchemaEvolve.renameColumn(s, sink, "k", "key")
      TableHistory.history(s, sink)
        .select("generation", "operation", "n_files", "files_added",
          "files_removed", "dv_files", "n_checks", "stats_files",
          "mapped_files")
        .orderBy("generation")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q333Sql: String =
    """SELECT * FROM (VALUES
         (CAST(0 AS BIGINT), 'bootstrap',     CAST(1 AS BIGINT),
          CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         (CAST(1 AS BIGINT), 'append',        CAST(2 AS BIGINT),
          CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         (CAST(2 AS BIGINT), 'delete',        CAST(2 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         (CAST(3 AS BIGINT), 'constraint',    CAST(2 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
          CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         (CAST(4 AS BIGINT), 'analyze',       CAST(2 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
          CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
         (CAST(5 AS BIGINT), 'schema-evolve', CAST(2 AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT),
          CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT))
       ) AS t(generation, operation, n_files, files_added,
              files_removed, dv_files, n_checks, stats_files,
              mapped_files)
       ORDER BY generation"""

  /** The WRITE half of the format surface
    * ([[graft.sources.GraftDataSource]]): a table is CREATED by its
    * first `df.write.format("graft")`, grows by logged commutative
    * appends, refuses a CHECK-violating batch before anything stages
    * (`violator_refused`), and no-ops a replayed `txnAppId`/
    * `txnVersion` micro-batch (`txn_once` — Delta's idempotent-write
    * pattern, the `#txn` ledger riding the same atomic commit as the
    * files). The final state is read back through the format string
    * and hash-checked against the oracle's arithmetic over exactly
    * the batches that should have landed, each exactly once. */
  def q334Dsv2Write(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q334_")
      .toString
    val sink = s"$root/sink"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def part(m: Long) = orders.filter(col("o_orderkey") % 10 === m)
      // CREATE + two appends through the format string
      part(0).write.format("graft").mode("append").save(sink)
      part(1).write.format("graft").mode("append").save(sink)
      part(2).write.format("graft").mode("append").save(sink)
      // declared constraint gates later format writes
      CommitLog.addCheck(s, sink, "price_pos", "o_totalprice >= 0")
      val refused =
        try {
          part(3).withColumn("o_totalprice", -col("o_totalprice"))
            .write.format("graft").mode("append").save(sink)
          false
        } catch { case _: IllegalArgumentException => true }
      part(3).write.format("graft").mode("append").save(sink)
      // idempotent micro-batch: the replay must not double-land
      def txnWrite(): Unit = part(4).write.format("graft")
        .mode("append").option("txnAppId", "q334")
        .option("txnVersion", "7").save(sink)
      txnWrite(); txnWrite()
      val back = s.read.format("graft").load(sink)
      val rows = back
        .groupBy((col("o_orderkey") % 10).as("grp"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (g, ra, so) => (g, ra, so, refused) }
        .toDF("grp", "rows_after", "sum_okey", "violator_refused")
        .orderBy("grp")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q334Sql: String =
    """SELECT CAST(o_orderkey % 10 AS BIGINT) AS grp,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS violator_refused
       FROM orders
       WHERE o_orderkey % 10 <= 4
       GROUP BY 1 ORDER BY 1"""

  /** The STREAMING face of the format surface
    * ([[graft.sources.GraftDataSource]] as a Structured Streaming
    * source, Delta's streaming-source role): generation numbers are
    * the offsets, the first micro-batch is the pinned snapshot, and
    * each later batch is EXACTLY the files the window's commits
    * appended (cost ∝ new files, never the table). Two logged
    * appends land while the stream runs; the memory sink must end up
    * with snapshot + both tails, each row exactly once — hash-checked
    * against the oracle's arithmetic over the union of the batches.
    * Exactly-once needs no bookkeeping beyond the checkpointed
    * offset: generations are atomic, immutable and totally ordered. */
  def q335Dsv2Stream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q335_")
      .toString
    val sink = s"$root/sink"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def part(m: Long) = orders.filter(col("o_orderkey") % 10 === m)
      part(0).write.format("graft").mode("append").save(sink)
      part(1).write.format("graft").mode("append").save(sink)
      val q = s.readStream.format("graft").load(sink)
        .writeStream.format("memory").queryName("q335_tail")
        .option("checkpointLocation", s"$root/ck").start()
      try {
        q.processAllAvailable() // snapshot: groups 0 and 1
        part(2).write.format("graft").mode("append").save(sink)
        q.processAllAvailable() // tail window 1
        part(3).write.format("graft").mode("append").save(sink)
        q.processAllAvailable() // tail window 2
      } finally q.stop()
      val rows = s.table("q335_tail")
        .groupBy((col("o_orderkey") % 10).as("grp"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.toDF("grp", "rows_after", "sum_okey").orderBy("grp")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q335Sql: String =
    """SELECT CAST(o_orderkey % 10 AS BIGINT) AS grp,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
       FROM orders
       WHERE o_orderkey % 10 <= 3
       GROUP BY 1 ORDER BY 1"""

  /** End-to-end graft→graft STREAMING pipeline
    * ([[graft.sources.GraftDataSource]] as source AND sink): the
    * source tails the upstream commit log (generation offsets), the
    * sink lands every micro-batch as one logged append whose `#txn`
    * ledger record (appId, batchId) rides the same atomic manifest
    * publish as the files — so the pipeline is exactly-once
    * end-to-end, proven in-query by replaying the last committed
    * batch id (`txn_once`: the replica's row count must not move).
    * This is the streaming-replication shape the reference runs as
    * hourly warehouse MERGEs, expressed as a standing query moving
    * only deltas. */
  def q336Dsv2Pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q336_")
      .toString
    val up = s"$root/up"; val down = s"$root/down"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def part(m: Long) = orders.filter(col("o_orderkey") % 10 === m)
      part(0).write.format("graft").mode("append").save(up)
      part(1).write.format("graft").mode("append").save(up)
      val q = s.readStream.format("graft").load(up)
        .writeStream.format("graft")
        .option("checkpointLocation", s"$root/ck")
        .option("txnAppId", "q336").start(down)
      try {
        q.processAllAvailable() // snapshot window
        part(2).write.format("graft").mode("append").save(up)
        q.processAllAvailable() // tail window 1
        part(3).write.format("graft").mode("append").save(up)
        q.processAllAvailable() // tail window 2
      } finally q.stop()
      // exactly-once pinned: replaying the last committed batch id
      // must not move the replica
      val hDown = new org.apache.hadoop.fs.Path(down)
      val fs = hDown.getFileSystem(s.sparkContext.hadoopConfiguration)
      val before = CommitLog.read(s, down).count()
      val lastV = CommitLog.latestSnapshot(fs, hDown).get._2.txns("q336")
      graft.sources.GraftWriter.write(part(9), down,
        overwrite = false, txn = Some(("q336", lastV)))
      val txnOnce = CommitLog.read(s, down).count() == before
      val rows = CommitLog.read(s, down)
        .groupBy((col("o_orderkey") % 10).as("grp"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (g, ra, so) => (g, ra, so, txnOnce) }
        .toDF("grp", "rows_after", "sum_okey", "txn_once")
        .orderBy("grp")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q336Sql: String =
    """SELECT CAST(o_orderkey % 10 AS BIGINT) AS grp,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS txn_once
       FROM orders
       WHERE o_orderkey % 10 <= 3
       GROUP BY 1 ORDER BY 1"""

  /** Metadata tables ([[graft.sources.GraftMetaTable]], Iceberg's
    * `files`/`history` metadata tables): `option("metadata", ...)` on
    * a format read returns the table ABOUT the table — per-file
    * footprint (bytes, DV presence and CARDINALITY from the `#dv`
    * record, stats coverage, mapping debt) and the per-generation
    * operation audit — all manifest arithmetic, zero data I/O. The
    * oracle re-derives the DV cardinality sum from the delete
    * predicate and pins the audit's operation sequence. */
  def q337MetaTables(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, SchemaEvolve,
      TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q337_")
      .toString
    val sink = s"$root/sink"
    try {
      // the seeded evolved sink (ordersYearEvolvedFixture), copied per
      // invocation — identical mutation sequence to the private build
      SharedFixtures.copyInto(s,
        s"${MaintenanceQueries.ordersYearEvolvedFixture(s, dir)}/sink",
        sink)
      val files = s.read.format("graft")
        .option("metadata", "files").load(sink)
      val agg = files.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("has_dv"), 1L).otherwise(0L)).as("dv_files"),
        sum(coalesce(col("dv_marks"), lit(0L))).as("dv_marks"),
        sum(when(col("mapped"), 1L).otherwise(0L)).as("mapped_files"),
        sum(when(col("stats_cols") > 0, 1L).otherwise(0L))
          .as("stats_files")).head
      val ops = s.read.format("graft")
        .option("metadata", "history").load(sink)
        .orderBy("generation").collect().map(_.getString(1))
        .mkString(",")
      import s.implicits._
      Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2),
        agg.getLong(3), agg.getLong(4), ops))
        .toDF("n_files", "dv_files", "dv_marks", "mapped_files",
          "stats_files", "ops")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q337Sql: String =
    """SELECT CAST(7 AS BIGINT) AS n_files,
              CAST(7 AS BIGINT) AS dv_files,
              CAST(count(*) AS BIGINT) AS dv_marks,
              CAST(7 AS BIGINT) AS mapped_files,
              CAST(7 AS BIGINT) AS stats_files,
              'bootstrap,analyze,delete,schema-evolve' AS ops
       FROM orders
       WHERE o_orderkey % 10 = 3"""

  /** Partition-value pruning with NO ANALYZE
    * ([[graft.operators.TableStats.pruneIn]] path-level decision): a
    * hive-partitioned sink's `k=v` levels are metadata the manifest
    * already carries in the file NAMES, so a V2 read with a pushed
    * partition predicate plans exactly the matching directories'
    * files before any scan — zero `#stats` records involved. The
    * year band keeps 2 of 7 partition files (pinned from the plan's
    * relation); the rollup hash-matches the oracle's direct
    * recompute. At 10⁶ files this is the difference between footer
    * I/O on every partition and a pure manifest partition. */
  def q338PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q338_")
      .toString
    val sink = s"$root/sink"
    try {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .withColumn("yr", year(col("o_orderdate")))
        .repartition(col("yr"))
        .write.partitionBy("yr").parquet(sink)
      val hPath = new org.apache.hadoop.fs.Path(sink)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hPath)
      // NO analyze: the pruning below is path-level only
      val v2 = s.read.format("graft").load(sink)
        .filter(col("yr") >= 1997 && col("yr") <= 1998)
      val info = v2.queryExecution.sparkPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec =>
          r.relation
      }.collectFirst { case g: graft.sources.GraftScanInfo => g }
        .getOrElse(throw new IllegalStateException(
          "no graft V2 relation in the plan"))
      val rows = v2
        .groupBy(col("yr").cast("long").as("yr"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (y, ra, so) =>
        (y, ra, so, info.keptCount.toLong, info.skippedCount.toLong)
      }.toDF("yr", "rows_after", "sum_okey", "files_scanned",
        "files_skipped").orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q338Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              CAST(2 AS BIGINT) AS files_scanned,
              CAST(5 AS BIGINT) AS files_skipped
       FROM orders
       WHERE year(o_orderdate) BETWEEN 1997 AND 1998
       GROUP BY 1 ORDER BY 1"""

  /** STREAMING change-data-feed replication
    * ([[graft.sources.GraftDataSource]] `readChangeFeed` +
    * `foreachBatch` applyCdc): where q325 polls the feed with an
    * operator loop, this runs it as a standing query — each window's
    * manifest-derived, key-paired change feed (inserts, paired
    * updates, DV deletes) replays onto a merge replica, so rewrites
    * and deletes are REPRESENTABLE mid-stream instead of fatal. The
    * upstream lives through a snapshot, a merge-on-read UPDATE of one
    * key group, a predicate DELETE, and an append; the replica's
    * final rollup must equal the oracle's closed-form arithmetic over
    * exactly those operations. Cost per window ∝ changed files +
    * touched replica files — the streaming form of the difference
    * between shipping deltas and re-merging tables. */
  def q339CdfStreamReplica(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, Merge}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q339_")
      .toString
    val up = s"$root/up"; val down = s"$root/down"
    try {
      // the seeded two-generation upstream + empty replica copy in
      // (SharedFixtures); the stream and its mutations stay private
      val shared = MaintenanceQueries.cdcOrdersFixture(s, dir)
      SharedFixtures.copyInto(s, s"$shared/up", up)
      SharedFixtures.copyInto(s, s"$shared/down", down)
      val keyed = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_orderkey") * 10).as("v"))
      def part(m: Long) = keyed.filter(col("k") % 10 === m)
      val q = s.readStream.format("graft")
        .option("readChangeFeed", "true").option("cdfKeys", "k")
        .load(up)
        .writeStream.option("checkpointLocation", s"$root/ck")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val ops = df
            .filter(col("_change_type") =!= "update_preimage")
            .withColumn("__op",
              when(col("_change_type") === "delete", lit("D"))
                .otherwise(lit("U")))
            .drop("_change_type")
          // applyCdcParquet no-ops on an empty feed itself — the
          // foreachBatch body is one call, no pre-flight job
          Merge.applyCdcParquet(s, ops, Seq("k"), "__op", down)
          ()
        }.start()
      try {
        q.processAllAvailable() // snapshot window
        DeleteVectors.mergeOnRead(s, up, // UPDATE group 1
          part(1).withColumn("v", col("v") + 1000000L), Seq("k"))
        q.processAllAvailable()
        DeleteVectors.deleteWhere(s, up, col("k") % 20 === 0)
        q.processAllAvailable()
        part(2).write.format("graft").mode("append").save(up)
        q.processAllAvailable()
      } finally q.stop()
      val rows = CommitLog.read(s, down)
        .groupBy((col("k") % 10).as("grp"))
        .agg(count(lit(1)).as("rows_after"), sum("v").as("sum_v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.toDF("grp", "rows_after", "sum_v").orderBy("grp")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q339Sql: String =
    """SELECT CAST(o_orderkey % 10 AS BIGINT) AS grp,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(CASE WHEN o_orderkey % 10 = 1
                            THEN o_orderkey * 10 + 1000000
                            ELSE o_orderkey * 10 END) AS BIGINT)
                AS sum_v
       FROM orders
       WHERE o_orderkey % 10 <= 2 AND o_orderkey % 20 <> 0
       GROUP BY 1 ORDER BY 1"""

  /** PARTITIONED exactly-once streaming sink
    * ([[graft.sources.GraftDataSource]] `writeStream.partitionBy`) —
    * q336's sibling with a hive layout: every micro-batch lands under
    * its partition directories in ONE logged append + `#txn` record,
    * and the streamed sink then PARTITION-PRUNES manifest-only with
    * no ANALYZE (the q338 path) — the reference's own layout
    * (`/root/reference/src/gtfs.py:21` date-partitioned paths) as a
    * standing query. Pinned in-query: the committed layout is pure
    * hive, and a year-band filter's pruning decision keeps ONLY the
    * band's directories. */
  def q340PartitionedStreamSink(s: SparkSession, dir: String)
  : DataFrame = {
    import graft.operators.{CommitLog, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q340_")
      .toString
    val up = s"$root/up"; val down = s"$root/down"
    try {
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"))
      def part(m: Long) = orders.filter(col("o_orderkey") % 4 === m)
      part(0).write.format("graft").mode("append").save(up)
      val q = s.readStream.format("graft").load(up)
        .writeStream.format("graft").partitionBy("yr")
        .option("checkpointLocation", s"$root/ck")
        .option("txnAppId", "q340").start(down)
      try {
        q.processAllAvailable() // snapshot window
        part(1).write.format("graft").mode("append").save(up)
        q.processAllAvailable() // tail window
      } finally q.stop()
      val hDown = new org.apache.hadoop.fs.Path(down)
      val fs = hDown.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, live) = CommitLog.ensureLoggedAt(fs, hDown)
      val layoutHive = live.nonEmpty && live.forall(_.startsWith("yr="))
      // manifest-only partition pruning on the STREAMED layout
      val (kept, skipped) = TableStats.pruneFiles(fs, hDown, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("yr", 1997L),
        org.apache.spark.sql.sources.LessThanOrEqual("yr", 1998L)))
      val pruneOk = skipped.nonEmpty && kept.nonEmpty &&
        kept.forall(f => f.startsWith("yr=1997/") ||
          f.startsWith("yr=1998/"))
      // partition-value inference may type yr int at read — rollup
      // under the oracle's BIGINT either way
      val rows = s.read.format("graft").load(down)
        .filter(col("yr").between(1997L, 1998L))
        .groupBy(col("yr").cast("long").as("yr"))
        .agg(count(lit(1)).as("rows_after"),
          sum("o_orderkey").as("sum_okey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      import s.implicits._
      rows.map { case (y, ra, so) => (y, ra, so, layoutHive, pruneOk) }
        .toDF("yr", "rows_after", "sum_okey", "layout_hive", "prune_ok")
        .orderBy("yr")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q340Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS layout_hive,
              TRUE AS prune_ok
       FROM orders
       WHERE o_orderkey % 4 <= 1
         AND year(o_orderdate) BETWEEN 1997 AND 1998
       GROUP BY 1 ORDER BY 1"""

  /** OPTIMIZE ZORDER BY ([[graft.operators.Cluster.zorderBy]],
    * Delta's Z-ordering): rewrite orders clustered on the Morton
    * interleave of (o_custkey, o_totalprice) equi-depth buckets, so
    * each output file bounds a small HYPERCUBE of the two columns'
    * value space — and the manifest's `#stats` bounds then prune
    * files for a selective band on EITHER column (a linear sort
    * serves only its leading column; ClusterSpec pins that contrast).
    * Pinned in-query: both single-column bands skip files
    * manifest-only; the rollups over the pruned scans stay exact. */
  def q342Zorder(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Cluster, CommitLog, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q342_")
      .toString
    val sink = s"$root/t"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      orders.repartition(8).write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      Cluster.zorderBy(s, sink, Seq("o_custkey", "o_totalprice"),
        nFiles = 16)
      // bands scaled off the table maxima — SF-independent, and the
      // oracle derives the same constants in SQL
      val mx = orders.agg(max("o_custkey"), max("o_totalprice")).head
      val cHi = mx.getLong(0) / 4
      val pLo = mx.getDouble(1) * 0.4; val pHi = mx.getDouble(1) * 0.6
      val (_, skipC) = TableStats.pruneFiles(fs, hp, Seq(
        org.apache.spark.sql.sources.LessThanOrEqual("o_custkey", cHi)))
      val (_, skipP) = TableStats.pruneFiles(fs, hp, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual(
          "o_totalprice", pLo),
        org.apache.spark.sql.sources.LessThanOrEqual(
          "o_totalprice", pHi)))
      val pruneBoth = skipC.nonEmpty && skipP.nonEmpty
      val cBand = CommitLog.read(s, sink)
        .filter(col("o_custkey") <= cHi)
        .agg(count(lit(1)), sum("o_orderkey")).head
      val pBand = CommitLog.read(s, sink)
        .filter(col("o_totalprice").between(pLo, pHi))
        .agg(count(lit(1)), sum("o_orderkey")).head
      import s.implicits._
      Seq((cBand.getLong(0), cBand.getLong(1),
        pBand.getLong(0), pBand.getLong(1), pruneBoth))
        .toDF("cust_rows", "cust_sum_okey",
          "price_rows", "price_sum_okey", "prune_both")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q342Sql: String =
    """SELECT
         CAST((SELECT count(*) FROM orders WHERE o_custkey <=
               (SELECT max(o_custkey) // 4 FROM orders)) AS BIGINT)
           AS cust_rows,
         CAST((SELECT sum(o_orderkey) FROM orders WHERE o_custkey <=
               (SELECT max(o_custkey) // 4 FROM orders)) AS BIGINT)
           AS cust_sum_okey,
         CAST((SELECT count(*) FROM orders WHERE o_totalprice BETWEEN
               (SELECT max(o_totalprice) * 0.4 FROM orders) AND
               (SELECT max(o_totalprice) * 0.6 FROM orders)) AS BIGINT)
           AS price_rows,
         CAST((SELECT sum(o_orderkey) FROM orders WHERE o_totalprice
               BETWEEN (SELECT max(o_totalprice) * 0.4 FROM orders)
               AND (SELECT max(o_totalprice) * 0.6 FROM orders))
           AS BIGINT) AS price_sum_okey,
         TRUE AS prune_both"""

  /** `#bloom` point-lookup index ([[graft.operators.TableStats
    * .buildBloom]], Delta's Bloom index / Iceberg's puffin role):
    * orders lands HASH-SCATTERED across 8 files, so every file spans
    * the full o_orderkey range and `#stats` bounds prune NOTHING for
    * a point lookup — while each key lives in exactly one file. One
    * build pass commits per-(file, column) Bloom sidecars; the
    * pruning decision then drops files whose filter PROVES the probe
    * keys absent (false negatives impossible → never wrong). Pinned
    * in-query: bounds alone keep all 8, blooms keep ≤ half for the
    * 3-key IN probe, an absent key prunes everything; the lookup
    * result stays exact over the pruned scan. */
  def q343BloomPoint(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q343_")
      .toString
    val sink = s"$root/t"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      orders.repartition(8, col("o_orderkey")).write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      TableStats.analyze(s, sink, Seq("o_orderkey"))
      // MID-RANGE keys: every scattered file's [min,max] spans the
      // average, so bounds evidence is provably blind for the probe
      val mid = orders.agg(avg("o_orderkey")).head.getDouble(0)
      val keys = orders.filter(col("o_orderkey") > mid)
        .orderBy("o_orderkey").limit(3)
        .collect().map(_.getLong(0)).toSeq
      val absent = -1L
      val inFlt = org.apache.spark.sql.sources.In("o_orderkey",
        keys.toArray[Any])
      val (b0, _) = TableStats.pruneFiles(fs, hp, Seq(inFlt))
      val boundsBlind = b0.size == 8 // scattered bounds keep all
      TableStats.buildBloom(s, sink, Seq("o_orderkey"),
        expectedKeysPerFile = 1000000L)
      val (k1, s1) = TableStats.pruneFiles(fs, hp, Seq(inFlt))
      val bloomPrunes = s1.nonEmpty && k1.size <= 4
      val (k2, _) = TableStats.pruneFiles(fs, hp, Seq(
        org.apache.spark.sql.sources.EqualTo("o_orderkey", absent)))
      val absentPrunesAll = k2.isEmpty
      // exactness over the pruned format read (plan-time bloom tier)
      val rows = s.read.format("graft").load(sink)
        .filter(col("o_orderkey").isin(keys: _*))
        .orderBy("o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      import s.implicits._
      rows.map { case (ok, ck) =>
        (ok, ck, boundsBlind, bloomPrunes, absentPrunesAll)
      }.toDF("o_orderkey", "o_custkey", "bounds_blind",
        "bloom_prunes", "absent_prunes_all").orderBy("o_orderkey")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q343Sql: String =
    """SELECT o_orderkey, o_custkey,
              TRUE AS bounds_blind,
              TRUE AS bloom_prunes,
              TRUE AS absent_prunes_all
       FROM orders
       WHERE o_orderkey IN (SELECT o_orderkey FROM orders
                            WHERE o_orderkey >
                              (SELECT avg(o_orderkey) FROM orders)
                            ORDER BY o_orderkey LIMIT 3)
       ORDER BY o_orderkey"""

  /** SQL `DELETE FROM` through the catalog
    * ([[graft.sources.GraftTable]] `SupportsDelete` →
    * [[graft.operators.DeleteVectors.deleteWhere]]): the statement
    * lands as DELETION VECTORS — zero data files rewritten or
    * removed, one manifest commit — and every reader (catalog SQL,
    * path-based format, operator API) serves the surviving rows.
    * Pinned in-query: the live file set is byte-identical before and
    * after the DELETE and `#dv` records exist (merge-on-read, not
    * copy-on-write). */
  def q344SqlDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q344_")
      .toString
    val cat = s"gq344c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, price DOUBLE) " +
        "USING graft")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"))
        .createOrReplaceTempView("q344_src")
      try {
        s.sql(s"INSERT INTO $cat.db.d SELECT * FROM q344_src")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val filesBefore = CommitLog.ensureLoggedAt(fs, hp)._2.toSet
        val cut = s.table(s"$cat.db.d").agg(max("okey"))
          .head.getLong(0) / 2
        s.sql(s"DELETE FROM $cat.db.d WHERE okey > $cut")
        val (_, snapAfter) = CommitLog.ensureSnapshotAt(fs, hp)
        val morNoRewrite =
          snapAfter.files.toSet == filesBefore && snapAfter.dvs.nonEmpty
        val r = s.sql(
          s"""SELECT CAST(count(*) AS BIGINT),
                     CAST(sum(okey) AS BIGINT)
              FROM $cat.db.d""").head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), morNoRewrite))
          .toDF("rows_after", "sum_okey", "mor_no_rewrite")
      } finally s.catalog.dropTempView("q344_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q344Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS mor_no_rewrite
       FROM orders
       WHERE o_orderkey <=
             (SELECT max(o_orderkey) // 2 FROM orders)"""

  /** Fresh catalog name per invocation: Spark caches catalog
    * INSTANCES per name after first use, so a re-run (bench warmups)
    * must not resolve a stale warehouse root. */
  private val q341Seq = new java.util.concurrent.atomic.AtomicLong()

  /** SQL catalog surface ([[graft.sources.GraftCatalog]], Delta's
    * catalog role): CREATE TABLE / INSERT INTO ... SELECT / SELECT /
    * VERSION AS OF through PURE SQL over `catalog.db.table`
    * identifiers — no paths, no operator APIs, no format strings in
    * the consumer's hands. Pinned in-query: the catalog read is
    * row-arithmetic-equal to the path-based `format("graft")` read of
    * the same sink (one table, two addressing schemes), and SQL time
    * travel counts the pinned snapshot. */
  def q341SqlCatalog(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q341_")
      .toString
    val cat = s"gq341c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.ord " +
        "(okey BIGINT, price DOUBLE, seg STRING) USING graft")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"),
          col("o_orderpriority").as("seg"))
        .createOrReplaceTempView("q341_src")
      try {
        s.sql(s"INSERT INTO $cat.db.ord " +
          "SELECT * FROM q341_src WHERE okey % 3 = 0")
        s.sql(s"INSERT INTO $cat.db.ord " +
          "SELECT * FROM q341_src WHERE okey % 3 = 1")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/ord")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val gen = CommitLog.committed(fs, hp).get._1
        s.sql(s"INSERT INTO $cat.db.ord " +
          "SELECT * FROM q341_src WHERE okey % 3 = 2")
        // SQL time travel counts the pre-third-insert snapshot
        val ttRows = s.sql("SELECT CAST(count(*) AS BIGINT) FROM " +
          s"$cat.db.ord VERSION AS OF $gen").head.getLong(0)
        // one table, two addressing schemes: catalog ≡ path
        val viaPath = s.read.format("graft").load(s"$root/db/ord")
          .agg(count(lit(1)), sum("okey")).head
        val viaCat = s.table(s"$cat.db.ord")
          .agg(count(lit(1)), sum("okey")).head
        val pathEq = viaPath.getLong(0) == viaCat.getLong(0) &&
          viaPath.getLong(1) == viaCat.getLong(1)
        val rows = s.sql(
          s"""SELECT seg, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(okey) AS BIGINT) AS sum_okey
              FROM $cat.db.ord GROUP BY seg ORDER BY seg""")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        import s.implicits._
        rows.map { case (g, n, so) => (g, n, so, pathEq, ttRows) }
          .toDF("seg", "n", "sum_okey", "path_eq", "tt_rows")
          .orderBy("seg")
      } finally s.catalog.dropTempView("q341_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q341Sql: String =
    """SELECT o_orderpriority AS seg,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS path_eq,
              CAST((SELECT count(*) FROM orders
                    WHERE o_orderkey % 3 <= 1) AS BIGINT) AS tt_rows
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** BATCH change-data-feed read at the format surface
    * ([[graft.sources.GraftCdfTable]] → [[graft.operators.CommitLog
    * .changesBetween]]) — Delta's batch CDF, the audit/backfill
    * workhorse: `spark.read.format("graft")
    * .option("readChangeFeed", true).option("startingVersion", m)
    * .option("endingVersion", n)` returns the row-level change feed
    * of the generation window, with `cdfKeys` pairing a window's
    * delete/insert halves into `update_preimage`/`update_postimage`.
    * Fixture: base snapshot (g0) → MoR MERGE repricing a key subset
    * (g1) → predicate DELETE of a DISJOINT key range (g2). Pinned
    * in-query: bounds validate — end < start, an uncommitted
    * generation, and combining the feed with versionAsOf all refuse
    * loudly. The batch ≡ per-generation-streamed-windows equivalence
    * (one manifest-diff engine, two surfaces) is pinned in
    * DataSourceV2Spec ("batch CDF window ≡ streamed windows") — it
    * was an in-query `processAllAvailable` replay here through round
    * 12, a permanent ~5 s bench fixture cost duplicating spec
    * coverage, so the query now benches the batch CDF read itself. */
  def q345BatchCdf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q345_")
      .toString
    val sink = s"$root/t"
    try {
      // seeded once per JVM, mutated on a private copy — and `base`
      // reads the (tiny, projected) seed instead of re-deriving the
      // projection from orders for every downstream use
      val shared = SharedFixtures.seeded(s, dir, "cdf_orders4") { r =>
        t(s, dir, "orders")
          .filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey").as("okey"),
            col("o_totalprice").as("price"))
          .repartition(4).write.parquet(s"$r/t")
        val hp0 = new org.apache.hadoop.fs.Path(s"$r/t")
        CommitLog.ensureLoggedAt(
          hp0.getFileSystem(s.sparkContext.hadoopConfiguration), hp0)
      }
      SharedFixtures.copyInto(s, s"$shared/t", sink)
      val base = s.read.parquet(s"$shared/t")
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val g0 = CommitLog.committed(fs, hp).get._1
      val cut = base.agg(max("okey")).head.getLong(0) / 2
      // g1: MoR MERGE — reprice keys ≡0 (mod 20) at or below the cut
      val updates = base
        .filter(col("okey") % 20 === 0 && col("okey") <= cut)
        .withColumn("price", col("price") + lit(1000.0))
      DeleteVectors.mergeOnRead(s, sink, updates, Seq("okey"))
      // g2: predicate DELETE of the DISJOINT key range above the cut
      // (no netting across the window, so batch ≡ streamed windows)
      DeleteVectors.deleteWhere(s, sink, col("okey") > cut)
      val gEnd = CommitLog.committed(fs, hp).get._1
      val batch = s.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", g0)
        .option("endingVersion", gEnd)
        .option("cdfKeys", "okey")
        .load(sink)
      // pin: bounds validation refuses loudly
      def refuses(f: => Unit): Boolean =
        try { f; false } catch { case _: Exception => true }
      val boundsRefused =
        refuses(s.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", gEnd)
          .option("endingVersion", g0).load(sink).collect()) &&
        refuses(s.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", gEnd + 100).load(sink)
          .collect()) &&
        refuses(s.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", g0)
          .option("versionAsOf", g0).load(sink).collect())
      val rows = batch.groupBy("_change_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("okey").cast("long").as("sum_okey"),
          sum(round(col("price") * 100).cast("long")).as("sum_cents"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      import s.implicits._
      rows.map { case (ct, n, so, sc) =>
        (ct, n, so, sc, boundsRefused)
      }.toDF("_change_type", "n", "sum_okey", "sum_cents",
        "bounds_refused")
        .orderBy("_change_type")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q345Sql: String =
    """WITH base AS (SELECT o_orderkey AS okey, o_totalprice AS price
                     FROM orders WHERE o_orderkey % 4 = 0),
            c AS (SELECT max(okey) // 2 AS cut FROM base),
            upd AS (SELECT okey, price FROM base, c
                    WHERE okey % 20 = 0 AND okey <= cut),
            del AS (SELECT okey, price FROM base, c WHERE okey > cut)
       SELECT * FROM (
         SELECT 'delete' AS _change_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(okey) AS BIGINT) AS sum_okey,
                CAST(sum(CAST(round(price * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                TRUE AS bounds_refused FROM del
         UNION ALL
         SELECT 'update_preimage',
                CAST(count(*) AS BIGINT),
                CAST(sum(okey) AS BIGINT),
                CAST(sum(CAST(round(price * 100) AS BIGINT))
                     AS BIGINT),
                TRUE FROM upd
         UNION ALL
         SELECT 'update_postimage',
                CAST(count(*) AS BIGINT),
                CAST(sum(okey) AS BIGINT),
                CAST(sum(CAST(round((price + 1000.0) * 100) AS BIGINT))
                     AS BIGINT),
                TRUE FROM upd)
       ORDER BY _change_type"""

  /** SQL `UPDATE` through the catalog
    * ([[graft.sources.GraftRowLevelOperation]] — Spark's
    * `SupportsDelta` rewrite over the deletion-vector engine): the
    * statement plans as MERGE-ON-READ — deletion vectors mark the
    * matched rows' positions, ONE appended file family carries the
    * post-update rows, one commit publishes both. Pinned in-query:
    * every pre-existing live data file is byte-identical after the
    * UPDATE (size+mtime), `#dv` records exist, new files were
    * appended, and exactly one generation was committed. */
  def q346SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q346_")
      .toString
    val cat = s"gq346c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, qty BIGINT) " +
        "USING graft")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 97).cast("long").as("qty"))
        .createOrReplaceTempView("q346_src")
      try {
        s.sql(s"INSERT INTO $cat.db.d SELECT * FROM q346_src")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val before = CommitLog.ensureLoggedAt(fs, hp)._2.map { r =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(hp, r))
          r -> (st.getLen, st.getModificationTime)
        }.toMap
        val genBefore = CommitLog.committed(fs, hp).get._1
        s.sql(s"UPDATE $cat.db.d SET qty = qty + 100000 " +
          "WHERE okey % 10 = 3")
        val liveAfter = CommitLog.ensureLoggedAt(fs, hp)._2
        val morNoRewrite = before.forall { case (r, stamp) =>
          liveAfter.contains(r) && {
            val st = fs.getFileStatus(
              new org.apache.hadoop.fs.Path(hp, r))
            (st.getLen, st.getModificationTime) == stamp
          }
        } && CommitLog.latestSnapshot(fs, hp).get._2.dvs.nonEmpty &&
          liveAfter.exists(f => !before.contains(f))
        val oneCommit =
          CommitLog.committed(fs, hp).get._1 == genBefore + 1
        val r = s.sql(
          s"""SELECT CAST(count(*) AS BIGINT),
                     CAST(sum(CASE WHEN qty >= 100000 THEN 1
                              ELSE 0 END) AS BIGINT),
                     CAST(sum(qty) AS BIGINT)
              FROM $cat.db.d""").head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2),
          morNoRewrite, oneCommit))
          .toDF("rows_total", "updated_rows", "sum_qty",
            "mor_no_rewrite", "one_commit")
      } finally s.catalog.dropTempView("q346_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q346Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS rows_total,
              CAST(sum(CASE WHEN o_orderkey % 10 = 3 THEN 1 ELSE 0
                       END) AS BIGINT) AS updated_rows,
              CAST(sum(o_orderkey % 97 +
                       CASE WHEN o_orderkey % 10 = 3 THEN 100000
                            ELSE 0 END) AS BIGINT) AS sum_qty,
              TRUE AS mor_no_rewrite,
              TRUE AS one_commit
       FROM orders"""

  /** SQL `MERGE INTO` through the catalog (same `SupportsDelta`
    * rewrite, the reference's own sink verb —
    * `/root/reference/dags/idh_etl.py:247-256` is a MERGE): matched
    * rows update via deletion vectors + appended post-image rows,
    * NOT MATCHED rows insert — all in ONE merge-on-read commit, no
    * pre-existing data file rewritten. Pinned in-query like q346. */
  def q347SqlMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q347_")
      .toString
    val cat = s"gq347c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, qty BIGINT) " +
        "USING graft")
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 97).cast("long").as("qty"))
        .createOrReplaceTempView("q347_tgt")
      orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 89 + 500000).cast("long").as("qty"))
        .createOrReplaceTempView("q347_upd")
      try {
        s.sql(s"INSERT INTO $cat.db.d SELECT * FROM q347_tgt")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val before = CommitLog.ensureLoggedAt(fs, hp)._2.map { r =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(hp, r))
          r -> (st.getLen, st.getModificationTime)
        }.toMap
        val genBefore = CommitLog.committed(fs, hp).get._1
        s.sql(
          s"""MERGE INTO $cat.db.d t USING q347_upd s ON t.okey = s.okey
              WHEN MATCHED THEN UPDATE SET t.qty = s.qty
              WHEN NOT MATCHED THEN INSERT (okey, qty)
                VALUES (s.okey, s.qty)""")
        val liveAfter = CommitLog.ensureLoggedAt(fs, hp)._2
        val morNoRewrite = before.forall { case (r, stamp) =>
          liveAfter.contains(r) && {
            val st = fs.getFileStatus(
              new org.apache.hadoop.fs.Path(hp, r))
            (st.getLen, st.getModificationTime) == stamp
          }
        } && CommitLog.latestSnapshot(fs, hp).get._2.dvs.nonEmpty
        val oneCommit =
          CommitLog.committed(fs, hp).get._1 == genBefore + 1
        val r = s.sql(
          s"""SELECT CAST(count(*) AS BIGINT),
                     CAST(sum(qty) AS BIGINT),
                     CAST(sum(CASE WHEN qty >= 500000 THEN 1
                              ELSE 0 END) AS BIGINT)
              FROM $cat.db.d""").head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2),
          morNoRewrite, oneCommit))
          .toDF("rows_total", "sum_qty", "merged_rows",
            "mor_no_rewrite", "one_commit")
      } finally {
        s.catalog.dropTempView("q347_tgt")
        s.catalog.dropTempView("q347_upd")
      }
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q347Sql: String =
    """WITH tgt AS (SELECT o_orderkey AS okey, o_orderkey % 97 AS qty
                    FROM orders WHERE o_orderkey % 2 = 0),
            upd AS (SELECT o_orderkey AS okey,
                           o_orderkey % 89 + 500000 AS qty
                    FROM orders WHERE o_orderkey % 3 = 0),
            merged AS (SELECT COALESCE(u.okey, t.okey) AS okey,
                              COALESCE(u.qty, t.qty) AS qty
                       FROM tgt t FULL OUTER JOIN upd u
                         ON t.okey = u.okey)
       SELECT CAST(count(*) AS BIGINT) AS rows_total,
              CAST(sum(qty) AS BIGINT) AS sum_qty,
              CAST(sum(CASE WHEN qty >= 500000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS merged_rows,
              TRUE AS mor_no_rewrite,
              TRUE AS one_commit
       FROM merged"""

  /** SQL-only table maintenance ([[graft.sources.GraftProcedures]] —
    * `CALL <cat>.system.<proc>`, Iceberg's stored-procedure
    * pattern): a consumer that created, filled and DML'd its table
    * in SQL pays down the resulting debt in SQL too —
    * `apply_deletes` folds the DELETE's deletion vectors into clean
    * files, `optimize` bin-packs the small insert batches, `expire` +
    * `vacuum` reclaim the replaced bytes — no operator API in the
    * consumer's hands. Pinned in-query: DV records are gone after
    * apply_deletes, optimize lands exactly one file, and the rows
    * survive every step byte-for-byte. */
  def q348SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q348_")
      .toString
    val cat = s"gq348c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, qty BIGINT) " +
        "USING graft")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 97).cast("long").as("qty"))
        .createOrReplaceTempView("q348_src")
      try {
        // three small appends → fragmented layout with DV debt
        s.sql(s"INSERT INTO $cat.db.d " +
          "SELECT * FROM q348_src WHERE okey % 3 = 0")
        s.sql(s"INSERT INTO $cat.db.d " +
          "SELECT * FROM q348_src WHERE okey % 3 = 1")
        s.sql(s"INSERT INTO $cat.db.d " +
          "SELECT * FROM q348_src WHERE okey % 3 = 2")
        val cut = s.table(s"$cat.db.d").agg(max("okey"))
          .head.getLong(0) / 2
        s.sql(s"DELETE FROM $cat.db.d WHERE okey > $cut")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def dvs() = CommitLog.latestSnapshot(fs, hp).get._2.dvs
        val hadDvs = dvs().nonEmpty
        s.sql(s"CALL $cat.system.apply_deletes('db.d')")
        val dvsGone = dvs().isEmpty
        // explicit 1 GiB target so the one-file pin holds at ANY
        // driver SF (the 128 MB default would legitimately bin-pack
        // a big enough table into several files)
        s.sql(s"CALL $cat.system.optimize('db.d', ${1L << 30})")
        val oneFile = CommitLog.ensureLoggedAt(fs, hp)._2.size == 1
        s.sql(s"CALL $cat.system.expire('db.d', 1)")
        // horizon 0: reclaim immediately — sound in-query because the
        // sink is quiesced (this statement is its only writer)
        s.sql(s"CALL $cat.system.vacuum('db.d', 0)")
        val r = s.sql(
          s"""SELECT CAST(count(*) AS BIGINT),
                     CAST(sum(qty) AS BIGINT)
              FROM $cat.db.d""").head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1),
          hadDvs && dvsGone, oneFile))
          .toDF("rows_after", "sum_qty", "dv_debt_paid",
            "optimized_to_one_file")
      } finally s.catalog.dropTempView("q348_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q348Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS rows_after,
              CAST(sum(o_orderkey % 97) AS BIGINT) AS sum_qty,
              TRUE AS dv_debt_paid,
              TRUE AS optimized_to_one_file
       FROM orders
       WHERE o_orderkey <=
             (SELECT max(o_orderkey) // 2 FROM orders)"""

  /** SQL `INSERT OVERWRITE ... PARTITION (seg='b')` — the static
    * partition re-statement ([[graft.sources.GraftWriteBuilder]]
    * `SupportsOverwrite`): ONE commit swaps exactly the named
    * region's directories for the re-stated batch; untouched
    * partitions carry over byte-identical with their records, and
    * the replaced region stays time-travel readable. Pinned
    * in-query: the non-overwritten partitions' file stamps are
    * unchanged and exactly one generation committed. */
  def q349InsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q349_")
      .toString
    val cat = s"gq349c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, qty BIGINT, " +
        "seg STRING) USING graft PARTITIONED BY (seg)")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 97).cast("long").as("qty"),
          element_at(array(lit("a"), lit("b"), lit("c")),
            (col("o_orderkey") % 3 + 1).cast("int")).as("seg"))
        .createOrReplaceTempView("q349_src")
      try {
        s.sql(s"INSERT INTO $cat.db.d SELECT * FROM q349_src")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        def stamps() = CommitLog.ensureLoggedAt(fs, hp)._2
          .filterNot(_.startsWith("seg=b/")).map { r =>
            val st = fs.getFileStatus(
              new org.apache.hadoop.fs.Path(hp, r))
            r -> (st.getLen, st.getModificationTime)
          }.toMap
        val before = stamps()
        val genBefore = CommitLog.committed(fs, hp).get._1
        // re-state segment b: drop the %7 keys, recompute qty
        s.sql(
          s"""INSERT OVERWRITE $cat.db.d PARTITION (seg='b')
              SELECT okey, okey % 89 + 1000 AS qty FROM q349_src
              WHERE seg = 'b' AND okey % 7 <> 0""")
        val untouched = stamps() == before
        val oneCommit =
          CommitLog.committed(fs, hp).get._1 == genBefore + 1
        val rows = s.sql(
          s"""SELECT seg, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(qty) AS BIGINT) AS sum_qty
              FROM $cat.db.d GROUP BY seg""").collect()
        import s.implicits._
        rows.toSeq.map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), untouched, oneCommit))
          .toDF("seg", "n", "sum_qty", "untouched_intact",
            "one_commit")
          .orderBy("seg")
      } finally s.catalog.dropTempView("q349_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q349Sql: String =
    """WITH base AS (SELECT o_orderkey AS okey,
                            o_orderkey % 97 AS qty,
                            CASE CAST(o_orderkey % 3 AS INT)
                              WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                              ELSE 'c' END AS seg
                     FROM orders),
            restated AS (SELECT okey, okey % 89 + 1000 AS qty,
                                'b' AS seg
                         FROM base
                         WHERE seg = 'b' AND okey % 7 <> 0),
            fin AS (SELECT * FROM base WHERE seg <> 'b'
                    UNION ALL SELECT * FROM restated)
       SELECT seg, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(qty) AS BIGINT) AS sum_qty,
              TRUE AS untouched_intact,
              TRUE AS one_commit
       FROM fin GROUP BY seg ORDER BY seg"""

  /** SQL `ALTER TABLE ADD COLUMNS` as METADATA-ONLY additive
    * evolution ([[graft.operators.SchemaEvolve.addColumn]] through
    * [[graft.sources.GraftCatalog]] — the highest-frequency schema
    * change a long-lived table sees; Delta/Iceberg both ship it
    * metadata-only): one commit adds the columns, ZERO data files are
    * rewritten (pinned byte-identical by size+mtime), every pre-ADD
    * row reads a typed NULL, the write guard requires post-ADD
    * inserts to carry values, and the `#stats` family is untouched
    * (pruning keeps working with no re-analyze). All pins are emitted
    * as result columns the oracle hash-checks. */
  def q350AddColumns(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q350_")
      .toString
    val cat = s"gq350c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.d (okey BIGINT, qty BIGINT) " +
        "USING graft")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          (col("o_orderkey") % 97).cast("long").as("qty"))
        .createOrReplaceTempView("q350_src")
      try {
        s.sql(s"INSERT INTO $cat.db.d " +
          "SELECT * FROM q350_src WHERE okey % 2 = 0")
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        // stats coverage declared BEFORE the ADD — must survive it
        s.sql(s"CALL $cat.system.analyze('db.d', 'okey')")
        def stats() = CommitLog.latestSnapshot(fs, hp).get._2.stats
        val statsBefore = stats()
        def footprint() = CommitLog.ensureLoggedAt(fs, hp)._2.sorted
          .map { r =>
            val st = fs.getFileStatus(
              new org.apache.hadoop.fs.Path(hp, r))
            (r, st.getLen, st.getModificationTime)
          }
        val before = footprint()
        val oldRows = s.table(s"$cat.db.d").count()
        val genBefore = CommitLog.committed(fs, hp).get._1
        s.sql(s"ALTER TABLE $cat.db.d " +
          "ADD COLUMNS (flag STRING, bonus BIGINT)")
        val byteIdentical = footprint() == before
        val oneCommit =
          CommitLog.committed(fs, hp).get._1 == genBefore + 1
        val statsIntact = stats() == statsBefore
        val oldRowsNull = s.table(s"$cat.db.d")
          .filter(col("flag").isNull && col("bonus").isNull)
          .count() == oldRows
        // post-ADD inserts must carry the new columns (the write
        // guard refuses a 2-column batch now) — fill the other half
        s.sql(s"INSERT INTO $cat.db.d " +
          "SELECT okey, qty, 'new', okey % 7 FROM q350_src " +
          "WHERE okey % 2 = 1")
        val r = s.sql(
          s"""SELECT COALESCE(flag, 'old') AS grp,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(qty) AS BIGINT) AS sum_qty,
                     CAST(sum(COALESCE(bonus, 0)) AS BIGINT)
                       AS sum_bonus
              FROM $cat.db.d GROUP BY 1""").collect()
        import s.implicits._
        r.toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2),
            x.getLong(3), byteIdentical, oneCommit, statsIntact,
            oldRowsNull))
          .toDF("grp", "n", "sum_qty", "sum_bonus", "byte_identical",
            "one_commit", "stats_intact", "old_rows_null")
          .orderBy("grp")
      } finally s.catalog.dropTempView("q350_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q350Sql: String =
    """WITH base AS (SELECT o_orderkey AS okey,
                            o_orderkey % 97 AS qty,
                            CAST(NULL AS VARCHAR) AS flag,
                            CAST(NULL AS BIGINT) AS bonus
                     FROM orders WHERE o_orderkey % 2 = 0),
            added AS (SELECT o_orderkey, o_orderkey % 97, 'new',
                             o_orderkey % 7
                      FROM orders WHERE o_orderkey % 2 = 1),
            fin AS (SELECT * FROM base UNION ALL SELECT * FROM added)
       SELECT COALESCE(flag, 'old') AS grp,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(qty) AS BIGINT) AS sum_qty,
              CAST(sum(COALESCE(bonus, 0)) AS BIGINT) AS sum_bonus,
              TRUE AS byte_identical, TRUE AS one_commit,
              TRUE AS stats_intact, TRUE AS old_rows_null
       FROM fin GROUP BY 1 ORDER BY grp"""

  /** ATOMIC CTAS / RTAS ([[graft.sources.GraftCatalog]]'s
    * `StagingTableCatalog` face — Iceberg ships the same SPI): the
    * CTAS query writes into a hidden staged directory that only
    * becomes the table on commit, so a mid-query failure strands
    * NOTHING (pinned: a raise_error CTAS leaves no table), and
    * `REPLACE TABLE ... AS SELECT` swaps schema+rows in ONE commit
    * on the existing log with the replaced snapshot still
    * time-travel readable (pinned). A failing RTAS leaves the
    * original intact (pinned). Result = the final table's rollup,
    * hash-checked against the oracle's recompute. */
  def q351ReplaceTable(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q351_")
      .toString
    val cat = s"gq351c${q341Seq.incrementAndGet()}"
    try {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE NAMESPACE $cat.db")
      t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .createOrReplaceTempView("q351_src")
      try {
        // failing CTAS strands nothing
        val ctasFailed =
          try {
            s.sql(s"CREATE TABLE $cat.db.d USING graft AS " +
              "SELECT okey, CASE WHEN okey >= 0 THEN " +
              "raise_error('q351 mid-query') ELSE 'x' END AS c " +
              "FROM q351_src")
            false
          } catch { case _: Exception => true }
        val hp = new org.apache.hadoop.fs.Path(s"$root/db/d")
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        val nothingStranded = ctasFailed && !fs.exists(hp) &&
          s.sql(s"SHOW TABLES IN $cat.db").collect().isEmpty
        // real CTAS, then RTAS re-declares schema AND rows
        s.sql(s"CREATE TABLE $cat.db.d USING graft AS " +
          "SELECT okey, price FROM q351_src WHERE okey % 2 = 0")
        val genBefore = CommitLog.committed(fs, hp).get._1
        val rowsBefore = s.table(s"$cat.db.d").count()
        s.sql(s"REPLACE TABLE $cat.db.d USING graft AS " +
          "SELECT prio, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(okey) AS BIGINT) AS sum_okey " +
          "FROM q351_src WHERE okey % 3 = 0 GROUP BY prio")
        val oneCommit =
          CommitLog.committed(fs, hp).get._1 == genBefore + 1
        val oldReadable = s.sql(
          s"SELECT CAST(count(*) AS BIGINT) FROM $cat.db.d " +
            s"VERSION AS OF $genBefore").head.getLong(0) == rowsBefore
        // a failing RTAS leaves the replacement intact
        val rtasFailed =
          try {
            s.sql(s"REPLACE TABLE $cat.db.d USING graft AS " +
              "SELECT raise_error('q351 rtas') AS only")
            false
          } catch { case _: Exception => true }
        val intact = rtasFailed &&
          s.table(s"$cat.db.d").columns.toSeq ==
            Seq("prio", "n", "sum_okey")
        val r = s.table(s"$cat.db.d").collect()
          .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
        import s.implicits._
        r.toSeq.map { case (p, n, so) =>
          (p, n, so, nothingStranded, oneCommit, oldReadable, intact)
        }.toDF("prio", "n", "sum_okey", "ctas_atomic",
          "rtas_one_commit", "old_readable", "failed_rtas_intact")
          .orderBy("prio")
      } finally s.catalog.dropTempView("q351_src")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q351Sql: String =
    """SELECT o_orderpriority AS prio,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
              TRUE AS ctas_atomic, TRUE AS rtas_one_commit,
              TRUE AS old_readable, TRUE AS failed_rtas_intact
       FROM orders WHERE o_orderkey % 3 = 0
       GROUP BY 1 ORDER BY 1"""

  // --- q352: metadata-only aggregate pushdown --------------------------
  /** METADATA-ANSWERED aggregates over the V2 surface
    * ([[graft.sources.GraftMetaAgg]] behind
    * `SupportsPushDownAggregates`): lineitem lands hive-partitioned
    * by `l_returnflag`, is ANALYZEd, and partition A takes a
    * merge-on-read DV delete — then
    *
    *   - the GLOBAL `count(*)` pushes completely (visible rows =
    *     `#stats` raw rows − `#dv` cardinality, DV-tolerant);
    *   - the PER-PARTITION `GROUP BY l_returnflag` counts push (path
    *     values are the group keys);
    *   - aggregates under the partition-EXACT predicate
    *     `l_returnflag = 'N'` push (the layout enforces the filter
    *     for every kept file, so zero residual Filter blocks the
    *     aggregate), including min/max decoded bit-exact from
    *     `#stats` bounds and SUM from the exact per-file sum field
    *     (clean files only);
    *   - a DATA-column predicate, and min/sum over the DV'd table,
    *     correctly REFUSE pushdown and fall back to the scan.
    *
    * Every pushed/not-pushed decision is pinned in-query by
    * pattern-matching the physical plan against
    * [[graft.sources.GraftAggInfo]]; every value is hash-compared to
    * the oracle's recompute from raw lineitem. At 100 TB each pushed
    * aggregate is driver-side manifest arithmetic — a count over
    * billions of rows with zero data I/O, Delta's metadata-only
    * count generalized to grouped and partition-filtered shapes. */
  def q352MetaAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q352_")
      .toString
    val sink = s"$root/t"
    try {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate"))
        .repartition(4)
        .write.partitionBy("l_returnflag").parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      TableStats.analyze(s, sink, Seq("l_orderkey", "l_quantity",
        "l_extendedprice", "l_shipdate"))
      DeleteVectors.deleteWhere(s, sink,
        col("l_returnflag") === "A" && col("l_orderkey") % 10 < 3)
      def read = s.read.format("graft").load(sink)
      def pushedTo(df: DataFrame): Boolean = {
        val plan = df.queryExecution.executedPlan
        (plan +: plan.collectLeaves()).exists {
          case r: org.apache.spark.sql.execution
            .RowDataSourceScanExec =>
            r.relation.isInstanceOf[graft.sources.GraftAggInfo]
          case _ => false
        }
      }
      // global count over the DV'd table: pushed, DV-exact
      val cdf = read.agg(count(lit(1)).as("total_n"))
      val totalPushed = pushedTo(cdf)
      val totalN = cdf.head.getLong(0)
      // per-partition counts: pushed, group keys from the path
      val gdf = read.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_flag"))
      val groupPushed = pushedTo(gdf)
      val groups = gdf.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      // partition-exact predicate: aggregate pushes BELOW the filter
      val cl = read.filter(col("l_returnflag") === "N")
        .agg(count(lit(1)).as("clean_n"),
          min("l_orderkey").as("cmin_okey"),
          max("l_orderkey").as("cmax_okey"),
          min("l_shipdate").as("cmin_ship"),
          max("l_shipdate").as("cmax_ship"),
          sum("l_orderkey").as("csum_okey"))
      val cleanPushed = pushedTo(cl)
      val clRow = cl.head
      // a data-column predicate blocks pushdown; scan stays correct
      val fdf = read.filter(col("l_orderkey") <= 1000)
        .agg(count(lit(1)).as("filt_n"))
      val filtNotPushed = !pushedTo(fdf)
      val filtN = fdf.head.getLong(0)
      // min/sum over a table with unapplied deletes refuse (a deleted
      // row could be the extremum / part of the raw sum); scan answers
      val mdf = read.agg(min("l_quantity").cast("bigint").as("min_qty"),
        sum("l_orderkey").as("total_sum_okey"))
      val minNotPushed = !pushedTo(mdf)
      val mRow = mdf.head
      import s.implicits._
      groups.map { case (flag, nFlag) =>
        (flag, nFlag, totalN, clRow.getLong(0), clRow.getLong(1),
          clRow.getLong(2), clRow.getTimestamp(3), clRow.getTimestamp(4),
          clRow.getLong(5), filtN, mRow.getLong(0), mRow.getLong(1),
          totalPushed && groupPushed && cleanPushed,
          filtNotPushed && minNotPushed)
      }.toDF("l_returnflag", "n_flag", "total_n", "clean_n",
        "cmin_okey", "cmax_okey", "cmin_ship", "cmax_ship",
        "csum_okey", "filt_n", "min_qty", "total_sum_okey",
        "meta_pushed", "fallback_refused")
        .orderBy("l_returnflag")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q352Sql: String =
    """WITH live AS (SELECT * FROM lineitem
                     WHERE l_orderkey % 4 = 0
                       AND NOT (l_returnflag = 'A'
                                AND l_orderkey % 10 < 3)),
            g AS (SELECT l_returnflag,
                         CAST(count(*) AS BIGINT) AS n_flag
                  FROM live GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS total_n
                    FROM live),
            cl AS (SELECT CAST(count(*) AS BIGINT) AS clean_n,
                          CAST(min(l_orderkey) AS BIGINT) AS cmin_okey,
                          CAST(max(l_orderkey) AS BIGINT) AS cmax_okey,
                          min(l_shipdate) AS cmin_ship,
                          max(l_shipdate) AS cmax_ship,
                          CAST(sum(l_orderkey) AS BIGINT) AS csum_okey
                   FROM live WHERE l_returnflag = 'N'),
            f AS (SELECT CAST(count(*) AS BIGINT) AS filt_n
                  FROM live WHERE l_orderkey <= 1000),
            mq AS (SELECT CAST(min(l_quantity) AS BIGINT) AS min_qty,
                          CAST(sum(l_orderkey) AS BIGINT)
                            AS total_sum_okey
                   FROM live)
       SELECT g.l_returnflag, g.n_flag, tot.total_n, cl.clean_n,
              cl.cmin_okey, cl.cmax_okey, cl.cmin_ship, cl.cmax_ship,
              cl.csum_okey, f.filt_n, mq.min_qty, mq.total_sum_okey,
              TRUE AS meta_pushed, TRUE AS fallback_refused
       FROM g, tot, cl, f, mq ORDER BY 1"""

  // --- q353: snapshot tags (immutable refs) -----------------------------
  /** SNAPSHOT TAGS ([[graft.operators.CommitLog.createTag]] — Iceberg
    * refs, the immutable kind): a `#meta ref.tag.<name>` record pins a
    * name to a committed generation. The query builds three
    * generations of `orders` thirds, tags the FIRST, expires to
    * keep-last-1 — and pins that the tagged generation SURVIVES
    * retention (its manifest is skipped by expire; vacuum keeps its
    * files because liveness derives from retained manifests), reads
    * it back by NAME (`versionAsOf = 'audit'` ≡ the pinned
    * generation), then drops the tag and expires again — now the
    * generation goes. The tag-read aggregates and the head aggregates
    * are both oracle-checked from orders arithmetic; the
    * survive/expire lifecycle rides as boolean pins. At 100 TB a tag
    * is the auditable "the Q3 training run read THIS" handle:
    * one metadata commit, zero data motion, retention-proof until
    * explicitly released. */
  def q353SnapshotTags(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q353_")
      .toString
    val sink = s"$root/t"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def third(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
      third(0).coalesce(2).write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      val g0 = CommitLog.generations(fs, hp).last
      CommitLog.createTag(fs, hp, "audit", None) // pins g0
      def append(r: Int): Unit = third(r).coalesce(2)
        .write.format("graft").mode("append")
        .option("path", sink).save()
      append(1); append(2)
      CommitLog.expireGenerations(fs, hp, 1)
      val survived = CommitLog.generations(fs, hp).contains(g0) &&
        CommitLog.resolveTag(fs, hp, "audit") == g0
      val tagged = s.read.format("graft")
        .option("versionAsOf", "audit").load(sink)
        .agg(count(lit(1)).cast("long").as("tag_n"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("tag_cents")).head
      val head = CommitLog.read(s, sink)
        .agg(count(lit(1)).cast("long").as("head_n"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("head_cents")).head
      CommitLog.dropTag(fs, hp, "audit")
      CommitLog.expireGenerations(fs, hp, 1)
      val expired = !CommitLog.generations(fs, hp).contains(g0) &&
        CommitLog.tags(fs, hp).isEmpty
      import s.implicits._
      Seq((tagged.getLong(0), tagged.getLong(1), head.getLong(0),
        head.getLong(1), survived, expired))
        .toDF("tag_n", "tag_cents", "head_n", "head_cents",
          "tag_survived_expire", "untagged_expired")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q353Sql: String =
    """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 = 0) AS tag_n,
              (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) FROM orders
               WHERE o_orderkey % 3 = 0) AS tag_cents,
              (SELECT CAST(count(*) AS BIGINT) FROM orders) AS head_n,
              (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) FROM orders) AS head_cents,
              TRUE AS tag_survived_expire,
              TRUE AS untagged_expired"""

  // --- q357: committed ANN index (#ann sidecars) -----------------------
  /** COMMITTED ANN INDEX ([[graft.operators.AnnIndex]] — `#ann`
    * records + `#meta ann.<col>.centroids`): the q67 IVF lineage
    * promoted to a table-format citizen. The query stages two thirds
    * of `embeddings` as a graft sink, BUILDS the index (k-means
    * centroids trained once, per-file cell-assignment postings,
    * one commit), appends the last third and CATCHES UP (only the
    * new files index; the committed centroids are reused verbatim —
    * pinned by the unchanged sidecar path), DV-deletes a slice, and
    * probes — pinning in-query that the indexed top-k equals the
    * inline [[graft.operators.Similarity.ivfTopKWith]] recompute
    * with the same centroids (DV'd rows excluded by both). The
    * emitted rows are the indexed probe's (qid, did, cosine, rank),
    * oracle-recomputed by DuckDB running the full integer k-means +
    * IVF pipeline in SQL (training on the build-time subset, probing
    * the visible corpus). At 100 TB: train once, catch up per
    * append batch at cost ∝ new files, serve every query from
    * committed postings — never retrain per query lineage. */
  def q357AnnIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AnnIndex, CommitLog, DeleteVectors,
      Similarity}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q357_")
      .toString
    val sink = s"$root/t"
    try {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding"))
      emb.filter(col("vec_id") % 3 =!= 2).repartition(3)
        .write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      val filesBefore = CommitLog.ensureLoggedAt(fs, hp)._2.size
      AnnIndex.build(s, sink, numCentroids = 8, iters = 2)
      def centroids() = CommitLog.latestSnapshot(fs, hp).get._2
        .meta("ann.embedding.centroids")
      val centRel = centroids()
      // append + catch-up: only the new files index, centroids reused
      emb.filter(col("vec_id") % 3 === 2).repartition(2)
        .write.format("graft").mode("append")
        .option("path", sink).save()
      val newFiles =
        CommitLog.ensureLoggedAt(fs, hp)._2.size - filesBefore
      val n2 = AnnIndex.build(s, sink, numCentroids = 8, iters = 2)
      val trainedOnce = centroids() == centRel
      val catchupIncremental = n2 == newFiles.toLong
      DeleteVectors.deleteWhere(s, sink, col("vec_id") % 7 === 0)
      val queries = emb.filter(col("vec_id") < 10)
      val indexed = AnnIndex.topK(s, sink, queries, nProbe = 2, k = 3)
      val inline = Similarity.ivfTopKWith(queries,
        CommitLog.read(s, sink)
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding")),
        s.read.parquet(new org.apache.hadoop.fs.Path(hp, centRel)
          .toString),
        nProbe = 2, k = 3)
      def keyOf(df: DataFrame) = df.select(
        col("qid").cast("long"), col("did").cast("long"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val equalsInline = keyOf(indexed) == keyOf(inline)
      // materialize BEFORE the finally deletes the fixture — the
      // returned frame must not read the sink lazily
      val rows = indexed
        .select(col("qid").cast("long"), col("did").cast("long"),
          col("cosine"), col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3)))
        .toSeq
      import s.implicits._
      rows.map { case (q, d, c, rk) =>
        (q, d, c, rk, trainedOnce, catchupIncremental, equalsInline)
      }.toDF("qid", "did", "cosine", "rank", "trained_once",
        "catchup_incremental", "indexed_equals_inline")
        .orderBy("qid", "rank")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q357Sql: String =
    """WITH v AS (
         SELECT vec_id,
                [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                 for x in embedding] AS e
         FROM embeddings),
       n AS (SELECT vec_id, e, list_sum([y * y for y in e]) AS nn FROM v),
       nt AS (SELECT * FROM n WHERE vec_id % 3 <> 2),
       nv AS (SELECT * FROM n WHERE vec_id % 7 <> 0),
       c0 AS (SELECT vec_id AS cid, e AS ce, nn AS cn FROM nt
              ORDER BY vec_id LIMIT 8),
       a1 AS (
         SELECT did, e, nn, cid FROM (
           SELECT d.vec_id AS did, d.e, d.nn, c.cid,
                  row_number() OVER (PARTITION BY d.vec_id ORDER BY
                    (CAST(list_sum([d.e[i] * c.ce[i]
                       for i in generate_series(1, len(d.e))]) AS DOUBLE) /
                     (sqrt(CAST(d.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))))
                    DESC, c.cid ASC) AS r
           FROM nt d CROSS JOIN c0 c) WHERE r = 1),
       m1 AS (
         SELECT cid, t.i AS dim, avg(e[t.i]) AS m
         FROM a1, unnest(generate_series(1, len(e))) AS t(i)
         GROUP BY cid, t.i),
       c1 AS (
         SELECT cid, ce, list_sum([y * y for y in ce]) AS cn FROM (
           SELECT cid, list(CAST(round(m) AS BIGINT) ORDER BY dim) AS ce
           FROM m1 GROUP BY cid)),
       a2 AS (
         SELECT did, e, nn, cid FROM (
           SELECT d.vec_id AS did, d.e, d.nn, c.cid,
                  row_number() OVER (PARTITION BY d.vec_id ORDER BY
                    (CAST(list_sum([d.e[i] * c.ce[i]
                       for i in generate_series(1, len(d.e))]) AS DOUBLE) /
                     (sqrt(CAST(d.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))))
                    DESC, c.cid ASC) AS r
           FROM nt d CROSS JOIN c1 c) WHERE r = 1),
       m2 AS (
         SELECT cid, t.i AS dim, avg(e[t.i]) AS m
         FROM a2, unnest(generate_series(1, len(e))) AS t(i)
         GROUP BY cid, t.i),
       c2 AS (
         SELECT cid, ce, list_sum([y * y for y in ce]) AS cn FROM (
           SELECT cid, list(CAST(round(m) AS BIGINT) ORDER BY dim) AS ce
           FROM m2 GROUP BY cid)),
       corpus_assign AS (
         SELECT did, cid FROM (
           SELECT d.vec_id AS did, c.cid,
                  row_number() OVER (PARTITION BY d.vec_id ORDER BY
                    (CAST(list_sum([d.e[i] * c.ce[i]
                       for i in generate_series(1, len(d.e))]) AS DOUBLE) /
                     (sqrt(CAST(d.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))))
                    DESC, c.cid ASC) AS crank
           FROM nv d CROSS JOIN c2 c)
         WHERE crank <= 1),
       probe_assign AS (
         SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    (CAST(list_sum([q.e[i] * c.ce[i]
                       for i in generate_series(1, len(q.e))]) AS DOUBLE) /
                     (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))))
                    DESC, c.cid ASC) AS crank
           FROM n q CROSS JOIN c2 c WHERE q.vec_id < 10)
         WHERE crank <= 2),
       scored AS (
         SELECT p.qid, a.did,
                CAST(list_sum([qn.e[i] * dn.e[i]
                       for i in generate_series(1, len(qn.e))]) AS DOUBLE) /
                  (sqrt(CAST(qn.nn AS DOUBLE)) * sqrt(CAST(dn.nn AS DOUBLE)))
                  AS cosine
         FROM probe_assign p
         JOIN corpus_assign a ON p.cid = a.cid
         JOIN n qn ON qn.vec_id = p.qid
         JOIN nv dn ON dn.vec_id = a.did),
       agg AS (SELECT qid, did, max(cosine) AS cosine FROM scored
               GROUP BY 1, 2),
       r AS (SELECT qid, did, cosine,
                    CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, did ASC) AS INTEGER) AS rank
             FROM agg)
       SELECT qid, did, cosine, rank,
              TRUE AS trained_once,
              TRUE AS catchup_incremental,
              TRUE AS indexed_equals_inline
       FROM r WHERE rank <= 3 ORDER BY qid, rank"""

  // --- q356: branch refs + write-audit-publish ------------------------
  /** WRITE-AUDIT-PUBLISH ([[graft.operators.CommitLog.createBranch]] /
    * `option("branch", …)` / [[graft.operators.CommitLog
    * .fastForward]] — Iceberg WAP branches): a risky batch stages on
    * a branch (its own manifest chain, full snapshot copy at create),
    * is audited there, and publishes to main in ONE CAS commit. The
    * query pins: main reads are UNCHANGED while the batch is staged
    * (the batch is visible through the branch read), a CHECK-violating
    * branch write refuses loudly, vacuum during the audit spares the
    * staged files, and fast_forward makes the batch visible atomically
    * (exactly one new main generation; pre-publish history intact).
    * All row values oracle-recomputed from orders. At 100 TB the
    * pattern is the training-data ingestion gate: stage a crawl
    * batch, run quality checks against the branch, publish or drop —
    * main never serves a half-audited batch. */
  def q356BranchWap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q356_")
      .toString
    val sink = s"$root/t"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      def third(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
      third(0).coalesce(2).write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      CommitLog.addCheck(s, sink, "key_pos", "o_orderkey >= 0")
      val mainGenBefore = CommitLog.committed(fs, hp).get._1
      CommitLog.createBranch(fs, hp, "wap")
      // stage the risky batch ON the branch
      third(1).coalesce(2).write.format("graft").mode("append")
        .option("path", sink).option("branch", "wap").save()
      def cnt(df: DataFrame) = df.count()
      val mainWhileStaged = cnt(CommitLog.read(s, sink))
      val branchN = cnt(s.read.format("graft")
        .option("branch", "wap").load(sink))
      val stagedInvisible =
        mainWhileStaged == cnt(third(0)) && branchN > mainWhileStaged
      // audit 1: a CHECK-violating write into the branch refuses
      val checkRefused =
        try {
          third(2).withColumn("o_orderkey", -col("o_orderkey") - 1)
            .write.format("graft").mode("append")
            .option("path", sink).option("branch", "wap").save()
          false
        } catch { case e: Exception =>
          e.getMessage.contains("key_pos")
        }
      // audit 2: maintenance during the audit spares staged files
      val vacuumSpared = CommitLog.vacuum(fs, hp) == 0L
      // publish: one CAS commit
      val newGen = CommitLog.fastForward(fs, hp, "wap")
      CommitLog.dropBranch(fs, hp, "wap")
      val publishedAtomic = newGen == mainGenBefore + 1 &&
        CommitLog.readAt(s, sink, mainGenBefore).count() ==
          mainWhileStaged
      val out = CommitLog.read(s, sink).agg(
        count(lit(1)).cast("long").as("head_n"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .as("head_cents"))
        .head
      import s.implicits._
      Seq((out.getLong(0), out.getLong(1), branchN,
        stagedInvisible, checkRefused && vacuumSpared,
        publishedAtomic))
        .toDF("head_n", "head_cents", "branch_n",
          "staged_invisible", "audit_enforced", "published_atomic")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q356Sql: String =
    """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 IN (0, 1)) AS head_n,
              (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) FROM orders
               WHERE o_orderkey % 3 IN (0, 1)) AS head_cents,
              (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 IN (0, 1)) AS branch_n,
              TRUE AS staged_invisible,
              TRUE AS audit_enforced,
              TRUE AS published_atomic"""

  // --- q355: PARTIAL aggregate pushdown (the hybrid tier) -------------
  /** HYBRID metadata aggregation ([[graft.sources.GraftMetaAgg
    * .tryPlanPartial]]): in round 13 a single DV'd file forfeited the
    * whole pushdown to a full scan; now the manifest answers the
    * clean files as precomputed partial rows, the execution-time scan
    * reads ONLY the dirty remainder, and Spark's final aggregate
    * merges the two. The query partitions an orders subset by
    * priority, ANALYZEs it, DV-deletes inside ONE priority — then
    * pins in-plan that
    *
    *   - global min/max/sum/count over the DV'd table pushes
    *     PARTIALLY (never completely), and `files_scanned` equals the
    *     DV'd-file count exactly — I/O ∝ dirty fraction, not table
    *     size;
    *   - the grouped form merges scan-side partials for the dirty
    *     priority with manifest-side rows for the clean ones;
    *   - a partition-exact filter that keeps only clean files still
    *     takes the COMPLETE (zero-I/O) tier.
    *
    * Every value hash-checks against the oracle's recompute. At
    * 100 TB: a count/min/max after a sparse merge-on-read delete
    * costs a few file reads instead of a full-table scan. */
  def q355PartialAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors, TableStats}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q355_")
      .toString
    val sink = s"$root/t"
    try {
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"))
        .repartition(2)
        .write.partitionBy("o_orderpriority").parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      TableStats.analyze(s, sink, Seq("o_orderkey", "o_custkey"))
      DeleteVectors.deleteWhere(s, sink,
        col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 10 === 0)
      val dirtyCount = CommitLog.latestSnapshot(fs, hp).get._2.dvs.size
      def read = s.read.format("graft").load(sink)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
        (p +: p.children.flatMap(nodes)) ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case _ => Nil
        })
      def partialOf(df: DataFrame)
      : Option[graft.sources.GraftPartialAggInfo] =
        nodes(df.queryExecution.executedPlan).collectFirst {
          case r: org.apache.spark.sql.execution
            .RowDataSourceScanExec
            if r.relation
              .isInstanceOf[graft.sources.GraftPartialAggInfo] =>
            r.relation.asInstanceOf[graft.sources.GraftPartialAggInfo]
        }
      def completeOf(df: DataFrame): Boolean =
        nodes(df.queryExecution.executedPlan).exists {
          case r: org.apache.spark.sql.execution
            .RowDataSourceScanExec =>
            r.relation.isInstanceOf[graft.sources.GraftAggInfo]
          case _ => false
        }
      // global aggregates over the DV'd table: partial, exact I/O pin
      val g = read.agg(count(lit(1)).as("total_n"),
        min("o_orderkey").as("min_okey"),
        max("o_orderkey").as("max_okey"),
        sum("o_orderkey").as("sum_okey"))
      val gInfo = partialOf(g)
      val partialPushed = gInfo.isDefined && !completeOf(g)
      val scanExact = gInfo.exists(_.scannedFileCount == dirtyCount)
      val gRow = g.head
      // grouped: dirty priority from the scan, clean ones from the
      // manifest
      val grouped = read.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_g"),
          sum(col("o_orderkey")).as("sum_g"))
      val groupedPartial = partialOf(grouped).isDefined
      val groups = grouped.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // all-clean subset stays on the COMPLETE (zero data I/O) tier
      val cleanDf = read.filter(col("o_orderpriority") === "2-HIGH")
        .agg(count(lit(1)).as("clean_n"))
      val cleanComplete = completeOf(cleanDf)
      val cleanN = cleanDf.head.getLong(0)
      import s.implicits._
      groups.map { case (prio, nG, sumG) =>
        (prio, nG, sumG, gRow.getLong(0), gRow.getLong(1),
          gRow.getLong(2), gRow.getLong(3), cleanN,
          partialPushed && groupedPartial, scanExact, cleanComplete)
      }.toDF("o_orderpriority", "n_g", "sum_g", "total_n",
        "min_okey", "max_okey", "sum_okey", "clean_n",
        "partial_pushed", "scan_exact", "clean_complete")
        .orderBy("o_orderpriority")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q355Sql: String =
    """WITH live AS (SELECT * FROM orders
                     WHERE o_orderkey % 2 = 0
                       AND NOT (o_orderpriority = '1-URGENT'
                                AND o_orderkey % 10 = 0)),
            g AS (SELECT o_orderpriority,
                         CAST(count(*) AS BIGINT) AS n_g,
                         CAST(sum(o_orderkey) AS BIGINT) AS sum_g
                  FROM live GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS total_n,
                           CAST(min(o_orderkey) AS BIGINT) AS min_okey,
                           CAST(max(o_orderkey) AS BIGINT) AS max_okey,
                           CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
                    FROM live),
            cl AS (SELECT CAST(count(*) AS BIGINT) AS clean_n
                   FROM live WHERE o_orderpriority = '2-HIGH')
       SELECT g.o_orderpriority, g.n_g, g.sum_g, tot.total_n,
              tot.min_okey, tot.max_okey, tot.sum_okey, cl.clean_n,
              TRUE AS partial_pushed, TRUE AS scan_exact,
              TRUE AS clean_complete
       FROM g, tot, cl ORDER BY 1"""

  // --- q354: rollback / RESTORE --------------------------------------
  /** ROLLBACK ([[graft.operators.CommitLog.rollbackTo]] — Delta
    * `RESTORE TABLE` / Iceberg `rollback_to_snapshot`, also exposed
    * as `CALL system.rollback(table, generation|tag)`): the verb an
    * operator reaches for after a bad write. The query stages the
    * good state (orders thirds ≡ 0), tags it, then corrupts the
    * table twice — a bad append (doubled prices) AND a merge-on-read
    * DV delete — and rolls back to the tag's generation. Pins:
    *
    *   - the restored head aggregates BYTE-identically to the
    *     pre-corruption state (count / cents / key-sum triple);
    *   - the rollback is one NEW metadata commit (head = corrupt+1),
    *     never a history rewind: the corrupted generation stays
    *     retained and time travel to it still reproduces the
    *     corrupted aggregates exactly;
    *   - the tag survives the rollback (refs ride the HEAD manifest).
    *
    * Zero data motion at any scale: the restore re-commits the old
    * manifest under the CAS — at 100 TB the cost is one small file
    * write, not a 100 TB copy-back. */
  def q354Rollback(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CommitLog, DeleteVectors}
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q354_")
      .toString
    val sink = s"$root/t"
    try {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .coalesce(2).write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      CommitLog.ensureLoggedAt(fs, hp)
      val gGood = CommitLog.generations(fs, hp).last
      CommitLog.createTag(fs, hp, "good", None)
      def agg3(df: DataFrame): (Long, Long, Long) = {
        val r = df.agg(count(lit(1)).cast("long"),
          sum(round(col("o_totalprice") * 100).cast("long")),
          sum(col("o_orderkey")).cast("long")).head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val goodAgg = agg3(CommitLog.read(s, sink))
      // corruption 1: a bad append lands doubled prices
      orders.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .coalesce(2).write.format("graft").mode("append")
        .option("path", sink).save()
      // corruption 2: a bad merge-on-read delete
      DeleteVectors.deleteWhere(s, sink, col("o_orderkey") % 5 === 0)
      val gCorrupt = CommitLog.generations(fs, hp).last
      val corruptAgg = agg3(CommitLog.read(s, sink))
      // restore the tagged snapshot as the NEW head
      val newHead = CommitLog.rollbackTo(fs, hp,
        CommitLog.resolveTag(fs, hp, "good"))
      val headAgg = agg3(CommitLog.read(s, sink))
      val restoredExact = headAgg == goodAgg
      val historyPreserved = newHead == gCorrupt + 1 &&
        CommitLog.generations(fs, hp).contains(gCorrupt) &&
        agg3(CommitLog.readAt(s, sink, gCorrupt)) == corruptAgg
      val tagSurvived = CommitLog.resolveTag(fs, hp, "good") == gGood
      import s.implicits._
      Seq((headAgg._1, headAgg._2, headAgg._3, corruptAgg._1,
        restoredExact, historyPreserved, tagSurvived))
        .toDF("head_n", "head_cents", "head_sum_okey", "corrupt_n",
          "restored_exact", "history_preserved", "tag_survived")
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q354Sql: String =
    """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 = 0) AS head_n,
              (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) FROM orders
               WHERE o_orderkey % 3 = 0) AS head_cents,
              (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 = 0) AS head_sum_okey,
              (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE o_orderkey % 3 IN (0, 1)
                 AND o_orderkey % 5 <> 0) AS corrupt_n,
              TRUE AS restored_exact,
              TRUE AS history_preserved,
              TRUE AS tag_survived"""

  // --- q358: storage-partitioned join over declared bucketing ---------
  /** Two graft tables created `PARTITIONED BY (bucket(16, key))`
    * ([[graft.operators.Bucketing]]): writers route every row to
    * `pmod(hash(key), 16)` and stamp the bucket id into the FILE
    * NAME; the scans then plan as native V2 batches reporting
    * `KeyGroupedPartitioning(bucket(16, key))`
    * ([[graft.sources.GraftBucketedScan]]), the catalog serves the
    * `bucket` function ([[graft.sources.GraftBucketFunction]]), and
    * Spark's storage-partitioned-join machinery joins AND aggregates
    * on the bucket key with ZERO shuffle exchanges — the fact-fact
    * join answer at 100 TB: pay one routed layout at ingest, then
    * keyed joins against the table move nothing (q128 proves the same
    * win on plain parquet `bucketBy`; this is the TABLE-FORMAT
    * citizen form, composing with commits, DVs, time travel and the
    * preserve-or-loudly-drop rewrite contract BucketedSpjSpec pins).
    * The report carries the revenue aggregate plus two plan pins:
    * `spj_zero_exchange` (no ShuffleExchange anywhere below the final
    * presentation sort) and `both_bucketed` (both sides planned the
    * bucketed V2 scan). The oracle is the plain join — the hash
    * compare proves the layout changed the plan, not the answer. */
  def q358BucketedSpj(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q358_")
      .toString
    val suffix = root.substring(root.lastIndexOf("graft_q358_") +
      "graft_q358_".length)
    val cat = s"gspj_$suffix"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" ->
        "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"CREATE TABLE $cat.db.li (l_orderkey BIGINT, " +
        "rev_c BIGINT) USING graft " +
        "PARTITIONED BY (bucket(16, l_orderkey))")
      s.sql(s"CREATE TABLE $cat.db.ord (o_orderkey BIGINT, " +
        "o_orderpriority STRING) USING graft " +
        "PARTITIONED BY (bucket(16, o_orderkey))")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), expr(
          "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) " +
            "AS BIGINT)").as("rev_c"))
        .writeTo(s"$cat.db.li").append()
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .writeTo(s"$cat.db.ord").append()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val joined = s.table(s"$cat.db.li")
        .join(s.table(s"$cat.db.ord"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderkey") % 100 === 0)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev_c")).as("rev_cents"))
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.children.flatMap(nodes)
      val plan = nodes(joined.queryExecution.executedPlan)
      val zeroExchange = !plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange
          .ShuffleExchangeExec])
      val bothBucketed = plan.count {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec =>
          b.scan.isInstanceOf[graft.sources.GraftBucketedScan]
        case _ => false
      } == 2
      val report = joined
        .withColumn("spj_zero_exchange", lit(zeroExchange))
        .withColumn("both_bucketed", lit(bothBucketed))
        .orderBy("o_orderkey")
      val rows = report.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        report.schema)
    } finally {
      olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      try {
        s.sql(s"DROP TABLE IF EXISTS $cat.db.li")
        s.sql(s"DROP TABLE IF EXISTS $cat.db.ord")
      } catch { case scala.util.control.NonFatal(_) => () }
      graft.io.Sources.deleteRecursively(root)
    }
  }

  val q358Sql: String =
    """SELECT o_orderkey, o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
              TRUE AS spj_zero_exchange,
              TRUE AS both_bucketed
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderkey % 100 = 0
       GROUP BY o_orderkey, o_orderpriority
       ORDER BY o_orderkey"""

  // --- q359: committed PQ ANN tier -------------------------------------
  /** The PQ tier of the committed ANN index
    * ([[graft.operators.AnnIndex.buildPq]]/`topKPq`): ONE shared
    * codebook + per-file code sidecars land as `#meta ann.*.pq` /
    * `#ann <phys>#pq` records, and serving is all-integer ADC from
    * the committed artifacts. The query pins EXACTNESS, not just
    * plausibility: with every cell probed and a codebook covering the
    * corpus, each slice has an exact codeword, so approx_dist IS the
    * exact integer squared L2 — which DuckDB computes independently
    * from the same parquet. An append lands between build and probe,
    * so the result ALSO pins hybrid serving (the appended file has no
    * committed codes; it inline-encodes against the committed
    * codebook and still ranks exactly). */
  def q359AnnPq(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q359_")
      .toString
    val sink = s"$root/t"
    try {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding"))
      // first tranche committed + PQ-indexed; second tranche appended
      // AFTER the build (hybrid serving covers it)
      emb.filter(col("vec_id") < 400).repartition(2)
        .write.parquet(sink)
      val hp = new org.apache.hadoop.fs.Path(sink)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.operators.CommitLog.ensureLoggedAt(fs, hp)
      graft.operators.AnnIndex.buildPq(s, sink,
        subspaces = 8, codebookSize = 512)
      val queries = emb.filter(col("vec_id") < 6)
      def serve() = graft.operators.AnnIndex.topKPq(s, sink, queries,
        nProbe = 16, k = 5)
        .select(col("qid").cast("long").as("qid"), col("did"),
          col("approx_dist"), col("rank"))
      // the EXACT anchor: full coverage, every cell probed,
      // corpus-covering codebook → approx_dist IS the squared L2
      val served = serve().orderBy("qid", "rank")
      val exactRows = served.collect()
      // hybrid pin: an append with NO committed codes must serve
      // IDENTICALLY to the committed codes the next build lands
      // (same codebook, deterministic encoding) — the appended
      // vectors' own distances are approximate (the codebook predates
      // them), so the invariant is inline ≡ committed, not exact-L2
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 480)
        .coalesce(1).write.format("graft").mode("append")
        .option("path", sink).save()
      def asSet(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
      val hybrid = asSet(serve().collect())
      graft.operators.AnnIndex.buildPq(s, sink,
        subspaces = 8, codebookSize = 512)
      val committed = asSet(serve().collect())
      val report = s.createDataFrame(
          java.util.Arrays.asList(exactRows: _*), served.schema)
        .withColumn("hybrid_consistent", lit(hybrid == committed))
      val rows = report.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        report.schema)
    } finally graft.io.Sources.deleteRecursively(root)
  }

  val q359Sql: String =
    """WITH v AS (
         SELECT vec_id,
                [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                 for x in embedding] AS e
         FROM embeddings WHERE vec_id < 400),
       n AS (SELECT vec_id, e, list_sum([y * y for y in e]) AS nn
             FROM v),
       p AS (
         SELECT q.vec_id AS qid, d.vec_id AS did,
                CAST(q.nn + d.nn - 2 * list_sum(
                  [q.e[i] * d.e[i]
                   for i in generate_series(1, len(q.e))]) AS BIGINT)
                  AS approx_dist
         FROM n q CROSS JOIN n d WHERE q.vec_id < 6),
       r AS (
         SELECT qid, did, approx_dist,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY approx_dist ASC, did ASC) AS INTEGER)
                  AS rank
         FROM p)
       SELECT qid, did, approx_dist, rank,
              TRUE AS hybrid_consistent
       FROM r WHERE rank <= 5 ORDER BY qid, rank"""

  // --- q360: NDV-statistics-driven join reorder -------------------------
  /** Cost-based join ORDER from committed `#stats` NDVs: three graft
    * tables (lineitem-fact, orders, a 1-in-20 customer slice) are
    * ANALYZE'd — recording per-file approx distinct counts as the
    * stats record's tenth field — and joined in a deliberately bad
    * written order (the fact against the non-reducing orders first).
    * Under CBO the scan's V2 column statistics
    * ([[graft.sources.GraftScan.estimateStatistics]]) feed the
    * re-run CostBasedJoinReorder ([[graft.sources.GraftStatsRule]]),
    * which flips the plan to join orders⋈customer-slice FIRST —
    * |orders|/20 rows instead of |lineitem| carried through the
    * second join. `reordered` pins the flip in the optimized plan;
    * the aggregate pins that reordering changed the PLAN, not the
    * answer (the oracle recomputes it associatively in DuckDB). */
  def q360CboReorder(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")), "graft_q360_")
      .toString
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      val (liP, ordP, custP) = (s"$root/li", s"$root/ord", s"$root/cu")
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .repartition(2).write.parquet(liP)
      t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .coalesce(1).write.parquet(ordP)
      t(s, dir, "customer")
        .filter(col("c_custkey") % 20 === 0)
        .select("c_custkey", "c_mktsegment")
        .coalesce(1).write.parquet(custP)
      // stats only where the estimator needs them: the JOIN KEYS
      // (NDV + bounds drive the reorder); value columns ride rowCount
      for ((p, keys) <- Seq(liP -> Seq("l_orderkey"),
        ordP -> Seq("o_orderkey", "o_custkey"),
        custP -> Seq("c_custkey"))) {
        val hp = new org.apache.hadoop.fs.Path(p)
        graft.operators.CommitLog.ensureLoggedAt(
          hp.getFileSystem(s.sparkContext.hadoopConfiguration), hp)
        graft.operators.TableStats.analyze(s, p, keys)
      }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val q = s.read.format("graft").load(liP)
        .join(s.read.format("graft").load(ordP),
          col("l_orderkey") === col("o_orderkey"))
        .join(s.read.format("graft").load(custP),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      // the flip: the INNERMOST join must now hold the reducing
      // orders⋈customer-slice pair, not the written lineitem⋈orders
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      val reordered = joins.nonEmpty &&
        joins.last.output.map(_.name).toSet
          .intersect(Set("l_orderkey", "l_quantity")).isEmpty
      val report = q.withColumn("reordered", lit(reordered))
        .orderBy("c_mktsegment")
      val rows = report.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        report.schema)
    } finally {
      olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      graft.io.Sources.deleteRecursively(root)
    }
  }

  val q360Sql: String =
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                AS sum_qty,
              TRUE AS reordered
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN (SELECT * FROM customer WHERE c_custkey % 20 = 0) c
         ON o_custkey = c_custkey
       GROUP BY c_mktsegment
       ORDER BY c_mktsegment"""

  val all: Map[String, Q] = Map(
    "q360_cbo_reorder" -> q360CboReorder _,
    "q359_ann_pq" -> q359AnnPq _,
    "q358_bucketed_spj" -> q358BucketedSpj _,
    "q357_ann_index" -> q357AnnIndex _,
    "q356_branch_wap" -> q356BranchWap _,
    "q355_partial_agg" -> q355PartialAgg _,
    "q354_rollback" -> q354Rollback _,
    "q353_snapshot_tags" -> q353SnapshotTags _,
    "q352_meta_agg" -> q352MetaAgg _,
    "q351_replace_table" -> q351ReplaceTable _,
    "q350_add_columns" -> q350AddColumns _,
    "q349_insert_overwrite" -> q349InsertOverwrite _,
    "q348_sql_maintenance" -> q348SqlMaintenance _,
    "q347_sql_merge" -> q347SqlMerge _,
    "q346_sql_update" -> q346SqlUpdate _,
    "q345_batch_cdf" -> q345BatchCdf _,
    "q344_sql_delete" -> q344SqlDelete _,
    "q343_bloom_point" -> q343BloomPoint _,
    "q342_zorder" -> q342Zorder _,
    "q341_sql_catalog" -> q341SqlCatalog _,
    "q340_partitioned_stream_sink" -> q340PartitionedStreamSink _,
    "q339_cdf_stream_replica" -> q339CdfStreamReplica _,
    "q338_partition_prune" -> q338PartitionPrune _,
    "q337_meta_tables" -> q337MetaTables _,
    "q336_dsv2_pipeline" -> q336Dsv2Pipeline _,
    "q335_dsv2_stream" -> q335Dsv2Stream _,
    "q334_dsv2_write" -> q334Dsv2Write _,
    "q330_stats_conjunction" -> q330StatsConjunction _,
    "q331_dsv2_read" -> q331Dsv2Read _,
    "q332_normalize_compact" -> q332NormalizeCompact _,
    "q333_table_history" -> q333TableHistory _,
    "q329_stats_pruning" -> q329StatsPruning _,
    "q328_check_constraints" -> q328CheckConstraints _,
    "q327_type_widen" -> q327TypeWiden _,
    "q326_erase_partitioned" -> q326ErasePartitioned _,
    "q325_cdc_subscription" -> q325CdcSubscription _,
    "q324_cdf_replicate" -> q324CdfReplicate _,
    "q323_schema_evolve" -> q323SchemaEvolve _,
    "q322_cdf_updates" -> q322CdfUpdates _,
    "q320_change_feed" -> q320ChangeFeed _,
    "q321_merge_on_read" -> q321MergeOnRead _,
    "q318_dv_delete" -> q318DvDelete _,
    "q319_dv_apply" -> q319DvApply _,
    "q316_compaction_execute" -> q316CompactionExecute _,
    "q310_compaction_plan" -> q310CompactionPlan _,
    "q120_snapshot_diff" -> q120SnapshotDiff _,
    "q121_delta_view" -> q121DeltaViewMaintain _,
    "q122_bloom_join" -> q122BloomJoin _,
    "q123_manifest_skip" -> q123ManifestSkip _,
    "q124_frequent_tokens" -> q124FrequentTokens _,
    "q161_hll_incremental" -> q161HllIncremental _,
    "q162_bloom_index" -> q162BloomIndex _,
    "q196_theta_sketches" -> q196ThetaSketches _,
    "q198_cdc_net_effect" -> q198CdcNetEffect _,
    "q247_mv_rewrite" -> q247MvRewrite _,
  )

  val oracles: Map[String, String] = Map(
    "q360_cbo_reorder" -> q360Sql,
    "q359_ann_pq" -> q359Sql,
    "q358_bucketed_spj" -> q358Sql,
    "q357_ann_index" -> q357Sql,
    "q356_branch_wap" -> q356Sql,
    "q355_partial_agg" -> q355Sql,
    "q354_rollback" -> q354Sql,
    "q353_snapshot_tags" -> q353Sql,
    "q352_meta_agg" -> q352Sql,
    "q351_replace_table" -> q351Sql,
    "q350_add_columns" -> q350Sql,
    "q349_insert_overwrite" -> q349Sql,
    "q348_sql_maintenance" -> q348Sql,
    "q347_sql_merge" -> q347Sql,
    "q346_sql_update" -> q346Sql,
    "q345_batch_cdf" -> q345Sql,
    "q344_sql_delete" -> q344Sql,
    "q343_bloom_point" -> q343Sql,
    "q342_zorder" -> q342Sql,
    "q341_sql_catalog" -> q341Sql,
    "q340_partitioned_stream_sink" -> q340Sql,
    "q339_cdf_stream_replica" -> q339Sql,
    "q338_partition_prune" -> q338Sql,
    "q337_meta_tables" -> q337Sql,
    "q336_dsv2_pipeline" -> q336Sql,
    "q335_dsv2_stream" -> q335Sql,
    "q334_dsv2_write" -> q334Sql,
    "q330_stats_conjunction" -> q330Sql,
    "q331_dsv2_read" -> q331Sql,
    "q332_normalize_compact" -> q332Sql,
    "q333_table_history" -> q333Sql,
    "q329_stats_pruning" -> q329Sql,
    "q328_check_constraints" -> q328Sql,
    "q327_type_widen" -> q327Sql,
    "q326_erase_partitioned" -> q326Sql,
    "q325_cdc_subscription" -> q325Sql,
    "q324_cdf_replicate" -> q324Sql,
    "q323_schema_evolve" -> q323Sql,
    "q322_cdf_updates" -> q322Sql,
    "q320_change_feed" -> q320Sql,
    "q321_merge_on_read" -> q321Sql,
    "q318_dv_delete" -> q318Sql,
    "q319_dv_apply" -> q319Sql,
    "q316_compaction_execute" -> q316Sql,
    "q310_compaction_plan" -> q310Sql,
    "q120_snapshot_diff" -> q120Sql,
    "q121_delta_view" -> q121Sql,
    "q122_bloom_join" -> q122Sql,
    "q123_manifest_skip" -> q123Sql,
    "q124_frequent_tokens" -> q124Sql,
    "q161_hll_incremental" -> q161Sql,
    "q162_bloom_index" -> q162Sql,
    "q196_theta_sketches" -> q196Sql,
    "q198_cdc_net_effect" -> q198Sql,
    "q247_mv_rewrite" -> q247Sql,
  )
}
