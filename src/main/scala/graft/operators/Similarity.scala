package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column — the ANN
  * surface a training-data pipeline needs for near-dup mining and
  * retrieval. Not in the reference (no vector data there); built
  * Spark-first as pure Catalyst expressions.
  *
  * Exactness strategy: float sums are order-sensitive, so similarities are
  * computed over vectors quantized to integers (`round(x * 1e6)` as long).
  * Integer dot products are exact and order-independent; the final cosine
  * is one IEEE double expression — bit-identical across engines, which
  * makes brute-force and LSH results oracle-checkable and makes re-runs
  * deterministic under any parallelism.
  *
  * Cost shape (the two rules every operator here follows):
  *   - *norms are computed once per side*, in the projection below the
  *     join — never re-derived per candidate pair. Each pair then costs
  *     exactly ONE dot product (the oracle CTEs mirror this with their
  *     `n AS (SELECT …, list_sum([y*y …]) AS nn)` shape).
  *   - *bucket/partition assignment is map-side*. The hyperplane matrix is
  *     tiny and deterministic (md5-derived), so it is inlined as literal
  *     arrays and every projection is evaluated in-row — no explode, no
  *     join against a plane table, zero shuffles between the corpus scan
  *     and the bucket equi-join.
  *
  * Scale shape:
  *   - brute-force top-k: |Q| × |D| dot products inside the cross join,
  *     then a per-query window top-k. Right answer, linear scan — the
  *     baseline.
  *   - hyperplane LSH: each vector is reduced to a small bucket id by the
  *     signs of `numPlanes` pseudo-random projections; candidates meet in
  *     an equi-join on the bucket. Probe cost drops from |D| to the bucket
  *     occupancy (|D| / 2^planes expected); recall is tunable by planes /
  *     multi-probe. For a real corpus size numPlanes so that |D|/2^planes
  *     stays small — occupancy is the quadratic term within a bucket.
  */
object Similarity {

  /** Quantize array<float> → array<long> of round(x * 1e6). Native
    * codegen'd kernel ([[graft.plans.QuantizeVec]]); semantics identical
    * to `transform(vec, x => round(x * 1e6).cast("long"))`. */
  def quantize(vec: Column): Column = graft.plans.VectorExprs.quantize(vec)

  /** Exact integer dot product of two quantized vectors (deterministic;
    * with round(x·1e6) quantization the sum stays below Long.MaxValue
    * for |x| ≤ ~3.8e2 at 64 dims: 64·(3.8e8)² ≈ 9.2e18). Native
    * codegen'd kernel ([[graft.plans.DotProductQ]]) — one primitive loop
    * per pair instead of the interpreted zip_with/aggregate HOF pair. */
  def dotQ(a: Column, b: Column): Column =
    graft.plans.VectorExprs.dotQ(a, b)

  /** Cosine similarity from quantized vectors, as one IEEE double
    * expression: dot / (sqrt(|a|²) * sqrt(|b|²)). Expands to THREE dot
    * products — use only where each vector is seen once; hot paths carry
    * precomputed norms and use [[cosineFrom]]. */
  def cosineQ(a: Column, b: Column): Column =
    cosineFrom(dotQ(a, b), dotQ(a, a), dotQ(b, b))

  /** Cosine from a precomputed dot product and per-side squared norms. */
  def cosineFrom(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") /
      (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))

  /** (id, quantized vec, squared norm) — the per-side projection every
    * join-based operator starts from. Evaluated once per input row,
    * below the join. */
  private def prep(df: DataFrame, idName: String, vecName: String,
                   normName: String): DataFrame =
    df.select(col("vec_id").as(idName),
        quantize(col("embedding")).as(vecName))
      .select(col(idName), col(vecName),
        dotQ(col(vecName), col(vecName)).as(normName))

  /** Vector dimensionality probed from the data (first row with a
    * non-empty vector — null/empty embeddings can't NPE the probe) —
    * embeddings of any width work; nothing is hardcoded to 64 dims. An
    * empty (or all-null) corpus probes to 0 dims, and every downstream
    * join over it is empty. Width is assumed uniform within a frame (a
    * full-scan check would cost a pass over the corpus); cross-frame
    * mismatches are caught by [[requireSameDims]]. */
  private def dimsOf(df: DataFrame): Int =
    df.select(size(col("embedding")).as("d")).filter(col("d") > 0)
      .limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Probe both sides once and fail LOUDLY on width mismatch: a
    * mismatched query vector would otherwise score null cosine against
    * every candidate and silently vanish from its own top-k. */
  private def requireSameDims(queries: DataFrame, corpus: DataFrame): Int = {
    val dq = dimsOf(queries)
    val dc = dimsOf(corpus)
    require(dq == 0 || dc == 0 || dq == dc,
      s"query embedding dims ($dq) != corpus embedding dims ($dc)")
    dc
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors (including itself when present). Deterministic
    * tie-break by corpus id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int)
  : DataFrame = {
    requireSameDims(queries, corpus)
    val q = prep(queries, "qid", "qe", "qn")
    val d = prep(corpus, "did", "de", "dn")
    q.crossJoin(d)
      .select(col("qid"), col("did"),
        cosineFrom(dotQ(col("qe"), col("de")), col("qn"), col("dn"))
          .as("cosine"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cosine").desc, col("did").asc)))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes: weight(plane p, dim j) =
    * 2 * (1 + hexIndex(md5("p-j")[0])) − 17 — odd integers in [−15, 15],
    * derived identically everywhere from md5 (the oracle computes the
    * same weights in SQL). Materialized on the driver as literal arrays:
    * numPlanes × dims longs, inlined into the row-level bucket
    * expression. */
  def planeWeightsLocal(numPlanes: Int, dims: Int): Array[Array[Long]] = {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Array.tabulate(numPlanes, dims) { (p, j) =>
      2L * ("0123456789abcdef".indexOf(md5Hex(s"$p-$j").charAt(0)) + 1) - 17L
    }
  }

  /** LSH bucket id, computed entirely in-row: bit p of the bucket is the
    * sign of the projection onto literal plane p. Map-side — no explode,
    * no plane-table join, no shuffle. */
  def bucketOf(qvec: Column, weights: Array[Array[Long]]): Column =
    weights.zipWithIndex.map { case (ws, p) =>
      // native dot kernel, not zip_with/aggregate: HOFs are interpreted
      // CodegenFallback and this runs per corpus row on the scan
      val proj = graft.plans.VectorExprs.dotQ(qvec, array(ws.toIndexedSeq.map(lit): _*))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def prepBucketed(df: DataFrame, idName: String, vecName: String,
                           normName: String, numPlanes: Int, dims: Int)
  : DataFrame = {
    val w = planeWeightsLocal(numPlanes, dims)
    prep(df, idName, vecName, normName)
      .withColumn("bucket", bucketOf(col(vecName), w))
  }

  /** ANN top-k via hyperplane LSH: exact cosine, but only within the
    * query's bucket. Trades recall for a |D|/2^planes probe cost. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, numPlanes: Int,
              k: Int): DataFrame = {
    val dims = requireSameDims(queries, corpus)
    val q = prepBucketed(queries, "qid", "qe", "qn", numPlanes, dims)
    val d = prepBucketed(corpus, "did", "de", "dn", numPlanes, dims)
    q.join(d, "bucket")
      .select(col("qid"), col("did"),
        cosineFrom(dotQ(col("qe"), col("de")), col("qn"), col("dn"))
          .as("cosine"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cosine").desc, col("did").asc)))
      .filter(col("rank") <= k)
  }

  /** Multi-probe LSH top-k: like [[lshTopK]], but each query also probes
    * every bucket at Hamming distance 1 from its own (one projection
    * sign flipped) — the standard recall boost that avoids raising the
    * bucket count. Probe cost grows to (numPlanes+1) × occupancy, still
    * ≪ |D|; the probe fan-out is a small in-row explode of numPlanes+1
    * bucket ids on the QUERY side only (corpus rows are never
    * replicated, so the big side's shuffle volume is unchanged). */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
                        numPlanes: Int, k: Int): DataFrame = {
    val dims = requireSameDims(queries, corpus)
    val q = prepBucketed(queries, "qid", "qe", "qn", numPlanes, dims)
      .withColumn("bucket", explode(array(
        (Seq(col("bucket")) ++ (0 until numPlanes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p)))): _*)))
    val d = prepBucketed(corpus, "did", "de", "dn", numPlanes, dims)
    q.join(d, "bucket")
      .select(col("qid"), col("did"),
        cosineFrom(dotQ(col("qe"), col("de")), col("qn"), col("dn"))
          .as("cosine"))
      // a pair can meet via several probed buckets: all meetings score
      // identically, so dedup the scalar rows (same shape as ivfTopK)
      .groupBy("qid", "did")
      .agg(max("cosine").as("cosine"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cosine").desc, col("did").asc)))
      .filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: all (id_a, id_b, cosine)
    * with cosine ≥ `threshold`, id_a < id_b. Candidates come from the
    * hyperplane-LSH bucket equi-join (near-identical vectors agree on
    * every projection sign with high probability), then the exact
    * quantized cosine filters them — so the pair set never materializes
    * the |D|² cross product. At corpus scale the bucket join shuffles
    * only (bucket, id, vec, norm) rows and each bucket's pair generation
    * is local to one task; recall/occupancy trades by `numPlanes`. */
  def cosineNearDupPairs(corpus: DataFrame, numPlanes: Int,
                         threshold: Double): DataFrame = {
    val dims = dimsOf(corpus)
    val d = prepBucketed(corpus, "did", "e", "n", numPlanes, dims)
    d.as("x")
      .join(d.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.did") < col("y.did"))
      .select(col("x.did").as("id_a"), col("y.did").as("id_b"),
        cosineFrom(dotQ(col("x.e"), col("y.e")), col("x.n"), col("y.n"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Lloyd's k-means over quantized embeddings — the centroid-training
    * step a production IVF deployment runs before [[ivfTopK]], trained
    * ON THE DRIVER: the corpus's (vec_id, quantized vector) rows are
    * collected once, in one job, capped at [[TrainBytesCap]], and every
    * iteration is local arithmetic instead of a Spark plan.
    * Deterministic end to end and equal to the SQL formulation the q64
    * oracle unrolls: seeds are the first k rows by id (null and empty
    * embeddings included), assignment ranks by (cosine desc, cid asc)
    * under Spark's ordering (NaN first, null last), a centre is the
    * per-dimension long sum / count rounded HALF_UP, and the iteration
    * count is FIXED — so the trained centroids are bit-identical across
    * engines and re-runs (a convergence-threshold loop would not be
    * portable). A cell that loses all members drops its centroid for
    * the next iteration — deliberate: the oracle's SQL formulation has
    * the identical semantics, and a keep-stale-centroid policy would
    * diverge between engines. Null and empty embeddings join a cell but
    * add nothing to it. A null vec_id fails loudly.
    *
    * Returns (cid, ce, cn) — quantized centroid + squared norm, with
    * `cid` of the corpus's vec_id type — as a local frame, served
    * directly by [[ivfTopKWith]] without re-running any training. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val rows = collectTraining(corpus.select(col("vec_id").cast("long"),
      quantize(col("embedding"))), "kmeans training")
    val seeds = rows.sortBy(_._1).take(k).map { case (id, v) => Cell(id, v) }
    val vecs = rows.map(_._2)
    val norms = vecs.map(v => dotL(v, v))
    val cells = (0 until iters).foldLeft(seeds.toIndexedSeq) { (cs, _) =>
      if (cs.isEmpty) cs
      else recenter(vecs, cs, vecs.indices.map(i =>
        nearest(cs)(c => cosineL(dotL(vecs(i), c.ce), norms(i), c.cn))(
          cosineOrder)))
    }
    cellFrame(corpus.sparkSession, cells)
      .withColumn("cid", col("cid").cast(corpus.schema("vec_id").dataType))
  }

  /** Most bytes of training rows a driver-side trainer collects, at 8
    * bytes an id and 8 a vector component: 64 MiB, about 127k 64-dim
    * vectors. Each partition stops at the cap, so the driver never
    * holds much more than partitions × cap; above it training fails
    * loudly — train on a sample instead (`sampleFraction`). */
  val TrainBytesCap: Long = 64L << 20

  /** One trained cell: its id and quantized centre. `ce` is null only
    * for a seed taken from a null embedding; `cn` is [[dotQ]] of the
    * centre with itself. */
  private[graft] final case class Cell(cid: Long, ce: Array[Long]) {
    val cn: java.lang.Long = dotL(ce, ce)
  }

  /** (cid, ce, cn) rows of trained cells as a local frame, by cid. */
  private def cellFrame(spark: org.apache.spark.sql.SparkSession,
                        cells: Seq[Cell]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(cells.sortBy(_.cid)
        .map(c => org.apache.spark.sql.Row(c.cid, c.ce, c.cn)): _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "cid BIGINT, ce ARRAY<BIGINT>, cn BIGINT"))

  /** The (id, quantized vector) rows of a two-column (BIGINT,
    * ARRAY<BIGINT>) frame, collected in ONE job under `cap` bytes. */
  private[graft] def collectTraining(df: DataFrame, what: String,
                                     cap: Long = TrainBytesCap)
  : Array[(Long, Array[Long])] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val qe = df.queryExecution
    val parts = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some(what)) {
        df.sparkSession.sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => {
            val out = Array.newBuilder[(Long, Array[Long])]
            var bytes = 0L
            while (bytes <= cap && it.hasNext) {
              val r = it.next()
              if (r.isNullAt(0))
                throw new IllegalArgumentException(s"$what: null vector id")
              val v = if (r.isNullAt(1)) null else r.getArray(1).toLongArray()
              bytes += 8L * (1 + (if (v == null) 0 else v.length))
              out += ((r.getLong(0), v))
            }
            (out.result(), bytes)
          })
      }
    val bytes = parts.map(_._2).sum
    if (bytes > cap)
      throw new IllegalArgumentException(
        s"$what: training rows exceed the driver cap of $cap bytes; " +
          "train on a sample — lower AnnIndex.build's sampleFraction")
    parts.flatMap(_._1)
  }

  /** [[dotQ]] on the driver: null when either side is null or the
    * lengths differ, else the (wrapping) long sum of products. */
  private def dotL(a: Array[Long], b: Array[Long]): java.lang.Long =
    if (a == null || b == null || a.length != b.length) null
    else {
      var acc = 0L
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }

  /** [[cosineFrom]] on the driver, with Spark's ANSI division: a null
    * side gives null, a zero divisor under a non-null dot fails. */
  private def cosineL(dot: java.lang.Long, na: java.lang.Long,
                      nb: java.lang.Long): java.lang.Double =
    if (na == null || nb == null || dot == null) null
    else {
      val den = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
      if (den == 0.0)
        throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero " +
          "in a cosine: an empty vector met an empty centroid")
      dot.toDouble / den
    }

  /** Cosine-desc rank order under Spark's ordering: NaN above every
    * number, 0.0 = -0.0, nulls last. Negative when `a` ranks first. */
  private def cosineOrder(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) (if (b == null) 0 else 1)
    else if (b == null) -1
    else if (a.isNaN) (if (b.isNaN) 0 else -1)
    else if (b.isNaN) 1
    else if (a > b) -1 else if (a < b) 1 else 0

  /** Squared-L2-asc rank order, nulls first (Spark's asc). */
  private def l2Order(a: java.lang.Long, b: java.lang.Long): Int =
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else java.lang.Long.compare(a, b)

  /** sn + cn − 2·dot(se, ce) in ANSI (overflow-checked) long
    * arithmetic; null when any term is null. */
  private def l2L(se: Array[Long], sn: java.lang.Long,
                  c: Cell): java.lang.Long = {
    val dot = dotL(se, c.ce)
    if (sn == null || c.cn == null || dot == null) null
    else Math.subtractExact(Math.addExact(sn.longValue, c.cn.longValue),
      Math.multiplyExact(2L, dot.longValue))
  }

  /** Index of the cell ranking first by its `key` under `order`, ties
    * by cid asc. `cells` is non-empty. */
  private def nearest[K](cells: IndexedSeq[Cell])(key: Cell => K)
                        (order: (K, K) => Int): Int = {
    val keys = cells.map(key)
    cells.indices.reduce { (i, j) =>
      val o = order(keys(j), keys(i))
      if (o < 0 || (o == 0 && cells(j).cid < cells(i).cid)) j else i
    }
  }

  /** One recentering pass: each cell becomes the per-dimension mean of
    * its members' components — long sum / count, one IEEE division,
    * Spark's HALF_UP `round` — and a cell no component reached drops.
    * `assigned(i)` is the cell index of `vecs(i)`. */
  private def recenter(vecs: Array[Array[Long]], cells: IndexedSeq[Cell],
                       assigned: IndexedSeq[Int]): IndexedSeq[Cell] = {
    val width = vecs.iterator.filter(_ != null).map(_.length)
      .foldLeft(0)(math.max)
    val sums = Array.ofDim[Long](cells.size, width)
    val counts = Array.ofDim[Long](cells.size, width)
    vecs.indices.foreach { i =>
      val v = vecs(i)
      if (v != null) v.indices.foreach { d =>
        sums(assigned(i))(d) = Math.addExact(sums(assigned(i))(d), v(d))
        counts(assigned(i))(d) += 1
      }
    }
    cells.indices.flatMap { c =>
      val n = counts(c).lastIndexWhere(_ > 0) + 1
      if (n == 0) None
      else Some(Cell(cells(c).cid, Array.tabulate(n)(d =>
        java.math.BigDecimal.valueOf(sums(c)(d).toDouble / counts(c)(d))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue())))
    }
  }

  /** One PQ codebook trained on the driver over (id, quantized vector)
    * rows: each vector splits into `subspaces` slices of `dims /
    * subspaces` components; per subspace the seeds are the first
    * `codebookSize` rows' slices by id, each slice joins its nearest
    * seed by (squared L2 asc, cid asc), and one recentering pass gives
    * the codewords. Returns (m, cells) per subspace. */
  private[graft] def pqCodebook(rows: Array[(Long, Array[Long])],
                                subspaces: Int, codebookSize: Int,
                                dims: Int): Seq[(Int, IndexedSeq[Cell])] = {
    val w = dims / subspaces
    def sliceOf(v: Array[Long], m: Int) =
      if (v == null) null else v.slice(m * w, m * w + w)
    val seeds = rows.sortBy(_._1).take(codebookSize)
    (0 until subspaces).map { m =>
      val cells = seeds.toIndexedSeq.map { case (id, v) => Cell(id, sliceOf(v, m)) }
      val slices = rows.map(r => sliceOf(r._2, m))
      m -> recenter(slices, cells, slices.indices.map { i =>
        val sn = dotL(slices(i), slices(i))
        nearest(cells)(c => l2L(slices(i), sn, c))(l2Order)
      })
    }
  }

  /** Nearest centroid per corpus row: broadcast k centroids, rank by
    * (cosine desc, cid asc), keep rank 1. d: (did, de, dn). */
  private def assignNearest(d: DataFrame, cents: DataFrame): DataFrame =
    d.crossJoin(broadcast(cents))
      .select(col("did"), col("de"), col("dn"), col("cid"),
        cosineFrom(dotQ(col("de"), col("ce")), col("dn"), col("cn"))
          .as("ccos"))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("did").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("crank") === 1)
      .drop("ccos", "crank")

  /** Cluster occupancy after k-means: (cid, n_members) — the compact,
    * deterministic summary of a trained index's balance. */
  def kmeansClusterSizes(corpus: DataFrame, k: Int, iters: Int)
  : DataFrame = {
    val d = prep(corpus, "did", "de", "dn")
    assignNearest(d, kmeansCentroids(corpus, k, iters))
      .groupBy("cid").agg(count(lit(1)).as("n_members"))
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, TPAMI 2011 —
    * FAISS's PQ): each vector splits into `subspaces` subvectors, each
    * subspace trains a tiny `codebookSize`-centroid codebook (one Lloyd
    * iteration over first-K seeds, the q64 integer k-means discipline
    * but with SQUARED-L2 assignment — PQ's metric), and a vector is
    * stored as `subspaces` small codes. Queries score by Asymmetric
    * Distance Computation: one (query × centroid) distance table per
    * subspace, approx distance = Σ over subspaces of table[code] —
    * |Q|·k·M table entries instead of |Q|·|D| exact distances, and the
    * corpus is reduced to codes (the 4-byte-per-vector memory story
    * that, composed with [[ivfTopKWith]] cell pruning, is IVF-PQ).
    *
    * Everything is INTEGER: quantized components make the squared L2
    * (sn + cn − 2·dot) an exact long, so codebooks, codes, and the
    * returned approx_dist are bit-identical across engines and runs —
    * no float ranking anywhere. Returns (qid, did, approx_dist, rank ≤
    * topK), ties broken by did.
    *
    * Scale shape: codebooks are M·k rows and BROADCAST everywhere;
    * the corpus slice projection is cached across the two assignment
    * passes (train, encode); ADC joins the broadcast distance tables
    * to the (did, m, code) rows and reduces per (qid, did) — the
    * shuffle carries integer partial distances, never vectors. A
    * centroid whose cell empties drops from the codebook (groupBy
    * emits no row), matching [[kmeansCentroids]] and the oracle.
    * Null/empty embeddings drop out (the ivfTopKWith contract). The
    * top-k result is EAGER (collected to a LocalRelation) so the
    * internal caches release before returning — the q26/q63
    * self-clean contract. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, subspaces: Int,
             codebookSize: Int, topK: Int): DataFrame = {
    val (codes, qdist, caches) =
      pqModel(queries, corpus, subspaces, codebookSize)
    finishEager(adcRank(qdist.join(codes, Seq("m", "code")), topK), caches)
  }

  /** IVF-PQ (the FAISS IVFPQ composition, non-residual variant): a
    * coarse quantizer — `coarseCentroids` full-width centroids, squared-
    * L2 assignment like the fine stage, one cell per corpus vector —
    * prunes the ADC scoring to the `nProbe` cells nearest each query,
    * so serving cost is (probed corpus fraction)·M code lookups instead
    * of |D|·M, on top of PQ's memory reduction. Codebooks train on the
    * raw vectors (FAISS `by_residual=false`); the residual variant
    * changes only what the fine stage encodes. Same all-integer
    * discipline end to end — coarse cells, codes and approx_dist are
    * hash-exact cross-engine. Recall degrades gracefully: nProbe =
    * coarseCentroids probes every cell and equals [[pqTopK]] exactly
    * (pinned by spec). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                coarseCentroids: Int, nProbe: Int, subspaces: Int,
                codebookSize: Int, topK: Int): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val coarse = firstNCentroids(
        corpus.filter(size(col("embedding")) > 0), coarseCentroids)
      .select(col("cid").as("ccid"), col("ce").as("ke"), col("cn").as("kn"))
    def cellAssign(vecs: DataFrame, idName: String, keep: Int): DataFrame =
      // size guard: a null embedding scores NULL __l2 (NULLS FIRST
      // would hand it rank 1 — a silent arbitrary cell) and an empty
      // one scores a real-looking distance to every centroid; both
      // drop, the ivfTopKWith/semanticDedup contract
      prep(vecs.filter(size(col("embedding")) > 0), idName, "__e", "__n")
        .crossJoin(broadcast(coarse))
        .withColumn("__l2",
          col("__n") + col("kn") - lit(2) * dotQ(col("__e"), col("ke")))
        .withColumn("__r", row_number().over(win.partitionBy(idName)
          .orderBy(col("__l2").asc, col("ccid").asc)))
        .filter(col("__r") <= keep)
        .select(col(idName), col("ccid"))
    val candidates = cellAssign(queries, "qid", nProbe)
      .join(cellAssign(corpus, "did", 1), "ccid")
      .select("qid", "did")
    val (codes, qdist, caches) =
      pqModel(queries, corpus, subspaces, codebookSize)
    finishEager(adcRank(candidates.join(codes, "did")
      .join(qdist, Seq("qid", "m", "code")), topK), caches)
  }

  /** IVF-PQ, residual-encoded — the FAISS IVFPQ DEFAULT
    * (`by_residual=true`; [[ivfPqTopK]] is the non-residual variant):
    * the fine PQ stage encodes v − centroid(cell(v)) instead of v, so
    * one shared codebook spends its 2^bits on the WITHIN-cell
    * distribution rather than re-describing the coarse structure —
    * the standard accuracy win at equal code size. ADC changes shape:
    * a query's distance table is per PROBED CELL ((qid, ccid, m, code)
    * — the query residual differs per cell), so serving cost gains a
    * ×nProbe factor on the table build while the corpus-side scan
    * stays (probed fraction)·M lookups.
    *
    * All-integer discipline end to end: residuals are exact long
    * subtraction of quantized vectors, codebook recentering is the
    * exact sum/count mean, distances are integer dot products — codes
    * and approx_dist hash-exact cross-engine. Degenerate anchor
    * (spec-pinned): one vector per cell (coarseCentroids = |corpus|,
    * nProbe = all) makes every residual zero and approx_dist the EXACT
    * squared L2 — the property the non-residual variant cannot have.
    * Null/empty embeddings drop (ivfTopKWith contract); eager result,
    * caches released ([[finishEager]]). */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame,
                        coarseCentroids: Int, nProbe: Int, subspaces: Int,
                        codebookSize: Int, topK: Int): DataFrame = {
    val dims = requireSameDims(queries, corpus)
    require(dims % subspaces == 0,
      s"dims $dims not divisible into $subspaces subspaces")
    val w = dims / subspaces
    val win = org.apache.spark.sql.expressions.Window
    val liveC = corpus.filter(size(col("embedding")) > 0)
    val liveQ = queries.filter(size(col("embedding")) > 0)
    val coarse = firstNCentroids(liveC, coarseCentroids)
      .select(col("cid").as("ccid"), col("ce").as("ke"), col("cn").as("kn"))
    // argmin cell assignment + integer residual in one pass; `keep`
    // is 1 for the corpus (its cell) and nProbe for queries (one
    // residual per probed cell)
    def resid(vecs: DataFrame, idName: String, keep: Int): DataFrame =
      prep(vecs, idName, "__e", "__n")
        .crossJoin(broadcast(coarse))
        .withColumn("__l2",
          col("__n") + col("kn") - lit(2) * dotQ(col("__e"), col("ke")))
        .withColumn("__r", row_number().over(win.partitionBy(idName)
          .orderBy(col("__l2").asc, col("ccid").asc)))
        .filter(col("__r") <= keep)
        .select(col(idName), col("ccid"),
          zip_with(col("__e"), col("ke"), (x, y) => x - y).as("__re"))
    def slices(df: DataFrame, idName: String): DataFrame =
      df.select(col(idName), col("ccid"),
          explode(array((0 until subspaces).map(m =>
            struct(lit(m).as("m"),
              slice(col("__re"), m * w + 1, w).as("se"))): _*)).as("s"))
        .select(col(idName), col("ccid"), col("s.m").as("m"),
          col("s.se").as("se"))
        .withColumn("sn", dotQ(col("se"), col("se")))
    // corpus residual slices feed codebook training, encoding and the
    // cell map — cached, released via finishEager
    val d = slices(resid(liveC, "did", 1), "did").persist()
    // one SHARED codebook across cells (FAISS IVFPQ): seeds are the
    // residual slices of the first K corpus ids, one recentering pass
    val cb0 = slices(resid(liveC.orderBy("vec_id").limit(codebookSize),
        "cid", 1), "cid")
      .select(col("m"), col("cid"), col("se").as("ce"), col("sn").as("cn"))
    def assign(cb: DataFrame): DataFrame =
      d.join(broadcast(cb), "m")
        .withColumn("__l2",
          col("sn") + col("cn") - lit(2) * dotQ(col("se"), col("ce")))
        .withColumn("__r", row_number().over(win.partitionBy("did", "m")
          .orderBy(col("__l2").asc, col("cid").asc)))
        .filter(col("__r") === 1)
        .select(col("did"), col("m"), col("se"), col("cid"))
    // exact sum/count recentering — the pqModel discipline
    val cb1 = assign(cb0)
      .select(col("m"), col("cid"), posexplode(col("se")).as(Seq("dim", "v")))
      .groupBy("m", "cid", "dim")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .groupBy("m", "cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("c").cast("double"))
            .as("mean")))),
        s => round(s.getField("mean")).cast("long")).as("ce"))
      .select(col("m"), col("cid"), col("ce"),
        dotQ(col("ce"), col("ce")).as("cn"))
    val codes = assign(cb1).select(col("did"), col("m"),
      col("cid").as("code"))
    val cells = d.select("did", "ccid").distinct()
    val qres = resid(liveQ, "qid", nProbe)
    val qdist = slices(qres, "qid").join(broadcast(cb1), "m")
      .select(col("qid"), col("ccid"), col("m"), col("cid").as("code"),
        (col("sn") + col("cn") - lit(2) * dotQ(col("se"), col("ce")))
          .as("dist"))
    val cand = qres.select(col("qid"), col("ccid")).join(cells, "ccid")
      .select("qid", "ccid", "did")
    finishEager(adcRank(cand.join(codes, "did")
      .join(qdist, Seq("qid", "ccid", "m", "code")), topK), Seq(d))
  }

  /** PQ train + encode, shared by [[pqTopK]] and [[ivfPqTopK]]:
    * returns (codes: (did, m, code), qdist: (qid, m, code, dist),
    * caches) — the encoded corpus, the per-query ADC distance tables,
    * and the persisted frames the caller must release via
    * [[finishEager]]. The corpus slice projection feeds BOTH
    * assignment passes (training and encoding), so it is cached rather
    * than re-scanned/re-quantized per pass. Null/empty embeddings
    * slice to null subvectors (null sn) and are dropped — the
    * ivfTopKWith drop-out contract; without the filter, NULLS FIRST in
    * the argmin window would hand them code 0 silently. */
  private def pqModel(queries: DataFrame, corpus: DataFrame,
                      subspaces: Int, codebookSize: Int)
  : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val dims = requireSameDims(queries, corpus)
    require(dims % subspaces == 0,
      s"dims $dims not divisible into $subspaces subspaces")
    val w = dims / subspaces
    val win = org.apache.spark.sql.expressions.Window
    def slices(df: DataFrame, idName: String): DataFrame =
      prep(df, idName, "__e", "__n")
        .select(col(idName), explode(array((0 until subspaces).map(m =>
          struct(lit(m).as("m"),
            slice(col("__e"), m * w + 1, w).as("se"))): _*)).as("s"))
        .select(col(idName), col("s.m").as("m"), col("s.se").as("se"))
        .withColumn("sn", dotQ(col("se"), col("se")))
    // size filter up front: a null embedding slices to null (null sn)
    // but an EMPTY one slices to empty with sn = 0 — both must drop,
    // and only the input-side size guard catches both (the
    // semanticDedup contract). Applies to the codebook SEEDS too — a
    // degenerate row among the first K must not become a centroid.
    val liveC = corpus.filter(size(col("embedding")) > 0)
    val d = slices(liveC, "did").persist()
    val cb0 = slices(liveC.orderBy("vec_id").limit(codebookSize), "cid")
      .select(col("m"), col("cid"), col("se").as("ce"), col("sn").as("cn"))
    def assign(cb: DataFrame): DataFrame =
      d.join(broadcast(cb), "m")
        .withColumn("__l2",
          col("sn") + col("cn") - lit(2) * dotQ(col("se"), col("ce")))
        .withColumn("__r", row_number().over(
          win.partitionBy("did", "m")
            .orderBy(col("__l2").asc, col("cid").asc)))
        .filter(col("__r") === 1)
        .select(col("did"), col("m"), col("se"), col("cid"))
    // recentering mean = sum(long)/count: the component sum stays exact
    // integer arithmetic in ANY partial-aggregation order (avg would
    // accumulate doubles, whose rounding could depend on partition
    // order once per-cell sums pass 2^53), then ONE IEEE division +
    // round — the q95/q99 exact-moment discipline applied to k-means
    val cb1 = assign(cb0)
      .select(col("m"), col("cid"), posexplode(col("se")).as(Seq("dim", "v")))
      .groupBy("m", "cid", "dim")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .groupBy("m", "cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("c").cast("double"))
            .as("mean")))),
        s => round(s.getField("mean")).cast("long")).as("ce"))
      .select(col("m"), col("cid"), col("ce"),
        dotQ(col("ce"), col("ce")).as("cn"))
    val codes = assign(cb1).select(col("did"), col("m"),
      col("cid").as("code"))
    val qdist = slices(queries.filter(size(col("embedding")) > 0), "qid")
      .join(broadcast(cb1), "m")
      .select(col("qid"), col("m"), col("cid").as("code"),
        (col("sn") + col("cn") - lit(2) * dotQ(col("se"), col("ce")))
          .as("dist"))
    (codes, qdist, Seq(d))
  }

  /** Sum partial ADC distances per (qid, did) and keep the top-k per
    * query, ties by did — the serving tail both PQ variants share. */
  private def adcRank(pairs: DataFrame, topK: Int): DataFrame =
    pairs.groupBy("qid", "did").agg(sum("dist").as("approx_dist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("approx_dist").asc, col("did").asc)))
      .filter(col("rank") <= topK)

  /** Materialize a small (top-k-sized) result to a LocalRelation and
    * release the internal caches — the q26/q63 self-clean contract:
    * callers get a frame with no lineage into the released blocks and
    * no executor residue survives the call. */
  private def finishEager(out: DataFrame, caches: Seq[DataFrame])
  : DataFrame = {
    val rows = out.collect()
    caches.foreach(_.unpersist(blocking = false))
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus into `numCentroids` cells by
    * nearest centroid, then score ONLY intra-cell pairs — the quadratic
    * term drops from |D|² to Σ|cell|², which is the whole trick; k tunes
    * the cell size (k ≈ |D|/√B keeps cells near √B vectors). Keep
    * policy: within a cell a vector is a duplicate iff some LOWER-id
    * cell-mate has cosine ≥ `threshold` (one-shot greedy keep-lowest-id
    * — deterministic and oracle-expressible; the paper's
    * keep-farthest-from-centroid variant changes only the ordering the
    * greedy rule ranks by). Returns one row per corpus vector:
    * (did, cid, is_dup), so callers filter `!is_dup` for the kept set.
    *
    * Scale shape: cell assignment is a map-side broadcast cross join
    * (the k centroids broadcast); pair generation is one shuffle of
    * (cid, id, vec, norm) rows and each cell's self-join is local to
    * its partition. The assignment frame feeds both pair sides and the
    * final flag join — at corpus scale persist it (or reuse a
    * [[kmeansCentroids]]-trained assignment) rather than recomputing;
    * here it is three broadcast passes over the scan, kept lazy so
    * Catalyst can prune each branch independently. Null/empty
    * embeddings cannot be assigned a cell (null cosine against every
    * centroid) and are dropped up front — same tolerance as the IVF
    * path. */
  def semanticDedup(corpus: DataFrame, numCentroids: Int,
                    threshold: Double): DataFrame = {
    val live = corpus.filter(size(col("embedding")) > 0)
    semanticDedupWith(corpus,
      firstNCentroids(live, numCentroids), threshold)
  }

  /** The corpus's per-cell index rows under an EXPLICIT centroid frame:
    * (did, de, dn, cid) — quantized vector, integer norm², assigned
    * cell. This is the PERSISTABLE state of the SemDeDup flow (write it
    * as parquet next to the centroid frame): yesterday's corpus never
    * needs re-scoring, because every pair decision involving it can be
    * replayed from these rows. Null/empty embeddings are dropped (the
    * documented assignment tolerance). */
  def semanticCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignNearest(prep(corpus.filter(size(col("embedding")) > 0),
      "did", "de", "dn"), centroids)

  /** [[semanticDedup]] over an explicit centroid frame — the form both
    * the one-shot and the incremental path share. */
  def semanticDedupWith(corpus: DataFrame, centroids: DataFrame,
                        threshold: Double): DataFrame = {
    val cells = semanticCells(corpus, centroids)
    val dups = cells.select(col("cid"), col("did").as("id_a"),
        col("de").as("ea"), col("dn").as("na"))
      .join(cells.select(col("cid"), col("did").as("id_b"),
        col("de").as("eb"), col("dn").as("nb")), Seq("cid"))
      .filter(col("id_a") < col("id_b") &&
        cosineFrom(dotQ(col("ea"), col("eb")), col("na"), col("nb"))
          >= threshold)
      .select(col("id_b").as("did")).distinct()
    cells.select(col("did"), col("cid"))
      .join(dups.withColumn("dup", lit(true)), Seq("did"), "left")
      .select(col("did"), col("cid"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** Incremental SemDeDup — the daily-increment flow ([[Dedup]]'s q82
    * pattern applied to the semantic index): dedup a NEW batch against
    * a PERSISTED index (frozen centroids + [[semanticCells]] rows of
    * the already-processed corpus) without re-scoring a single
    * base×base pair. Returns (did, cid, is_dup) for BATCH rows only;
    * unioned with the index's own flags it equals exactly what a full
    * [[semanticDedup]] over base ∪ batch would return, PROVIDED batch
    * ids sort after every base id (the append-only corpus contract —
    * it makes the keep-lowest-id rule's "lower-id cell-mate" sets
    * identical in both computations) and the centroid frame is the
    * frozen base one (q150's oracle proves the equivalence
    * end-to-end).
    *
    * The comparison set per batch vector is ALL lower-id cell-mates —
    * kept AND duplicate — because the one-shot greedy rule scores
    * against every earlier vector, not only survivors; an index of
    * keepers alone would silently re-admit near-duplicates of evicted
    * rows' neighborhoods. Probe cost: Σ_cell |batch∩cell| ×
    * (|index∩cell| + |batch∩cell|) — proportional to the batch, never
    * to |index|². */
  def semanticDedupIncremental(batch: DataFrame, centroids: DataFrame,
                               indexCells: DataFrame,
                               threshold: Double): DataFrame = {
    val cellsNew = semanticCells(batch, centroids)
    val priors = indexCells.unionByName(cellsNew)
      .select(col("cid"), col("did").as("id_a"),
        col("de").as("ea"), col("dn").as("na"))
    val dups = cellsNew.select(col("cid"), col("did").as("id_b"),
        col("de").as("eb"), col("dn").as("nb"))
      .join(priors, Seq("cid"))
      .filter(col("id_a") < col("id_b") &&
        cosineFrom(dotQ(col("ea"), col("eb")), col("na"), col("nb"))
          >= threshold)
      .select(col("id_b").as("did")).distinct()
    cellsNew.select(col("did"), col("cid"))
      .join(dups.withColumn("dup", lit(true)), Seq("did"), "left")
      .select(col("did"), col("cid"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into `numCentroids`
    * cells by nearest centroid, then probe only the query's `nProbe`
    * nearest cells. Probe cost drops from |D| to nProbe × |D|/centroids.
    *
    * Centroids here are the first `numCentroids` corpus vectors by id —
    * deterministic and engine-portable; a production deployment would
    * k-means-train them, leaving every downstream step unchanged. The
    * centroid set is tiny and broadcast; cell assignment is one pass over
    * the corpus (the shape that scales: at 100 TB the corpus×centroid
    * score is a map-side broadcast join, and the probe join shuffles only
    * cell-assigned ids, re-partitioned by cell). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, numCentroids: Int,
              nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(queries, corpus,
      firstNCentroids(corpus, numCentroids), nProbe, k)

  /** First-N-by-id seed centroids as a (cid, ce, cn) frame — the
    * deterministic baseline index; [[kmeansCentroids]] produces the
    * trained replacement with the identical schema. */
  def firstNCentroids(corpus: DataFrame, numCentroids: Int): DataFrame =
    corpus.orderBy("vec_id").limit(numCentroids)
      .select(col("vec_id").as("cid"), quantize(col("embedding")).as("ce"))
      .select(col("cid"), col("ce"), dotQ(col("ce"), col("ce")).as("cn"))

  /** IVF probing over an EXPLICIT centroid index (cid, ce, cn) — the
    * serving half of the production ANN story: train once with
    * [[kmeansCentroids]], then every query probes the trained cells.
    * With nProbe = number of centroids this degrades gracefully to
    * brute force (every cell probed → every pair scored), which is the
    * recall upper bound the SkewAndStateSpec pins. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
                  centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    requireSameDims(queries, corpus)
    ivfProbeCells(queries,
      assignToCells(prep(corpus, "did", "de", "dn"),
        "did", "de", "dn", keep = 1, centroids),
      centroids, nProbe, k)
  }

  /** The PROBE half of [[ivfTopKWith]], over an explicit
    * cell-assignment frame (did, de, dn, cid) — what a COMMITTED
    * `#ann` index ([[AnnIndex]]) feeds so its results are
    * plan-identical to the inline recompute. */
  private[graft] def ivfProbeCells(queries: DataFrame, cells: DataFrame,
                                   centroids: DataFrame, nProbe: Int,
                                   k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val probes = assignToCells(prep(queries, "qid", "qe", "qn"),
      "qid", "qe", "qn", keep = nProbe, centroids)
    probes.join(cells, "cid")
      .select(col("qid"), col("did"),
        cosineFrom(dotQ(col("qe"), col("de")), col("qn"), col("dn"))
          .as("cosine"))
      .groupBy("qid", "did") // a (q,d) pair can meet via several probes
      .agg(max("cosine").as("cosine"))
      .withColumn("rank", row_number().over(
        w.partitionBy("qid").orderBy(col("cosine").desc, col("did").asc)))
      .filter(col("rank") <= k)
  }

  /** The ASSIGN half: nearest `keep` centroids per vector, guarded and
    * null-tolerant — (id, vec, norm, cid) rows. */
  private[graft] def assignToCells(vecs: DataFrame, idC: String,
                                   vecC: String, normC: String,
                                   keep: Int, centroids: DataFrame)
  : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cents = centroids
    // centroid width is guarded IN-ROW (raise_error), not by probing the
    // centroid frame: a lazy training plan would pay a full extra
    // evaluation for a one-row width probe, and a silent mismatch would
    // otherwise null every cosine and assign arbitrary cells. The guard
    // fires ONLY on a genuine width conflict (both sides non-empty,
    // different lengths) — null/empty embeddings keep their documented
    // tolerance: null cosine, row drops out of ranking. Measured cost
    // of the guard + null filter on every corpus×centroid score:
    // ~+0.3 s on q48 at sf0.1 (the bench drift 1.0 → 1.3 s arrived
    // with this hardening) — accepted: silent wrong cell assignment is
    // worse than a third of a second
    def guardedCos(vecC: String, normC: String) =
      when(size(col(vecC)) > 0 && size(col("ce")) > 0 &&
          size(col(vecC)) =!= size(col("ce")),
        raise_error(concat(
          lit("centroid dims "), size(col("ce")).cast("string"),
          lit(" != vector dims "), size(col(vecC)).cast("string"))))
        .otherwise(
          cosineFrom(dotQ(col(vecC), col("ce")), col(normC), col("cn")))
    vecs.crossJoin(broadcast(cents))
      .select(col(idC), col(vecC), col(normC), col("cid"),
        guardedCos(vecC, normC).as("ccos"))
      // enforce the documented drop-out: a null/empty-embedding row
      // scores null against EVERY centroid, and without this filter
      // the (desc, cid asc) tie-break would hand it crank=1 in the
      // lowest-cid cell — exactly the arbitrary assignment the guard
      // exists to prevent
      .filter(col("ccos").isNotNull)
      .withColumn("crank", row_number().over(
        w.partitionBy(idC).orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("crank") <= keep)
      .drop("ccos", "crank")
  }
}
