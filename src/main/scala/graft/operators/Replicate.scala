package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}

/** Exactly-once incremental CDC REPLICATION between two
  * [[CommitLog]]-managed sinks — the subscription loop a downstream
  * consumer runs against a table's change feed, with restart safety
  * production replication requires:
  *
  *   - the feed is derived from the upstream MANIFESTS alone
  *     ([[CommitLog.changesBetween]] with update pairing) — no change
  *     files, cost ∝ changed files per window;
  *   - each window lands on the replica through the tri-branch
  *     [[Merge.applyCdcParquet]], whose commit carries a `#txn`
  *     ledger record `(appId → upstream generation)` IN THE SAME
  *     atomic manifest publish — a crash after the commit leaves the
  *     ledger already advanced (the re-run skips the window), a crash
  *     before it leaves the replica untouched (the re-run reapplies),
  *     so a window is never applied twice and never lost;
  *   - reapplication is additionally harmless by construction: the
  *     net batch's U ops are value-idempotent and its D ops no-op on
  *     already-deleted keys — the ledger is the fast path, not the
  *     only safety.
  *
  * The reference ships its warehouse sync as repeated full-table
  * MERGEs (`dags/idh_etl.py:247-256` re-reads the whole staging
  * shard every hour); feed-driven replication moves only the delta,
  * which is the difference between rewriting 100 TB nightly and
  * shipping megabytes. */
object Replicate {

  /** One sync outcome: the window applied and its row effects. */
  final case class SyncStats(fromGen: Long, toGen: Long,
                             rowsUpdated: Long, rowsDeleted: Long,
                             rowsInserted: Long)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bootstrap the replica: copy the upstream's CURRENT logical state
    * into `down` (the one unavoidable full read) and record the
    * upstream generation it reflects in the replica's ledger. Returns
    * that generation. The upstream must retain it (and every later
    * one) until the subscription catches up — bound retention to
    * subscriber lag, exactly a table format's CDC-retention knob. */
  def init(spark: SparkSession, up: String, down: String,
           appId: String): Long = {
    val hUp = new Path(up); val hDown = new Path(down)
    // upstream and replica may live on DIFFERENT filesystems (hdfs →
    // s3 replica): every replica-side operation resolves its own FS
    val fsUp = fsOf(spark, hUp)
    val fsDown = fsOf(spark, hDown)
    require(!fsDown.exists(hDown) ||
      CommitLog.committed(fsDown, hDown).isEmpty,
      s"replica $down already exists — init bootstraps a FRESH copy")
    val (gUp, _) = CommitLog.ensureLoggedAt(fsUp, hUp)
    // copy the PINNED snapshot, not the latest state: a commit landing
    // between the generation read and the copy would otherwise leave
    // the ledger claiming less than the replica holds, and the first
    // sync would re-apply a window (idempotent, but a wasted rewrite)
    // seed file count ∝ snapshot bytes, never the scan's task count
    // (Sources.sizedForWrite — guide §2.2/§6)
    graft.io.Sources.internalWriter(graft.io.Sources.sizedForWrite(
        CommitLog.readAt(spark, up, gUp)))
      .mode("overwrite").parquet(down)
    val (g0, live) = CommitLog.ensureLoggedAt(fsDown, hDown)
    CommitLog.commitNext(fsDown, hDown, g0, live,
      txn = Some((appId, gUp)))
    gUp
  }

  /** Apply every upstream window committed since the last sync, one
    * feed + one replica MERGE: ledger generation → upstream LATEST.
    * No-op (and no commit) when already caught up. Loud when the
    * ledger's generation has been expired upstream — the subscriber
    * lagged past retention and must re-[[init]]. */
  def syncOnce(spark: SparkSession, up: String, down: String,
               keys: Seq[String], appId: String,
               failpoint: String => Unit = _ => ()): SyncStats = {
    val hUp = new Path(up); val hDown = new Path(down)
    val fsUp = fsOf(spark, hUp)
    val fsDown = fsOf(spark, hDown)
    val from = CommitLog.latestSnapshot(fsDown, hDown)
      .flatMap(_._2.txns.get(appId)).getOrElse(
      throw new IllegalStateException(
        s"replica $down carries no ledger for '$appId' — run " +
          "Replicate.init first"))
    val upGens = CommitLog.generations(fsUp, hUp)
    require(upGens.nonEmpty, s"upstream $up is not logged")
    val to = upGens.last
    if (to <= from) return SyncStats(from, from, 0L, 0L, 0L)
    require(upGens.contains(from),
      s"upstream generation $from was expired before this subscriber " +
        s"caught up (retained: ${upGens.head}..$to) — re-init the " +
        "replica")
    // Delta-CDF consumption: preimages drop, postimages/inserts are
    // upserts, deletes are deletes; changesBetween already netted
    // intra-window churn, so the batch is net-per-key by construction
    val ops = CommitLog.changesBetween(spark, up, from, to, keys)
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("__op",
        when(col("_change_type") === "delete", lit("D"))
          .otherwise(lit("U")))
      .drop("_change_type")
    val st = Merge.applyCdcParquet(spark, ops, keys, "__op", down,
      failpoint = failpoint, txn = Some((appId, to)))
    SyncStats(from, to, st.rowsUpdated, st.rowsDeleted, st.rowsInserted)
  }
}
