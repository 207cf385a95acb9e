package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC apply — the intake face of
  * [[graft.lake.SnapshotTable]]: change batches arrive as files, each
  * micro-batch commits into the partitioned curated table as ONE
  * snapshot version, and only the partitions a batch touches are
  * rewritten. `Trigger.AvailableNow` gives the cron-batch semantics
  * (drain what exists, stop) while the identical query runs
  * continuously on a cluster.
  *
  * Replay contract (foreachBatch is AT-LEAST-ONCE): an upsert is
  * idempotent in its content — re-applying the same change batch
  * replaces the same keys with the same rows — so a crashed-then-
  * retried batch converges instead of double-applying (pinned in
  * `CdcStreamSpec`). A crash mid-batch leaves readers on the previous
  * version (its staged directories are invisible garbage that vacuum
  * collects), and the checkpoint replays the batch to a clean commit.
  *
  * The checkpoint lives under `<root>/_cdc_checkpoint` — the
  * underscore prefix keeps Spark's file index from reading it as data.
  */
object CdcStream {

  /** A materialized aggregate to keep in lock-step with the
    * CDC-maintained base table (see [[graft.lake.MaterializedAgg]]). */
  final case class MvBinding(
      mvRoot: String,
      spec: graft.lake.MaterializedAgg.MvSpec,
      nBuckets: Int = 16)

  /** Opt-in per-batch table upkeep for the ATOMIC maintainers:
    * `views` are incrementally refreshed after every committed batch
    * (each refresh folds exactly the versions the batch minted —
    * manifest-diff pruned, O(changed partitions)); `tokenizedRoots`
    * ([[graft.operators.TokenizedCorpus]] materializations) re-tokenize
    * only the batch's changed partitions the same way; every
    * `optimizeEveryBatches` drained batches the base table bin-packs
    * through [[graft.lake.SnapshotTable.optimize]] (0 = never); every
    * `vacuumEveryBatches` batches RETENTION runs — the base and every
    * derived table (views, tokenized tables) vacuum down to
    * `vacuumKeepVersions`, with each maintainer's
    * APPLIED base version protected so the incremental paths' read-at-
    * both-versions contract survives its own garbage collection. A
    * 5-minute CDC cadence mints ~100k versions/year; without the
    * vacuum leg the maintenance story is incomplete at exactly the
    * scale it exists for.
    * The view and tokenized refreshes are independent of each other
    * (each reads only the base), so after the optimize step they run
    * CONCURRENTLY — one named daemon thread per refresh, inline when
    * there is just one — and all of them join before the lane publish
    * and the vacuum leg. A failed refresh still waits for the others,
    * then the batch publishes no lane version, skips the vacuum, and
    * rethrows the first failure's own exception: the lane stays at the
    * last completed cut, and the replay re-converges every member.
    * Every step is an idempotent no-op on replay — a refresh against
    * an already-reflected base version, an optimize of an already-
    * compact table, and a vacuum with nothing to drop all return
    * without committing — so foreachBatch at-least-once semantics are
    * preserved. */
  final case class TableMaintenance(
      views: Seq[MvBinding] = Nil,
      tokenizedRoots: Seq[String] = Nil,
      optimizeEveryBatches: Int = 0,
      optimizeTargetBytes: Long = 128L << 20,
      vacuumEveryBatches: Int = 0,
      vacuumKeepVersions: Int = 8,
      // publish a LANE VERSION after every completed batch (round 17,
      // graft.lake.Lane): the lane pins base + every view + every
      // tokenized postings table at the post-drain cut, so a reader
      // resolving through it can never observe a half-drained batch —
      // and because the publish lands BEFORE the vacuum leg, the
      // pinned cuts are protected by the lane registry automatically.
      laneRoot: Option[String] = None) {
    require(optimizeEveryBatches >= 0, "cadence must be >= 0")
    require(vacuumEveryBatches >= 0, "cadence must be >= 0")
    require(vacuumKeepVersions >= 1, "must keep at least one version")

    private[streaming] def run(
        spark: org.apache.spark.sql.SparkSession, root: String,
        partitionBy: Seq[String], batchId: Long): Unit = {
      import graft.lake.{MaterializedAgg, SnapshotTable}
      import graft.operators.TokenizedCorpus
      // optimize BEFORE the refreshes: a compaction rewrites
      // partitions with identical rows, which the view fold sees as
      // all-zero deltas — running it first keeps the refresh from
      // having to fold the compaction as a separate version next batch
      if (optimizeEveryBatches > 0 &&
          batchId % optimizeEveryBatches == optimizeEveryBatches - 1)
        SnapshotTable.optimize(spark, root, optimizeTargetBytes)
      runJoined(
        views.zipWithIndex.map { case (b, i) => s"mv$i" -> (() => {
          MaterializedAgg.refresh(spark, root, b.mvRoot, b.spec, b.nBuckets)
          ()
        }) } ++
        tokenizedRoots.zipWithIndex.map { case (t, i) => s"tok$i" -> (() => {
          TokenizedCorpus.refresh(spark, root, t, partitionBy)
          ()
        }) })
      laneRoot.foreach { lr =>
        graft.lake.Lane.publish(spark, lr,
          ("base" -> root) +:
            (views.map(b => s"mv:${b.mvRoot}" -> b.mvRoot) ++
              tokenizedRoots.map(t =>
                s"tok:$t" -> TokenizedCorpus.postingsRoot(t))))
      }
      if (vacuumEveryBatches > 0 &&
          batchId % vacuumEveryBatches == vacuumEveryBatches - 1) {
        // the LANE vacuums first on the same cadence: member vacuums
        // protect whatever the lane still retains, so bounding the
        // lane's history is what re-bounds every member's (the design's
        // "the lane's own vacuum bounds how much member history must
        // stay reachable")
        laneRoot.foreach(lr =>
          graft.lake.Lane.vacuum(spark, lr, vacuumKeepVersions))
        // retention AFTER the refreshes: every maintainer is current,
        // so the protected set is just each one's applied anchor
        val protect = (views.flatMap(b =>
            MaterializedAgg.appliedBaseVersion(spark, b.mvRoot)) ++
          tokenizedRoots.flatMap(t =>
            TokenizedCorpus.appliedBaseVersion(spark, t))).toSet
        SnapshotTable.vacuum(spark, root, vacuumKeepVersions, protect)
        views.foreach(b =>
          SnapshotTable.vacuum(spark, b.mvRoot, vacuumKeepVersions))
        tokenizedRoots.foreach(t =>
          TokenizedCorpus.vacuum(spark, t, vacuumKeepVersions))
      }
    }
  }

  /** Runs every named task — concurrently when there are several, each
    * as a `FutureTask` on daemon thread `graft-maint-<name>` — and
    * returns only once ALL have finished and their threads are gone.
    * Rethrows the first failed task's original exception, never an
    * `ExecutionException` wrapper. */
  private def runJoined(tasks: Seq[(String, () => Unit)]): Unit =
    if (tasks.size == 1) tasks.head._2()
    else {
      val started = tasks.map { case (name, body) =>
        val task = new java.util.concurrent.FutureTask[Unit](() => body())
        val th = new Thread(task, s"graft-maint-$name")
        th.setDaemon(true)
        th.start()
        (th, task)
      }
      val failures = started.flatMap { case (th, task) =>
        th.join()
        try { task.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        }
      }
      failures.headOption.foreach(e => throw e)
    }

  /** The CDC upsert drain, applied ATOMICALLY per micro-batch via
    * [[graft.lake.SnapshotTable.upsert]]: every batch commits as one
    * snapshot version, so a crash mid-batch leaves readers on the
    * previous version (crashed batches are invisible garbage,
    * collected by vacuum) and the checkpoint replays the batch to a
    * clean new commit.
    *
    * `versionCol`: the change-order column (a CDC sequence number /
    * commit timestamp). A micro-batch can carry SEVERAL changes for
    * one key (AvailableNow drains every pending file into one batch);
    * the batch reduces to the row with the greatest version per key
    * before the upsert — without the reduction the batch would carry
    * duplicate keys, which the upsert rejects. When the feed has no
    * version column, pass None: the reduction then orders by ALL
    * non-key columns (deterministic, but an ARBITRARY winner among
    * genuinely different changes — fine for replays of identical
    * rows, wrong for conflicting ones; give real CDC feeds a version).
    *
    * Replay convergence is by CONTENT: a re-applied batch produces an
    * extra version whose rows equal the first application's (pinned in
    * `CdcStreamSpec`). Pre-create the table with `SnapshotTable.write`
    * to pin its schema; a stream that bootstraps the table itself lets
    * the first batch define the schema, INCLUDING feed-only columns
    * like the CDC version. */
  def maintainUpsertsAtomic(
      updates: DataFrame,
      root: String,
      key: String,
      partitionBy: Seq[String],
      versionCol: Option[String] = None,
      maintenance: TableMaintenance = TableMaintenance()): StreamingQuery =
    maintainKeyed(updates, root, key, partitionBy, None, versionCol,
      maintenance)

  /** Full CDC semantics, atomically: the feed carries DELETE tombstones
    * alongside upserts (`opCol` = "d" marks a delete; tombstones must
    * carry the partition column — the standard 'before'-image
    * requirement). Each micro-batch reduces to the LATEST event per key
    * (a delete arriving after an upsert in one batch deletes; the
    * reverse re-inserts) and applies through
    * [[graft.lake.SnapshotTable.applyChanges]] — upserts and deletes in
    * ONE manifest commit, so no reader can observe the
    * deletes-without-upserts (or reverse) half state that routing
    * through two calls would expose. On a never-written root the first
    * batch's upserts create v1 and its tombstones delete nothing;
    * pre-create the table with `SnapshotTable.write` to pin its
    * schema. */
  def maintainChangesAtomic(
      updates: DataFrame,
      root: String,
      key: String,
      partitionBy: Seq[String],
      opCol: String,
      versionCol: Option[String] = None,
      maintenance: TableMaintenance = TableMaintenance()): StreamingQuery =
    maintainKeyed(updates, root, key, partitionBy, Some(opCol), versionCol,
      maintenance)

  /** The NAME-addressed CDC drain (round-14 verdict item 8) — the
    * write-side completion of what `followTableIntoInvertedIndex` did
    * for reads: an intake pipeline lands in a governed table by its
    * CATALOG NAME, with the root, partition layout, and row key all
    * resolved from the binding + manifest declarations — the pipeline
    * carries zero storage coordinates, and a re-pointed binding
    * re-points the pipeline. Same OCC/replay guarantees as the
    * root-addressed maintainer (it IS [[maintainChangesAtomic]] after
    * resolution). A version-pinned binding refuses (immutable), a
    * table without a recorded key refuses with the declare path
    * named — the same loud contracts as SQL MERGE. */
  def maintainChangesAtomicIntoTable(
      spark: org.apache.spark.sql.SparkSession,
      updates: DataFrame,
      table: String,
      opCol: String,
      versionCol: Option[String] = None,
      maintenance: TableMaintenance = TableMaintenance()): StreamingQuery = {
    val (root, key, pby) = resolveWritable(spark, table)
    maintainChangesAtomic(updates, root, key, pby, opCol, versionCol,
      maintenance)
  }

  private def resolveWritable(
      spark: org.apache.spark.sql.SparkSession,
      table: String): (String, String, Seq[String]) = {
    import graft.lake.{LakeCatalog, SnapshotTable}
    val (root, pinned) = LakeCatalog.resolveBinding(spark, table)
    require(pinned.isEmpty,
      s"$table pins v${pinned.get}: a historical version is immutable — " +
        "bind at latest to stream into the table")
    val key = SnapshotTable.rowKey(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no recorded row key: run any keyed mutation " +
          "(upsert/applyChanges) or SnapshotTable.declareKey once"))
    (root, key, SnapshotTable.partitionColumns(spark, root))
  }

  /** Both drains: each micro-batch reduced to its latest event per key,
    * then ONE keyed merge ([[graft.lake.SnapshotTable.mergeKeyed]] —
    * tombstones are the rows whose `opCol` is "d"), then the batch's
    * table upkeep. */
  private def maintainKeyed(
      updates: DataFrame, root: String, key: String,
      partitionBy: Seq[String], opCol: Option[String],
      versionCol: Option[String],
      maintenance: TableMaintenance): StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/_cdc_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], bid: Long) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val order = versionCol match {
          case Some(vc) => col(vc).desc
          case None => struct(
            batch.columns.filter(_ != key).map(col).toSeq: _*).desc
        }
        val reduced = batch
          .withColumn("__cdc_rn",
            row_number().over(Window.partitionBy(col(key)).orderBy(order)))
          .filter(col("__cdc_rn") === 1)
          .drop("__cdc_rn")
        // versionCol stays in the frame: the merge projects the batch
        // to the table's columns, so an extra feed-only column is
        // ignored there, while a version that IS a table column lands
        // like any other field
        graft.lake.SnapshotTable.mergeKeyed(batch.sparkSession, root,
          reduced, key, partitionBy, opCol, filesPerPartition = 1,
          mergeSchema = false)
        maintenance.run(batch.sparkSession, root, partitionBy, bid)
      }
      .start()
}
