package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.storage.SnapshotCommit

/** TRANSACTIONAL streaming sink: each micro-batch commits as ONE atomic
  * [[SnapshotCommit]] version — new files written, the previous
  * version's files carried (hard links locally, zero data IO),
  * and the batch id recorded in a `_batchid` sidecar INSIDE the version
  * directory, so the data and its progress marker publish together
  * under the single pointer rename.
  *
  * Why this is stronger than the foreachBatch marker pattern (the
  * Pipeline streaming Table arm, and every non-transactional sink): the
  * marker pattern has a documented gap — a crash in the instant BETWEEN
  * the append and the marker write duplicates that batch on replay.
  * Here there is no instant between them: the batch's rows and its id
  * are the same atomic commit, so a replayed batch (checkpoint behind
  * the sink) is recognized by [[lastBatchId]] and skipped, and a batch
  * whose commit never landed left no partial state — EXACTLY-ONCE into
  * a queryable, time-travelable table, the Delta streaming-sink
  * contract (idempotent writes keyed on (checkpoint, batchId)).
  *
  * Scale: per-batch cost = the batch's own files + O(existing files)
  * directory entries (links; copies on a non-local filesystem); the
  * data bytes of prior batches never move on a local filesystem.
  * Long streams should interleave [[graft.storage.Optimize.compact]]
  * (which preserves DV masks and stats sidecars) to keep the file count
  * bounded — the same OPTIMIZE cadence Delta streaming tables need.
  */
object SnapshotSink {

  private val BatchIdFile = "_batchid"

  /** The batch id recorded by the CURRENT version's commit, -1 before
    * any batch. */
  def lastBatchId(spark: SparkSession, table: String): Long =
    SnapshotCommit.currentLocation(spark, table).map { dir =>
      val p = new Path(dir, BatchIdFile)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong
        finally in.close()
      }
    }.getOrElse(-1L)

  /** Control-flow signal: the closure found `batchId` already committed
    * at the CURRENT version (a concurrent/zombie writer, or a replay
    * that raced this call) — the append must become a no-op, not a
    * duplicate version. */
  private final class AlreadyCommitted extends RuntimeException

  /** Control-flow signal: the batch wrote no row into a table that
    * already has a version — there is nothing to publish. */
  private final class EmptyBatch extends RuntimeException

  /** Commit `batch` as the table's next version iff `batchId` has not
    * already been committed (idempotent under micro-batch replay) and
    * the batch holds a row. Returns true when a commit happened.
    * Intended as a foreachBatch body: `.foreachBatch((b, id) =>
    * SnapshotSink.append(spark, tbl, id, b))`.
    *
    * An EMPTY batch into a table that already has a version publishes
    * nothing: no version, no zero-row file (a watermarked stream runs a
    * no-data batch after each batch that moves its watermark). Its rows
    * are known only once written, so the write runs and the staged
    * files' footers decide; the stage is then discarded. The batch id
    * is not recorded, which keeps exactly-once: a replay of the batch
    * is empty again and publishes nothing again. A table's FIRST batch
    * commits even when empty, so the table exists with its schema.
    *
    * The idempotence check runs INSIDE the commit closure, against the
    * version the claim will validate: two writers racing the same
    * batchId (a failed-over driver's zombie and its replacement — the
    * Delta txn-id scenario) cannot both land it, because the loser's
    * closure re-invokes against the winner's version, re-reads the
    * marker, and aborts. A pre-check outside the closure would leave
    * exactly that window open.
    *
    * Batch ids are only meaningful relative to ONE checkpoint's
    * numbering (they restart at 0 if the checkpoint is reset) — a reset
    * must recreate the table too, exactly as Delta documents for its
    * txn-version idempotence.
    */
  def append(spark: SparkSession, table: String, batchId: Long,
      batch: DataFrame): Boolean = {
    if (lastBatchId(spark, table) >= batchId) return false // fast path
    try {
      SnapshotCommit.commit(spark, table,
        operation = "STREAMING UPDATE") { stage =>
        // Re-checked per attempt against the then-current version (see
        // the scaladoc): a rebased retry after losing the claim to a
        // concurrent writer of this same batch must abort, not
        // re-append.
        if (lastBatchId(spark, table) >= batchId)
          throw new AlreadyCommitted
        val stageP = new Path(stage)
        val fs =
          stageP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prev = SnapshotCommit.currentLocation(spark, table)
        // 1. The batch's own rows (part names embed a job UUID — they
        //    can never collide with carried names), OVERLAPPED (guide
        //    §2.6) with 2. the carry of the previous version's files,
        //    resolved INSIDE the closure (the rebase contract) — the
        //    two touch disjoint names in the fresh stage dir, so the
        //    batch write job and the driver-side link loop hide each
        //    other. mode("append") because the carry may create the
        //    directory first (and an overwrite would delete its links).
        //    The deletion-vector sidecar re-stamps fresh below (every
        //    delete coordinate kept — an append must never resurrect
        //    rows a DV delete masked); the skipping sidecar refreshes
        //    AFTER the join (it lists the staged files, so it needs the
        //    batch's output in place). An EMPTY batch still writes one
        //    schema-bearing file (SPARK-23271), so an empty first
        //    version registers like any other (PipelineSpec pins it);
        //    a later empty batch stops here (see the scaladoc).
        var carried = Set.empty[String]
        graft.core.Overlap.overlapped {
          batch.write.mode("append").parquet(stage)
        } {
          prev.foreach { p =>
            carried = SnapshotCommit.listData(spark, p).map(_.getName).toSet
            SnapshotCommit.carryData(spark, p, stageP)
          }
        }
        // The batch's fresh basenames = staged minus carried — the
        // change-axis stamp below names them so table_changes (and the
        // streaming change feed) serve this micro-batch as inserts,
        // exactly what Delta's CDF does for streaming writes.
        val appended = SnapshotCommit.listData(spark, stageP)
          .filterNot(p => carried(p.getName))
        if (prev.isDefined && graft.storage.StatsSkipping.footerRowCount(
            spark.sparkContext.hadoopConfiguration, appended) == 0)
          throw new EmptyBatch
        prev.foreach(p =>
          graft.storage.StatsSkipping.refreshStats(spark, p, stageP))
        // Stamp the CHANGE AXIS (r17): one version per micro-batch,
        // `_add:` sentinels naming the batch's files — the same stamp
        // INSERT INTO writes, so the CDC surface answers for streaming
        // appends instead of failing loudly on an unknown operation.
        // Every existing delete coordinate is kept (stampVersion's
        // contract), replacing the previous physical _dv carry.
        graft.storage.DeletionVectors.stampVersion(spark, table,
          stageP, op = "WRITE", added = appended.map(_.getName))
        // 3. The progress marker, atomic WITH the rows it covers.
        val out = fs.create(new Path(stageP, BatchIdFile), false)
        try out.write(batchId.toString.getBytes("UTF-8"))
        finally out.close()
      }
      true
    } catch { case _: AlreadyCommitted | _: EmptyBatch => false }
  }
}
