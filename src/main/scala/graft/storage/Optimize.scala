package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction honoring a target file size — the stand-in for
  * `delta.targetFileSize` / `autoOptimize.autoCompact`
  * (`scripts/gold/fact_order_items.sql:14-17` sets 256 MiB): streaming
  * appends and file-level merges accumulate small files; OPTIMIZE
  * bin-packs them back to the target.
  *
  * The record budget per file derives from the table's OWN bytes/row
  * (total file bytes / the rows their parquet footers record — the
  * observed on-disk encoding, not a guess, read without a scan),
  * enforced through the `maxRecordsPerFile` write option;
  * partition fan-in uses the same estimate so each task writes about
  * one target-sized file. Values and schema are untouched — this is a
  * pure layout rewrite, the compaction counterpart of
  * [[DeletionVectors.compact]].
  */
object Optimize {

  /** Table-property key consulted when `targetFileSize` is not given —
    * the same spelling the reference declares. */
  val TargetFileSizeProp = "delta.targetFileSize"

  private def tableFiles(spark: SparkSession, table: String): Seq[Path] = {
    val files = spark.table(table).inputFiles
    require(files.nonEmpty, s"$table has no files to compact")
    files.toSeq.map(new Path(_))
  }

  /** Compact `table` so files land near the target size (bytes). With
    * no explicit size, the table's `delta.targetFileSize` property is
    * consulted, then a 128 MiB default. Returns (files before, after).
    *
    * A live deletion-vector sidecar is FOLDED IN, not resurrected: the
    * rewrite reads [[DeletionVectors.read]] (the live view — soft-
    * deleted rows subtracted) and the new version carries no sidecar,
    * so OPTIMIZE on a DV table behaves like Delta's `REORG ... APPLY
    * PURGE` — pending deletes become physical, and delete-version
    * history before the compaction stops being separable (the same
    * trade [[DeletionVectors.compact]] documents). The reference
    * declares `delta.enableDeletionVectors` and `delta.targetFileSize`
    * on the same gold tables, so the two stand-ins must compose; the
    * previous behavior (compacting `spark.table` raw) would have
    * silently resurrected every soft-deleted row.
    */
  def compact(spark: SparkSession, table: String,
      targetFileSize: Option[Long] = None): (Int, Int) = {
    val target = targetFileSize.orElse {
      // Catalog TBLPROPERTIES are AUTHORITATIVE when the catalog can
      // hold them (Delta semantics: a user's direct ALTER TABLE SET
      // TBLPROPERTIES must win over whatever the pipeline's sidecar
      // last recorded). Try: a same-name temp view rejects SHOW
      // TBLPROPERTIES.
      // Residual of keeping two copies: if the pipeline's own catalog
      // ALTER fails (it logs and continues — e.g. a transient view
      // shadow, since removed by pointAt) while a LATER SHOW succeeds,
      // the catalog can serve a value one declaration behind the
      // sidecar. Re-running the pipeline (which re-issues the ALTER)
      // reconverges them; declarations through SnapshotCommit
      // .setProperties alone never diverge.
      scala.util.Try(spark.sql(s"SHOW TBLPROPERTIES $table").collect())
        .getOrElse(Array.empty[org.apache.spark.sql.Row]).toSeq
        .find(_.getString(0) == TargetFileSizeProp)
        .flatMap(r => scala.util.Try(r.getString(1).toLong).toOption)
    }.orElse {
      // The snapshot-root `_properties` sidecar — the durable copy.
      // The session catalog is in-memory: a new process re-registers
      // the table from its location with no user TBLPROPERTIES, so the
      // sidecar is what carries a pipeline's declaration across
      // processes.
      SnapshotCommit.properties(spark, table).get(TargetFileSizeProp)
        .flatMap(v => scala.util.Try(v.toLong).toOption)
    }.getOrElse(128L * 1024 * 1024)
    require(target > 0, s"bad target file size: $target")

    val files = tableFiles(spark, table)
    val hconf = spark.sparkContext.hadoopConfiguration
    val totalBytes =
      files.map(p => p.getFileSystem(hconf).getFileStatus(p).getLen).sum
    // Bytes per PHYSICAL row: the footers count the rows those bytes
    // encode (DV-masked rows included) — metadata only, no scan.
    val rows = StatsSkipping.footerRowCount(hconf, files)
    val bytesPerRow = math.max(1.0, totalBytes.toDouble / math.max(1L, rows))
    val recordsPerFile = math.max(1L, (target / bytesPerRow).toLong)
    val partitions = math.max(1,
      math.ceil(totalBytes.toDouble / target).toInt)

    // ONE write, atomically published: the compacted layout stages into
    // the next SnapshotCommit version (reading the still-live current
    // files — and, for a DV table, the still-live sidecar) and goes
    // live with the single pointer rename — half the IO of the old
    // stage-then-rewrite, and a crash at any point leaves the previous
    // (data, sidecar) pair fully readable. Tables not yet under
    // snapshot management are adopted in place (their current catalog
    // location keeps serving reads until the commit lands).
    SnapshotCommit.commit(spark, table, operation = "OPTIMIZE") { dir =>
      // The live view is re-derived per attempt: a lost optimistic claim
      // re-invokes this closure against the concurrent winner's version,
      // so the compaction rewrites THAT state (the sizing estimates
      // above are heuristics and may stay one version stale).
      DeletionVectors.read(spark, table).coalesce(partitions).write
        .option("maxRecordsPerFile", recordsPerFile)
        .parquet(dir)
      // A compacted file is a rewrite: when the superseded version
      // carried a `_stats` skipping sidecar, recompute it from the new
      // footers (metadata-only) so maintenance never sheds skipping —
      // and the sink's `_batchid` progress marker carries verbatim
      // (maintenance moves no progress; shedding it would re-open the
      // exactly-once hole on the next crash-replay).
      SnapshotCommit.currentLocation(spark, table).foreach { cur =>
        StatsSkipping.refreshStats(spark, cur, new Path(dir))
        SnapshotCommit.carryBatchId(spark, cur, new Path(dir))
      }
    }
    (files.length, spark.table(table).inputFiles.length)
  }

  /** `OPTIMIZE ... ZORDER BY` — the MAINTENANCE half of the clustering
    * story (the reference's liquid clustering re-layout; b9/b14 cover
    * the write-side half): rewrite the table's live view through the
    * Z-order layout on `cols` and publish it as one atomic snapshot
    * version, WITH a fresh multi-column `_stats` skipping sidecar for
    * exactly those columns — so a table that was committed unclustered
    * (every file spans every key range, nothing prunes) becomes
    * query-proportional for point/range predicates on ANY clustered
    * key, through the DEFAULT read path, without touching a single
    * query. Values and schema are untouched: pure layout.
    *
    * Deletion vectors FOLD IN, same as [[compact]] (the rewrite reads
    * the live view, the new version carries no sidecar — Delta's
    * `REORG ... APPLY PURGE` trade); delete-version history before the
    * re-layout stops being separable. Cost: one bounds-agg pass + one
    * range shuffle of the live rows (ZOrder.layout), amortized over
    * every later selective scan — the optimize-once/skip-forever
    * economics the reference buys from liquid clustering.
    */
  def zorder(spark: SparkSession, table: String, cols: Seq[String],
      partitions: Option[Int] = None): Unit = {
    require(cols.nonEmpty, "zorder needs at least one clustering column")
    StatsSkipping.commitWithStats(spark, table, cols,
      operation = "OPTIMIZE ZORDER") { dir =>
      // Re-derived per attempt (commit write-closure contract): a lost
      // claim re-invokes against the winner's version, folding ITS
      // state.
      val live = DeletionVectors.read(spark, table)
      ZOrder.layout(live, cols.take(4), partitions).write.parquet(dir)
      SnapshotCommit.currentLocation(spark, table).foreach(cur =>
        SnapshotCommit.carryBatchId(spark, cur, new Path(dir)))
    }
  }
}
