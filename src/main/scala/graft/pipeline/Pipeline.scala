package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.dq.{Action, Expectation, Expectations}

/** Declarative dataset registry + runner — the engine's DLT analogue.
  *
  * The reference wires its medallion layers through named datasets with
  * implicit dependencies (`dlt.read_stream("live.silver_orders")`,
  * `LIVE.silver_order_payments`; SURVEY.md §2.8 "Orchestration") and
  * per-table quality expectations. Here a [[Dataset]] declares its name,
  * upstream names, expectations, and a build function from resolved
  * upstreams; [[Pipeline.run]] topologically orders the graph, enforces
  * expectations (warn logs / fail throws / drop filters — the
  * `@dlt.expect*` triad), and materializes according to [[Materialize]]:
  *
  *  - View: kept lazy (DLT `@dlt.view` staging views, S2/S4);
  *  - Table: the streaming-table analogue (S3). A STREAMING build runs
  *    through `writeStream.toTable` with Trigger.AvailableNow and a
  *    per-table checkpoint, so re-runs process only files the source
  *    checkpoint has not seen — exactly-once incremental append, the
  *    DLT streaming-table contract. A BATCH build cannot carry source
  *    progress, so it degrades to full refresh (overwrite) rather than
  *    blind append — re-running the pipeline never duplicates rows
  *    either way;
  *  - MaterializedView: full refresh via overwrite `saveAsTable`
  *    (`CREATE OR REFRESH MATERIALIZED VIEW`, S7); rejects streaming
  *    builds (a refresh is a batch recomputation by definition).
  *
  * Scale: the runner only sequences Spark actions — all data movement is
  * Spark jobs; a 1000-executor run behaves identically. Writes go
  * through the session catalog so downstream `spark.table` (S5/S6)
  * resolves 2/3-part names.
  */
/** @param clusterBy the open-source stand-in for the reference's liquid
  *   clustering (`fact_order_items.sql:9 CLUSTER BY`): materialized
  *   output is range-repartitioned and sorted within partitions on these
  *   columns, so rows with nearby keys co-locate in the same files and
  *   min/max file statistics prune reads — the parquet analogue of Delta
  *   data skipping. Layout-only: values are unchanged.
  * @param tableProperties informational metadata recorded on the
  *   committed table via ALTER TABLE ... SET TBLPROPERTIES — the
  *   engine's carrier for the reference's NOT-ENFORCED constraint
  *   declarations (`fact_order_items.sql:3-7` names PRIMARY KEY / FOREIGN
  *   KEY constraints that Databricks stores as catalog metadata, not
  *   runtime checks; enforcement here is the expectations layer).
  * @param validateStaged how warn/fail expectations are checked on a
  *   BATCH table/MV build. false (default): one aggregate pass over the
  *   build plan before the write — right for cheap builds (scan +
  *   project), where re-running the plan costs less than an extra
  *   materialization. true: the build is materialized ONCE to a staging
  *   dir, validated there, and committed from the staged copy — right
  *   for expensive builds (multi-join facts), where the aggregate pass
  *   would re-run the whole join tree; either way a Fail violation
  *   throws BEFORE the catalog is touched, so the prior committed
  *   version survives a failed refresh (DLT's FAIL UPDATE abort).
  */
final case class Dataset(
    name: String,
    deps: Seq[String],
    build: (SparkSession, Map[String, DataFrame]) => DataFrame,
    expectations: Seq[Expectation] = Nil,
    materialize: Materialize = Materialize.View,
    clusterBy: Seq[String] = Nil,
    tableProperties: Map[String, String] = Map.empty,
    validateStaged: Boolean = false)

sealed trait Materialize
object Materialize {
  case object View extends Materialize
  case object Table extends Materialize
  case object MaterializedView extends Materialize

  /** MERGE-based refresh keyed on the table's natural key — the
    * reference's incremental streaming-table semantics for batch
    * upstream (docs/pipeline-flow.png "Streaming Tables — INCREMENTAL
    * LOAD"): each run upserts the incoming batch (matched keys are
    * replaced whole-row, SCD1; unmatched keys insert) and rows ABSENT
    * from the batch survive — unlike Table's batch full refresh, history
    * is retained across runs. Without a transactional table format the
    * snapshot swap is a staged rewrite (see the run() case); with
    * Delta/Iceberg jars the same frame would commit as `MERGE INTO`
    * touching only matched files.
    */
  final case class Incremental(keys: Seq[String]) extends Materialize {
    require(keys.nonEmpty, "incremental materialization needs merge keys")
  }
}

final class PipelineCycleException(msg: String) extends RuntimeException(msg)

class Pipeline {
  private val datasets = mutable.LinkedHashMap.empty[String, Dataset]

  def register(d: Dataset): this.type = {
    require(!datasets.contains(d.name), s"duplicate dataset ${d.name}")
    datasets += d.name -> d
    this
  }

  /** Dataset-factory loop over a name list — the reference's bronze
    * table factory (`scripts/bronze/bronze_ingestion.py:35-53`, S2).
    */
  def registerAll(names: Seq[String])(f: String => Dataset): this.type = {
    names.foreach(n => register(f(n)))
    this
  }

  /** Topological order with deterministic tie-break (registration
    * order); throws on cycles or unknown deps.
    */
  def topoOrder: Seq[String] = {
    val indeg = mutable.LinkedHashMap.from(datasets.map { case (n, d) =>
      d.deps.foreach(dep => require(datasets.contains(dep),
        s"dataset $n depends on unregistered $dep"))
      // DISTINCT: deps may repeat (a registerAll factory over a list
      // with duplicates); the completion loop below decrements once per
      // dependent dataset, so counting repeats would strand the node at
      // indegree > 0 and report a spurious cycle.
      n -> d.deps.distinct.size
    })
    val order = mutable.ArrayBuffer.empty[String]
    val ready = mutable.Queue.from(indeg.collect { case (n, 0) => n })
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      order += n
      datasets.values.filter(_.deps.contains(n)).foreach { d =>
        indeg(d.name) -= 1
        if (indeg(d.name) == 0) ready += d.name
      }
    }
    if (order.size != datasets.size)
      throw new PipelineCycleException(
        s"cycle among: ${datasets.keySet.diff(order.toSet).mkString(", ")}")
    order.toSeq
  }

  /** Per-table stream checkpoint under the session warehouse — survives
    * across runs, which is exactly what makes Table re-runs idempotent.
    */
  private def checkpointDir(spark: SparkSession, name: String): String =
    spark.conf.get("spark.sql.warehouse.dir") + s"/_graft_checkpoints/$name"

  /** Batch-id marker directory for streaming Table appends — see the
    * Table case in [[run]].
    */
  private def commitsDir(spark: SparkSession, name: String): String =
    checkpointDir(spark, name) + "_commits"

  private def dropOrphanLocation(spark: SparkSession, name: String): Unit =
    graft.core.CatalogUtil.dropOrphanLocation(spark, name,
      Seq(checkpointDir(spark, name), commitsDir(spark, name)))

  /** Apply the CLUSTER BY layout (see [[Dataset.clusterBy]]). One key
    * range-sorts lexicographically; several keys take the Z-order layout
    * ([[graft.storage.ZOrder]]) so every clustered key's min/max file
    * stats stay prunable, not just the leading one — the reference fact
    * clusters on four keys (`fact_order_items.sql:9`) and a lexicographic
    * sort would leave three of them unprunable. Z-order interleaves at
    * most four keys; further keys only break ties within files via the
    * in-file sort.
    */
  private def clustered(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df
    else if (cols.size == 1) df.repartitionByRange(cols.map(df.col): _*)
      .sortWithinPartitions(cols.map(df.col): _*)
    else graft.storage.ZOrder.layout(df, cols.take(4))

  /** The clustered layout PLUS size-derived file fan-out — the batch
    * materialization write shape (Databricks "optimized writes"): the
    * partition count comes from [[graft.storage.OptimizedWrite]]'s
    * input-bytes rule (target file = bytes/(2x parallelism) clamped to
    * [256 KiB, 128 MiB]), so a production-scale refresh lands ~128 MiB
    * files while a small table still fans out wide enough that every
    * DOWNSTREAM scan (and this write's own encode) uses the cluster —
    * committed-table file count is the read-side parallelism floor for
    * single-row-group files, which byte-based AQE coalescing cannot see
    * (guide §2.2/§6). Streaming micro-batch appends keep [[clustered]]
    * (their batches are already bounded; an extra exchange per batch
    * would only add latency).
    */
  private def clusteredSized(df: DataFrame, cols: Seq[String]): DataFrame = {
    val n = graft.storage.OptimizedWrite.targetPartitions(df)
    if (cols.isEmpty) df.repartition(n)
    else if (cols.size == 1)
      df.repartitionByRange(n, cols.map(df.col): _*)
        .sortWithinPartitions(cols.map(df.col): _*)
    else graft.storage.ZOrder.layout(df, cols.take(4), Some(n))
  }

  /** Drop expectations are plan-level filters applied in flight (batch
    * and streaming alike). Warn/fail need an aggregate over the full
    * frame, so WHERE they run depends on the materialization — see
    * [[run]]: lazy views enforce at build time, streaming tables per
    * micro-batch inside foreachBatch, and batch materializations against
    * a staged copy of the build (one build pass, abort-before-commit).
    */
  private def applyDrops(df: DataFrame, exps: Seq[Expectation]): DataFrame =
    Expectations.applyDrops(df, exps) // single-sourced semantics

  /** Validate a batch build destined for a table WITHOUT running the
    * build twice: materialize it once to a staging dir, enforce warn/fail
    * over the staged copy (a cheap parquet scan, not a re-build), and
    * hand back the staged frame for the commit. A Fail violation throws
    * HERE — before the catalog is touched — so the previously committed
    * version survives a failed refresh (DLT's ON VIOLATION FAIL UPDATE
    * abort), and the build's joins/aggregates are paid exactly once.
    * Caller must [[deleteDir]] the staging dir after the commit.
    */
  private def stageAndValidate(spark: SparkSession, df: DataFrame,
      warnFail: Seq[Expectation], staging: String): DataFrame = {
    df.write.mode("overwrite").parquet(staging)
    val staged = spark.read.parquet(staging)
    Expectations.enforce(staged, warnFail)
    staged
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Build every dataset respecting dependency order; returns
    * name -> DataFrame (materialized datasets are re-read from the
    * catalog so downstream consumers see the committed table).
    *
    * Independent datasets materialize CONCURRENTLY: each dataset's
    * materialization is a Future gated on its upstream Futures, so the
    * wall-clock of a level of independent silver tables is the MAX of
    * the level, not the sum — the DLT behavior (independent flows run
    * in parallel) and the right shape for a driver orchestrating a
    * 1000-executor cluster, where serializing independent table refreshes
    * would idle the fleet. Spark's scheduler interleaves the concurrent
    * jobs; a failure anywhere fails the run with the original exception.
    */
  def run(spark: SparkSession): Map[String, DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val order = topoOrder // validates deps + rejects cycles up front
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, datasets.size)))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val futures = mutable.LinkedHashMap.empty[String, Future[DataFrame]]
      order.foreach { name =>
        val d = datasets(name)
        val gate = Future.sequence(d.deps.map(futures(_)))
        futures(name) = gate.map { depFrames =>
          materializeOne(spark, d, d.deps.zip(depFrames).toMap)
        }
      }
      val frames =
        Await.result(Future.sequence(order.map(futures(_))), Duration.Inf)
      order.zip(frames).toMap
    } finally pool.shutdown()
  }

  /** Materialize a single dataset from its resolved upstream frames. */
  private def materializeOne(spark: SparkSession, d: Dataset,
      upstream: Map[String, DataFrame]): DataFrame = {
    val name = d.name
    // DLT COUNTING SEMANTICS: every expectation — warn, fail AND drop —
    // is evaluated against the dataset's INPUT rows. Drops filter what
    // lands in the table (`df`), but warn/fail always aggregate over
    // the PRE-drop build (`built`): a row violating both a drop rule
    // and a fail rule must still abort the update, and warn counts must
    // not silently shrink because another rule dropped the rows first.
    val built = d.build(spark, upstream)
    val warnFail = d.expectations.filter(e =>
      e.action == Action.Warn || e.action == Action.Fail)
    val qRules = d.expectations.filter(_.action == Action.Quarantine)
    // Batch builds bound for a table check warn/fail either directly on
    // the build plan (cheap builds) or against a STAGED copy (expensive
    // builds, one build pass) — see Dataset.validateStaged; views and
    // streaming frames handle warn/fail in their own cases below.
    val validateDir = spark.conf.get("spark.sql.warehouse.dir") +
      s"/_graft_staging/${name}_validate"
    // The validated PRE-drop frame every consumer below derives from:
    // the build plan itself (cheap builds — each consumer re-runs it),
    // or its staged copy (validateStaged — the build's joins run once,
    // main write AND quarantine split both read the staged parquet).
    // A NON-DETERMINISTIC build with quarantine rules is FORCED onto
    // the staged path: the main write and the quarantine routing are
    // two separate jobs over the same plan, and a build that evaluates
    // differently between them (rand()-derived columns, sampled
    // inputs) could route a row into neither table (silently lost) or
    // both — the same hazard the Incremental merge arm guards with its
    // conditional source materialization.
    val preDrop =
      if ((warnFail.nonEmpty || qRules.nonEmpty) && !built.isStreaming &&
        d.materialize != Materialize.View) {
        if (d.validateStaged ||
            (qRules.nonEmpty && Pipeline.nonDeterministic(built)))
          stageAndValidate(spark, built, warnFail, validateDir)
        else { Expectations.enforce(built, warnFail); built }
      } else built
    val df = applyDrops(preDrop, d.expectations)
    // Quarantine routing — the third DLT disposition as a
    // materialization arm: violating rows, tagged with the sorted names
    // of the rules they broke, land in `<name>__quarantine`; clean rows
    // flow downstream (applyDrops already filters them). Batch runs
    // OVERWRITE the quarantine table (this run's rejects — full-refresh
    // semantics, matching the table they shadow); the streaming arm
    // appends per micro-batch under the same idempotence markers as the
    // main table. A Fail violation still aborts BEFORE any write (the
    // enforce above throws first). Views route nothing: they
    // materialize nothing to shadow.
    def routeQuarantine(): Unit = if (qRules.nonEmpty) {
      val qName = s"${name}__quarantine"
      graft.core.CatalogUtil.dropOrphanLocation(spark, qName)
      Expectations.violating(preDrop, qRules)
        .write.mode("overwrite").format("parquet").saveAsTable(qName)
    }
    val out = d.materialize match {
        case Materialize.View =>
          // Lazy view: nothing is committed, so the only place to check
          // is the build frame itself (one aggregate pass at registration,
          // the DLT @dlt.view + expectations shape).
          if (warnFail.nonEmpty && !df.isStreaming)
            Expectations.enforce(built, warnFail) // input rows, pre-drop
          df
        case Materialize.Table if df.isStreaming =>
          dropOrphanLocation(spark, name)
          val qName = s"${name}__quarantine"
          if (qRules.nonEmpty)
            // The quarantine table rides the SAME checkpoint/markers as
            // the main table — an orphaned main location (lost catalog)
            // means both restart together.
            graft.core.CatalogUtil.dropOrphanLocation(spark, qName)
          // Warn/fail expectations need an aggregate, which a streaming
          // plan cannot host — so each micro-batch is validated inside
          // foreachBatch BEFORE its append (DLT's ON VIOLATION FAIL
          // UPDATE aborts the update): a Fail violation throws before
          // any write, the source checkpoint does not advance, and a
          // re-run reprocesses exactly the offending files; warn counts
          // are per-batch, never re-counting history. Appends stay
          // idempotent across re-runs via a batch-id marker written
          // after each successful append (the standard foreachBatch
          // dedup pattern; like any non-transactional sink, a crash in
          // the instant between append and marker can duplicate that
          // one batch on replay).
          val hconf = spark.sparkContext.hadoopConfiguration
          val commits = new org.apache.hadoop.fs.Path(commitsDir(spark, name))
          // Markers are only meaningful RELATIVE to their checkpoint's
          // batch numbering. If the checkpoint was reset (dir deleted)
          // while the commits dir survived, batch ids restart at 0 and a
          // stale marker would silently swallow a legitimately new batch
          // — so a missing checkpoint always clears the markers with it.
          val ckpt = new org.apache.hadoop.fs.Path(checkpointDir(spark, name))
          if (!ckpt.getFileSystem(hconf).exists(ckpt)) {
            val cfs = commits.getFileSystem(hconf)
            if (cfs.exists(commits)) cfs.delete(commits, true)
          }
          // Stream the PRE-drop plan; drops apply per batch inside
          // foreachBatch AFTER enforcement, so the counting semantics
          // match the batch paths (see `built` above).
          val q = built.writeStream
            .option("checkpointLocation", checkpointDir(spark, name))
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              val fs = commits.getFileSystem(hconf)
              val marker = new org.apache.hadoop.fs.Path(commits, batchId.toString)
              if (!fs.exists(marker)) {
                // Enforcement INSIDE the marker check: a crash-replayed,
                // already-committed batch was already validated and
                // counted — re-enforcing would re-run the aggregate and
                // double-log its warns for data the table already holds.
                // A non-deterministic batch plan feeding BOTH the
                // quarantine append and the main append must evaluate
                // once (the same two-consumers hazard as the batch
                // arms' forced staging) — pin it.
                val mustPin =
                  qRules.nonEmpty && Pipeline.nonDeterministic(batch)
                val b = if (mustPin) batch.persist(
                  org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                else batch
                try {
                  Expectations.enforce(b, warnFail)
                  // Quarantine routing per micro-batch, under the same
                  // idempotence marker as the main append (and the same
                  // crash-between-append-and-marker caveat).
                  if (qRules.nonEmpty)
                    Expectations.violating(b, qRules)
                      .write.mode("append").format("parquet")
                      .saveAsTable(qName)
                  clustered(applyDrops(b, d.expectations), d.clusterBy)
                    .write.mode("append").format("parquet").saveAsTable(name)
                } finally if (mustPin) b.unpersist(false)
                fs.mkdirs(marker)
              }
              ()
            }
            .start()
          q.awaitTermination()
          // An AvailableNow start over a source directory with NO files
          // terminates without running a single batch: foreachBatch
          // never fires, saveAsTable never runs, and the contract — an
          // (empty) streaming table — would instead surface as
          // TABLE_OR_VIEW_NOT_FOUND for this and every downstream
          // dataset. Create the empty table from the stream's schema.
          if (!spark.catalog.tableExists(name))
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              df.schema).write.format("parquet").saveAsTable(name)
          // An empty (or violation-free) stream must still leave a
          // readable quarantine table — downstream triage reads it
          // unconditionally.
          if (qRules.nonEmpty && !spark.catalog.tableExists(qName))
            Expectations.violating(
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                built.schema), qRules)
              .write.format("parquet").saveAsTable(qName)
          spark.table(name)
        case Materialize.Table =>
          dropOrphanLocation(spark, name)
          clusteredSized(df, d.clusterBy)
            .write.mode("overwrite").format("parquet").saveAsTable(name)
          routeQuarantine()
          deleteDir(spark, validateDir)
          spark.table(name)
        case Materialize.MaterializedView =>
          require(!df.isStreaming,
            s"materialized view $name cannot refresh from a streaming build")
          dropOrphanLocation(spark, name)
          clusteredSized(df, d.clusterBy)
            .write.mode("overwrite").format("parquet").saveAsTable(name)
          routeQuarantine()
          deleteDir(spark, validateDir)
          spark.table(name)
        case Materialize.Incremental(keys) =>
          require(!df.isStreaming,
            s"incremental table $name merges batch builds; streaming " +
              "sources use Table (checkpointed exactly-once append)")
          dropOrphanLocation(spark, name)
          val sc = graft.storage.SnapshotCommit
          // Replay the registration tail of any interrupted commit FIRST
          // (register is idempotent): a crash between a prior commit's
          // pointer claim and its catalog re-registration must not leave
          // this merge reading — and re-committing from — the stale
          // pre-crash version.
          sc.register(spark, name)
          if (!spark.catalog.tableExists(name)) {
            // First load: the merge against an empty target is the batch
            // itself. Reached only when the register() above found NO
            // committed version — a root WITH versions is resurrected
            // into the catalog there (external-table semantics: a bare
            // catalog DROP does not delete snapshot state; removal is
            // SnapshotCommit.destroy) and lands in the merge arm below.
            // The destroy here clears a version-less root (e.g. a
            // crashed, never-published first load) before restaging.
            sc.destroy(spark, name)
            sc.commit(spark, name) { dir =>  // first load: plain WRITE
              clusteredSized(df, d.clusterBy)
                .write.mode("overwrite").parquet(dir)
            }
          } else {
            // MERGE INTO semantics: incoming batch wins on key match
            // (whole-row SCD1 update), unmatched target rows survive.
            // FILE-LEVEL commit, the Delta MERGE shape: phase 1 joins the
            // batch's keys against the target WITH file provenance
            // (key-columns-only column-pruned scan) to find the files
            // that hold a matched key; phase 2 re-merges ONLY those
            // files' rows with the batch; phase 3 stages the next
            // snapshot version = rewrite output + every untouched file
            // carried by HARD LINK (a directory entry, no IO, live
            // version undisturbed), and publishes it with
            // SnapshotCommit's atomic pointer claim. Write IO is
            // proportional to touched files + batch, not table size,
            // and a crash at ANY point leaves the previous version
            // fully readable — the durability the reference inherits
            // from Delta's transaction log.
            //
            // EVERY phase runs INSIDE the commit closure, deriving from
            // spark.table at invocation time: losing the optimistic
            // version claim to a concurrent merge re-invokes the closure
            // after the catalog is re-pointed at the winner's version,
            // so the retry rebases the SAME batch onto the new base —
            // no lost update in either direction.
            sc.commit(spark, name, operation = "MERGE") { dir =>
              def local(u: String) = new org.apache.hadoop.fs.Path(u)
                .toUri.getPath
              // MATERIALIZE a NON-DETERMINISTIC merge source once per
              // attempt — the same conditional source-materialization
              // Delta's MERGE performs: the batch feeds BOTH the
              // touched-file probe and the rewrite as two separate jobs,
              // and a source that evaluates differently between them
              // (rand()-derived columns, sampled inputs) could disagree
              // with its own key set — a key probed but absent from the
              // rewrite would silently drop the target row it displaced
              // from the carried files. A deterministic source (the
              // overwhelmingly common case) re-derives identically and
              // skips the persist: the extra materialization pass is
              // pure cost at scale (u4 at sf1.0 measured +~30% under an
              // unconditional persist).
              val mustMaterialize = Pipeline.nonDeterministic(df)
              val batch =
                if (mustMaterialize) df.persist(
                  org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                else df
              try {
                val target = spark.table(name)
                val liveFiles = target.inputFiles.map(local).toSet
                // No distinct: a repeated key on the right of the semi-
                // and anti-join below changes neither result.
                val batchKeys = batch.select(keys.map(batch.col): _*)
                val touched = target
                  .withColumn("_graft_file",
                    org.apache.spark.sql.functions.input_file_name())
                  .join(batchKeys, keys, "left_semi")
                  .select("_graft_file").distinct()
                  .collect().map(r => local(r.getString(0))).toSet
                val untouched = (liveFiles -- touched).toSeq.sorted
                val touchedRows =
                  if (touched.isEmpty) target.limit(0)
                  else spark.read.schema(target.schema)
                    .parquet(touched.toSeq.sorted: _*)
                val merged = batch.unionByName(
                  touchedRows.join(batchKeys, keys, "left_anti"))
                // 1. rewrite = touched rows + batch only (reads old
                //    files). NOT clusteredSized: the rewrite's true
                //    volume is touched+batch, which the leaf-bytes rule
                //    overestimates (it sees the whole probe scan), and
                //    an extra round-robin exchange per merge is pure
                //    per-commit latency — incremental writes keep the
                //    plan's own partitioning; OPTIMIZE re-sizes files.
                //    mode("append") because each commit attempt stages
                //    into a fresh directory AND the overlapped carry
                //    below may create files in it first (an overwrite
                //    would delete them; errorIfExists would misread the
                //    dir as a conflict).
                // 2. (OVERLAPPED, guide §2.6) carry untouched files by
                //    link while the rewrite job runs — no data
                //    dependency; the carried-$i prefix avoids part-file
                //    name collisions with the rewrite's own output.
                graft.core.Overlap.overlapped {
                  clustered(merged, d.clusterBy)
                    .write.mode("append").parquet(dir)
                } {
                  val snapPath = new org.apache.hadoop.fs.Path(dir)
                  untouched.zipWithIndex.foreach { case (f, i) =>
                    val src = new org.apache.hadoop.fs.Path(f)
                    sc.carry(spark, src, new org.apache.hadoop.fs.Path(
                      snapPath, s"carried-$i-${src.getName}"))
                  }
                  // A merge is a version-producing path too: shedding a
                  // SnapshotSink `_batchid` progress marker here would
                  // re-open the sink's exactly-once hole on the next
                  // crash-replay (the carryBatchId contract). Merge
                  // targets are Pipeline-owned tables — interleaving DV
                  // deletes with merges is outside this arm's contract
                  // (the rewrite reads the raw table, not the DV mask).
                  sc.currentLocation(spark, name).foreach(cur =>
                    sc.carryBatchId(spark, cur, snapPath))
                }
              } finally if (mustMaterialize) batch.unpersist(false)
            }
          }
          // Incremental tables accumulate across runs — their
          // quarantine must too, or each merge would DESTROY the prior
          // runs' routed rows (a full-refresh overwrite only matches
          // full-refresh arms). Same SCD1 semantics as the main merge:
          // this run's violators replace same-key rows, other keys
          // survive — so re-running one batch is idempotent and history
          // is retained. Whole-table rewrite through a staging dir (the
          // quarantine side is the bounded exception stream; the
          // file-level merge stays on the main table), staged because a
          // plan reading the table cannot overwrite it in place.
          if (qRules.nonEmpty) {
            val qName = s"${name}__quarantine"
            graft.core.CatalogUtil.dropOrphanLocation(spark, qName)
            val incoming = Expectations.violating(preDrop, qRules)
            val merged =
              if (!spark.catalog.tableExists(qName)) incoming
              else incoming.unionByName(
                spark.table(qName).join(
                  incoming.select(keys.map(incoming.col): _*),
                  keys, "left_anti"))
            val qStage = spark.conf.get("spark.sql.warehouse.dir") +
              s"/_graft_staging/${qName}_merge"
            merged.write.mode("overwrite").parquet(qStage)
            spark.read.parquet(qStage)
              .write.mode("overwrite").format("parquet").saveAsTable(qName)
            deleteDir(spark, qStage)
          }
          deleteDir(spark, validateDir)
          spark.table(name)
      }
    if (d.tableProperties.nonEmpty && d.materialize != Materialize.View) {
      // Durable copy: the snapshot-root `_properties` sidecar outlives
      // the in-memory session catalog (a new process re-registers the
      // table from its location with no user TBLPROPERTIES).
      // Precedence in consumers (Optimize) is catalog first — a user's
      // direct ALTER TABLE SET TBLPROPERTIES wins, matching Delta —
      // with the sidecar as the fallback.
      graft.storage.SnapshotCommit.setProperties(spark, name,
        d.tableProperties)
      val props = d.tableProperties
        .map { case (k, v) =>
          s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'" }
        .mkString(", ")
      // Catalog copy (SHOW TBLPROPERTIES discoverability); if the ALTER
      // fails (e.g. a same-name temp view shadows the table) the
      // sidecar already has it, so note and continue.
      try spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES ($props)")
      catch { case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(
          s"[pipeline] $name: catalog tableProperties not recorded " +
            s"(${e.getMessage}); snapshot-root sidecar holds them")
      }
    }
    out
  }
}

object Pipeline {
  /** Can the frame disagree with itself across two evaluations? Drives
    * the merge arm's conditional source materialization (Delta's MERGE
    * materializeSource trigger set): such a frame must be evaluated
    * once and cached or the probe and rewrite jobs can see different
    * rows — silent target-row loss; a deterministic frame re-derives
    * identically and skips the persist cost. Three sources of
    * nondeterminism, all scanned:
    *
    *  1. expression-level (rand/uuid/monotonically_increasing_id/...)
    *     anywhere in the analyzed plan;
    *  2. the plans INSIDE subquery expressions — `Expression.exists`
    *     walks expression children only, never a SubqueryExpression's
    *     LogicalPlan, so a scalar subquery over a sampled source would
    *     otherwise pass as deterministic;
    *  3. plan-level: Sample nodes, and a limit whose input has no
    *     enforcing Sort beneath it (which rows survive the limit then
    *     depends on task scheduling). A sorted limit — Sort visible
    *     through Project/Filter/other limits — stays deterministic,
    *     so the reference's `LIMIT 1000` date sequence does not pay
    *     the persist. Ties in the sort key technically remain
    *     scheduling-dependent; treating sorted limits as deterministic
    *     mirrors Delta's trigger set.
    */
  private[graft] def nonDeterministic(
      df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical._
    def sortedBelow(p: LogicalPlan): Boolean = p match {
      // Only a GLOBAL sort totally orders the limit's input;
      // sortWithinPartitions (Sort with global=false) leaves partition
      // order scheduling-dependent and enforces nothing.
      case s: Sort => s.global || sortedBelow(s.child)
      case _: Project | _: Filter | _: LocalLimit | _: GlobalLimit |
           _: SubqueryAlias =>
        p.children.exists(sortedBelow)
      case _ => false
    }
    def scan(p: LogicalPlan): Boolean = {
      val exprND = p.expressions.exists(_.exists {
        case s: SubqueryExpression => scan(s.plan)
        case e => !e.deterministic
      })
      val planND = p match {
        case _: Sample => true
        case l: LocalLimit => !sortedBelow(l.child)
        case g: GlobalLimit => !sortedBelow(g.child)
        // dropDuplicates on a key SUBSET keeps an arbitrary survivor
        // per key (scheduling-dependent); full-row distinct is set
        // semantics and stays deterministic.
        case d: Deduplicate =>
          !d.child.outputSet.subsetOf(
            org.apache.spark.sql.catalyst.expressions.AttributeSet(d.keys))
        case _ => false
      }
      exprND || planND || p.children.exists(scan)
    }
    scan(df.queryExecution.analyzed)
  }
}
